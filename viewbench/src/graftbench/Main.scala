package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one closed-loop client
  * thread. Runs one workload and writes its result file.
  *
  * {{{
  * Main --workload view_serve --seed 1 --seconds 10 --trace 0
  *      --work <scratch dir> --out <result file> [--scale full|smoke]
  *      [--cpus N] [--corrupt 1] [--commit C] [--source-sha S]
  *      [--layers name,name,...]
  * }}}
  * `--layers` names the per-layer metrics a traced run reports (those
  * of BENCHMARK.json); a metric that does not apply to the workload
  * reads 0.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        scale: Scale, cpus: Int, corrupt: Boolean,
                        commit: String, sourceSha: String, layers: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"), need("out"),
      Scale(m.getOrElse("scale", "full")),
      m.get("cpus").map(_.toInt).getOrElse(
        math.min(4, Runtime.getRuntime.availableProcessors())),
      m.getOrElse("corrupt", "0") == "1",
      m.getOrElse("commit", ""), m.getOrElse("source-sha", ""),
      m.getOrElse("layers", "").split(',').toSeq.filter(_.nonEmpty))
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"

  /** The session settings of graft's own harness (committer v2,
    * shuffle partitions = N, UI off, UTC), with Spark's scratch and
    * warehouse directories inside the run's scratch directory. */
  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "view_serve" => new ViewServe(ctx)
    case "temp_view" => new TempView(ctx)
    case "view_maintain" => new ViewMaintain(ctx)
    case "index_serve" => new IndexServe(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One op of the closed loop, with its wall-clock window. */
  final case class OpRun(i: Int, startMs: Long, endMs: Long, ms: Double,
                         info: OpInfo, failed: Boolean)

  private var startedMs = 0L

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    startedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(a.cpus, a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try { run(a, spark, sessionS); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"graftbench: fatal: ${describe(e)}")
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def run(a: Args, spark: SparkSession, sessionS: Double): Unit = {
    val ctx = new Ctx(spark, a.seed, a.scale, a.work, a.corrupt)
    val w = workload(a.workload, ctx)
    val failures = ArrayBuffer.empty[String]

    val stages = mutable.LinkedHashMap[String, Double]("session" -> sessionS)
    def stage[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      try f finally stages(name) = (System.nanoTime() - t) / 1e9
    }
    stage("generate")(w.generate())
    // set-up: the index builds, repeated (their median counts), then
    // one warm-up pass over the op pool; with the session start that is
    // setup_s
    def timed(f: => Unit): Double = {
      val t = System.nanoTime()
      f
      (System.nanoTime() - t) / 1e9
    }
    val setupReps = (1 to a.scale.setupReps).map(_ => timed(w.setup()))
    val warmupS = timed(ctx.phase("setup.warmup_s")(w.warmup()))
    stages("setup") = setupReps.sum
    stages("warmup") = warmupS
    failures ++= stage("verify")(w.verify())
    stage("settle")(w.settle())

    // the timed closed loop
    var next = 0
    def loop(seconds: Double, tracer: Tracer): (Seq[OpRun], Double) = {
      val ops = ArrayBuffer.empty[OpRun]
      val start = System.nanoTime()
      val end = start + (seconds * 1e9).toLong
      while (System.nanoTime() < end) {
        val i = next
        next += 1
        if (tracer != null) tracer.op = i
        val ms0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        var info = OpInfo("?")
        var failed = false
        try info = Spans("op")(w.op(i))
        catch {
          case e: Exception =>
            failed = true
            failures += s"op $i: ${describe(e)}"
        }
        val ms = (System.nanoTime() - s0) / 1e6
        ops += OpRun(i, ms0, System.currentTimeMillis(), ms, info, failed)
      }
      (ops.toSeq, (System.nanoTime() - start) / 1e9)
    }

    val loopStart = System.nanoTime()
    var plain: Seq[OpRun] = Nil
    var plainWall = 0.0
    var traced: Seq[OpRun] = Nil
    var tracer: Tracer = null
    var collector: Collector = null
    if (!a.trace) {
      val (ops, wall) = loop(a.seconds, null)
      plain = ops; plainWall = wall
    } else {
      // untraced, traced, untraced: the untraced baseline brackets the
      // traced segment, so JIT warm-up drift cancels in the overhead
      val (before, w1) = loop(a.seconds / 2, null)
      tracer = new Tracer
      collector = new Collector(spark)
      collector.indexRoots = w.indexDirs.map(d => Paths.get(d).toAbsolutePath.normalize)
      collector.register()
      Spans.tracer = tracer
      try traced = loop(a.seconds, tracer)._1
      finally {
        Spans.tracer = null
        collector.unregister()
      }
      val (after, w2) = loop(a.seconds / 2, null)
      plain = before ++ after; plainWall = w1 + w2
    }

    stages("loop") = (System.nanoTime() - loopStart) / 1e9
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    failures ++= stage("final_check")(w.finalCheck())

    val allOps = plain ++ traced
    val attempted = allOps.size
    val failedOps = allOps.count(_.failed)
    val lat = plain.filterNot(_.failed).map(_.ms).sorted
    val (tail, tailPct) = Stats.tail(lat)
    val files = w.indexDirs.flatMap(d => Stats.snapshot(d).values)
    val bytes = files.sum

    val endToEnd = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (sessionS + median(setupReps) + warmupS),
      "op_p50_ms" -> median(lat),
      "op_tail_ms" -> tail,
      "ops_per_s" -> plain.count(!_.failed) / plainWall)
    val always = mutable.LinkedHashMap[String, Double](
      "failed_frac" -> (if (attempted == 0) 0.0 else failedOps.toDouble / attempted),
      "retained_heap_mb" -> heapMb,
      "index_bytes_per_row" ->
        (if (w.indexedRows > 0) bytes.toDouble / w.indexedRows else 0.0),
      "indexstore.index_files" -> files.size.toDouble) ++ w.extraMetrics

    val perLayer: Map[String, Double] =
      if (!a.trace) Map.empty
      else stage("layers")(Layers.metrics(a, ctx, sessionS, plain, traced, tracer, collector,
        always))

    val correct = failures.isEmpty && attempted > 0
    val printed = if (a.trace) perLayer else endToEnd.toMap
    val result = mutable.LinkedHashMap[String, Any](
      "benchmark" -> "graftbench",
      "started_ms" -> startedMs,
      "workload" -> a.workload,
      "seed" -> a.seed,
      "held_out_seed" -> Stats.heldOut(a.seed),
      "trace" -> a.trace,
      "seconds" -> a.seconds,
      "scale" -> a.scale.toString,
      "closed_loop_clients" -> 1,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> a.cpus,
      "driver_heap_max_mb" -> rt.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "git_commit" -> a.commit,
      "source_sha256" -> a.sourceSha,
      "session_conf" -> mutable.TreeMap(spark.conf.getAll.toSeq: _*),
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "failures" -> failures.take(50),
      "metrics" -> printed,
      "end_to_end" -> endToEnd,
      "also" -> always,
      "samples" -> lat.size,
      "latencies_ms" -> plain.map(o => Seq(o.info.family, o.ms)),
      "op_tail_percentile" -> tailPct,
      "op_p50_ms_by_family" -> plain.filterNot(_.failed).groupBy(_.info.family)
        .map { case (f, xs) => f -> Map("p50" -> median(xs.map(_.ms)), "n" -> xs.size) },
      "setup_reps_s" -> setupReps,
      "setup_phases_s" -> ctx.phaseS.map { case (k, v) => k -> v.toSeq },
      "index_bytes" -> bytes)
    if (a.trace) {
      result("per_layer") = perLayer
      val self = Layers.selfByName(tracer, traced)
      val ok = traced.filterNot(_.failed)
      result("span_self_ms_per_op") = self
      // the op's child-span self times plus its residual (the op span's
      // own self time) against the op wall timed outside the spans
      result("span_closure") = Map(
        "self_sum_ms_per_op" -> self.values.sum,
        "op_wall_ms_per_op" -> ok.map(_.ms).sum / math.max(1, ok.size))
    }
    w.close()
    result("stages_s") = stages
    Files.write(Paths.get(a.out), Json(result).getBytes("UTF-8"))
    if (a.trace) {
      val spans = tracer.spans.map(s => Json(mutable.LinkedHashMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(a.out.stripSuffix(".json") + ".spans.jsonl"),
        spans.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}

object Stats {
  /** The highest percentile with at least 10 samples above it: the
    * 11th-largest sample, and the share of samples at or below it.
    * With fewer than 11 samples it is the maximum. */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.isEmpty) (0.0, 0.0)
    else if (sorted.size < 11) (sorted.last, 100.0)
    else (sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size)

  /** The held-out seed paired with `seed`: never used while tuning. */
  def heldOut(seed: Long): Long = seed ^ 0x5eed5eedL

  /** Relative path -> size of every file under `dir`. */
  def snapshot(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p =>
          b += root.relativize(p).toString -> Files.size(p))
        b.result()
      } finally s.close()
    }
  }
}
