package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.gfunctions.collation_key

/** Per-layer metrics of a traced run. Spark events are attributed to
  * the op whose wall-clock window holds their start; per-op figures
  * are means over the traced ops, so they add up to the mean op wall. */
object Layers {
  /** Spans that make up the read of a maintenance op. */
  private val ReadSpans = Set("view.open", "view.plan_build", "spark.execute")

  def metrics(a: Main.Args, ctx: Ctx, sessionS: Double,
              plain: Seq[Main.OpRun], traced: Seq[Main.OpRun], tracer: Tracer,
              c: Collector, always: collection.Map[String, Double]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    a.layers.foreach(out(_) = 0.0)
    out ++= always
    out("setup.session_s") = sessionS
    Seq("setup.materialize_s", "setup.reduced_s", "setup.operator_build_s")
      .foreach(k => ctx.phaseS.get(k).foreach(v => out(k) = Main.median(v.toSeq)))

    val ops = traced.filterNot(_.failed).sortBy(_.startMs)
    val n = math.max(1, ops.size).toDouble
    val starts = ops.map(_.startMs).toArray
    /** Index into `ops` of the op whose window holds `ms`, or -1. */
    def opAt(ms: Long): Int = {
      var i = java.util.Arrays.binarySearch(starts, ms)
      if (i < 0) i = -i - 2
      else while (i + 1 < starts.length && starts(i + 1) == ms) i += 1
      if (i >= 0 && ms <= ops(i).endMs) i else -1
    }

    // jobs, stages, tasks
    val jobsOf = Array.fill(ops.size)(mutable.ArrayBuffer.empty[c.Job])
    c.jobs.foreach(j => { val i = opAt(j.startMs); if (i >= 0) jobsOf(i) += j })
    val jobs = jobsOf.flatten.toSeq
    val stageAggs = jobs.flatMap(_.stages).distinct.flatMap(c.stages.get)
    out("spark.jobs_per_op") = jobs.size / n
    out("spark.stages_per_op") = stageAggs.size / n
    out("spark.tasks_per_op") = stageAggs.map(_.tasks).sum / n
    out("spark.shuffle_write_bytes_per_op") = stageAggs.map(_.shuffleWrite).sum / n
    out("spark.shuffle_read_bytes_per_op") = stageAggs.map(_.shuffleRead).sum / n
    out("spark.spill_bytes_per_op") = stageAggs.map(_.spill).sum / n
    out("spark.gc_ms_per_op") = stageAggs.map(_.gcMs).sum / n
    val wallMs = ops.map(_.ms).sum
    out("spark.task_busy_frac") =
      if (wallMs > 0) stageAggs.map(_.runMs).sum / (wallMs * a.cpus) else 0.0
    // driver gap: op wall minus the union of its job intervals
    val gaps = ops.indices.map { i =>
      val o = ops(i)
      val iv = jobsOf(i).map(j => (j.startMs, if (j.endMs < 0) o.endMs else math.min(j.endMs, o.endMs)))
        .sortBy(_._1)
      var covered = 0L
      var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, o.ms - covered)
    }
    out("spark.driver_gap_ms_per_op") = gaps.sum / n

    // client spans
    val byOp = tracer.spans.groupBy(_.op)
    val opIds = ops.map(_.i).toSet
    // wall-clock windows in which the client waits for a micro-batch
    val waits = tracer.spans.filter(s => s.name == "streaming.process_all_available" &&
      opIds(s.op)).map(s => (tracer.wallMs(s.startNs), tracer.wallMs(s.endNs)))
    def inWait(ms: Long) = waits.exists { case (s, e) => ms >= s && ms <= e }

    // planning and execution of each executed query; the index read
    // metrics count the queries that serve rows, not the micro-batch's
    // merge, which reads the index to rewrite it
    val qes = c.qes.filter(q => opAt(q.startMs) >= 0).toSeq
    out("spark.plan_ms") = qes.map(_.planMs).sum / n
    out("spark.exec_ms") = qes.map(_.execMs).sum / n
    val reads = qes.filterNot(q => inWait(q.startMs))
    out("indexstore.files_read_per_op") = reads.map(_.indexFiles).sum / n
    out("indexstore.bytes_read_per_op") = reads.map(_.indexBytes).sum / n
    val returned = ops.map(_.info.rowsReturned).sum
    out("indexstore.rows_read_per_row_returned") =
      if (returned > 0) reads.map(_.indexRows).sum.toDouble / returned else 0.0
    def spanMs(name: String): Double =
      tracer.spans.filter(s => s.name == name && opIds(s.op)).map(_.ns).sum / 1e6 / n
    out("view.open_ms") = spanMs("view.open")
    out("view.plan_build_ms") = spanMs("view.plan_build")
    out("trace.residual_ms_per_op") = selfByName(tracer, traced).getOrElse("op", 0.0)

    // streaming micro-batches (only those that carried a change batch)
    val prog = c.progress.filter(p => p.rows > 0 && opAt(p.startMs) >= 0).toSeq
    if (prog.nonEmpty) {
      def d(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / n
      out("streaming.trigger_ms") = d("triggerExecution")
      out("streaming.add_batch_ms") = d("addBatch")
      out("streaming.query_planning_ms") = d("queryPlanning")
      out("streaming.wal_commit_ms") = d("walCommit")
      out("streaming.latest_offset_ms") = d("latestOffset")
      out("streaming.overhead_ms") = d("triggerExecution") - d("addBatch")
      val readMs = ops.map(o => byOp.getOrElse(o.i, Nil)
        .filter(s => ReadSpans(s.name)).map(_.ns).sum / 1e6).sum / n
      out("streaming.wait_ms") = ops.map(_.ms).sum / n - d("triggerExecution") - readMs
      // the micro-batch's own jobs: those that start while the client
      // waits for it, not those of the read-your-writes query
      out("indexstore.jobs_per_batch") = jobs.count(j => inWait(j.startMs)) / n
    }

    // operator families: median op latency per family
    Seq("mango_find", "bm25", "ivf_topk").foreach { f =>
      val xs = ops.filter(_.info.family == f).map(_.ms)
      if (xs.nonEmpty) out(s"operators.${f}_ms") = Main.median(xs)
    }

    val p50Plain = Main.median(plain.filterNot(_.failed).map(_.ms))
    val p50Traced = Main.median(ops.map(_.ms))
    out("trace.overhead_frac") = if (p50Plain > 0) p50Traced / p50Plain - 1 else 0.0
    out("collation.encode_ns_per_row") = collationNsPerRow(ctx)
    out.toMap
  }

  /** Self time per span name, per traced op, in ms (the residual is the
    * `op` span's own self time). */
  def selfByName(tracer: Tracer, traced: Seq[Main.OpRun]): Map[String, Double] = {
    val ok = traced.filterNot(_.failed).map(_.i).toSet
    val n = math.max(1, ok.size).toDouble
    val self = tracer.selfNs
    tracer.spans.filter(s => ok(s.op)).groupBy(_.name)
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e6 / n }
  }

  /** `collation_key` cost per row over temp_view's emitted keys: the
    * same key pass into the noop sink with and without the encoding,
    * alternated, median of each. */
  def collationNsPerRow(ctx: Ctx): Double = {
    val n = ctx.scale.tempRows
    val keys = Gen.lineitem(ctx.spark, n, ctx.seed)
      .select(array(year(col("l_shipdate")), month(col("l_shipdate")),
        dayofmonth(col("l_shipdate"))).as("key"))
      .cache()
    try {
      keys.count()
      def pass(encode: Boolean): Double = {
        val df = if (encode) keys.select(collation_key(col("key")).as("_ck")) else keys
        val t = System.nanoTime()
        ctx.noop(df)
        (System.nanoTime() - t).toDouble
      }
      pass(true); pass(false)
      val (w, wo) = (1 to 5).map(_ => (pass(true), pass(false))).unzip
      math.max(0.0, Main.median(w) - Main.median(wo)) / n
    } finally keys.unpersist()
  }
}
