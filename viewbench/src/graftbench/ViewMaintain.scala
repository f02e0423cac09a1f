package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.Streams
import graft.view.{QueryOpts, Reduce, View}

/** `view_maintain`: the write path. A `_sum` view over orders keyed by
  * customer is persisted with its reduced index and kept fresh by
  * `Streams.maintainViewIndex` from a file change feed. Each op stages
  * one seeded change batch (updates that move docs between keys, price
  * updates, new docs and tombstones), waits for the micro-batch, then
  * serves one read-your-writes query from the maintained reduced index. */
final class ViewMaintain(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val input = ctx.path("input/orders")
  private val idx = ctx.path("idx/view_maintain")
  private val staging = ctx.path("feed/changes")
  private val stagingTmp = ctx.path("feed/tmp")

  private val FeedSchema = StructType(Seq(
    StructField("_id", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType), StructField("_deleted", BooleanType)))

  private lazy val base: Seq[(Long, Long, Double)] =
    spark.read.parquet(input).select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  private lazy val view = View(
    spark.read.parquet(input).select(col("o_orderkey").as("_id"), col("o_custkey"),
      col("o_totalprice")),
    col("_id"), col("o_custkey"), col("o_totalprice"), Some(Reduce.Sum))
  private def customers = ctx.scale.maintainDocs / 10 + 1

  // driver-side doc state: the expected contents of the index
  private val state = mutable.HashMap.empty[Long, (Long, Double)]
  private val live = ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  private var nextId = 0L
  private var batchNo = 0
  private var rng = ctx.rng(3)
  private var stream: StreamingQuery = null
  private var rep = 0

  // timed-op accounting
  private var docsApplied = 0L
  private var opNs = 0L
  private val writes = ArrayBuffer.empty[(Int, Int, Long, Double)]

  def generate(): Unit =
    Gen.orders(spark, ctx.scale.maintainDocs, ctx.seed).write.parquet(input)

  def indexDirs: Seq[String] = Seq(idx)
  def indexedRows: Long = state.size.toLong

  def setup(): Unit = {
    stopStream()
    Seq(idx, staging, stagingTmp).foreach(Main.deleteTree)
    Files.createDirectories(Paths.get(staging))
    Files.createDirectories(Paths.get(stagingTmp))
    resetState()
    ctx.phase("setup.materialize_s")(view.materialize(idx, ctx.scale.buckets))
    ctx.phase("setup.reduced_s")(view.materializeReduced(spark, idx))
    rep += 1
    ctx.phase("setup.stream_start_s") {
      val feed = spark.readStream.schema(FeedSchema)
        .option("maxFilesPerTrigger", 1).json(staging)
      stream = Streams.maintainViewIndex(spark, feed,
        b => b.select(col("_id"), col("o_custkey").as("key"), col("o_totalprice").as("value")),
        idx, ctx.path(s"checkpoints/rep$rep"), buckets = ctx.scale.buckets,
        reduce = Some(Reduce.Sum), id = col("_id"))
    }
  }

  private def resetState(): Unit = {
    state.clear(); live.clear(); pos.clear()
    base.foreach { case (id, k, p) => state(id) = (k, p); pos(id) = live.size; live += id }
    nextId = base.map(_._1).max + 1
    rng = ctx.rng(3)
  }

  private def remove(id: Long): Unit = {
    val i = pos.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(i) = last; pos(last) = i }
    state.remove(id)
  }

  private def upsert(id: Long, k: Long, p: Double): Unit = {
    if (!state.contains(id)) { pos(id) = live.size; live += id }
    state(id) = (k, p)
  }

  private def price(): Double = math.round((800 + rng.nextDouble() * 400000) * 100) / 100.0

  /** Generates and stages one change batch; returns the keys it wrote
    * and the number of changed docs. */
  private def stageBatch(): (Seq[Long], Int) = {
    val size = math.max(4, (live.size * (0.01 + 0.01 * rng.nextDouble())).toInt)
    val touched = mutable.HashSet.empty[Long]
    val lines = ArrayBuffer.empty[String]
    val keys = ArrayBuffer.empty[Long]
    def line(id: Long, k: Long, p: Double, del: Boolean) =
      s"""{"_id":$id,"o_custkey":$k,"o_totalprice":$p,"_deleted":$del}"""
    while (lines.size < size) {
      val u = rng.nextDouble()
      if (u < 0.2) {
        val id = nextId; nextId += 1
        val (k, p) = (1L + rng.nextInt(customers), price())
        upsert(id, k, p); touched += id; keys += k
        lines += line(id, k, p, del = false)
      } else {
        val id = live(rng.nextInt(live.size))
        if (touched.add(id)) {
          val (k0, p0) = state(id)
          if (u < 0.3) {
            remove(id)
            lines += line(id, k0, p0, del = true)
          } else {
            val k = if (u < 0.65) 1L + rng.nextInt(customers) else k0
            val p = price()
            upsert(id, k, p); keys += k
            lines += line(id, k, p, del = false)
          }
        }
      }
    }
    batchNo += 1
    val name = f"batch-$rep%02d-$batchNo%06d.json"
    val tmp = Paths.get(stagingTmp, name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, Paths.get(staging, name), StandardCopyOption.ATOMIC_MOVE)
    (keys.toSeq, lines.size)
  }

  private def expected(k: Long): Double =
    state.valuesIterator.filter(_._1 == k).map(_._2).sum

  /** Stage, wait for the micro-batch, read one of the written keys back. */
  private def applyBatch(): Int = {
    val (keys, n) = Spans("streaming.stage")(stageBatch())
    Spans("streaming.process_all_available")(stream.processAllAvailable())
    val k = keys(rng.nextInt(keys.size))
    val rv = Spans("view.open")(view.fromReducedIndex(spark, idx))
    val df = Spans("view.plan_build")(rv.query(QueryOpts(key = Some(k), group = true)))
    val got = Spans("spark.execute")(df.collect())
    val want = expected(k)
    if (got.length != 1 || !Check.close(got(0).getDouble(1), want, Check.RelTol))
      throw new IllegalStateException(
        s"read-your-writes key=$k: got ${got.mkString(",")} expected $want")
    n
  }

  /** One change batch after the last build. */
  def warmup(): Unit = applyBatch()
  def settle(): Unit = applyBatch()

  /** Each op is itself checked (read-your-writes); the full state is
    * checked at the end of the run. */
  def verify(): Seq[String] = Nil

  def op(i: Int): OpInfo = {
    val tracing = Spans.tracer != null
    val before = if (tracing) Stats.snapshot(idx) else Map.empty[String, Long]
    val liveBefore = state.size
    val t = System.nanoTime()
    val n = applyBatch()
    opNs += System.nanoTime() - t
    docsApplied += n
    if (tracing) {
      val after = Stats.snapshot(idx)
      val written = after.filter { case (p, s) => !before.get(p).contains(s) }
      val buckets = written.keys.filter(_.startsWith("data/"))
        .flatMap(_.split('/').find(_.startsWith("_kb="))).toSet.size
      val dataBytes = before.filter(_._1.startsWith("data/")).values.sum
      val batchBytes = n * dataBytes.toDouble / math.max(1, liveBefore)
      writes += ((buckets, written.size, written.values.sum, written.values.sum / batchBytes))
    }
    OpInfo("maintain", 1L)
  }

  override def extraMetrics: Map[String, Double] = {
    val m = mutable.Map("docs_per_s" -> (if (opNs > 0) docsApplied / (opNs / 1e9) else 0.0))
    if (writes.nonEmpty) {
      val n = writes.size.toDouble
      m("indexstore.buckets_rewritten_per_batch") = writes.map(_._1).sum / n
      m("indexstore.files_written_per_batch") = writes.map(_._2).sum / n
      m("indexstore.bytes_written_per_batch") = writes.map(_._3).sum / n
      m("indexstore.write_amp") = writes.map(_._4).sum / n
    }
    m.toMap
  }

  /** The maintained reduced index against a plain-Spark group-by of the
    * final doc set, and the raw index row count against the live docs. */
  override def finalCheck(): Seq[String] = {
    stopStream()
    val got = view.fromReducedIndex(spark, idx).query(QueryOpts(group = true))
      .collect().toSeq
    val docs = spark.createDataFrame(state.toSeq.map { case (id, (k, p)) => (id, k, p) })
      .toDF("_id", "o_custkey", "o_totalprice")
    val want0 = docs.groupBy(col("o_custkey").as("key"))
      .agg(sum("o_totalprice").as("value")).orderBy("key").collect().toSeq
    val want = if (ctx.corrupt) Check.corrupt(want0) else want0
    val rowsInIndex = spark.read.parquet(s"$idx/data").count()
    Check.rows(got, want).map(m => s"final reduced index vs group-by: $m").toSeq ++
      (if (rowsInIndex == state.size) None
       else Some(s"final index rows $rowsInIndex != live docs ${state.size}"))
  }

  private def stopStream(): Unit = if (stream != null) { stream.stop(); stream = null }

  override def close(): Unit = stopStream()
}
