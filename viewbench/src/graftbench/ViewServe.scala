package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.view.{MaxKey, QueryOpts, Reduce, View}

/** `view_serve`: the read path of a deployed view. A `_stats` view over
  * lineitem keyed `[year, month, day]` of the ship date is persisted
  * with its reduced index; the client reopens it per op and runs a
  * seeded mix of point, range, multi-key, group_level, include_docs and
  * resume-token page reads. */
final class ViewServe(ctx: Ctx) extends PoolWorkload(ctx) {
  private val spark = ctx.spark
  private val input = ctx.path("input/lineitem")
  private val idx = ctx.path("idx/view_serve")
  private lazy val docs = spark.read.parquet(input)

  private def day(c: String) = Seq(year(col(c)), month(col(c)), dayofmonth(col(c)))
  private lazy val view = View(docs, col("uid"), array(day("l_shipdate"): _*),
    col("l_extendedprice"), Some(Reduce.Stats))

  /** The raw table for the references, with the key parts split out. */
  private lazy val raw = docs
    .withColumn("y", year(col("l_shipdate")))
    .withColumn("m", month(col("l_shipdate")))
    .withColumn("d", dayofmonth(col("l_shipdate")))
    .withColumn("dk", col("y") * 10000 + col("m") * 100 + col("d"))
    .cache()

  def generate(): Unit =
    Gen.lineitem(spark, ctx.scale.serveRows, ctx.seed).write.parquet(input)

  def setup(): Unit = {
    ctx.phase("setup.materialize_s")(view.materialize(idx, ctx.scale.buckets))
    ctx.phase("setup.reduced_s")(view.materializeReduced(spark, idx))
  }

  def indexDirs: Seq[String] = Seq(idx)
  def indexedRows: Long = ctx.scale.serveRows

  val mix = Seq("key" -> 6, "range" -> 5, "keys" -> 2, "group_level" -> 3,
    "include_docs" -> 2, "page" -> 2)

  private def open(): View = Spans("view.open")(view.fromIndex(spark, idx))
  private def query(o: QueryOpts): DataFrame = {
    val v = open()
    Spans("view.plan_build")(v.query(o))
  }

  private def dayKey(d: java.time.LocalDate) =
    Seq(d.getYear, d.getMonthValue, d.getDayOfMonth)
  private def dk(d: java.time.LocalDate) =
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  private val mapCols: Seq[Column] = Seq(col("uid").as("id"),
    array(col("y"), col("m"), col("d")).as("key"), col("l_extendedprice").as("value"))
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  lazy val pool: IndexedSeq[PoolOp] = {
    val rng = ctx.rng(1)
    def someDay() = java.time.LocalDate.ofEpochDay(Gen.FirstDay + rng.nextInt(Gen.Days - 40))
    val ops = IndexedSeq.newBuilder[PoolOp]
    for (_ <- 1 to 5) {
      val d = someDay()
      ops += PoolOp("key", s"key=$d", () => query(QueryOpts(key = Some(dayKey(d)), reduce = false)),
        () => rows(raw.filter(col("dk") === dk(d)).orderBy(col("uid")).select(mapCols: _*)))
    }
    for (_ <- 1 to 4) {
      val (a, b) = { val a = someDay(); (a, a.plusDays(3 + rng.nextInt(20))) }
      ops += PoolOp("range", s"range=$a..$b", () => query(QueryOpts(startKey = Some(dayKey(a)),
        endKey = Some(dayKey(b)), limit = Some(50), reduce = false)),
        () => rows(raw.filter(col("dk").between(dk(a), dk(b)))
          .orderBy(col("dk"), col("uid")).limit(50).select(mapCols: _*)))
    }
    for (_ <- 1 to 2) {
      val ds = Seq.fill(3)(someDay()).distinct
      val req = spark.createDataFrame(ds.zipWithIndex.map { case (d, i) => (dk(d), i) })
        .toDF("rk", "ri")
      ops += PoolOp("keys", s"keys=${ds.mkString(",")}",
        () => query(QueryOpts(keys = Some(ds.map(dayKey)), reduce = false)),
        () => rows(raw.join(req, col("dk") === col("rk"))
          .orderBy(col("ri"), col("uid")).select(mapCols: _*)))
    }
    for (k <- 1 to 3) {
      val d = someDay()
      // level 2 over one year, level 3 over one month, level 1 over all
      val (level, lo, hi, cond) = k % 3 match {
        case 0 => (1, None, None, lit(true))
        case 1 => (2, Some(Seq(d.getYear)), Some(Seq(d.getYear, MaxKey)), col("y") === d.getYear)
        case _ => (3, Some(Seq(d.getYear, d.getMonthValue)),
          Some(Seq(d.getYear, d.getMonthValue, MaxKey)),
          col("y") === d.getYear && col("m") === d.getMonthValue)
      }
      val parts = Seq(col("y"), col("m"), col("d")).take(level)
      ops += PoolOp("group_level", s"group_level=$level@${lo.getOrElse("all")}", { () =>
        val rv = Spans("view.open")(view.fromReducedIndex(spark, idx))
        Spans("view.plan_build")(rv.query(QueryOpts(groupLevel = Some(level),
          startKey = lo, endKey = hi)))
      }, () => rows(raw.filter(cond).groupBy(parts: _*).agg(
        sum("l_extendedprice").as("sum"), count("l_extendedprice").as("count"),
        min("l_extendedprice").as("min"), max("l_extendedprice").as("max"),
        sum(col("l_extendedprice") * col("l_extendedprice")).as("sumsqr"))
        .orderBy(parts: _*)
        .select(array(parts: _*).as("key"),
          struct(col("sum"), col("count"), col("min"), col("max"), col("sumsqr")).as("value"))))
    }
    val docCols = docs.columns.toSeq.map(col)
    for (_ <- 1 to 2) {
      val (a, b) = { val a = someDay(); (a, a.plusDays(1 + rng.nextInt(3))) }
      ops += PoolOp("include_docs", s"include_docs=$a..$b",
        () => query(QueryOpts(startKey = Some(dayKey(a)), endKey = Some(dayKey(b)),
          limit = Some(20), includeDocs = true, reduce = false)),
        () => rows(raw.filter(col("dk").between(dk(a), dk(b)))
          .orderBy(col("dk"), col("uid")).limit(20)
          .select(mapCols :+ struct(docCols: _*).as("doc"): _*)))
    }
    for (_ <- 1 to 2) {
      val (a, b) = { val a = someDay(); (a, a.plusDays(10 + rng.nextInt(20))) }
      val o = QueryOpts(startKey = Some(dayKey(a)), endKey = Some(dayKey(b)))
      // the client holds the token of page 1 from an earlier request
      lazy val token = view.fromIndex(spark, idx).queryPage(o, pageSize = 25).nextToken
      ops += PoolOp("page", s"page2=$a..$b", { () =>
        val v = open()
        Spans("view.plan_build")(v.queryPage(o, pageSize = 25, resume = token)).rows
      }, () => rows(raw.filter(col("dk").between(dk(a), dk(b)))
        .orderBy(col("dk"), col("uid")).offset(25).limit(25).select(mapCols: _*)))
    }
    ops.result()
  }
}
