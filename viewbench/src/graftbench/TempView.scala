package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.view.{QueryOpts, Reduce, View}

/** `temp_view`: query-time (unmaterialized) views over raw lineitem and
  * orders. Every row passes through emit, `collation_key`, exchange and
  * aggregate or sort: grouped builtin reduces, `group_level` rollups on
  * array keys, collation-sorted range reads, and the sort of a union of
  * a number-keyed and a string-keyed view. */
final class TempView(ctx: Ctx) extends PoolWorkload(ctx) {
  private val spark = ctx.spark
  private val liPath = ctx.path("input/lineitem")
  private val ordPath = ctx.path("input/orders")
  private lazy val li = spark.read.parquet(liPath)
  private lazy val ord = spark.read.parquet(ordPath)
  private lazy val liRef = li
    .withColumn("y", year(col("l_shipdate")))
    .withColumn("m", month(col("l_shipdate")))
    .withColumn("d", dayofmonth(col("l_shipdate")))
    .withColumn("dk", col("y") * 10000 + col("m") * 100 + col("d"))
    .cache()

  def generate(): Unit = {
    Gen.lineitem(spark, ctx.scale.tempRows, ctx.seed).write.parquet(liPath)
    Gen.orders(spark, ctx.scale.tempOrders, ctx.seed).write.parquet(ordPath)
  }

  /** Nothing is persisted: the views are planned at query time. */
  def setup(): Unit = ()
  def indexDirs: Seq[String] = Nil
  def indexedRows: Long = 0L

  val mix = Seq("group" -> 4, "group_level" -> 3, "range" -> 3, "union_sort" -> 2)

  private def plan(v: => View, o: QueryOpts): DataFrame = {
    val view = Spans("view.open")(v)
    Spans("view.plan_build")(view.query(o))
  }
  private def dayKey(c: String) =
    array(year(col(c)), month(col(c)), dayofmonth(col(c)))
  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  lazy val pool: IndexedSeq[PoolOp] = {
    val rng = ctx.rng(2)
    val ops = IndexedSeq.newBuilder[PoolOp]
    // group=true with each builtin reduce, over a numeric and an array key
    val reduces = Seq[(String, Reduce, Column => Column)](
      ("sum", Reduce.Sum, c => sum(c)),
      ("count", Reduce.Count, c => count(lit(1))),
      ("stats", Reduce.Stats, c => struct(sum(c).as("sum"), count(c).as("count"),
        min(c).as("min"), max(c).as("max"), sum(c * c).as("sumsqr"))))
    for ((name, rf, agg) <- reduces) {
      ops += PoolOp("group", s"group=true $name by l_suppkey",
        () => plan(View(li, col("uid"), col("l_suppkey"), col("l_extendedprice"), Some(rf)),
          QueryOpts(group = true)),
        () => rows(li.groupBy(col("l_suppkey").as("key"))
          .agg(agg(col("l_extendedprice")).as("value")).orderBy("key")))
    }
    ops += PoolOp("group", "group=true count by [flag,status]",
      () => plan(View(li, col("uid"), array(col("l_returnflag"), col("l_linestatus")),
        lit(1), Some(Reduce.Count)), QueryOpts(group = true)),
      () => rows(li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("value"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .select(array(col("l_returnflag"), col("l_linestatus")).as("key"), col("value"))))
    // group_level rollups of a [y, m, d] key
    for (level <- Seq(1, 2, 2)) {
      val y = 1992 + rng.nextInt(7)
      val (lo, hi) = if (level == 1) (None, None)
        else (Some(Seq(y)), Some(Seq(y, graft.view.MaxKey)))
      val cond = if (level == 1) lit(true) else col("y") === y
      val parts = Seq(col("y"), col("m")).take(level)
      ops += PoolOp("group_level", s"group_level=$level@${lo.getOrElse("all")}",
        () => plan(View(li, col("uid"), dayKey("l_shipdate"), col("l_quantity"),
          Some(Reduce.Sum)), QueryOpts(groupLevel = Some(level), startKey = lo, endKey = hi)),
        () => rows(liRef.filter(cond).groupBy(parts: _*).agg(sum("l_quantity").as("value"))
          .orderBy(parts: _*).select(array(parts: _*).as("key"), col("value"))))
    }
    // reduce=false collation-sorted range reads over ~5-15% of the rows
    for (_ <- 1 to 3) {
      val a = java.time.LocalDate.ofEpochDay(Gen.FirstDay + rng.nextInt(Gen.Days - 400))
      val b = a.plusDays(120 + rng.nextInt(240))
      def key(d: java.time.LocalDate) = Seq(d.getYear, d.getMonthValue, d.getDayOfMonth)
      def dk(d: java.time.LocalDate) = d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
      ops += PoolOp("range", s"range=$a..$b",
        () => plan(View(li, col("uid"), dayKey("l_shipdate"), col("l_extendedprice")),
          QueryOpts(startKey = Some(key(a)), endKey = Some(key(b)), reduce = false)),
        () => rows(liRef.filter(col("dk").between(dk(a), dk(b))).orderBy(col("dk"), col("uid"))
          .select(col("uid").as("id"), array(col("y"), col("m"), col("d")).as("key"),
            col("l_extendedprice").as("value"))))
    }
    // mixed-type union sort: numbers collate before strings
    for (status <- Seq("F", "O")) {
      val other = if (status == "F") "O" else "F"
      ops += PoolOp("union_sort", s"union_sort numbers=$status strings=$other", { () =>
        val u = Spans("view.open")(View.union(
          View(ord.filter(col("o_orderstatus") === status), col("o_orderkey"),
            col("o_totalprice"), lit(1)),
          View(ord.filter(col("o_orderstatus") === other), col("o_orderkey"),
            col("o_orderpriority"), lit(1))))
        Spans("view.plan_build")(u.query(QueryOpts(reduce = false))
          .select(col("id"), col("key")))
      }, () => {
        val nums = ord.filter(col("o_orderstatus") === status)
          .select(col("o_orderkey").as("id"), lit(0).as("t"), col("o_totalprice").as("n"),
            lit(null).cast("string").as("s"))
        val strs = ord.filter(col("o_orderstatus") === other)
          .select(col("o_orderkey").as("id"), lit(1).as("t"), lit(null).cast("double").as("n"),
            col("o_orderpriority").as("s"))
        rows(nums.unionByName(strs).orderBy(col("t"), col("n"), col("s"), col("id"))
          .select(col("id"), when(col("t") === 0, to_json(struct(col("n").as("key"))))
            .otherwise(to_json(struct(col("s").as("key")))).as("key")))
      })
    }
    ops.result()
  }
}
