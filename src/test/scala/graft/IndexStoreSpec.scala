package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.view.{ChangeSet, IndexStore, MaxKey, QueryOpts, Reduce, Stale, View}

/** The load-bearing 100 TB claims of the persistent index:
  * incremental maintenance rewrites ONLY the buckets containing changed
  * keys, and range queries prune to the bucket directories + row groups
  * in range. */
class IndexStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val orders = spark.read.parquet(s"$sfDir/orders.parquet")

  /** (relative file path -> md5) for every parquet data file under dir. */
  private def fileHashes(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        val md = MessageDigest.getInstance("MD5")
        root.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  test("updateIndex rewrites only the buckets containing changed keys") {
    val dir = Files.createTempDirectory("graft-inc").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_totalprice", lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val before = fileHashes(s"$path/data")
    assert(before.keys.map(_.split("/")(0)).toSet.size == 4,
      "expected 4 populated bucket directories")

    // change ONE doc: the one holding the lowest key, re-emitted with an
    // even lower key — both its old and new rows live in the first bucket
    val lowest = orders.orderBy($"o_totalprice".asc).limit(1)
    val changed = lowest.withColumn("o_totalprice", lit(0.01))
    v.updateIndex(spark, path, changed, newSeq = 2)

    val after = fileHashes(s"$path/data")
    val changedDirs = (before.keySet ++ after.keySet)
      .filter(f => before.get(f) != after.get(f))
      .map(_.split("/")(0))
    assert(changedDirs == Set("_kb=0"),
      s"only the first bucket may be rewritten, got $changedDirs")

    // the merged index is correct and complete
    val vi = v.fromIndex(spark, path)
    assert(vi.totalRows == orders.count())
    assert(vi.updateSeq.contains(2L))
    val changedId = lowest.select($"o_orderkey").as[Long].head()
    val row = vi.rows.filter($"_id" === changedId).collect()
    assert(row.length == 1 && row(0).getAs[Double]("key") == 0.01)
  }

  test("updateIndex with deletions drops rows and stays bucket-local") {
    val dir = Files.createTempDirectory("graft-del").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_orderkey".cast("double"), lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val victims = orders.orderBy($"o_orderkey".asc).limit(2)
      .select($"o_orderkey").as[Long].collect().toSeq
    val before = fileHashes(s"$path/data")
    v.updateIndex(spark, path, orders.filter(lit(false)),
      deletedIds = victims, newSeq = 2)
    val after = fileHashes(s"$path/data")
    val vi = v.fromIndex(spark, path)
    assert(vi.totalRows == orders.count() - 2)
    assert(vi.rows.filter($"_id".isin(victims: _*)).count() == 0)
    val changedDirs = (before.keySet ++ after.keySet)
      .filter(f => before.get(f) != after.get(f)).map(_.split("/")(0))
    assert(changedDirs == Set("_kb=0"),
      s"deleting the two lowest keys must only rewrite bucket 0, got $changedDirs")
  }

  test("range query on a materialized index prunes buckets and row groups") {
    val dir = Files.createTempDirectory("graft-prune").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_totalprice", lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val vi = v.fromIndex(spark, path)
    val total = orders.count()
    // a narrow range around the global minimum: one bucket's territory
    val lo = orders.agg(min($"o_totalprice")).as[Double].head()
    val q = vi.query(QueryOpts(startKey = Some(lo), endKey = Some(lo + 1000.0),
      reduce = false))
    // AQE wraps the plan; disable it for this one query so the scan node
    // and its metrics are directly observable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q2 = vi.query(QueryOpts(startKey = Some(lo),
        endKey = Some(lo + 1000.0), reduce = false))
      // collect() (not count()) so THIS plan executes and its scan
      // metrics populate — a bare count plans a separate aggregation
      val n = q2.collect().length
      assert(n > 0 && n < total)
      val scans = q2.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val scan = scans.head
      // directory-level pruning: the _kb partition filter kept 1 of 4
      assert(scan.partitionFilters.nonEmpty, "expected _kb partition filters")
      val files = scan.metrics("numFiles").value
      assert(files >= 1 && files < 4,
        s"expected 1..3 of 4 bucket files scanned, got $files")
      // row-group level: the binary _ck range is pushed to parquet
      assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(_ck"),
        s"expected _ck range in PushedFilters: ${scan.metadata("PushedFilters")}")
      val scanRows = scan.metrics("numOutputRows").value
      assert(scanRows > 0 && scanRows < total,
        s"scan must read some rows but not the whole index, got $scanRows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(q.count() > 0)
  }

  test("docid-refined range bounds keep row-group (_ck) pruning") {
    val dir = Files.createTempDirectory("graft-docid-prune").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_totalprice", lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val vi = v.fromIndex(spark, path)
    val lo = orders.agg(min($"o_totalprice")).as[Double].head()
    val anyId = orders.select($"o_orderkey").as[Long].head()
    // the OR refinement `ck > K || (ck === K && id >= d)` alone is not
    // pushable to parquet row-group stats; the redundant `ck >= K`
    // conjunct must appear in PushedFilters so min/max pruning survives
    val opts = QueryOpts(startKey = Some(lo), startKeyDocId = Some(anyId),
      endKey = Some(lo + 1000.0), endKeyDocId = Some(anyId),
      reduce = false)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = vi.query(opts)
      q.collect()
      val scan = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }.head
      val pushed = scan.metadata("PushedFilters")
      assert(pushed.contains("GreaterThanOrEqual(_ck"),
        s"lower _ck bound must be pushed under startkey_docid: $pushed")
      assert(pushed.contains("LessThanOrEqual(_ck"),
        s"upper _ck bound must be pushed under endkey_docid: $pushed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the refinement itself still filters: same rows as the manual
    // predicate over the unrefined range
    val got = vi.query(opts).collect().map(_.toSeq).toSet
    val exp = vi.query(QueryOpts(startKey = Some(lo),
        endKey = Some(lo + 1000.0), reduce = false))
      .filter($"key" > lo || $"id" >= anyId)
      .filter($"key" < lo + 1000.0 || $"id" <= anyId)
      .collect().map(_.toSeq).toSet
    assert(got == exp, "docid refinement must keep its exact semantics")
  }

  test("reduced index: queryPage pages stored groups to the unpaged result") {
    val dir = Files.createTempDirectory("graft-redpage").toString
    val path = s"$dir/v"
    // one group per order key → plenty of pages
    val v = View(orders, $"o_orderkey", $"o_orderkey".cast("double"),
      $"o_totalprice".cast("decimal(18,2)"), Some(Reduce.Sum))
    v.materialize(path, numBuckets = 4, seq = 1)
    v.materializeReduced(spark, path)
    val rv = v.fromReducedIndex(spark, path)
    val opts = graft.view.QueryOpts(group = true)
    val unpaged = rv.query(opts).collect().map(_.toString).toSeq
    assert(unpaged.length > 200)
    val paged = scala.collection.mutable.ArrayBuffer[String]()
    var tok: Option[String] = None
    var first = true
    while (first || tok.isDefined) {
      val p = rv.queryPage(opts, pageSize = 100, resume = tok)
      paged ++= p.rows.collect().map(_.toString)
      assert(p.updateSeq.contains(1L))
      tok = p.nextToken
      first = false
    }
    assert(paged.toSeq == unpaged,
      s"paged reduced groups diverged: ${paged.length} vs ${unpaged.length}")
    // descending pages too
    val dOpts = opts.copy(descending = true)
    val dUnpaged = rv.query(dOpts).collect().map(_.toString).toSeq
    val dPaged = scala.collection.mutable.ArrayBuffer[String]()
    tok = None; first = true
    while (first || tok.isDefined) {
      val p = rv.queryPage(dOpts, pageSize = 100, resume = tok)
      dPaged ++= p.rows.collect().map(_.toString)
      tok = p.nextToken
      first = false
    }
    assert(dPaged.toSeq == dUnpaged, "descending reduced paging diverged")
    // keys= fetches cannot cursor (request order) — loud error
    val e = intercept[IllegalArgumentException] {
      rv.queryPage(opts.copy(keys = Some(Seq(1.0))), 10, None)
    }
    assert(e.getMessage.contains("keys="))

    // the envelope serves total_rows from the meta stamp, not a count
    // job per page (round-6 finding): the stamp equals the true group
    // count, and a page runs exactly ONE Spark job (its own collect)
    assert(graft.view.IndexStore.readMeta(spark, path).reducedGroups ==
      unpaged.length.toLong)
    val p1 = rv.queryPage(opts, pageSize = 100, resume = None)
    assert(p1.totalRows == unpaged.length.toLong)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val p2 = rv.queryPage(opts, pageSize = 100, resume = p1.nextToken)
      assert(p2.totalRows == unpaged.length.toLong)
      // listener events are async; allow the bus to drain
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 1,
      s"a reduced page must cost exactly one job, ran ${jobs.get()}")

    // the stamp follows maintenance: delete one key, count drops by 1
    val delKey = orders.select($"o_orderkey").orderBy($"o_orderkey")
      .head().getLong(0)
    v.updateIndex(spark, path, orders.limit(0), deletedIds = Seq(delKey))
    val rv2 = v.fromReducedIndex(spark, path)
    val pAfter = rv2.queryPage(opts, pageSize = 100, resume = None)
    assert(pAfter.totalRows == unpaged.length.toLong - 1,
      "reducedGroups stamp must track maintenance")
  }

  test("reduced index: queryPage pages group_level rollups (boundary group not re-served)") {
    val dir = Files.createTempDirectory("graft-redpage-gl").toString
    val path = s"$dir/v"
    // array keys: stored rows are FULL (year, month) keys, the page
    // cursor carries the TRUNCATED year key — the case where a
    // pre-aggregation cursor filter re-serves the boundary group forever
    val v = View(orders, $"o_orderkey",
      array(year($"o_orderdate").cast("double"),
        month($"o_orderdate").cast("double")),
      lit(1L), Some(Reduce.Count))
    v.materialize(path, numBuckets = 4, seq = 1)
    v.materializeReduced(spark, path)
    val rv = v.fromReducedIndex(spark, path)
    val opts = QueryOpts(groupLevel = Some(1))
    val unpaged = rv.query(opts).collect().map(_.toString).toSeq
    assert(unpaged.length > 3, s"need several year groups, got $unpaged")
    // pageSize=1 is the degenerate case: with the bug the token never
    // advances past the first group; bound the loop so a regression
    // fails loudly instead of hanging
    val paged = scala.collection.mutable.ArrayBuffer[String]()
    var tok: Option[String] = None
    var first = true
    var pages = 0
    while ((first || tok.isDefined) && pages <= unpaged.length + 2) {
      val p = rv.queryPage(opts, pageSize = 1, resume = tok)
      paged ++= p.rows.collect().map(_.toString)
      tok = p.nextToken
      first = false
      pages += 1
    }
    assert(pages <= unpaged.length + 1,
      s"cursor did not advance: $pages pages for ${unpaged.length} groups")
    assert(paged.toSeq == unpaged,
      s"group_level paging diverged: ${paged.length} vs ${unpaged.length}")
    // descending group_level pages too
    val dOpts = opts.copy(descending = true)
    val dUnpaged = rv.query(dOpts).collect().map(_.toString).toSeq
    val dPaged = scala.collection.mutable.ArrayBuffer[String]()
    tok = None; first = true
    while (first || tok.isDefined) {
      val p = rv.queryPage(dOpts, pageSize = 2, resume = tok)
      dPaged ++= p.rows.collect().map(_.toString)
      tok = p.nextToken
      first = false
    }
    assert(dPaged.toSeq == dUnpaged, "descending group_level paging diverged")
  }

  test("reduced index: group/group_level served from stored aggregates") {
    val dir = Files.createTempDirectory("graft-red").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey",
      array(year($"o_orderdate").cast("double"),
        month($"o_orderdate").cast("double")),
      lit(1L), Some(Reduce.Count))
    v.materialize(path, numBuckets = 4, seq = 1)
    v.materializeReduced(spark, path)
    val rv = v.fromReducedIndex(spark, path)

    // group=true: stored aggregates == recomputed aggregates, key order
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getSeq[Double](0).toList -> r.getLong(1)).toSeq
    assert(keyed(rv.query(QueryOpts(group = true))) ==
      keyed(v.query(QueryOpts(group = true))))
    // group_level rollup: merged from per-key aggregates
    assert(keyed(rv.query(QueryOpts(groupLevel = Some(1)))) ==
      keyed(v.query(QueryOpts(groupLevel = Some(1)))))
    // global reduce with null key
    val g = rv.query(QueryOpts()).collect()
    assert(g.length == 1 && g(0).isNullAt(0) &&
      g(0).getLong(1) == orders.count())
    // range query on the reduced rows
    val r96 = rv.query(QueryOpts(group = true,
      startKey = Some(Seq(1996.0)), endKey = Some(Seq(1996.0, MaxKey))))
      .collect()
    assert(r96.forall(_.getSeq[Double](0).head == 1996.0) && r96.nonEmpty)

    // incremental: moving one order to another month updates BOTH months'
    // stored counts through the bucket-local re-aggregation
    val before = keyed(rv.query(QueryOpts(group = true))).toMap
    val one = orders.orderBy($"o_orderkey".asc).limit(1)
    val oldKey = one.select(
      year($"o_orderdate").cast("double"),
      month($"o_orderdate").cast("double")).collect()
      .map(r => List(r.getDouble(0), r.getDouble(1))).head
    val moved = one.withColumn("o_orderdate",
      add_months($"o_orderdate", 1))
    v.updateIndex(spark, path, moved, newSeq = 2)
    val after = keyed(v.fromReducedIndex(spark, path)
      .query(QueryOpts(group = true))).toMap
    assert(after.getOrElse(oldKey, 0L) == before(oldKey) - 1)
    assert(after.values.sum == before.values.sum)
  }

  test("RangeBucket expression routes identically to driver-side bucketOf") {
    import graft.collation.CollationCodec
    import graft.view.IndexMeta
    // sparse bucket ids + bounds over double keys (like a real index
    // whose creation-time partitions 1 and 4 were empty)
    val bounds = Seq(0 -> 10.0, 2 -> 25.0, 3 -> 99.5, 5 -> 1000.0)
      .map { case (id, k) => (id, CollationCodec.encodeScala(k)) }
    val meta = IndexMeta(1L, 6, bounds)
    val keys = Seq(-5.0, 10.0, 17.2, 25.0, 25.1, 99.4, 99.5, 500.0,
      1000.0, 1e9)
    val df = keys.toDF("k")
      .select($"k", graft.gfunctions.collation_key($"k").as("ck"))
      .withColumn("b", IndexStore.bucketCol($"ck", meta))
    val got = df.select($"k", $"b").collect()
      .map(r => r.getDouble(0) -> r.getInt(1)).toMap
    keys.foreach { k =>
      val exp = IndexStore.bucketOf(meta, CollationCodec.encodeScala(k))
      assert(got(k) == exp, s"key $k: expr ${got(k)} vs driver $exp")
    }
    assert(got(-5.0) == 0 && got(17.2) == 0 && got(25.0) == 2 &&
      got(99.5) == 3 && got(1e9) == 5)
  }

  test("conditional view: a doc that stops matching leaves the index") {
    val dir = Files.createTempDirectory("graft-cond").toString
    val path = s"$dir/v"
    // the condition lives INSIDE the map phase (conditional emit), so
    // incremental updates apply it to changed docs too
    val v = View.multi(orders, $"o_orderkey",
      when($"o_orderstatus" === "F",
        array(struct($"o_orderkey".cast("double").as("key"),
          $"o_totalprice".as("value"))))
        .otherwise(array()))
    v.materialize(path, numBuckets = 4, seq = 1)
    val nF = orders.filter($"o_orderstatus" === "F").count()
    assert(v.fromIndex(spark, path).totalRows == nF)
    // one F doc flips to O: it must VANISH from the index…
    val one = orders.filter($"o_orderstatus" === "F")
      .orderBy($"o_orderkey".asc).limit(1)
    val id = one.select($"o_orderkey").as[Long].head()
    v.updateIndex(spark, path, one.withColumn("o_orderstatus", lit("O")),
      newSeq = 2)
    val vi = v.fromIndex(spark, path)
    assert(vi.totalRows == nF - 1)
    assert(vi.rows.filter($"_id" === id).count() == 0)
    // …and flip back: it reappears
    v.updateIndex(spark, path, one, newSeq = 3)
    assert(v.fromIndex(spark, path).totalRows == nF)
  }

  test("materializing an empty view fails with a clear message") {
    val dir = Files.createTempDirectory("graft-empty").toString
    val v = View(orders.filter(lit(false)), $"o_orderkey",
      $"o_orderstatus", lit(1))
    val e = intercept[IllegalArgumentException] {
      v.materialize(s"$dir/v", numBuckets = 4, seq = 1)
    }
    assert(e.getMessage.contains("empty view"))
  }

  test("multi-emit docs update across ALL their buckets (sidecar fan-out)") {
    val dir = Files.createTempDirectory("graft-multi").toString
    val path = s"$dir/v"
    // each doc emits TWO rows at far-apart keys: its (low) orderkey and
    // its (high) totalprice+1e9 — old rows of one doc live in different
    // buckets and BOTH must be found via the by-id sidecar and replaced
    val v = View.multi(orders, $"o_orderkey",
      array(
        struct($"o_orderkey".cast("double").as("key"),
          lit(1.0).as("value")),
        struct(($"o_totalprice" + 1e9).as("key"), lit(2.0).as("value"))))
    v.materialize(path, numBuckets = 4, seq = 1)
    val one = orders.orderBy($"o_orderkey".asc).limit(1)
    val id = one.select($"o_orderkey").as[Long].head()
    val changed = one.withColumn("o_totalprice", lit(77.0))
    v.updateIndex(spark, path, changed, newSeq = 2)
    val vi = v.fromIndex(spark, path)
    assert(vi.totalRows == orders.count() * 2)
    val mine = vi.rows.filter($"_id" === id)
      .select($"key").as[Double].collect().sorted
    assert(mine.length == 2)
    assert(mine(0) == id.toDouble && mine(1) == 1e9 + 77.0,
      s"both emitted rows must be replaced, got ${mine.toSeq}")
  }

  test("custom reduce with a merge (rereduce) works via the reduced index") {
    val dir = Files.createTempDirectory("graft-red-custom").toString
    val path = s"$dir/v"
    // custom max reduce with max as its own rereduce
    val v = View(orders, $"o_orderkey",
      array(year($"o_orderdate").cast("double"),
        month($"o_orderdate").cast("double")),
      $"o_totalprice",
      Some(Reduce.Custom(vv => max(vv).as("value"),
        merge = Some(vv => max(vv).as("value")))))
    v.materialize(path, numBuckets = 4, seq = 1)
    v.materializeReduced(spark, path)
    val got = v.fromReducedIndex(spark, path)
      .query(QueryOpts(groupLevel = Some(1))).collect()
      .map(r => r.getSeq[Double](0).head -> r.getDouble(1)).toMap
    val exp = orders.groupBy(year($"o_orderdate").cast("double"))
      .agg(max($"o_totalprice")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == exp)
  }

  test("compact rebalances a skewed index and preserves update_seq") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_totalprice", lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val pre = IndexStore.bucketStats(spark, path)
    // a skewed change feed: 200 NEW docs whose keys sort below every
    // existing key — the fixed creation-time bounds route them all into
    // bucket 0
    val flood = orders.limit(200)
      .withColumn("o_orderkey", $"o_orderkey" + 1000000L)
      .withColumn("o_totalprice", -$"o_totalprice")
    v.updateIndex(spark, path, flood, newSeq = 2)
    val skewed = IndexStore.bucketStats(spark, path)
    val n = orders.count()
    assert(skewed(0) == pre(0) + 200, s"flood must land in bucket 0: $skewed")

    IndexStore.compact(spark, path, numBuckets = 4)
    assert(IndexStore.readMeta(spark, path).updateSeq == 2L)
    val balanced = IndexStore.bucketStats(spark, path)
    assert(balanced.size == 4)
    assert(balanced.values.max < skewed.values.max,
      s"compaction must shrink the hottest bucket: $skewed -> $balanced")
    // the rebuilt index stays complete, queryable and incrementally
    // updatable (fresh bounds + by-id sidecar were rebuilt together)
    val vi = v.fromIndex(spark, path)
    assert(vi.totalRows == n + 200)
    val first = vi.query(QueryOpts(reduce = false, limit = Some(1)))
      .collect()(0)
    assert(first.getDouble(1) < 0, "negative keys must sort first")
    v.updateIndex(spark, path, orders.limit(1), newSeq = 3)
    assert(v.fromIndex(spark, path).totalRows == n + 200)
  }

  test("stale=ok serves the old index; fresh folds changes in first") {
    val dir = Files.createTempDirectory("graft-stale").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_orderstatus",
      $"o_totalprice".cast("decimal(18,2)"), Some(Reduce.Sum))
    v.materialize(path, numBuckets = 4, seq = 1)
    val vi = v.fromIndex(spark, path)
    val id = orders.orderBy($"o_orderkey".asc).limit(1)
      .select($"o_orderkey").as[Long].head()
    val changed = orders.filter($"o_orderkey" === id)
      .withColumn("o_totalprice", lit(1000000.0))
    val changes = ChangeSet(seq = 2, docs = changed)
    def sumFor(r: graft.view.ViewQueryResult): Map[String, java.math.BigDecimal] =
      r.rows.collect().map(x => x.getString(0) -> x.getDecimal(1)).toMap

    // stale=ok: the change is NOT visible, updateSeq still 1
    val staleR = vi.queryWithChanges(
      QueryOpts(group = true, stale = Some(Stale.Ok)), changes)
    assert(staleR.updateSeq.contains(1L))
    val fresh0 = sumFor(staleR)

    // fresh (default): the index is updated first, updateSeq advances
    val freshR = vi.queryWithChanges(QueryOpts(group = true), changes)
    assert(freshR.updateSeq.contains(2L))
    val fresh1 = sumFor(freshR)
    assert(fresh0 != fresh1, "the price change must shift one group sum")

    // idempotence: same ChangeSet again is a no-op (seq not newer)
    val vi2 = v.fromIndex(spark, path)
    val again = vi2.queryWithChanges(QueryOpts(group = true), changes)
    assert(again.updateSeq.contains(2L))
    assert(sumFor(again) == fresh1)
  }

  test("stale=update_after answers from the snapshot then updates") {
    val dir = Files.createTempDirectory("graft-ua").toString
    val path = s"$dir/v"
    val v = View(orders, $"o_orderkey", $"o_orderkey".cast("double"), lit(1))
    v.materialize(path, numBuckets = 4, seq = 1)
    val vi = v.fromIndex(spark, path)
    val id = orders.orderBy($"o_orderkey".asc).limit(1)
      .select($"o_orderkey").as[Long].head()
    val changes = ChangeSet(seq = 2, docs = orders.filter(lit(false)),
      deletedIds = Seq(id))
    val r = vi.queryWithChanges(
      QueryOpts(reduce = false, stale = Some(Stale.UpdateAfter)), changes)
    // served from the pre-update snapshot…
    assert(r.updateSeq.contains(1L))
    assert(r.rows.filter($"id" === id).count() == 1)
    // …but the on-disk index has been updated behind it
    val vi2 = v.fromIndex(spark, path)
    assert(vi2.updateSeq.contains(2L))
    assert(vi2.rows.filter($"_id" === id).count() == 0)
    r.rows.unpersist()
  }

  test("a failed reduced write leaves data, sidecar, reduced and meta unchanged") {
    val dir = Files.createTempDirectory("graft-atomic").toString
    val path = s"$dir/v"
    val marker = 666.0
    // a custom reduce that fails on the marker value: only the reduced
    // write of the batch evaluates it
    val boom = Reduce.Custom(v =>
      sum(when(v === marker, raise_error(lit("reduce marker")))
        .otherwise(v)))
    val docs = orders.limit(300).select($"o_orderkey".as("_id"),
      $"o_orderstatus".as("k"), $"o_totalprice".as("v"))
    val v = View(docs, col("_id"), col("k"), col("v"), Some(boom))
    v.materialize(path, numBuckets = 3, seq = 1)
    v.materializeReduced(spark, path)
    def snapshot() = Seq("data", "ids", "reduced").map(d => fileHashes(s"$path/$d"))
    val before = snapshot()
    val meta0 = IndexStore.readMeta(spark, path)
    val ids = docs.select($"_id").as[Long].take(3)
    val changed = docs.filter($"_id".isin(ids: _*))
      .withColumn("k", when($"_id" === ids(0), lit("moved")).otherwise($"k"))
      .withColumn("v", when($"_id" === ids(1), lit(marker)).otherwise($"v"))
    val err = intercept[Exception](
      v.updateIndex(spark, path, changed, deletedIds = Seq(ids(2))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("reduce marker")),
      s"unexpected failure: $err")
    assert(snapshot() == before, "a live directory changed")
    val meta1 = IndexStore.readMeta(spark, path)
    assert(meta1.updateSeq == meta0.updateSeq)
    assert(meta1.reducedGroups == meta0.reducedGroups)
    val left = Files.list(Paths.get(path)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith("._tmp") || n == "_graft_swap").toSeq
    assert(left.isEmpty, s"leftovers after a failed batch: $left")
    // the same batch without the marker then goes through
    v.updateIndex(spark, path, changed.withColumn("v", lit(1.0)),
      deletedIds = Seq(ids(2)))
    assert(IndexStore.readMeta(spark, path).updateSeq == meta0.updateSeq + 1)
    assert(spark.read.parquet(s"$path/reduced")
      .filter($"key" === "moved").count() == 1)
  }

  for (crashDir <- Seq("data", "reduced"))
    test(s"a crash during the $crashDir bucket swaps is rolled forward by the replay") {
      val dir = Files.createTempDirectory("graft-crash").toString
      val docs = orders.limit(300).select($"o_orderkey".as("_id"),
        $"o_custkey".as("k"), $"o_totalprice".as("v"))
      val v = View(docs, col("_id"), col("k"), col("v"), Some(Reduce.Sum))
      val (crashed, clean) = (s"$dir/a", s"$dir/b")
      v.materialize(crashed, numBuckets = 3, seq = 1)
      v.materializeReduced(spark, crashed)
      Files.walk(Paths.get(crashed)).iterator().asScala.foreach(f =>
        Files.copy(f, Paths.get(clean).resolve(Paths.get(crashed).relativize(f))))
      val ids = docs.select($"_id").as[Long].take(4)
      // key moves to both ends of the key range, a new doc, a tombstone
      val changed = docs.filter($"_id".isin(ids.take(2): _*))
        .withColumn("k", when($"_id" === ids(0), lit(0L)).otherwise(lit(1L << 40)))
        .unionByName(docs.filter($"_id" === ids(2))
          .withColumn("_id", lit(-1L)).withColumn("k", lit(7L)))
      def update(p: String) =
        v.updateIndex(spark, p, changed, deletedIds = Seq(ids(3)), newSeq = 2)
      update(clean)
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set("fs.file.impl", classOf[CrashingLocalFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      CrashingLocalFs.crashAt = s"$crashDir._tmp"
      try intercept[java.io.IOException](update(crashed))
      finally {
        CrashingLocalFs.crashAt = null
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
      assert(Files.exists(Paths.get(crashed, "_graft_swap")),
        "the crash hit after the swap record was written")
      assert(IndexStore.readMeta(spark, crashed).updateSeq == 1L)
      update(crashed) // the replay
      def state(p: String) = (
        spark.read.parquet(s"$p/data").select("_id", "key", "value", "_kb")
          .collect().map(_.toSeq).toSet,
        spark.read.parquet(s"$p/ids").select("_id", "_kb", "_ib")
          .collect().map(_.toSeq).toSet,
        spark.read.parquet(s"$p/reduced").select("key", "value", "_kb")
          .collect().map(_.toSeq).toSet,
        IndexStore.readMeta(spark, p).copy(bounds = Nil))
      assert(state(crashed) == state(clean))
      assert(IndexStore.readMeta(spark, crashed).reducedGroups ==
        spark.read.parquet(s"$crashed/reduced").count())
      val left = Files.list(Paths.get(crashed)).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith("._tmp") || n == "_graft_swap").toSeq
      assert(left.isEmpty, s"leftovers after the replay: $left")
    }

  test("update+tombstone for one id in ONE batch: the delete wins, never resurrection") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-delwin").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val changed5 = emb.filter($"vec_id" === 5L)
      .withColumn("embedding", transform($"embedding", x => -x))
    // LSH (IndexStore.merge path)
    graft.operators.Similarity.buildLshIndex(emb, s"$dir/lsh")
    graft.operators.Similarity.upsertLshVectors(spark, s"$dir/lsh",
      changed5, deletedIds = Seq(5L))
    assert(spark.read.parquet(s"$dir/lsh/data")
      .filter($"_id" === 5L).count() == 0,
      "LSH: the tombstoned id must not re-enter via its update row")
    // IVF-SQ8 (the reviewed site)
    graft.operators.Similarity.buildIvfSq8Index(emb, s"$dir/ivfsq8")
    graft.operators.Similarity.upsertIvfSq8Vectors(spark, s"$dir/ivfsq8",
      changed5, deletedIds = Seq(5L))
    assert(spark.read.parquet(s"$dir/ivfsq8/data")
      .filter($"_id" === 5L).count() == 0,
      "IVF-SQ8: the tombstoned id must not re-enter via its update row")
    // view updateIndex
    val docs = orders.limit(200).select($"o_orderkey".as("_id"),
      $"o_orderdate".cast("string").as("k"), $"o_totalprice".as("v"))
    val v = View(docs, col("_id"), col("k"), col("v"))
    v.materialize(s"$dir/view", numBuckets = 2, seq = 1)
    val someId = docs.select($"_id").head().getLong(0)
    v.updateIndex(spark, s"$dir/view",
      docs.filter($"_id" === someId).withColumn("k", lit("zzz")),
      deletedIds = Seq(someId))
    assert(spark.read.parquet(s"$dir/view/data")
      .filter($"_id" === someId).count() == 0,
      "view: the tombstoned doc must not re-enter via its update row")
    // text index
    val tdocs = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.operators.TextSearch.buildTextIndex(tdocs, col("doc_id"),
      col("text"), s"$dir/txt", nBuckets = 4)
    graft.operators.TextSearch.upsertTextDocs(spark, s"$dir/txt",
      tdocs.filter($"doc_id" === 3L), col("doc_id"), col("text"),
      deletedIds = Seq(3L))
    assert(spark.read.parquet(s"$dir/txt/ids")
      .filter($"doc_id" === 3L).count() == 0,
      "text: the tombstoned doc must not re-enter via its update row")
  }
}

/** The local filesystem with one injected crash: the first rename of a
  * path below a `<dir>._tmp` directory named by `crashAt` (at any
  * depth, outside a committer's `_temporary` tree), or the first delete
  * of a path named `crashDelete`, throws, as if the process died there. */
class CrashingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val at = CrashingLocalFs.crashAt
    if (at != null && CrashingLocalFs.below(src, at)) {
      CrashingLocalFs.crashAt = null
      throw new java.io.IOException(s"injected crash renaming $src")
    }
    super.rename(src, dst)
  }

  override def delete(p: org.apache.hadoop.fs.Path,
                      recursive: Boolean): Boolean = {
    val at = CrashingLocalFs.crashDelete
    if (at != null && p.getName == at) {
      CrashingLocalFs.crashDelete = null
      throw new java.io.IOException(s"injected crash deleting $p")
    }
    super.delete(p, recursive)
  }
}

object CrashingLocalFs {
  @volatile var crashAt: String = null
  @volatile var crashDelete: String = null

  /** True iff `src` lies below a directory named `at`, with no
    * `_temporary` directory in between. */
  def below(src: org.apache.hadoop.fs.Path, at: String): Boolean = {
    val up = Iterator.iterate(src.getParent)(_.getParent)
      .takeWhile(_ != null).map(_.getName).toSeq
    val i = up.indexOf(at)
    i >= 0 && !up.take(i).contains("_temporary")
  }
}
