package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex, Pipeline, Replication, TextSearch}
import graft.view.{IndexStore, View}

/** One crash per written directory of every store kind that commits a
  * batch of bucket rewrites, under FileOutputCommitter v2 (the committer
  * Bench, Verify and viewbench run). Each store is built once; its batch
  * runs cleanly on one copy, and on a fresh copy per crash point it is
  * cut off by [[CrashingLocalFs]], then replayed with the cache cleared,
  * as after a restart. The replay must equal the clean run, leave no
  * `._tmp` directory or `_graft_swap` record behind, and the failed run
  * must leave the session's persisted RDDs as it found them. */
class CrashMatrixSpec extends SparkSpecBase {
  import spark.implicits._

  /** A crash point: the first rename below `<rename>` or the first
    * delete of a path named `delete`. */
  private final case class Crash(rename: String = null, delete: String = null)

  private final case class Kind(build: String => Unit, batch: String => Unit,
                                tables: Seq[String],
                                serve: String => Seq[String] = _ => Nil,
                                /** The replay; the batch by default. */
                                replay: Option[String => Unit] = None) {
    lazy val base: String = {
      val p = Files.createTempDirectory("graft-crash-base").toString + "/s"
      build(p)
      p
    }
    lazy val clean: Seq[(String, Seq[String])] = {
      val p = copyOf(base)
      batch(p)
      state(p)
    }
    def state(p: String): Seq[(String, Seq[String])] =
      tables.map(t => t -> spark.read.parquet(s"$p/$t").collect()
          .map(_.toSeq.map {
            case b: Array[Byte] => b.toSeq
            case x => x
          }.toString).sorted.toSeq) ++
        Seq("meta" -> Seq(IndexStore.readMeta(spark, p).copy(bounds = Nil)
          .toString), "serve" -> serve(p))
  }

  private def copyOf(src: String): String = {
    val dst = Files.createTempDirectory("graft-crash").toString + "/s"
    val from = Paths.get(src)
    Files.walk(from).iterator().asScala.foreach(f =>
      Files.copy(f, Paths.get(dst).resolve(from.relativize(f))))
    dst
  }

  private def crashed(c: Crash)(body: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val committer = "mapreduce.fileoutputcommitter.algorithm.version"
    conf.set("fs.file.impl", classOf[CrashingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf.set(committer, "2")
    CrashingLocalFs.crashAt = c.rename
    CrashingLocalFs.crashDelete = c.delete
    try {
      val err = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("injected crash")),
        s"the batch failed before the crash point: $err")
    } finally {
      CrashingLocalFs.crashAt = null
      CrashingLocalFs.crashDelete = null
      Seq("fs.file.impl", "fs.file.impl.disable.cache", committer)
        .foreach(conf.unset)
    }
  }

  private def crashTest(name: String, kind: => Kind, c: Crash): Unit =
    test(s"$name is rolled forward by the replay") {
      val k = kind
      val p = copyOf(k.base)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      crashed(c)(k.batch(p))
      assert(spark.sparkContext.getPersistentRDDs.keySet == pinned,
        "the failed batch left persisted RDDs behind")
      spark.catalog.clearCache()
      k.replay.getOrElse(k.batch)(p)
      assert(k.state(p) == k.clean)
      val left = Files.walk(Paths.get(p)).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith("._tmp") || n == "_graft_swap").toSeq
      assert(left.isEmpty, s"leftovers after the replay: $left")
    }

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val ids = docs.select($"doc_id").as[Long].collect().sorted.toSeq
  // the batch: 5 docs new to the index, 1 edit and 1 tombstone
  private lazy val held = ids.takeRight(5)
  private lazy val (edited, tomb) = (ids(0), ids(1))
  private def textBatch = docs.filter($"doc_id".isin(held: _*))
    .select($"doc_id", $"text")
    .unionByName(Seq((edited, "hash stream zebra")).toDF("doc_id", "text"))
  private def textBase = docs.filter(!$"doc_id".isin(held: _*))

  private lazy val text = Kind(
    p => TextSearch.buildTextIndex(textBase, $"doc_id", $"text", p,
      nBuckets = 4),
    p => TextSearch.upsertTextDocs(spark, p, textBatch, $"doc_id", $"text",
      deletedIds = Seq(tomb), newSeq = 2),
    Seq("postings", "terms", "ids", "stats"),
    p => Seq(Seq("hash", "stream"), Seq("zebra"), Seq("the", "data"))
      .flatMap(t => TextSearch.searchIndexed(spark, p, t, 10).collect()
        .map(_.toString)))

  test("text: the clean batch ends at the expected corpus stats") {
    val st = text.clean.toMap.apply("stats").head
    // n and sum_dl: 495 docs built, 5 added, 1 edited, 1 tombstoned
    assert(st.startsWith("ArraySeq(499, 27841,"), s"stats after the batch: $st")
  }
  crashTest("text: a crash at the first ids._tmp rename", text,
    Crash(rename = "ids._tmp"))
  crashTest("text: a crash at the stats/ swap", text, Crash(delete = "stats"))
  crashTest("text: a crash at the postings._tmp swap", text,
    Crash(rename = "postings._tmp"))
  crashTest("text: a crash at the terms._tmp swap", text,
    Crash(rename = "terms._tmp"))

  private lazy val fielded = {
    val fields = (p: DataFrame) => Seq(("title", substring(p("text"), 1, 24)),
      ("body", p("text")))
    Kind(
      p => TextSearch.buildFieldedTextIndex(textBase, $"doc_id",
        fields(textBase).map { case (n, c) => (n, c, if (n == "title") 2.0 else 1.0) },
        p, nBuckets = 4),
      p => {
        val b = textBatch
        TextSearch.upsertFieldedDocs(spark, p, b, $"doc_id", fields(b),
          deletedIds = Seq(tomb), newSeq = 2)
      },
      Seq("postings", "terms", "ids", "stats"),
      p => TextSearch.searchFielded(spark, p, Seq("hash", "stream"), 10)
        .collect().map(_.toString).toSeq)
  }
  for (c <- Seq(Crash(rename = "postings._tmp"), Crash(rename = "terms._tmp"),
                Crash(rename = "ids._tmp"), Crash(delete = "stats")))
    crashTest(s"fielded text: a crash at ${Option(c.rename).getOrElse("stats")}",
      fielded, c)

  private lazy val partitioned = {
    def pdocs(d: DataFrame) = d.select(
      concat(when($"doc_id" % 3 === 0, lit("a b")).otherwise($"lang"),
        lit(":"), $"doc_id".cast("string")).as("_id"), $"text")
    Kind(
      p => TextSearch.buildPartitionedTextIndex(pdocs(textBase), $"_id",
        $"text", p, nBuckets = 4),
      p => TextSearch.upsertPartitionedTextDocs(spark, p,
        pdocs(docs.filter($"doc_id".isin(held :+ edited: _*))
          .withColumn("text", when($"doc_id" === edited, lit("hash zebra"))
            .otherwise($"text"))),
        $"_id", $"text", deletedIds = pdocs(docs.filter($"doc_id" === tomb))
          .as[(String, String)].collect().map(_._1).toSeq, newSeq = 2),
      Seq("postings", "terms", "ids", "stats"),
      p => TextSearch.searchPartitioned(spark, p, "a b", Seq("hash", "zebra"), 10)
        .collect().map(_.toString).toSeq)
  }
  for (d <- Seq("postings", "terms", "ids", "stats"))
    crashTest(s"partitioned text: a crash at $d._tmp", partitioned,
      Crash(rename = s"$d._tmp"))

  private lazy val simhash = Kind(
    p => Dedup.buildSimhashIndex(textBase, $"doc_id", "text", p, nBuckets = 4),
    p => Dedup.upsertSimhashDocs(spark, p, textBatch, $"doc_id", "text",
      deletedIds = Seq(tomb), newSeq = 2),
    Seq("bands", "ids"))
  for (d <- Seq("bands", "ids"))
    crashTest(s"simhash: a crash at $d._tmp", simhash, Crash(rename = s"$d._tmp"))

  // near-duplicates: the batch's new docs copy stored texts
  private def dupBatch = docs.filter($"doc_id".isin(ids.slice(2, 6): _*))
    .select(($"doc_id" + 100000).as("doc_id"), $"text")
    .unionByName(Seq((edited, "hash stream zebra")).toDF("doc_id", "text"))

  private lazy val clusters = Kind(
    p => DedupIndex.build(textBase.select($"doc_id", $"text"), $"doc_id",
      $"text", p, nBuckets = 4),
    p => DedupIndex.upsert(spark, p, dupBatch, $"doc_id", $"text",
      deletedIds = Seq(tomb, ids(3)), newSeq = 2),
    Seq("bands", "ids", "labels", "members"),
    p => DedupIndex.clusters(spark, p).collect().map(_.toString).sorted.toSeq)
  for (d <- Seq("bands", "ids", "labels", "members"))
    crashTest(s"dedup clusters: a crash at $d._tmp", clusters,
      Crash(rename = s"$d._tmp"))

  private lazy val release = {
    val base = docs.select($"doc_id", $"text", $"lang", $"n_chars", $"source")
    val bench = docs.filter($"doc_id" % 7 === 0).select($"doc_id", $"text")
    val md = ids.last
    Kind(
      p => Pipeline.releaseInit(base, $"doc_id", $"text", $"lang",
        $"n_chars", $"source", bench, $"doc_id", $"text", p, nBuckets = 4),
      // changed texts, new exact duplicates of stored docs, deletions
      p => Pipeline.releaseDelta(spark, p,
        base.filter($"doc_id" % 11 === 3 && $"doc_id" % 13 =!= 5)
          .withColumn("text", concat($"text", lit(" zq")))
          .unionByName(base.filter($"doc_id" % 17 === 2)
            .withColumn("doc_id", $"doc_id" + md + 1)),
        $"doc_id", $"text", $"lang", $"n_chars", $"source", bench,
        $"doc_id", $"text",
        deletedIds = ids.filter(_ % 13 == 5), newSeq = 2),
      Seq("docs", "fps", "dedup/labels", "dedup/members"),
      p => Seq(IndexStore.readMeta(spark, s"$p/dedup").updateSeq.toString))
  }
  for (d <- Seq("docs", "fps", "labels"))
    crashTest(s"release state: a crash at $d._tmp", release,
      Crash(rename = s"$d._tmp"))

  private def leaves(n: Int, pos: Long, tag: String) =
    (0 until n).map(i => (s"d$i", pos, s"$tag$i", false,
      if (pos > 1) Seq(s"1-a$i") else Seq.empty[String]))
      .toDF("id", "rev_pos", "rev_hash", "deleted", "ancestors")
  private val rcols = Seq("id", "rev_pos", "rev_hash", "deleted", "ancestors")
    .map(col)

  private def target(p: String): Unit =
    Replication.createTarget(spark, p, leaves(40, 1, "a"), rcols(0),
      rcols(1), rcols(2), rcols(3), rcols(4), numBuckets = 4)
  private def localWrite(p: String, ws: (String, String, Boolean)*) =
    Replication.localDocsUpsert(spark, p, ws.toDF("id", "b", "del"),
      $"id", $"b", $"del")

  private lazy val sync = Kind(target,
    p => Replication.syncBatch(spark, p, leaves(40, 2, "s"), rcols(0),
      rcols(1), rcols(2), rcols(3), rcols(4),
      Seq("d3", "d14", "d25").toDF("id"), newSeq = 2),
    Seq("data"))
  crashTest("replication target sync: a crash at data._tmp", sync,
    Crash(rename = "data._tmp"))

  private lazy val purge = Kind(target,
    p => Replication.purgeTarget(spark, p,
      Seq(("d7", 1L, "a7"), ("d9", 1L, "a9")).toDF("id", "p", "h"),
      $"id", $"p", $"h", newSeq = 2),
    Seq("data", "purges"))
  for (d <- Seq("data", "purges"))
    crashTest(s"replication target purge: a crash at $d._tmp", purge,
      Crash(rename = s"$d._tmp"))

  // a local-doc write bumps its revs on every run, so the replay after
  // the crash is the next, empty write: it only rolls the record forward
  private lazy val local = Kind(
    p => { target(p); localWrite(p, ("l1", "x", false), ("l2", "y", false)) },
    p => localWrite(p, ("l1", "z", false), ("l2", "", true), ("l3", "w", false)),
    Seq("local"), replay = Some(p => localWrite(p)))
  crashTest("replication local docs: a crash at local._tmp", local,
    Crash(rename = "local._tmp"))

  private lazy val partitionedView = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet").limit(200)
      .select(concat(lit("p"), ($"o_orderkey" % 5).cast("string"), lit(":"),
        $"o_orderkey".cast("string")).as("_id"),
        $"o_orderstatus".as("k"), $"o_totalprice".cast("double").as("v"))
    val v = View(orders, col("_id"), col("k"), col("v"))
    val some = orders.select($"_id").as[String].take(3)
    Kind(
      p => v.materializePartitioned(p, numTasks = 4, seq = 1),
      p => v.updatePartitionedIndex(spark, p,
        orders.filter($"_id".isin(some.take(2): _*)).withColumn("k", lit("moved"))
          .unionByName(Seq(("p9:1", "new", 1.0)).toDF("_id", "k", "v")),
        deletedIds = Seq(some(2)), newSeq = 2),
      Seq("data"))
  }
  crashTest("partitioned view: a crash at data._tmp", partitionedView,
    Crash(rename = "data._tmp"))
}
