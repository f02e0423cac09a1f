package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextSearch}
import graft.view.{IndexStore, Reduce, View}

/** The job-free store readers agree with Spark's own `read.parquet`:
  * the footer-schema open ([[IndexStore.readWhere]]) derives the schema
  * inference would, and [[IndexStore.readSmall]] decodes the rows a
  * `collect()` would. */
class StoreReaderSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val orders = spark.read.parquet(s"$sfDir/orders.parquet")

  private def tmp(name: String) =
    Files.createTempDirectory(name).toString + "/idx"

  /** Whole-store, pruned and empty opens all carry inference's schema
    * (names, types, nullability, column order, partition column). */
  private def assertOpens(dir: String, part: String): Unit = {
    val inferred = spark.read.parquet(dir)
    val whole = IndexStore.readStore(spark, dir, part)
    assert(whole.schema == inferred.schema, s"$dir: whole-store schema")
    assert(whole.count() == inferred.count(), s"$dir: whole-store rows")
    val buckets = inferred.select(col(part)).distinct().as[Int].collect().sorted
    val some = buckets.take(math.max(1, buckets.length / 2)).toSeq
    val pruned = IndexStore.readBuckets(spark, dir, part, some)
    assert(pruned.schema == inferred.schema, s"$dir: pruned schema")
    assert(pruned.count() == inferred.filter(col(part).isin(some: _*)).count(),
      s"$dir: pruned rows")
    val none = IndexStore.readBuckets(spark, dir, part, Seq(Int.MaxValue))
    assert(none.schema == inferred.schema, s"$dir: empty-open schema")
    assert(none.isEmpty, s"$dir: an open hitting no bucket has no rows")
  }

  private def sameRows(got: Seq[Row], dir: String): Unit =
    assert(got.map(_.toSeq).toSet == spark.read.parquet(dir).collect()
      .map(_.toSeq).toSet && got.size == spark.read.parquet(dir).count(),
      s"$dir: readSmall rows differ from read.parquet")

  test("view data, sidecar and reduced stores open with inference's schema") {
    val path = tmp("graft-open-view")
    val v = View(orders, $"o_orderkey", $"o_orderstatus", $"o_totalprice",
      Some(Reduce.Sum))
    v.materialize(path, numBuckets = 4)
    v.materializeReduced(spark, path)
    assertOpens(s"$path/data", "_kb")
    assertOpens(s"$path/ids", "_ib")
    assertOpens(s"$path/reduced", "_kb")
  }

  test("text postings, terms and sidecar open with inference's schema") {
    val path = tmp("graft-open-text")
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", path, nBuckets = 8)
    assertOpens(s"$path/postings", "_tb")
    assertOpens(s"$path/terms", "_tb")
    assertOpens(s"$path/ids", "_ib")
  }

  test("IVF and LSH vector stores open with inference's schema") {
    val ivf = tmp("graft-open-ivf")
    Similarity.buildIvfIndex(emb, ivf, idBuckets = 4)
    assertOpens(s"$ivf/data", "_kb")
    val lsh = tmp("graft-open-lsh")
    Similarity.buildLshIndex(emb, lsh, idBuckets = 4)
    assertOpens(s"$lsh/data", "_kb")
  }

  test("readSmall decodes the rows read.parquet collects, within its bound") {
    val text = tmp("graft-small-text")
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", text, nBuckets = 8)
    sameRows(IndexStore.readSmall(spark, s"$text/stats", 1), s"$text/stats")
    val ivf = tmp("graft-small-ivf")
    Similarity.buildIvfIndex(emb, ivf, nCentroids = 16, idBuckets = 4)
    sameRows(IndexStore.readSmall(spark, s"$ivf/centroids", 16),
      s"$ivf/centroids")
    val sem = tmp("graft-small-sem")
    Similarity.buildSemDedupIndex(emb, sem, tau = 0.95, idBuckets = 4)
    sameRows(IndexStore.readSmall(spark, s"$sem/params", 1), s"$sem/params")
    // partition directories become columns, as in read.parquet
    val part = tmp("graft-small-part")
    TextSearch.buildPartitionedTextIndex(
      Seq(("acme:1", "hash join"), ("zeta:1", "hash beta")).toDF("doc_id", "text"),
      $"doc_id", $"text", part, nBuckets = 4)
    val stats = IndexStore.readSmall(spark, s"$part/stats", 2)
    assert(stats.head.schema == spark.read.parquet(s"$part/stats").schema)
    sameRows(stats, s"$part/stats")

    val over = intercept[IllegalStateException] {
      IndexStore.readSmall(spark, s"$ivf/centroids", 15)
    }
    assert(over.getMessage.contains("16 rows") &&
      over.getMessage.contains("at most 15"), over.getMessage)
    val absent = intercept[java.io.FileNotFoundException] {
      IndexStore.readSmall(spark, s"$ivf/nothing", 1)
    }
    assert(absent.getMessage.contains(s"$ivf/nothing"))
  }

  test("a filtered readSmall decodes the matching rows, bounded by rows returned") {
    val text = tmp("graft-small-filter")
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", text, nBuckets = 2)
    val dir = s"$text/terms/_tb=0"
    val all = spark.read.parquet(dir)
    val held = all.count()
    val terms = all.select($"term").as[String].collect().sorted.take(3).toSeq
    val want = all.filter($"term".isin(terms: _*)).collect().map(_.toSeq).toSet
    // a table past the bound reads fine when the filter matches within it
    assert(held > terms.size)
    val got = IndexStore.readSmall(spark, dir, terms.size,
      Some(org.apache.spark.sql.sources.In("term", terms.toArray[Any])))
    assert(got.map(_.toSeq).toSet == want && got.size == terms.size)
    assert(IndexStore.readSmall(spark, dir, 1,
      Some(org.apache.spark.sql.sources.In("term", Array[Any]("absentterm"))))
      .isEmpty)
    val over = intercept[IllegalStateException] {
      IndexStore.readSmall(spark, dir, terms.size - 1,
        Some(org.apache.spark.sql.sources.In("term", terms.toArray[Any])))
    }
    assert(over.getMessage.contains(dir) &&
      over.getMessage.contains(s"at most ${terms.size - 1}"), over.getMessage)
  }

  test("searchIndexed still refuses a partitioned text index") {
    val path = tmp("graft-small-refuse")
    TextSearch.buildPartitionedTextIndex(
      Seq(("acme:1", "hash join"), ("zeta:1", "hash beta")).toDF("doc_id", "text"),
      $"doc_id", $"text", path, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      TextSearch.searchIndexed(spark, path, Seq("hash"), 10)
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
    assert(!TextSearch.indexCurrent(spark, path))
    assert(TextSearch.partitionedIndexCurrent(spark, path))
  }

  test("a format check throws on unreadable stats instead of reporting stale") {
    val path = tmp("graft-small-trunc")
    TextSearch.buildTextIndex(docs.limit(20), $"doc_id", $"text", path,
      nBuckets = 4)
    assert(TextSearch.indexCurrent(spark, path))
    val fs = IndexStore.fsFor(spark, path)
    val stats = new Path(s"$path/stats")
    val file = fs.listStatus(stats).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    // truncate the file in place
    val bytes = {
      val in = fs.open(file)
      try in.readNBytes(16) finally in.close()
    }
    val out = fs.create(file, true)
    try out.write(bytes) finally out.close()
    Seq[(String, () => Boolean)](
      "indexCurrent" -> (() => TextSearch.indexCurrent(spark, path)),
      "fieldedCurrent" -> (() => TextSearch.fieldedCurrent(spark, path))
    ).foreach { case (what, check) =>
      val e = intercept[java.io.IOException](check())
      assert(e.getMessage.contains(s"$path/stats"),
        s"$what must name the unreadable table: ${e.getMessage}")
    }
    // absent stats are still just "not current"
    fs.delete(stats, true)
    assert(!TextSearch.indexCurrent(spark, path))
    assert(!TextSearch.fieldedCurrent(spark, path))
  }

  /** Cut `file` to its first `n` bytes, in place. */
  private def truncate(file: Path, n: Int): Unit = {
    val fs = IndexStore.fsFor(spark, file.toString)
    val bytes = {
      val in = fs.open(file)
      try in.readNBytes(n) finally in.close()
    }
    val out = fs.create(file, true)
    try out.write(bytes) finally out.close()
  }

  /** The first Parquet file of the table at `dir`. */
  private def parquetFile(dir: String): Path =
    IndexStore.fsFor(spark, dir).listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get

  /** `check` is true on the built store, throws an `IOException` naming
    * `stamp` once `cut` truncated it, and is false once it is gone. */
  private def assertStampCheck(stamp: String, check: () => Boolean)
                              (cut: => Unit): Unit = {
    assert(check(), s"$stamp: a fresh store must be current")
    cut
    val e = intercept[java.io.IOException](check())
    assert(e.getMessage.contains(stamp),
      s"the check must name the unreadable stamp: ${e.getMessage}")
    IndexStore.fsFor(spark, stamp).delete(new Path(stamp), true)
    assert(!check(), s"$stamp: an absent stamp is just not current")
  }

  test("DedupIndex.indexCurrent throws on a truncated /fmt stamp") {
    val path = tmp("graft-stamp-dedup")
    graft.operators.DedupIndex.build(docs.limit(40), $"doc_id", $"text",
      path, nBuckets = 4)
    assertStampCheck(s"$path/fmt",
      () => graft.operators.DedupIndex.indexCurrent(spark, path))(
      truncate(parquetFile(s"$path/fmt"), 16))
  }

  test("Pipeline.stateCurrent throws on a truncated params stamp") {
    val path = tmp("graft-stamp-release")
    val base = docs.limit(40).select($"doc_id", $"text", $"lang",
      $"n_chars", $"source")
    graft.operators.Pipeline.releaseInit(base, $"doc_id", $"text", $"lang",
      $"n_chars", $"source", base.filter($"doc_id" % 7 === 0)
        .select($"doc_id", $"text"), $"doc_id", $"text", path, nBuckets = 4)
    assertStampCheck(s"$path/params",
      () => graft.operators.Pipeline.stateCurrent(spark, path))(
      truncate(parquetFile(s"$path/params"), 16))
  }

  test("ChangesFeed.exists throws on a truncated meta stamp") {
    val path = tmp("graft-stamp-feed")
    graft.sources.ChangesFeed.write((0L until 16L)
      .map(i => (i, i % 5, s"r$i", false)).toDF("seq", "id", "rev", "deleted"),
      path, width = 8)
    val meta = new Path(s"$path/_graft_meta")
    val len = IndexStore.fsFor(spark, path).getFileStatus(meta).getLen
    assertStampCheck(meta.toString,
      () => graft.sources.ChangesFeed.exists(spark, path))(
      truncate(meta, (len / 2).toInt))
  }
}
