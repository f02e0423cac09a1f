package graft

import java.nio.file.Files

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Mango, Pq, Similarity, TextSearch}
import graft.view.{QueryOpts, View}

/** Job budgets of the serve path. Opening an index store reads one
  * Parquet footer and its small side tables on the driver, so building a
  * served DataFrame runs no Spark job; collecting it runs only the jobs
  * of its own plan: for BM25 the postings scan's aggregation (the dfs
  * are literals), for IVF the probe side's broadcast, the bounded top-k
  * merge and the single-partition tail a caller's sort needs no
  * exchange for. */
class ServeJobBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val orders = spark.read.parquet(s"$sfDir/orders.parquet")

  private def jobs[T](body: => T): (T, Int) =
    JobCounter.counted(spark.sparkContext)(body)

  private def tmp(name: String) =
    Files.createTempDirectory(name).toString + "/idx"

  /** Asserts the build runs no job and the collect stays within
    * `budget`; returns the collected rows. */
  private def withinBudget(what: String, budget: Int)
                          (build: => DataFrame): Seq[Row] = {
    val (df, built) = jobs(build)
    assert(built == 0, s"$what: building the DataFrame ran $built Spark jobs")
    val (rows, ran) = jobs(df.collect().toSeq)
    info(s"$what: $ran Spark jobs to collect")
    assert(ran <= budget, s"$what: collecting ran $ran Spark jobs (budget $budget)")
    rows
  }

  test("BM25 top-k: no job to build, at most 2 to collect") {
    val path = tmp("graft-serve-bm25")
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", path, nBuckets = 8)
    val terms = spark.read.parquet(s"$path/terms")
      .orderBy(col("df").desc, col("term")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val warm = TextSearch.searchIndexed(spark, path, terms, 10).collect()
    val rows = withinBudget("searchIndexed", 2)(
      TextSearch.searchIndexed(spark, path, terms, 10))
    assert(rows.nonEmpty && rows == warm.toSeq)
  }

  test("IVF top-k over a local query frame: no job to build, at most 3 to collect") {
    val path = tmp("graft-serve-ivf")
    Similarity.buildIvfIndex(emb, path, idBuckets = 4)
    val v = emb.filter($"vec_id" === 7L).select("embedding").head()
      .getSeq[Float](0)
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(Row(-1L, v)),
      emb.select("vec_id", "embedding").schema)
    val rows = withinBudget("ivfTopK", 3)(
      Similarity.ivfTopK(spark, path, queries, 5).orderBy("rank"))
    assert(rows.map(_.getAs[Long]("rank")) == (1L to 5L))
    assert(rows.head.getAs[Long]("n_id") == 7L,
      "the query's own vector is its nearest neighbour")
  }

  test("partitioned and fielded BM25: no job to build") {
    val dir = Files.createTempDirectory("graft-serve-ptext").toString
    val small = docs.limit(200)
    TextSearch.buildPartitionedTextIndex(
      small.select(concat(lit("p"), ($"doc_id" % 3).cast("string"), lit(":"),
        $"doc_id".cast("string")).as("doc_id"), $"text"),
      $"doc_id", $"text", s"$dir/part", nBuckets = 4)
    TextSearch.buildFieldedTextIndex(small, $"doc_id",
      Seq(("title", substring($"text", 1, 40), 2.0), ("body", $"text", 1.0)),
      s"$dir/fielded", nBuckets = 4)
    val terms = spark.read.parquet(s"$dir/part/terms")
      .orderBy(col("df").desc, col("term")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val part = TextSearch.searchPartitioned(spark, s"$dir/part", "p1", terms, 10)
      .collect().toSeq
    val fielded = TextSearch.searchFielded(spark, s"$dir/fielded", terms, 10)
      .collect().toSeq
    assert(withinBudget("searchPartitioned", 2)(
      TextSearch.searchPartitioned(spark, s"$dir/part", "p1", terms, 10)) == part)
    assert(part.nonEmpty)
    assert(withinBudget("searchFielded", 2)(
      TextSearch.searchFielded(spark, s"$dir/fielded", terms, 10)) == fielded)
    assert(fielded.nonEmpty)
  }

  test("covered Mango find: no job to build, at most 1 to collect") {
    val dir = Files.createTempDirectory("graft-serve-mango").toString
    val idx = Mango.createIndex(spark, orders, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"), s"$dir/idx", numBuckets = 4)
    val req = """{
      "selector": {"o_orderstatus": "F",
                    "o_totalprice": {"$gte": 50000, "$lt": 150000}},
      "fields": ["o_orderkey", "o_totalprice"],
      "sort": [{"o_totalprice": "asc"}], "limit": 40}"""
    val rows = withinBudget("findIndexed", 1)(
      Mango.findIndexed(spark, orders, "o_orderkey", idx, req))
    assert(rows == Mango.find(orders, "o_orderkey", req).collect().toSeq)
  }

  test("a reopened view index: no job to build its query") {
    val path = tmp("graft-serve-view")
    val v = View(orders, $"o_orderkey", $"o_totalprice", lit(1))
    v.materialize(path, numBuckets = 4)
    val (q, built) = jobs(v.fromIndex(spark, path)
      .query(QueryOpts(startKey = Some(1000.0), endKey = Some(50000.0),
        reduce = false)))
    assert(built == 0, s"fromIndex(...).query ran $built Spark jobs")
    assert(q.count() ==
      orders.filter($"o_totalprice".between(1000.0, 50000.0)).count())
  }

  test("persisted vector tiers over a local query frame: no job to build the serve") {
    val dir = Files.createTempDirectory("graft-serve-vec").toString
    Similarity.buildLshIndex(emb, s"$dir/lsh", idBuckets = 4)
    Similarity.buildSq8Index(emb, s"$dir/sq8", idBuckets = 4)
    Similarity.buildBinaryIndex(emb, s"$dir/bin", idBuckets = 4)
    Similarity.buildIvfSq8Index(emb, s"$dir/ivfsq8", idBuckets = 4)
    Pq.buildPqIndex(emb, s"$dir/pq", idBuckets = 4)
    Pq.buildIvfPqIndex(emb, s"$dir/ivfpq", idBuckets = 4)
    Pq.buildIvfPqResidualIndex(emb, s"$dir/ivfpqr", idBuckets = 4)
    val v = emb.filter($"vec_id" === 7L).select("embedding").head()
      .getSeq[Float](0)
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(Row(-1L, v)),
      emb.select("vec_id", "embedding").schema)
    Seq[(String, () => DataFrame)](
      "lshTopKIndexed" -> (() =>
        Similarity.lshTopKIndexed(spark, s"$dir/lsh", queries, 5)),
      "sq8TopKIndexed" -> (() =>
        Similarity.sq8TopKIndexed(spark, s"$dir/sq8", queries, 5)),
      "binaryTopKIndexed" -> (() =>
        Similarity.binaryTopKIndexed(spark, s"$dir/bin", queries, 5)),
      "ivfSq8TopK" -> (() =>
        Similarity.ivfSq8TopK(spark, s"$dir/ivfsq8", queries, 5)),
      "pqTopKIndexed" -> (() =>
        Pq.pqTopKIndexed(spark, s"$dir/pq", emb, queries, 5)),
      "ivfPqTopK" -> (() =>
        Pq.ivfPqTopK(spark, s"$dir/ivfpq", emb, queries, 5)),
      "ivfPqResidualTopK" -> (() =>
        Pq.ivfPqResidualTopK(spark, s"$dir/ivfpqr", emb, queries, 5))
    ).foreach { case (what, serve) =>
      val (df, built) = jobs(serve())
      assert(built == 0, s"$what: building the DataFrame ran $built Spark jobs")
      assert(df.collect().length == 5, s"$what: top-5 of one query")
    }
  }
}
