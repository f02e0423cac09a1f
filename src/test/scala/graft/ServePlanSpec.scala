package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Replication, Similarity, TextSearch}
import graft.view.IndexStore

/** The serve plans against plain references: BM25 with driver-read
  * dfs as literals, the driver-built IVF/LSH probe side with its
  * single-partition rank tail, and the vector purge catch-up that keeps
  * each tier's layout. One built index per test, on sf0.001. */
class ServePlanSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select($"doc_id", $"text")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select($"vec_id", $"embedding")

  private def tmp(name: String) =
    Files.createTempDirectory(name).toString + "/idx"

  test("BM25 after seeded upserts and tombstones that move df equals the corpus scan") {
    val path = tmp("graft-plan-bm25")
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", path, nBuckets = 8)
    val words = Seq("hash", "join", "stream", "merge", "window", "batch",
      "zebra", "quartz")
    val rnd = new scala.util.Random(20261019L)
    var corpus = docs.as[(Long, String)].collect().toMap
    def df(t: String): Long = corpus.values.count(_.split("\\s+").contains(t))
    val before = words.map(df)
    (1 to 3).foreach { round =>
      val ids = rnd.shuffle(corpus.keys.toSeq.sorted).take(30)
      val (upd, del) = ids.splitAt(24)
      // rewritten texts gain and lose query terms; new ids join
      val changed = (upd ++ (1 to 4).map(i => 1000L + round * 10 + i)).map(i =>
        i -> Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))
          .mkString(" "))
      TextSearch.upsertTextDocs(spark, path, changed.toDF("doc_id", "text"),
        $"doc_id", $"text", deletedIds = del)
      corpus = corpus -- del ++ changed
    }
    assert(words.map(df) != before, "the seeded batches must move df")
    val last = corpus.toSeq.toDF("doc_id", "text")
    Seq(Seq("hash", "join"), Seq("zebra"), Seq("quartz", "stream", "window"),
        Seq("merge", "absentterm")).foreach { terms =>
      val got = TextSearch.searchIndexed(spark, path, terms, 25).collect().toSeq
      val want = TextSearch.search(last, $"doc_id", $"text", terms, 25)
        .collect().toSeq
      assert(got.nonEmpty && got == want, s"terms $terms")
    }
  }

  test("the driver-side df read refuses a term the index holds twice") {
    val path = tmp("graft-plan-dup")
    TextSearch.buildTextIndex(docs.limit(50), $"doc_id", $"text", path,
      nBuckets = 4)
    val t = "join"
    val tb = TextSearch.termBucketJvm(t, 4)
    val clean = TextSearch.searchIndexed(spark, path, Seq(t), 5).collect()
    assert(clean.nonEmpty)
    Seq((t, 7L)).toDF("term", "df").write.mode("append")
      .parquet(s"$path/terms/_tb=$tb")
    // alone: past the one-row bound; with a term the index lacks in its
    // bound: a repeated term
    Seq(Seq(t), Seq(t, "absentterm"), Seq("absentterm", t)).foreach { q =>
      val e = intercept[IllegalStateException] {
        TextSearch.searchIndexed(spark, path, q, 5)
      }
      assert(e.getMessage.contains(s"$path/terms"), e.getMessage)
    }
  }

  private def dotD(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact-cosine top-k of each distinct query over the stored rows of
    * its probed buckets, as `(q_id, rank, n_id, cos)`. */
  private def reference(queries: Seq[(Long, Seq[Double])],
                        stored: Seq[(Long, Seq[Double], Long)],
                        probe: Seq[Double] => Set[Long], k: Int,
                        allowed: Long => Boolean = _ => true)
      : Seq[(Long, Long, Long, Double)] =
    queries.distinct.flatMap { case (q, v) =>
      val ps = probe(v)
      val qn = math.sqrt(dotD(v, v))
      stored.filter { case (n, _, b) => ps(b) && n != q && allowed(n) }
        .map { case (n, nv, _) => (n, dotD(v, nv) / (qn * math.sqrt(dotD(nv, nv)))) }
        .sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
        .map { case ((n, c), i) => (q, i + 1L, n, c) }
    }.sortBy(r => (r._1, r._2))

  private def assertSame(got: DataFrame, want: Seq[(Long, Long, Long, Double)],
                         what: String): Unit = {
    val rows = got.select("q_id", "rank", "n_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(rows.map(r => (r._1, r._2, r._3)) == want.map(r => (r._1, r._2, r._3)),
      s"$what: ranked neighbours differ")
    assert(rows.zip(want).forall { case (a, b) => math.abs(a._4 - b._4) < 1e-4 },
      s"$what: cosines differ")
    assert(rows.map(r => (r._1, r._3)).distinct.size == rows.size,
      s"$what: a neighbour is duplicated")
  }

  /** Three distinct queries, one of them twice. */
  private lazy val queryRows: Seq[(Long, Seq[Double])] = {
    val picked = emb.filter($"vec_id".isin(7L, 123L, 300L)).orderBy("vec_id")
      .as[(Long, Seq[Float])].collect()
      .map { case (i, v) => (-i, v.map(_.toDouble).toSeq) }.toSeq
    picked :+ picked.head
  }

  private def queryFrame: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(queryRows.map { case (i, v) =>
      Row(i, v.map(_.toFloat)) }: _*),
    emb.schema)

  test("ivfTopK and ivfTopKWhere over multi-query frames equal the probed-list reference") {
    val path = tmp("graft-plan-ivf")
    Similarity.buildIvfIndex(emb, path, nCentroids = 16, idBuckets = 4)
    val cents = spark.read.parquet(s"$path/centroids").as[(Int, Seq[Double])]
      .collect().toSeq
    val stored = spark.read.parquet(s"$path/data")
      .select($"_id", $"n_vec", $"_kb".cast("long"))
      .as[(Long, Seq[Double], Long)].collect().toSeq
    def probe(v: Seq[Double]): Set[Long] = cents.map { case (cid, c) =>
        (dotD(v, c) / (math.sqrt(dotD(v, v)) * math.sqrt(dotD(c, c))), cid)
      }.sortBy(identity).takeRight(4).map(_._2.toLong).toSet
    assertSame(Similarity.ivfTopK(spark, path, queryFrame, 10),
      reference(queryRows, stored, probe, 10), "ivfTopK")
    val even = (n: Long) => n % 2 == 0
    assertSame(Similarity.ivfTopKWhere(spark, path, queryFrame, 10,
        emb.select($"vec_id").filter($"vec_id" % 2 === 0)),
      reference(queryRows, stored, probe, 10, even), "ivfTopKWhere")
    // the serve tail is one partition: a sort by rank adds no exchange
    val plan = Similarity.ivfTopK(spark, path, queryFrame, 10).orderBy("rank")
    plan.collect()
    val exec = plan.queryExecution.executedPlan.toString
    assert(!exec.contains("rangepartitioning"), exec)
    assert(!exec.contains("dynamicpruning"), exec)
  }

  test("lshTopKIndexed over a multi-query frame equals the probed-signature reference") {
    val path = tmp("graft-plan-lsh")
    Similarity.buildLshIndex(emb, path, idBuckets = 4)
    val stored = spark.read.parquet(s"$path/data")
      .select($"_id", $"n_vec", $"_sig".cast("long"))
      .as[(Long, Seq[Double], Long)].collect().toSeq
    val sigs = queryFrame.select($"vec_id",
        Similarity.lshSignature($"embedding", 8)).as[(Long, Long)]
      .collect().toMap
    val byVec = queryRows.map { case (q, v) => v -> sigs(q) }.toMap
    def probe(v: Seq[Double]): Set[Long] = {
      val s = byVec(v)
      ((0 until 8).map(p => s ^ (1L << p)) :+ s).toSet
    }
    assertSame(Similarity.lshTopKIndexed(spark, path, queryFrame, 10),
      reference(queryRows, stored, probe, 10), "lshTopKIndexed")
  }

  /** A doc store holding one revision of each of `ids`, with `gone`
    * purged; returns its path. */
  private def purgedStore(dir: String, ids: Seq[Long], gone: Seq[Long]): String = {
    val store = s"$dir/store"
    Replication.createTarget(spark, store,
      ids.map(i => (i, 1L, s"h$i", false, Seq.empty[String]))
        .toDF("id", "rev_pos", "rev_hash", "deleted", "ancestors"),
      col("id"), col("rev_pos"), col("rev_hash"), col("deleted"),
      col("ancestors"), numBuckets = 4)
    Replication.purgeTarget(spark, store,
      gone.map(i => (i, 1L, s"h$i")).toDF("id", "rev_pos", "rev_hash"),
      col("id"), col("rev_pos"), col("rev_hash"))
    store
  }

  test("an LSH purge catch-up keeps every rewritten file sorted by (_sig, _id)") {
    val dir = Files.createTempDirectory("graft-plan-lshpurge").toString
    val path = s"$dir/lsh"
    Similarity.buildLshIndex(emb, path, idBuckets = 4)
    val fs = IndexStore.fsFor(spark, path)
    def files: Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/data"), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = files
    val gone = (40L until 500L by 23L).toSeq
    val store = purgedStore(dir, (0L until 500L).toSeq, gone)
    assert(Similarity.catchUpAnnPurges(spark, path, store) >= 1L)
    val rewritten = files -- before
    assert(rewritten.nonEmpty)
    val sigsPerFile = rewritten.toSeq.map { f =>
      val rows = spark.read.parquet(f).select($"_sig".cast("long"), $"_id")
        .as[(Long, Long)].collect().toSeq
      assert(rows == rows.sorted, s"$f is not sorted by (_sig, _id)")
      rows.map(_._1).distinct.size
    }
    assert(sigsPerFile.max > 1, "no rewritten file holds two signatures")
    assert(spark.read.parquet(s"$path/data").filter($"_id".isin(gone: _*))
      .isEmpty)
  }

  test("a SemDeDup purge catch-up re-pairs the verdicts the purged vectors caused") {
    val dir = Files.createTempDirectory("graft-plan-sempurge").toString
    val path = s"$dir/sem"
    Similarity.buildSemDedupIndex(emb, path, tau = 0.3, idBuckets = 4)
    // ids >= 16 leave the lowest-id centroid init, so the frozen
    // quantizer is also the one semDedup trains on the purged corpus
    val gone = Seq(20L, 31L, 47L, 58L, 64L, 75L, 90L, 111L)
    val store = purgedStore(dir, (0L until 500L).toSeq, gone)
    def verdicts(df: DataFrame) = df.select($"vec_id".cast("long"),
      $"cluster".cast("int"), $"keep").as[(Long, Int, Boolean)].collect().toSet
    val pre = verdicts(Similarity.semDedupVerdicts(spark, path))
    assert(Similarity.catchUpAnnPurges(spark, path, store) >= 1L)
    val want = verdicts(Similarity.semDedup(
      emb.filter(!$"vec_id".isin(gone: _*)), tau = 0.3))
    assert((pre.filter(v => !gone.contains(v._1)) -- want).nonEmpty,
      "the purge must flip some survivor's verdict")
    assert(verdicts(Similarity.semDedupVerdicts(spark, path)) == want)
  }
}
