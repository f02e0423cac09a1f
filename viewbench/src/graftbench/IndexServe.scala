package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Mango, Similarity, TextSearch}

/** `index_serve`: the operators module. Set-up builds a Mango JSON
  * index, a BM25 text index and an IVF vector index; the client runs a
  * seeded mix of indexed `_find`, BM25 top-k and IVF top-k. */
final class IndexServe(ctx: Ctx) extends PoolWorkload(ctx) {
  private val spark = ctx.spark
  private val docsPath = ctx.path("input/documents")
  private val embPath = ctx.path("input/embeddings")
  private val mangoIdx = ctx.path("idx/mango")
  private val textIdx = ctx.path("idx/text")
  private val ivfIdx = ctx.path("idx/ivf")
  private lazy val docs = spark.read.parquet(docsPath)
  private lazy val emb = spark.read.parquet(embPath)
  private var mango: Mango.MangoIndex = null

  def generate(): Unit = {
    spark.createDataFrame(java.util.Arrays.asList(
      Gen.documents(ctx.scale.documents, ctx.seed): _*), Gen.DocSchema)
      .repartition(Gen.Partitions).write.parquet(docsPath)
    spark.createDataFrame(java.util.Arrays.asList(
      Gen.embeddings(ctx.scale.embeddings, ctx.seed): _*), Gen.EmbSchema)
      .repartition(Gen.Partitions).write.parquet(embPath)
  }

  def setup(): Unit = ctx.phase("setup.operator_build_s") {
    mango = ctx.phase("setup.mango_s")(Mango.createIndex(spark, docs, "doc_id",
      Seq("lang", "n_chars"), mangoIdx, numBuckets = ctx.scale.buckets))
    ctx.phase("setup.text_s")(TextSearch.buildTextIndex(docs, col("doc_id"), col("text"),
      textIdx, nBuckets = ctx.scale.buckets))
    ctx.phase("setup.ivf_s")(Similarity.buildIvfIndex(emb, ivfIdx,
      nCentroids = Gen.Clusters, idBuckets = ctx.scale.buckets))
  }

  def indexDirs: Seq[String] = Seq(mangoIdx, textIdx, ivfIdx)
  def indexedRows: Long = ctx.scale.documents.toLong * 2 + ctx.scale.embeddings

  // BM25 ops take the middle of the latency order, so the median sits
  // inside one family instead of on the edge between two
  val mix = Seq("mango_find" -> 3, "bm25" -> 4, "ivf_topk" -> 3)
  // operator queries are not key lookups: no hot entry, so the family
  // medians do not hinge on which entry the seed made hot
  override def skew: Double = 0.0

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** BM25 over whitespace tokens with plain Spark: per-term partial
    * scores summed in sorted-term order and rounded to 4 places, the
    * library's documented scoring (k1 = 1.2, b = 0.75). */
  private lazy val toks = docs.select(col("doc_id"),
      filter(split(lower(trim(col("text"))), "\\s+"), w => w =!= lit("")).as("t"))
    .withColumn("dl", size(col("t"))).cache()
  private lazy val (n, avgdl) = {
    val r = toks.agg(count(lit(1)), avg("dl")).head()
    (r.getLong(0).toDouble, r.getDouble(1))
  }

  private def bm25Reference(terms: Seq[String], k: Int): Seq[Row] = {
    val tf = toks.select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").withColumn("s",
      log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
    val sorted = terms.sorted
    val perTerm = sorted.map(t => coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
    rows(scored.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .toDF(("doc_id" +: sorted.indices.map(i => s"t$i")): _*)
      .select(col("doc_id"),
        (floor(sorted.indices.map(i => col(s"t$i")).reduce(_ + _) * 10000 + 0.5) / 10000)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k))
  }

  lazy val pool: IndexedSeq[PoolOp] = {
    val rng = ctx.rng(4)
    val ops = IndexedSeq.newBuilder[PoolOp]
    for (_ <- 1 to 4) {
      val lang = Gen.Langs(rng.nextInt(Gen.Langs.size))
      val lo = 60 + rng.nextInt(300)
      val hi = lo + 20 + rng.nextInt(80)
      val find = s"""{"selector": {"lang": "$lang", "n_chars": {"$$gte": $lo, "$$lt": $hi}},
                    | "fields": ["doc_id", "n_chars"],
                    | "sort": [{"n_chars": "asc"}], "limit": 100000}""".stripMargin
      ops += PoolOp("mango_find", s"find lang=$lang n_chars=[$lo,$hi)", { () =>
        Spans("operators.mango_find")(Mango.findIndexed(spark, docs, "doc_id", mango, find))
          .orderBy("n_chars", "doc_id")
      }, () => rows(docs.filter(col("lang") === lang && col("n_chars") >= lo && col("n_chars") < hi)
        .select("doc_id", "n_chars").orderBy("n_chars", "doc_id")))
    }
    for (_ <- 1 to 4) {
      // two distinct terms from the same frequency band, so every query
      // reads postings of similar length
      val a = 10 + rng.nextInt(30)
      val terms = Seq(a, 10 + (a - 10 + 1 + rng.nextInt(29)) % 30).map(Gen.Vocabulary)
      ops += PoolOp("bm25", s"bm25 ${terms.mkString("+")}",
        () => Spans("operators.bm25")(TextSearch.searchIndexed(spark, textIdx, terms, 10)),
        () => bm25Reference(terms, 10), tol = 2e-4)
    }
    val cs = Gen.centres(ctx.seed)
    for (q <- 1 to 4) {
      val v = Gen.near(cs(rng.nextInt(cs.size)), Gen.Spread, rng)
      val qdf = spark.createDataFrame(java.util.Arrays.asList(Row(-q.toLong, v.toSeq)),
        Gen.EmbSchema)
      ops += PoolOp("ivf_topk", s"ivf q$q",
        () => Spans("operators.ivf_topk")(Similarity.ivfTopK(spark, ivfIdx, qdf, 10))
          .select("rank", "n_id", "cos").orderBy("rank"),
        () => ivfReference(v, 10), tol = 2e-4)
    }
    ops.result()
  }

  /** IVF top-k with plain Spark: every vector joins the list of its
    * nearest stored centroid (cosine), the query probes its `nProbe`
    * nearest centroids, and the answer is the exact cosine top-k over
    * the probed lists' vectors. The centroids are read from the index's
    * stored quantizer; routing and ranking are recomputed here. */
  private def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
  private def vec = transform(col("embedding"), _.cast("double"))
  private def dotWith(c: Array[Double]) =
    aggregate(zip_with(vec, typedlit(c.toSeq), _ * _), lit(0.0), _ + _)
  private def nrm = sqrt(aggregate(vec, lit(0.0), (acc, x) => acc + x * x))
  private lazy val cents = spark.read.parquet(s"$ivfIdx/centroids").collect()
    .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
  /** Every vector with the id of its nearest stored centroid. */
  private lazy val assigned = emb.withColumn("cid",
    element_at(array_sort(array(cents.map { case (cid, c) =>
      struct((-dotWith(c) / (nrm * norm(c))).as("d"), lit(cid).as("cid"))
    }: _*)), 1).getField("cid")).cache()

  private def ivfReference(q: Array[Float], k: Int, nProbe: Int = 4): Seq[Row] = {
    val qd = q.map(_.toDouble)
    def cosine(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / (norm(a) * norm(b))
    val probed = cents.sortBy { case (cid, c) => (-cosine(qd, c), cid) }.take(nProbe).map(_._1)
    val top = rows(assigned.filter(col("cid").isin(probed: _*))
      .select(col("vec_id"), (dotWith(qd) / (nrm * norm(qd))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k))
    top.zipWithIndex.map { case (r, i) =>
      Row((i + 1).toLong, r.getLong(0), math.floor(r.getDouble(1) * 10000 + 0.5) / 10000)
    }
  }
}
