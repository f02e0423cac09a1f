package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The round-6 `weak`: centroids as plan literals cap the quantizer at
  * O(100) centroids while SemDeDup/large-IVF need 10k+. The lift keeps
  * the literal/codegen path below [[Similarity.literalCentroidMax]] and
  * switches to a SparkContext-broadcast + compiled-loop argmax above it.
  * These specs pin the contract: BOTH paths produce byte-identical
  * assignments, probes, and dedup verdicts over the same quantizer. */
class QuantizerSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val tmpDir =
    java.nio.file.Files.createTempDirectory("graft-quant").toString
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def withLiteralMax[A](m: Int)(f: => A): A = {
    val old = Similarity.literalCentroidMax
    Similarity.literalCentroidMax = m
    try f finally Similarity.literalCentroidMax = old
  }

  test("IVF at nCentroids=512: broadcast path == literal path") {
    // 500 vectors -> 500 effective centroids; both far above the
    // default literal ceiling of 64
    val pLit = s"$tmpDir/ivf_lit"; val pBc = s"$tmpDir/ivf_bc"
    withLiteralMax(4096) {
      Similarity.buildIvfIndex(emb, pLit, nCentroids = 512)
    }
    withLiteralMax(4) {
      Similarity.buildIvfIndex(emb, pBc, nCentroids = 512)
    }
    def rows(p: String) = spark.read.parquet(s"$p/data")
      .select(col("_id").cast("long"), col("_kb").cast("int"))
      .as[(Long, Int)].collect().toSet
    val (a, b) = (rows(pLit), rows(pBc))
    assert(a.nonEmpty && a == b, "assignments must be identical")

    val q = emb.filter($"vec_id" < 5)
    def topk(p: String) = withLiteralMax(
      if (p == pLit) 4096 else 4) {
      Similarity.ivfTopK(spark, p, q, 5, nProbe = 4)
        .as[(Long, Long, Long, Double)].collect().toSet
    }
    assert(topk(pLit) == topk(pBc), "probed top-k must be identical")
  }

  test("semDedup with refinement: broadcast path == literal path") {
    def run(m: Int) = withLiteralMax(m) {
      Similarity.semDedup(emb, tau = 0.2, nCentroids = 128,
        refineIters = 1)
        .select(col("vec_id").cast("long"), col("cluster").cast("int"),
          col("keep"))
        .as[(Long, Int, Boolean)].collect().toSet
    }
    val lit = run(4096)
    val bc = run(4)
    assert(lit.nonEmpty && lit == bc,
      "cluster + keep verdicts must be identical across paths")
  }

  test("default small-k path is unchanged (literal, zero-UDF plan)") {
    // guards the round-6 gate hashes: k=16 stays on the codegen path
    val p = s"$tmpDir/ivf_small"
    Similarity.buildIvfIndex(emb, p, nCentroids = 16)
    val plan = Similarity.ivfTopK(spark, p, emb.filter($"vec_id" < 3), 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"small-k probe must stay literal:\n$plan")
  }

  test("sq8: codes bounded, extremes hit 0/255, duplicate ranks first at d2=0") {
    val corpus = Seq(
      (0L, Array(0.0f, 10.0f)),   // per-dim minima
      (1L, Array(4.0f, 30.0f)),   // per-dim maxima
      (2L, Array(2.0f, 20.0f)),
      (3L, Array(2.0f, 20.0f)),   // exact duplicate of 2
      (4L, Array(1.0f, 15.0f))).toDF("vec_id", "embedding")
    val model = Similarity.sq8Train(corpus)
    val codes = Similarity.sq8Codes(corpus, model)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Int](1).toSeq).toMap
    assert(codes(0L) == Seq(0, 0) && codes(1L) == Seq(255, 255),
      s"extremes must encode 0/255: $codes")
    assert(codes.values.flatten.forall(c => c >= 0 && c <= 255))
    assert(codes(2L) == codes(3L), "identical vectors, identical codes")
    val top = Similarity.sq8TopK(corpus, corpus.filter($"vec_id" === 2L), 4)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(top.head == (3L, 0L),
      s"the exact duplicate must rank first at distance 0: ${top.toSeq}")
    assert(top.map(_._1).toSeq == top.sortBy(t => (t._2, t._1)).map(_._1).toSeq,
      "ascending distance with id tie-break")
    // constant dimension encodes 0 everywhere, never NaN/divide-by-zero
    val const = Seq((0L, Array(1.0f, 5.0f)), (1L, Array(1.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val cc = Similarity.sq8Codes(const, Similarity.sq8Train(const))
      .collect().map(r => r.getSeq[Int](1).head).toSeq
    assert(cc == Seq(0, 0), "degenerate dims must encode 0")
  }

  test("binary quantization: sign bits pack exactly, hamming ranks by sign flips") {
    val corpus = Seq(
      (0L, Array(1.0f, -1.0f, 1.0f)),   // bits 0,2
      (1L, Array(1.0f, -1.0f, -1.0f)),  // bit 0  (1 flip from 0)
      (2L, Array(-1.0f, 1.0f, -1.0f)),  // bit 1  (3 flips from 0)
      (3L, Array(1.0f, -2.0f, 3.0f)))   // bits 0,2 (0 flips from 0)
      .toDF("vec_id", "embedding")
    val codes = Similarity.binaryCodes(corpus, dims = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes == Map(0L -> 5L, 1L -> 1L, 2L -> 2L, 3L -> 5L),
      s"sign-bit packing wrong: $codes")
    val top = Similarity.binaryTopK(corpus,
        corpus.filter(col("vec_id") === 0L), 3, dims = 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(top.toSeq == Seq((3L, 0L), (1L, 1L), (2L, 3L)),
      s"hamming ranking wrong: ${top.toSeq}")
    // the 64th dimension lands on the sign bit without overflow
    val wide = Seq((0L, Array.fill(64)(1.0f)), (1L, Array.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    val wc = Similarity.binaryCodes(wide, dims = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wc(0L) == -1L && wc(1L) == 0L,
      s"64 set bits must pack to -1 (all ones): $wc")
  }

  // ------------------------------------------------- persisted SQ8 tier

  import org.apache.spark.sql.DataFrame

  private def topKey(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("q_id").cast("long"), col("rank"),
        col("n_id").cast("long"), df.columns.last match {
          case "d2" => col("d2"); case _ => col("hamming") })
      .as[(Long, Long, Long, Long)].collect().toSet

  private def delta(df: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val changed = df.filter($"vec_id" % 7 === 0 && $"vec_id" % 13 =!= 5)
      .withColumn("embedding", transform($"embedding", x => -x))
    val del = df.filter($"vec_id" % 13 === 5).select($"vec_id")
    val modified = df.filter($"vec_id" % 13 =!= 5)
      .withColumn("embedding",
        when($"vec_id" % 7 === 0, transform($"embedding", x => -x))
          .otherwise($"embedding"))
    (changed, del, modified)
  }

  test("sq8 persisted tier: indexed == scan; upsert encodes under the FROZEN model") {
    val p = s"$tmpDir/sq8idx"
    Similarity.buildSq8Index(emb, p)
    val q = emb.filter($"vec_id" < 5)
    assert(topKey(Similarity.sq8TopKIndexed(spark, p, q, 5)) ==
      topKey(Similarity.sq8TopK(emb, q, 5)),
      "on a static corpus the index path must equal the scan path")
    // serving reads stored codes only: with in-memory queries the plan
    // must never touch the embeddings parquet
    val memQ = Seq((9001L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
    val plan = Similarity.sq8TopKIndexed(spark, p, memQ, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"indexed serve must not re-read the float corpus:\n$plan")

    val (changed, del, modified) = delta(emb)
    val delIds = del.collect().map(_.getLong(0)).toSeq
    val frozen = Similarity.sq8Model(spark, p).collect()
    val bs = Similarity.upsertSq8Vectors(spark, p, changed, delIds)
    assert(bs.nonEmpty, "the delta must touch at least one bucket")
    assert(Similarity.sq8Model(spark, p).collect().toSeq ==
      frozen.toSeq, "upsert must NOT move the stored model")
    // stored codes == a frozen-model re-encode of the modified corpus
    def codes(df: DataFrame) = df.select($"vec_id", $"codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes(spark.read.parquet(s"$p/data").withColumnRenamed("_id", "vec_id")) ==
      codes(Similarity.sq8Codes(modified, Similarity.sq8Model(spark, p))),
      "upserted codes must be the frozen-model encoding, nothing else")
    // indexed serve == frozen-model scan over the modified corpus
    val mq = modified.filter($"vec_id" < 5)
    assert(topKey(Similarity.sq8TopKIndexed(spark, p, mq, 5)) ==
      topKey(Similarity.sq8TopK(modified, mq, 5,
        Some(Similarity.sq8Model(spark, p)))),
      "post-delta index path must equal the frozen-model scan path")
    // idempotence: replaying the same delta changes nothing
    val before = codes(spark.read.parquet(s"$p/data").withColumnRenamed("_id", "vec_id"))
    Similarity.upsertSq8Vectors(spark, p, changed, delIds)
    assert(codes(spark.read.parquet(s"$p/data").withColumnRenamed("_id", "vec_id")) == before)
  }

  test("binary persisted tier: indexed == scan across a delta") {
    val p = s"$tmpDir/binidx"
    Similarity.buildBinaryIndex(emb, p)
    val q = emb.filter($"vec_id" < 5)
    assert(topKey(Similarity.binaryTopKIndexed(spark, p, q, 5)) ==
      topKey(Similarity.binaryTopK(emb, q, 5)),
      "on a static corpus the index path must equal the scan path")
    val (changed, del, modified) = delta(emb)
    assert(Similarity.upsertBinaryVectors(spark, p, changed,
      del.collect().map(_.getLong(0)).toSeq).nonEmpty)
    val mq = modified.filter($"vec_id" < 5)
    assert(topKey(Similarity.binaryTopKIndexed(spark, p, mq, 5)) ==
      topKey(Similarity.binaryTopK(modified, mq, 5)),
      "post-delta index path must equal the scan path")
  }

  test("ivf-sq8: probe-all == frozen-model brute; upsert encodes against frozen quantizers; _kb pruned") {
    val p = s"$tmpDir/ivfsq8"
    Similarity.buildIvfSq8Index(emb, p, nCentroids = 16)
    val q = emb.filter($"vec_id" < 5)
    // probing EVERY list is the brute integer ranking under the same
    // frozen model — the recall ceiling equivalence
    val frozen = Similarity.sq8Model(spark, p)
    assert(topKey(Similarity.ivfSq8TopK(spark, p, q, 5, nProbe = 16)) ==
      topKey(Similarity.sq8TopK(emb, q, 5, Some(frozen))),
      "probe-all IVF-SQ8 must equal the frozen-model brute ranking")
    // the pruned serve reads only probed _kb directories
    val plan = Similarity.ivfSq8TopK(spark, p, q, 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_kb"),
      s"probed serve must prune _kb partitions:\n$plan")
    // recall rises monotonically with probes; probe-all recall = 1
    val brute = topKey(Similarity.sq8TopK(emb, q, 5, Some(frozen)))
      .map(t => (t._1, t._3))
    def recall(nProbe: Int): Double = {
      val got = topKey(Similarity.ivfSq8TopK(spark, p, q, 5, nProbe))
        .map(t => (t._1, t._3))
      got.intersect(brute).size.toDouble / brute.size
    }
    val rs = Seq(1, 4, 16).map(recall)
    assert(rs(0) <= rs(1) + 1e-9 && rs(1) <= rs(2) + 1e-9 && rs(2) == 1.0,
      s"recall must rise with probes to 1.0: $rs")
    // upsert: delta re-assigns + re-encodes against the FROZEN
    // centroids and model; stored rows == a frozen re-derivation
    val (changed, del, modified) = delta(emb)
    val delIds = del.collect().map(_.getLong(0)).toSeq
    Similarity.upsertIvfSq8Vectors(spark, p, changed, delIds)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("_id"), col("codes"), col("_kb")).collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq, r.getInt(2)))
        .toSet
    val stored = rows(spark.read.parquet(s"$p/data"))
    assert(stored.map(_._1) == modified.select($"vec_id")
      .collect().map(_.getLong(0)).toSet,
      "upsert must retire deleted ids and keep exactly the live set")
    // post-delta probe-all == frozen-model brute over the modified
    // corpus: proves changed vectors re-encoded AND re-assigned
    // against the stored (frozen) quantizers, nothing retrained
    val mq = modified.filter($"vec_id" < 5)
    assert(topKey(Similarity.ivfSq8TopK(spark, p, mq, 5, nProbe = 16)) ==
      topKey(Similarity.sq8TopK(modified, mq, 5,
        Some(Similarity.sq8Model(spark, p)))),
      "post-delta probe-all must equal the frozen-model brute ranking")
  }

  test("clusterBalancedSample: exact per-cluster quota, subset, deterministic") {
    // den=1 keeps everything -> the full frozen-centroid assignment
    val full = Similarity.clusterBalancedSample(emb, 1, 1, 16)
      .as[(Long, Int)].collect().toSet
    assert(full.size == emb.count(), "num=den must keep every row")
    val s1 = Similarity.clusterBalancedSample(emb, 1, 3, 16)
      .as[(Long, Int)].collect().toSet
    assert(s1.subsetOf(full), "sample rows keep their assignment")
    val fullBy = full.groupBy(_._2).view.mapValues(_.size).toMap
    val sampBy = s1.groupBy(_._2).view.mapValues(_.size).toMap
    fullBy.foreach { case (cid, n) =>
      assert(sampBy.getOrElse(cid, 0) == n / 3,
        s"cluster $cid: kept ${sampBy.getOrElse(cid, 0)} of $n, want ${n / 3}")
    }
    // deterministic across runs
    assert(Similarity.clusterBalancedSample(emb, 1, 3, 16)
      .as[(Long, Int)].collect().toSet == s1)
  }

  // ------------------------------------------------ shortlist-rerank cascade

  test("cascadeTopK: equals brute force at a sufficient shortlist; recall floors below") {
    val q = emb.filter($"vec_id" < 10)
    def ck(df: DataFrame) = df
      .select($"q_id".cast("long"), $"rank", $"n_id".cast("long"), $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    def pairs(df: DataFrame) = df.select($"q_id".cast("long"),
      $"n_id".cast("long")).as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, q, 10)
    val bk = ck(brute); val bp = pairs(brute)
    // sq8 shortlists are exact from 32 on this corpus (measured at
    // both gate SFs); 64 is the gate's 2x-margin setting
    assert(ck(Similarity.cascadeTopK(emb, q, 10, 64, tier = "sq8")) == bk,
      "sq8 cascade at shortlist=64 must BE the brute-force answer")
    // 1-bit codes are coarser: exact only near the corpus size, but
    // recall at a tight shortlist stays useful (measured 0.86-0.91
    // at 128 across SFs; floor pinned conservatively)
    assert(ck(Similarity.cascadeTopK(emb, q, 10, 450)) == bk,
      "binary cascade at shortlist=450 must BE the brute-force answer")
    val tight = pairs(Similarity.cascadeTopK(emb, q, 10, 128))
    val recall = tight.intersect(bp).size.toDouble / bp.size
    assert(recall >= 0.8, s"binary recall@128 fell to $recall")
    // a frozen sq8 model pins the shortlist across corpus deltas
    val frozen = Similarity.sq8Train(emb)
    assert(ck(Similarity.cascadeTopK(emb, q, 10, 64, tier = "sq8",
      sq8ModelDf = Some(frozen))) == bk)
    // the persisted-tier cascade: stored codes shortlist, same answer
    val p = s"$tmpDir/casc_sq8"
    Similarity.buildSq8Index(emb, p)
    assert(ck(Similarity.cascadeTopKIndexed(spark, p, emb, q, 10, 64))
      == bk, "indexed sq8 cascade at shortlist=64 must BE brute force")
    val pb = s"$tmpDir/casc_bin"
    Similarity.buildBinaryIndex(emb, pb)
    assert(ck(Similarity.cascadeTopKIndexed(spark, pb, emb, q, 10, 450,
      tier = "binary")) == bk,
      "indexed binary cascade at shortlist=450 must BE brute force")
    val pi = s"$tmpDir/casc_ivfsq8"
    Similarity.buildIvfSq8Index(emb, pi, nCentroids = 16)
    assert(ck(Similarity.cascadeTopKIndexed(spark, pi, emb, q, 10, 64,
      tier = "ivfsq8", nProbe = 16)) == bk,
      "probe-all ivfsq8 cascade at shortlist=64 must BE brute force")
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopK(emb, q, 10, 64, tier = "pq") // scan path has no pq tier
    }
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopK(emb, q, 10, 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopKIndexed(spark, p, emb, q, 10, 64,
        tier = "nope")
    }
    // the PQ-family cascade tiers: each equals ITS OWN pipeline
    // (ADC shortlist -> exact rerank == the tier's existing serve,
    // which already ends in the same exact refine)
    val ppq = s"$tmpDir/casc_pq"
    graft.operators.Pq.buildPqIndex(emb, ppq)
    assert(ck(Similarity.cascadeTopKIndexed(spark, ppq, emb, q, 10, 64,
      tier = "pq")) ==
      ck(graft.operators.Pq.pqTopKIndexed(spark, ppq, emb, q, 10,
        refine = 64)),
      "pq cascade must equal pqTopKIndexed at the same shortlist")
    val pivf = s"$tmpDir/casc_ivfpq"
    graft.operators.Pq.buildIvfPqIndex(emb, pivf, nCentroids = 16)
    assert(ck(Similarity.cascadeTopKIndexed(spark, pivf, emb, q, 10, 64,
      tier = "ivfpq", nProbe = 4)) ==
      ck(graft.operators.Pq.ivfPqTopK(spark, pivf, emb, q, 10,
        nProbe = 4, refine = 64)),
      "ivfpq cascade must equal ivfPqTopK at the same probes/shortlist")
    val pres = s"$tmpDir/casc_ivfpqr"
    graft.operators.Pq.buildIvfPqResidualIndex(emb, pres, nCentroids = 16)
    assert(ck(Similarity.cascadeTopKIndexed(spark, pres, emb, q, 10, 64,
      tier = "ivfpqr", nProbe = 4)) ==
      ck(graft.operators.Pq.ivfPqResidualTopK(spark, pres, emb, q, 10,
        nProbe = 4, refine = 64)),
      "ivfpqr cascade must equal ivfPqResidualTopK")
  }

  test("cascadeTopKIndexedWhere: filter applies before the shortlist rank") {
    val q = emb.filter($"vec_id" < 10)
    def ck(df: DataFrame) = df
      .select($"q_id".cast("long"), $"rank", $"n_id".cast("long"), $"cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    val allowed = emb.filter($"vec_id" % 2 === 0).select($"vec_id")
    // the truth: brute force over ONLY the allowed corpus
    val bruteF = ck(Similarity.bruteForceTopK(
      emb.filter($"vec_id" % 2 === 0), q, 10))
    val p = s"$tmpDir/casc_sq8w"
    Similarity.buildSq8Index(emb, p)
    val got = Similarity.cascadeTopKIndexedWhere(spark, p, emb, q,
      10, 64, allowed)
    assert(ck(got) == bruteF,
      "filtered sq8 cascade at shortlist=64 must BE the filtered brute force")
    // every returned neighbor is allowed
    assert(got.filter($"n_id" % 2 =!= 0).isEmpty)
    // binary tier: recall floor over the filtered truth
    val pb = s"$tmpDir/casc_binw"
    Similarity.buildBinaryIndex(emb, pb)
    val gotB = Similarity.cascadeTopKIndexedWhere(spark, pb, emb, q,
      10, 128, allowed, tier = "binary")
    val bp = bruteF.map(t => (t._1, t._3))
    val rb = ck(gotB).map(t => (t._1, t._3)).intersect(bp).size.toDouble /
      bp.size
    assert(rb >= 0.8, s"filtered binary recall@128 fell to $rb")
    // contract violations are loud
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopKIndexedWhere(spark, p, emb, q, 10, 64,
        emb.select($"vec_id", $"embedding"))
    }
    intercept[IllegalArgumentException] {
      Similarity.cascadeTopKIndexedWhere(spark, p, emb, q, 10, 64,
        allowed, tier = "ivfsq8")
    }
  }
}
