package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.view.IndexStore
import graft.view.IndexStore.Delta

/** Product-quantization ANN (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the memory-scale tier of
  * the similarity stack.
  *
  * At 100 TB the raw `float[64]` corpus does not fit hot storage: PQ
  * splits each vector into `m` subvectors, quantizes every subvector
  * against a per-subspace codebook of `ks` codewords, and stores ONE BYTE
  * per subvector (m bytes per vector — a 32× compression at these
  * shapes). Serving is the paper's ADC (asymmetric distance computation):
  * the query stays exact, each candidate's distance is the sum of
  * per-subspace distances to the query's subvectors LOOKED UP by stored
  * code — a linear scan over codes that never touches raw vectors, then
  * an exact top-k refinement over only the `refine` shortlisted rows.
  *
  * Spark shape: codebooks are bounded driver metadata (m·ks·(dims/m)
  * doubles) embedded as literal arrays, so encoding (per-subspace argmin)
  * and ADC (per-subspace `element_at` lookup + dot) are pure codegen'd
  * projections — no shuffle, no UDF; the only aggregation is the bounded
  * [[graft.functions.TopKPairs]] shortlist. Everything is deterministic:
  * codebooks init from the `ks` lowest-id vectors' subvectors (optionally
  * Lloyd-refined — still deterministic), argmin ties take the lowest
  * code, ADC sums add in fixed subspace order (doubles are not
  * associative; a fixed fold is what makes the SQL replay bit-identical),
  * and rank ties take the lowest neighbor id.
  *
  * Scale tiers: literal codebooks keep plan size O(m·ks) — ideal
  * through ks=256/m=16 (the paper's operating point, pure codegen).
  * Above [[literalCodebookMax]] codewords per subspace, the codebooks
  * move OFF the plan into a `SparkContext.broadcast` value scored by a
  * compiled per-row loop (the [[Similarity.nearestCidCol]] pattern):
  * plan size becomes O(1) in ks, encoding and ADC stay shuffle-free
  * maps, and the arithmetic replays the literal path's exact double-op
  * sequence (same in-order folds, same tie rules), so both tiers
  * produce IDENTICAL codes and rankings on identical doubles
  * (spec-forced over the same data).
  */
object Pq {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Codebook size (ks, codewords per subspace) above which encode/ADC
    * switch from plan-literal tables to the broadcast scorer.
    * `private[graft]` var ONLY as a test seam — the equivalence spec
    * forces both tiers over the same codebooks. */
  private[graft] var literalCodebookMax: Int = 256

  /** Codeword ceiling for the LITERAL tier of the ASSIGNMENT argmin
    * ([[codeCol]]) specifically — 0: encode always takes the
    * broadcast-loop tier. The two literal tiers age differently: the
    * ADC lookup is a small expression that stays in whole-stage
    * codegen and beats the broadcast UDF per row (measured 1.5 s vs
    * 2.4 s over 2M scored pairs), but the assignment block (m·ks
    * argmin structs, each a sub-dot) blows past the JVM's 64 KB
    * generated-method limit and runs INTERPRETED — measured 63 µs/row
    * vs 3.8 µs/row for the compiled broadcast loop at 200k rows, 17x,
    * on top of a multi-second Catalyst/codegen tax per invocation
    * that every from-scratch serve and every maintenance micro-batch
    * paid. Both tiers produce bit-identical codes (spec-pinned:
    * "broadcast codebook tier == literal tier exactly"), so this is
    * purely an execution-strategy default. `private[graft]` var as a
    * test seam. */
  private[graft] var literalAssignMax: Int = 0

  /** Spark's double total order (`nanSafeCompareDoubles`): -0.0 == 0.0,
    * NaN greater than everything — the order the literal path's
    * struct `array_min` applies, so the broadcast loop ties EXACTLY
    * like the literal expression. */
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0
    else if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else if (y.isNaN) -1
    else if (x > y) 1 else -1

  /** Per-(subspace, code) squared codeword norms, summed left-to-right
    * exactly as the literal path's `cw.map(x*x).sum` literals are. */
  private def c2Of(cbs: Codebooks): Array[Array[Double]] =
    cbs.map(_.map(_.map(x => x * x).sum))

  /** `codebooks(j)(c)` = codeword `c` of subspace `j`. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Deterministic codebook init: subvector `j` of the `ks` lowest-id
    * vectors (the IVF init rule, per subspace). */
  def initCodebooks(corpus: DataFrame, m: Int, ks: Int): Codebooks = {
    val rows = corpus.orderBy(col("vec_id").asc).limit(ks)
      .select(asDouble(col("embedding")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pq: empty corpus")
    val dims = rows.head.length
    require(dims % m == 0, s"pq: dims $dims not divisible by m=$m")
    val sub = dims / m
    Array.tabulate(m)(j => rows.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** Per-subspace Lloyd refinement — all `m` subspaces in ONE
    * aggregation per iteration: codes for every subspace, then a single
    * groupBy (subspace, code, dim) mean over m·ks·(dims/m) cells
    * (bounded driver metadata). Empty cells keep their codeword. */
  def refineCodebooks(corpus: DataFrame, cbs: Codebooks,
                      iters: Int): Codebooks = {
    var cur = cbs
    val m = cbs.length
    val sub = cbs.head.head.length
    for (_ <- 0 until iters) {
      // Stage the assignment Project (the m per-subspace argmins — the
      // same expression block [[encode]] compiles) SEPARATELY from the
      // explode: inlining the argmin structs into the Generate blows the
      // generated doConsume past the JVM's 64 KB method limit and drops
      // the whole stage out of codegen. Exploding the already-computed
      // `codes` array keeps every Generate expression tiny.
      val coded = corpus
        .select(asDouble(col("embedding")).as("v"))
        .select(col("v"), array((0 until m).map(j =>
          codeCol(col("v"), cur, j)): _*).as("codes"))
        // materialization barrier: without it WholeStageCodegen fuses
        // the m-argmin assignment block into the aggregation stage and
        // the generated method passes the JVM's 64 KB limit, dropping
        // the whole pass to interpreted eval. One Lloyd iteration
        // materializes its assignments anyway (MLlib KMeans caches the
        // same); at corpus scale refinement should run on a sample —
        // codebooks need ~100k vectors, not the corpus (Jégou §V).
        .localCheckpoint()
      val cells = coded
        .select(col("v"), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("v"), col("j") * sub + 1, lit(sub)))
            .as(Seq("pos", "x")))
        .groupBy("j", "code", "pos").agg(avg(col("x")).as("mu"))
        .collect()
      val next = cur.map(_.map(_.clone()))
      cells.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cur = next
    }
    cur
  }

  /** The ADC ranking term of one codeword: `c·c − 2·s·c` — squared L2
    * minus the subvector's own `s·s`, which is constant across the
    * codewords of a subspace (for argmin) and sums to a per-query
    * constant (for ADC ranking), so dropping it changes no ordering —
    * the standard ADC simplification, and it halves the expression
    * count. Written as this exact double-op sequence because the DuckDB
    * replay uses the same one, so ties resolve identically. */
  private def adcTerm(s: Column, cw: Array[Double]): Column =
    lit(cw.map(x => x * x).sum) - lit(2.0) * Similarity.dot(s, lit(cw))

  /** The stored code of subspace `j`: argmin codeword by squared L2,
    * ties to the LOWEST code. Literal tier: a fixed fold over the ks
    * candidates keeps it one codegen'd expression. Broadcast tier
    * (ks > [[literalAssignMax]] — the default for encode, see there): the subspace's codebook moves into
    * a broadcast scored by a compiled argmin loop replaying the same
    * `c·c − 2·s·c` sequence and the same min-(d, c) tie rule. */
  private def codeCol(v: Column, cbs: Codebooks, j: Int): Column = {
    val sub = cbs(j).head.length
    if (cbs(j).length <= literalAssignMax) {
      val s = slice(v, j * sub + 1, sub)
      val scored = cbs(j).zipWithIndex.map { case (cw, c) =>
        struct(adcTerm(s, cw).as("d"), lit(c).as("c"))
      }
      // array_min on (d, c) structs: lexicographic — min distance, then
      // lowest code; one expression, no per-codeword when-chain
      array_min(array(scored: _*)).getField("c")
    } else {
      val spark = SparkSession.active
      val bc = spark.sparkContext.broadcast((cbs(j), c2Of(cbs)(j)))
      val f = udf((vec: Seq[Double]) =>
        if (vec == null) None
        else {
          val (cws, c2) = bc.value
          var bestD = 0.0
          var best = -1
          var c = 0
          while (c < cws.length) {
            val cw = cws(c)
            var s = 0.0
            var t = 0
            while (t < sub) { s += vec(j * sub + t) * cw(t); t += 1 }
            val d = c2(c) - 2.0 * s
            // strict less keeps the earlier (lower) code on ties —
            // the literal array_min's lexicographic rule
            if (best < 0 || cmpD(d, bestD) < 0) { bestD = d; best = c }
            c += 1
          }
          Some(best)
        })
      f(asDouble(v))
    }
  }

  /** Encode the corpus: `(vec_id, codes array<int>)` — the m-byte rows a
    * deployment persists instead of raw vectors. */
  def encode(corpus: DataFrame, cbs: Codebooks): DataFrame = {
    val v = asDouble(col("embedding"))
    corpus.select(col("vec_id"),
      array((0 until cbs.length).map(j => codeCol(v, cbs, j)): _*).as("codes"))
  }

  /** ADC top-k: scan `codes`, shortlist `refine` candidates per query by
    * ADC distance (sum of per-subspace lookups, fixed fold order), then
    * exact-cosine rank the shortlist against raw vectors. Output
    * `(q_id, rank, n_id, cos)` — the q53 serving shape. */
  def adcTopK(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
              cbs: Codebooks, k: Int, refine: Int): DataFrame = {
    val q = queryVecs(queries)
    shortlistAndRefine(adcScored(codes, q, cbs), corpus, q, k, refine)
  }

  /** `(q_id, q_vec)` query rows. */
  private def queryVecs(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_vec"))

  /** `(q_id, n_id, adc)`: every `(vec_id, codes)` row ADC-scored
    * against every other query of `q`. */
  private def adcScored(codes: DataFrame, q: DataFrame,
                        cbs: Codebooks): DataFrame =
    codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        adcExpr(cbs, col("q_vec"), col("codes")).as("adc"))

  /** The ADC distance of one (query, code-row) pair: per-subspace
    * distance between the query's subvector and the codeword the
    * stored code points at, summed in a FIXED left fold j = 0..m-1
    * (deterministic double sum). The codebook lookup is `element_at`
    * into a literal `array<array<double>>` — a constant, codegen'd
    * table. The summed quantity is ADC squared-L2 minus the query's
    * own |q|² — constant per query, so the candidate ORDER (all the
    * shortlist uses) is the paper's ADC order exactly. */
  private def adcExpr(cbs: Codebooks, qVec: Column, codes: Column): Column = {
    val m = cbs.length
    val sub = cbs.head.head.length
    if (cbs.map(_.length).max <= literalCodebookMax) {
      def dj(j: Int): Column = {
        val s = slice(qVec, j * sub + 1, sub)
        // typedlit: `lit` does not build nested-array literals
        val cwTable = typedlit(cbs(j).map(_.toSeq).toSeq)
        val cw = element_at(cwTable, codes.getItem(j) + 1)
        val c2 = element_at(lit(cbs(j).map(_.map(x => x * x).sum)),
          codes.getItem(j) + 1)
        c2 - lit(2.0) * Similarity.dot(s, cw)
      }
      (1 until m).foldLeft(dj(0))((acc, j) => acc + dj(j))
    } else {
      // broadcast tier: the m·ks·sub table off the plan; the loop is
      // the SAME left fold j = 0..m-1 of c2 − 2·(in-order dot), so the
      // summed doubles are bit-identical to the literal expression's
      val spark = SparkSession.active
      val bc = spark.sparkContext.broadcast((cbs, c2Of(cbs)))
      val f = udf((q: Seq[Double], cs: Seq[Int]) =>
        if (q == null || cs == null) None
        else {
          val (cb, c2) = bc.value
          var acc = 0.0
          var j = 0
          while (j < m) {
            val code = cs(j)
            val cw = cb(j)(code)
            var s = 0.0
            var t = 0
            while (t < sub) { s += q(j * sub + t) * cw(t); t += 1 }
            val dj = c2(j)(code) - 2.0 * s
            acc = if (j == 0) dj else acc + dj
            j += 1
          }
          Some(acc)
        })
      f(asDouble(qVec), codes)
    }
  }

  /** Bounded top-`n` per query by ADC ASC (negated for the
    * max-oriented TopKPairs, ties to the lowest id) → `(q_id, n_id)`
    * candidate pairs. The shortlist step of every PQ serve, and the
    * candidate feed [[graft.operators.Similarity.cascadeTopKIndexed]]
    * reranks for the pq/ivfpq tiers. */
  private def adcShortlist(scored: DataFrame, n: Int): DataFrame = {
    val topAgg = udaf(new graft.functions.TopKPairs(n))
    scored.groupBy("q_id")
      .agg(topAgg(-col("adc"), col("n_id")).as("_top"))
      .select(col("q_id"), explode(col("_top")).as("_t"))
      .select(col("q_id"), col("_t._2").as("n_id"))
  }

  /** Shared serving tail: bounded top-`refine` per query by ADC ASC
    * ([[adcShortlist]]), then exact-cosine ranking of the shortlist
    * against raw vectors. */
  private def shortlistAndRefine(shortlist: DataFrame, corpus: DataFrame,
                                 q: DataFrame, k: Int,
                                 refine: Int): DataFrame = {
    val cand = adcShortlist(shortlist, refine)
    // exact refinement over the shortlist only
    val qn = q.select(col("q_id"), col("q_vec")).withColumn("q_nrm",
      sqrt(Similarity.dot(col("q_vec"), col("q_vec"))))
    Similarity.rankTopK(cand.join(Similarity.vecRows(corpus, "n"), "n_id")
      .join(broadcast(qn), "q_id")
      .select(col("q_id"), col("n_id"), Similarity.qnCos.as("cos")), k)
  }

  /** The composed serving chain at gate shape: deterministic codebooks,
    * encode, ADC shortlist, exact refine. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
             ks: Int = 16, refine: Int = 50, refineIters: Int = 0): DataFrame = {
    val cbs = trainCodebooks(corpus, m, ks, refineIters)
    adcTopK(encode(corpus, cbs), corpus, queries, cbs, k, refine)
  }

  /** [[initCodebooks]], Lloyd-refined by `refineIters` iterations. */
  private def trainCodebooks(corpus: DataFrame, m: Int, ks: Int,
                             refineIters: Int): Codebooks = {
    val cbs = initCodebooks(corpus, m, ks)
    if (refineIters > 0) refineCodebooks(corpus, cbs, refineIters) else cbs
  }

  // --------------------------------------------------------- persisted index

  /** Persist the PQ index on the shared vector store
    * ([[Similarity.buildVecStore]]): FROZEN codebooks (`codebooks/` —
    * the same freeze discipline as the IVF/SemDeDup quantizers: upserts
    * and serving read the STORED codebooks, never re-derive them, so
    * codes stay comparable across deltas) plus the m-int code rows
    * `(_id, codes)` under `data/_kb=<idBucket>` with the standard by-id
    * sidecar. Codes have no query-pruned access path — ADC is a
    * deliberate compressed FULL scan — so `_kb` is an id-hash bucket
    * purely for O(changed buckets) maintenance locality.
    *
    * Operational note: frozen codebooks drift if the embedding
    * distribution shifts over many deltas — the remedy is a rebuild to
    * a new path and swap (FAISS practice), never incremental codebook
    * mutation, which would silently re-interpret every stored code. */
  def buildPqIndex(corpus: DataFrame, path: String, m: Int = 8,
                   ks: Int = 16, idBuckets: Int = 16, seq: Long = 0L,
                   refineIters: Int = 0): Unit = {
    val cbs = trainCodebooks(corpus, m, ks, refineIters)
    Similarity.buildVecStore(corpus, path, idBuckets, seq,
      Seq("codebooks" -> codebooksDf(corpus.sparkSession, cbs)))(pqRows(cbs))
  }

  /** A codebook table `(j, c, cw)`: codeword `c` of subspace `j`. */
  private def codebooksDf(spark: SparkSession, cbs: Codebooks): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
    }.toSeq.toDF("j", "c", "cw")
  }

  private def pqRows(cbs: Codebooks)(corpus: DataFrame,
                                     idBuckets: Int): DataFrame =
    Similarity.idRouted(encode(corpus, cbs).withColumnRenamed("vec_id", "_id"),
      idBuckets)

  /** Row bound of a stored codebook table's driver-side read: m·ks
    * codewords. */
  private val MaxCodewords = 1L << 16

  /** The stored (frozen) codebooks of an index, read on the driver (no
    * Spark job). */
  def readCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = IndexStore.readSmall(spark, s"$path/codebooks", MaxCodewords)
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val out: Codebooks =
      Array.ofDim[Array[Double]](rows.map(_._1).max + 1, rows.map(_._2).max + 1)
    rows.foreach { case (j, c, cw) => out(j)(c) = cw }
    out
  }

  /** Incremental maintenance through the shared
    * [[Similarity.upsertVecStore]]: re-encode the changed vectors
    * against the FROZEN codebooks and rewrite only the id buckets
    * holding their old or new rows; `deletedIds` retire codes.
    * O(changed buckets), never a rebuild, never a codebook
    * re-derivation. Returns affected bucket ids. */
  def upsertPqVectors(spark: SparkSession, path: String,
                      changed: DataFrame, deletedIds: Seq[Any] = Nil,
                      newSeq: Long = -1L): Seq[Int] =
    upsertPqVectors(spark, path, Similarity.vecDelta(changed, deletedIds),
      newSeq)

  private[graft] def upsertPqVectors(spark: SparkSession, path: String,
                                     d: Delta, newSeq: Long): Seq[Int] =
    Similarity.upsertVecStore(spark, path, d, newSeq)(
      pqRows(readCodebooks(spark, path)))

  /** Serve ADC top-k from the persisted index: the compressed code scan
    * + shortlist + exact refinement against `corpus` (the raw vectors
    * live in the source table — PQ's point is that the HOT scan is the
    * codes, 32× smaller). */
  def pqTopKIndexed(spark: SparkSession, path: String, corpus: DataFrame,
                    queries: DataFrame, k: Int, refine: Int = 50): DataFrame =
    adcTopK(storedCodes(spark, path), corpus, queries,
      readCodebooks(spark, path), k, refine)

  /** The `(vec_id, codes)` rows of a persisted flat-PQ store. */
  private def storedCodes(spark: SparkSession, path: String): DataFrame =
    Similarity.storeRows(spark, path)
      .select(col("_id").as("vec_id"), col("codes"))

  /** The `(q_id, n_id)` ADC shortlist of the persisted FLAT-PQ tier —
    * [[pqTopKIndexed]]'s compressed full code scan STOPPED before its
    * exact refine: the candidate feed the shared cascade rerank
    * ([[graft.operators.Similarity.cascadeTopKIndexed]], tier
    * `"pq"`) scores against the float corpus. Stored codes + frozen
    * codebooks only; the embedding column is never read here. */
  def pqShortlistIndexed(spark: SparkSession, path: String,
                         queries: DataFrame, shortlist: Int): DataFrame =
    adcShortlist(adcScored(storedCodes(spark, path), queryVecs(queries),
      readCodebooks(spark, path)), shortlist)

  /** The `(q_id, n_id)` probed-list ADC shortlist of the persisted
    * IVFADC tier — [[ivfPqTopK]]'s probe → pruned `_kb` code read →
    * ADC score, stopped before the exact refine: the `"ivfpq"`
    * cascade feed. Only the probed inverted lists are read. */
  def ivfPqShortlistIndexed(spark: SparkSession, path: String,
                            queries: DataFrame, shortlist: Int,
                            nProbe: Int = 4): DataFrame =
    adcShortlist(ivfAdc(spark, path, queries, nProbe, resid = false)._1,
      shortlist)

  /** The probed-list ADC scores `(q_id, n_id, adc)` of a persisted
    * IVFADC store and its `(q_id, q_vec)` query rows: each query
    * probes its `nProbe` nearest stored centroids (the shared
    * [[Similarity.probes]] side — the union of probe lists is bounded
    * driver metadata and prunes the code read to those `_kb`
    * directories), and ADC-scores ONLY the codes in its own probed
    * lists (a hash join on the list id). `resid`: the residual tier,
    * whose query side is the query's residual AGAINST EACH PROBED
    * LIST'S centroid (Jégou §IV.A's "one distance table per probed
    * list"; each (query, list) pair computes its residual once in the
    * projection and the per-subspace lookups fold over it). */
  private def ivfAdc(spark: SparkSession, path: String, queries: DataFrame,
                     nProbe: Int, resid: Boolean): (DataFrame, DataFrame) = {
    val cents = Similarity.readCentroids(spark, path)
    val cbs = readCodebooks(spark, path)
    val (q0, buckets) = Similarity.probes(
      Similarity.ivfQueries(cents, queries, nProbe).drop("q_nrm"))
    val q = if (!resid) q0 else joinCentroidVec(q0, cents, col("bucket"))
      .select(col("q_id"), col("q_vec"), col("bucket"),
        residual(col("q_vec"), col("_cvec")).as("q_res"))
    // UNLIKE the raw path, the dropped |query-side|² ADC term is NOT
    // constant per query for residuals — the query residual differs per
    // probed list — so it must be added back for candidates from
    // different lists to rank comparably: adc = |r_q|² + Σ(|cw|² −
    // 2·r_q·cw) = the full estimated |r_q − cw|².
    val adc =
      if (!resid) adcExpr(cbs, col("q_vec"), col("codes"))
      else Similarity.dot(col("q_res"), col("q_res")) +
        adcExpr(cbs, col("q_res"), col("codes"))
    (Similarity.probedRows(spark, path, buckets)
      .join(broadcast(q), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), adc.as("adc")),
      q.select(col("q_id"), col("q_vec")).distinct())
  }

  // ------------------------------------------------------------------ IVFADC

  /** IVFADC — IVF list pruning composed with PQ codes (Jégou §IV;
    * FAISS IndexIVFPQ): the code rows are PARTITIONED BY COARSE
    * CENTROID, so a query ADC-scans only its `nProbe` probed inverted
    * lists instead of the whole code table — the serving tier that
    * makes compressed ANN sublinear in the corpus, where
    * [[pqTopKIndexed]] is a deliberate full (if 32×-compressed) scan.
    *
    * Layout: the shared vector store ([[Similarity.buildVecStore]]) —
    * `centroids/` (the IVF coarse quantizer — the [[Similarity]]
    * lowest-id init, optionally Lloyd-refined; FROZEN), `codebooks/`
    * (the PQ subspace tables; FROZEN), `data/_kb=<cid>` (m-int code
    * rows in their inverted list), `ids/` by-id sidecar + `_meta`, so
    * upserts are O(changed buckets) against the stored quantizers.
    *
    * Codes quantize the RAW vector, not Jégou's per-list residual
    * (§IV.A): raw-vector codes are list-invariant — identical to the
    * flat PQ tier, one encoder, one SQL replay, and a vector whose
    * list changes on upsert keeps its codes. The trade is recall at
    * equal m (the residual has lower variance than the vector); a
    * residual tier would freeze centroids first and encode
    * `x − c(x)` with this same machinery. */
  def buildIvfPqIndex(corpus: DataFrame, path: String, nCentroids: Int = 16,
                      m: Int = 8, ks: Int = 16, idBuckets: Int = 16,
                      seq: Long = 0L, refineIters: Int = 0,
                      lloydIters: Int = 0): Unit = {
    val cents = Similarity.trainCentroids(corpus, nCentroids, lloydIters)
    val cbs = trainCodebooks(corpus, m, ks, refineIters)
    buildIvfAdc(corpus, path, idBuckets, seq, cents, cbs)(
      ivfPqRows(cents, cbs))
  }

  /** The shared vector-store build of both IVFADC tiers: the frozen
    * `centroids/` and `codebooks/`, then the `rows`. */
  private def buildIvfAdc(corpus: DataFrame, path: String, idBuckets: Int,
                          seq: Long, cents: Seq[(Int, Array[Double])],
                          cbs: Codebooks)
                         (rows: (DataFrame, Int) => DataFrame): Unit = {
    val spark = corpus.sparkSession
    Similarity.buildVecStore(corpus, path, idBuckets, seq,
      Seq("centroids" -> Similarity.centroidTable(spark, cents),
        "codebooks" -> codebooksDf(spark, cbs)))(rows)
  }

  /** Code rows with their inverted-list assignment: `(_id, codes,
    * _kb = nearest stored centroid)` — both the PQ encode and the IVF
    * assignment are codegen'd projections over the same scan. */
  private def ivfPqRows(cents: Seq[(Int, Array[Double])], cbs: Codebooks)
                       (corpus: DataFrame, idBuckets: Int): DataFrame =
    Similarity.withVecNorm(corpus).select(col("vec_id").as("_id"),
        array((0 until cbs.length).map(j =>
          codeCol(col("_v"), cbs, j)): _*).as("codes"),
        Similarity.nearestCidCol(col("_v"), col("_nrm"), cents).as("_kb"))

  /** Incremental maintenance against the FROZEN quantizers: changed
    * vectors re-assign (stored centroids) and re-encode (stored
    * codebooks), merged bucket-locally via the by-id sidecar;
    * `deletedIds` retire codes. O(changed buckets). */
  def upsertIvfPqVectors(spark: SparkSession, path: String,
                         changed: DataFrame, deletedIds: Seq[Any] = Nil,
                         newSeq: Long = -1L): Seq[Int] =
    upsertIvfPqVectors(spark, path, Similarity.vecDelta(changed, deletedIds),
      newSeq)

  private[graft] def upsertIvfPqVectors(spark: SparkSession, path: String,
                                        d: Delta, newSeq: Long): Seq[Int] =
    Similarity.upsertVecStore(spark, path, d, newSeq)(
      ivfPqRows(Similarity.readCentroids(spark, path),
        readCodebooks(spark, path)))

  /** Serve IVFADC top-k: the probed-list ADC scores ([[ivfAdc]] — never
    * the full code table), a `refine`-candidate shortlist, and the
    * exact-cosine rank of the shortlist against `corpus`. Output
    * `(q_id, rank, n_id, cos)`. */
  def ivfPqTopK(spark: SparkSession, path: String, corpus: DataFrame,
                queries: DataFrame, k: Int, nProbe: Int = 4,
                refine: Int = 50): DataFrame = {
    val (scored, q) = ivfAdc(spark, path, queries, nProbe, resid = false)
    shortlistAndRefine(scored, corpus, q, k, refine)
  }

  // --------------------------------------------- residual IVFADC (Jégou §IV.A)

  /** The element-wise residual `v − c` of a vector against its list's
    * centroid — the quantity residual IVFADC encodes and scores. */
  private def residual(v: Column, cvec: Column): Column =
    zip_with(v, cvec, (a, b) => a - b)

  /** RESIDUAL-encoding IVFADC — the paper's actual §IV.A construction:
    * codes quantize `r = x − c(x)` (the vector minus its list's
    * centroid), not the raw vector. The residual has far lower
    * variance than the vector itself — the coarse quantizer has
    * already explained the list-level structure — so the same m bytes
    * carry more precision (the accuracy upgrade [[buildIvfPqIndex]]'s
    * scaladoc names). Codebooks are learned on residuals (the ks
    * lowest-id vectors' residual subvectors, the standard init rule
    * applied to the residual distribution). The trade the raw-vector
    * tier avoids re-appears here, documented: a vector whose list
    * changes on upsert MUST re-encode (its residual basis moved) —
    * [[upsertIvfPqResiduals]] re-encodes changed vectors against the
    * frozen quantizers, which covers exactly that case. Layout and
    * maintenance surface identical to [[buildIvfPqIndex]]. */
  def buildIvfPqResidualIndex(corpus: DataFrame, path: String,
                              nCentroids: Int = 16, m: Int = 8,
                              ks: Int = 16, idBuckets: Int = 16,
                              seq: Long = 0L): Unit = {
    val cents = Similarity.initCentroids(corpus, nCentroids)
    val cbs = initCodebooks(residualCorpus(corpus, cents), m, ks)
    buildIvfAdc(corpus, path, idBuckets, seq, cents, cbs)(
      ivfPqResidualRows(cents, cbs))
  }

  /** The corpus with `embedding` replaced by the per-list residual —
    * the relation codebooks are learned from. */
  private def residualCorpus(corpus: DataFrame,
                             cents: Seq[(Int, Array[Double])]): DataFrame = {
    val withCid = Similarity.withVecNorm(corpus).withColumn("_cid", Similarity.nearestCidCol(col("_v"), col("_nrm"), cents))
    joinCentroidVec(withCid, cents, col("_cid"))
      .select(col("vec_id"), residual(col("_v"), col("_cvec")).as("embedding"))
  }

  /** Attach the centroid VECTOR for a cid column via a broadcast join
    * against the (bounded) centroid table. */
  private def joinCentroidVec(df: DataFrame, cents: Seq[(Int, Array[Double])],
                              cid: Column): DataFrame = {
    val ctab = Similarity.centroidTable(df.sparkSession, cents)
      .toDF("_ccid", "_cvec")
    df.join(broadcast(ctab), cid === col("_ccid")).drop("_ccid")
  }

  private def ivfPqResidualRows(cents: Seq[(Int, Array[Double])],
                                cbs: Codebooks)
                               (corpus: DataFrame, idBuckets: Int): DataFrame = {
    val withCid = Similarity.withVecNorm(corpus).withColumn("_kb", Similarity.nearestCidCol(col("_v"), col("_nrm"), cents))
    joinCentroidVec(withCid, cents, col("_kb"))
      .withColumn("_r", residual(col("_v"), col("_cvec")))
      .select(col("vec_id").as("_id"),
        array((0 until cbs.length).map(j =>
          codeCol(col("_r"), cbs, j)): _*).as("codes"),
        col("_kb"))
  }

  /** Incremental maintenance against the FROZEN quantizers — NOTE the
    * residual contract: a changed vector re-assigns AND re-encodes
    * (its residual basis is its new list's centroid); that is exactly
    * what re-running [[ivfPqResidualRows]] on the delta does. */
  def upsertIvfPqResiduals(spark: SparkSession, path: String,
                           changed: DataFrame, deletedIds: Seq[Any] = Nil,
                           newSeq: Long = -1L): Seq[Int] =
    Similarity.upsertVecStore(spark, path,
      Similarity.vecDelta(changed, deletedIds), newSeq)(
      ivfPqResidualRows(Similarity.readCentroids(spark, path),
        readCodebooks(spark, path)))

  /** Serve residual IVFADC: the [[ivfPqTopK]] probe/prune/shortlist
    * shape over the residual query side ([[ivfAdc]] with `resid`). */
  def ivfPqResidualTopK(spark: SparkSession, path: String, corpus: DataFrame,
                        queries: DataFrame, k: Int, nProbe: Int = 4,
                        refine: Int = 50): DataFrame = {
    val (scored, q) = ivfAdc(spark, path, queries, nProbe, resid = true)
    shortlistAndRefine(scored, corpus, q, k, refine)
  }

  /** The `(q_id, n_id)` probed-list shortlist of the RESIDUAL IVFADC
    * tier — [[ivfPqResidualTopK]]'s per-list query-residual ADC (the
    * `|r_q|²`-restored full estimated distance, comparable across
    * lists), stopped before the exact refine: the `"ivfpqr"` cascade
    * feed. Only the probed inverted lists are read. */
  def ivfPqResidualShortlistIndexed(spark: SparkSession, path: String,
                                    queries: DataFrame, shortlist: Int,
                                    nProbe: Int = 4): DataFrame =
    adcShortlist(ivfAdc(spark, path, queries, nProbe, resid = true)._1,
      shortlist)
}
