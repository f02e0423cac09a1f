package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.gfunctions.round4

/** Deduplication operators for web-scale corpora. The cardinal rule at
  * 100 TB: never materialize O(n²) — exact dedup is a hash groupBy,
  * near-dup goes shingle → MinHash signature → LSH band buckets →
  * within-bucket candidate pairs only. All signature math is md5-based
  * builtin-function composition (codegen'd, and replicable in the oracle
  * engine); nothing leaves whole-stage codegen. */
object Dedup {

  /** Exact dedup groups: content hash → (kept id = min, duplicate count).
    * One shuffle on the hash; partial aggregation map-side. */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(Text.fingerprint(text).as("fp"))
      .agg(min(id).cast("long").as("keep_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, _s) word n-gram shingle ROWS, fully codegen'd: posexplode
    * the token array (one interpreted pass per doc — the only HOF), then
    * form n-grams with window `lead` over token position. Documents
    * shorter than `n` words contribute their whole token string as a
    * single shingle. Row form beats array form decisively here: Spark's
    * higher-order functions evaluate interpreted per element (~50ms/doc
    * measured for array-building shingles), while explode + window +
    * concat stays in whole-stage codegen.
    *
    * The leading repartition is load-bearing: a small parquet file scans
    * as ONE partition, and the explicit count stops AQE from coalescing
    * the work back onto one core. */
  def shingleRows(docs: DataFrame, id: Column, text: Column,
                  n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(id.cast("long").as("doc_id"), text.as("_text"))
      .repartition(parts, col("doc_id"))
    val toks = base.select(col("doc_id"),
      posexplode(Text.tokens(col("_text"))).as(Seq("_p", "_w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
    val withLeads = toks.select(col("doc_id") +: col("_w") +:
      (1 until n).map(o => lead(col("_w"), o).over(w).as(s"_l$o")): _*)
    val full = withLeads.filter(col(s"_l${n - 1}").isNotNull)
      .select(col("doc_id"), concat_ws(" ",
        col("_w") +: (1 until n).map(o => col(s"_l$o")): _*).as("_s"))
    val short = base
      .select(col("doc_id"), Text.tokens(col("_text")).as("_ws"))
      .filter(size(col("_ws")) < n)
      .select(col("doc_id"), concat_ws(" ", col("_ws")).as("_s"))
    full.unionByName(short)
  }

  /** (doc_id, sh) DISTINCT shingle sets — the shared materialization of
    * the shingle pipeline. Both the MinHash signature branch and the
    * Jaccard verification branch consume this one aggregate: the trailing
    * explicit-count repartition is the exchange both consumers reuse
    * (ReuseExchange), so the shingle pipeline executes ONCE per query
    * instead of once per branch (SURVEY §6 trick 2). MinHash minima are
    * unaffected by deduplication (min over a set == min over the
    * multiset), so signatures computed from these sets are identical to
    * signatures computed from raw shingle rows. */
  def shingleSets(docs: DataFrame, id: Column, text: Column,
                  n: Int = 3): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    shingleRows(docs, id, text, n)
      .groupBy(col("doc_id")).agg(collect_set(col("_s")).as("sh"))
      .repartition(parts, col("doc_id"))
  }

  /** LSH banding: split the k-element signature into `bands` bands of
    * k/bands rows, hash each band. Docs sharing any (band index, band
    * hash) bucket become candidate pairs. Returns (doc_id, j, band). */
  def lshBands(sigs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    sigs.select(col("doc_id"), explode(transform(
      sequence(lit(0), lit(bands - 1)),
      j => struct(j.as("j"), md5(concat_ws("|",
        (1 to r).map(o => element_at(col("sig"), j * r + o)): _*)
        .cast("binary")).as("band")))).as("_b"))
      .select(col("doc_id"), col("_b.j").as("j"), col("_b.band").as("band"))
  }

  /** MinHash+LSH near-duplicate candidate pairs (doc_a &lt; doc_b),
    * deduplicated across bands. The self-join runs on (band index, band
    * hash) — bucket-local, never a cross product; AQE handles skewed
    * buckets. */
  /** (doc_id, sig) MinHash signature table from shingle rows: hash each
    * (seed, shingle) once, one partial-aggregating groupBy of k string
    * minima — map-side combined, one shuffle of per-doc partial minima,
    * everything in whole-stage codegen. Same seeded-md5 minima the
    * oracle SQL computes. */
  def minhashSigs(shRows: DataFrame, k: Int = 8): DataFrame = {
    val mins = (0 until k).map { i =>
      min(md5(concat(lit(i.toString), lit("|"), col("_s"))
        .cast("binary"))).as(s"_m$i")
    }
    shRows
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** Enumerate ordered pairs within each bucket's sorted member list.
    * `ids` must be a bound attribute (small per-bucket arrays, so the
    * interpreted lambda cost is bounded by bucket size). */
  private def bucketPairs(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)), b =>
        struct(a.as("doc_a"), b.as("doc_b")))))

  /** MinHash+LSH near-duplicate candidate pairs (doc_a &lt; doc_b),
    * deduplicated across bands.
    *
    * Pair enumeration is bucket-local via collect_list + in-bucket pair
    * expansion — ONE pass over the signature pipeline, no self-join (a
    * self-join re-executes the whole upstream pipeline per branch:
    * exchange reuse does not fire across AQE stages here, observed as
    * doubled scans). Buckets larger than `maxBucket` are dropped as
    * too-common (boilerplate shingles), bounding the quadratic
    * expansion — the standard LSH skew guard. */
  def minhashCandidatePairs(docs: DataFrame, id: Column, text: Column,
                            k: Int = 8, bands: Int = 4,
                            maxBucket: Int = 1000): DataFrame =
    minhashCandidatePairsFromSets(shingleSets(docs, id, text), k, bands,
      maxBucket)

  /** Same candidate pairs, starting from a [[shingleSets]] table — the
    * entry point for callers that also need the shingle sets themselves
    * (e.g. [[jaccardPairs]]), so the shingle pipeline is shared rather
    * than re-executed per consumer. */
  def minhashCandidatePairsFromSets(sets: DataFrame,
                                    k: Int = 8, bands: Int = 4,
                                    maxBucket: Int = 1000): DataFrame = {
    val sigs = minhashSigs(
      sets.select(col("doc_id"), explode(col("sh")).as("_s")), k)
    lshBands(sigs, k, bands)
      .groupBy(col("j"), col("band"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(bucketPairs(col("ids"))).as("_p"))
      .select(col("_p.doc_a"), col("_p.doc_b")).distinct()
  }

  /** Exact n-gram Jaccard verification of candidate pairs: distinct
    * shingle-set intersection-over-union, computed only for LSH
    * candidates (the scale path: verification cost is proportional to
    * candidates, not n²). */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column,
                   threshold: Double, k: Int = 8, bands: Int = 4,
                   shingleN: Int = 3): DataFrame = {
    // ONE shingle pipeline feeds both the candidate branch and the
    // verification branch via the shared shingleSets exchange
    val sets = shingleSets(docs, id, text, shingleN)
    val cands = minhashCandidatePairsFromSets(sets, k, bands)
    // melt the pair into (pair, role, doc) rows so the shingle-set table
    // is joined ONCE, then fold the two roles back — joining sets twice
    // (doc_a branch + doc_b branch) would execute the whole shingle
    // pipeline twice (no cross-branch exchange reuse; see SURVEY §6)
    val melted = cands
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(sets, Seq("doc_id"))
    melted
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        min(when(col("doc_id") === col("doc_a"), col("sh"))).as("sh_a"),
        min(when(col("doc_id") === col("doc_b"), col("sh"))).as("sh_b"))
      .withColumn("jac", round4(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Connected components over a near-duplicate PAIR table — the
    * clustering step a production dedup pipeline needs between
    * candidate generation and keep-one-per-group: LSH/Jaccard emit
    * pairs, but `a≈b, b≈c ⇒ {a,b,c}` must dedup as ONE group, which is
    * the transitive closure of the pair graph.
    *
    * Iterative min-label propagation: every vertex repeatedly adopts
    * the minimum label in its closed neighborhood until a fixpoint.
    * Each round is one shuffle join of the label table against the
    * (symmetrized) edge table plus a partial-aggregating min — no
    * driver-side graph state; the only driver action per round is the
    * scalar convergence probe. Converges in O(component diameter)
    * rounds; near-dup components are dense and shallow (dups of a
    * common source), so the practical round count is 2-4. Long-chain
    * graphs would want the alternating large-star/small-star variant
    * (O(log n) rounds); for dedup clustering the simple propagation is
    * the right cost. Lineage is cut with an eager `localCheckpoint`
    * every round so the plan stays O(1) deep across iterations — the
    * classic iterative-Spark failure mode (exponentially growing plans)
    * — and superseded label tables are unpersisted as soon as the next
    * round is materialized. Throws after `maxIters` non-converged
    * rounds rather than returning a wrong (partially propagated)
    * clustering.
    *
    * Returns `(doc_id, cluster_id)` for every doc appearing in a pair,
    * where `cluster_id` is the component's minimum doc id (the
    * conventional canonical representative). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    components(pairs, maxIters)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))

  /** The `(id, lbl)` fixpoint of [[connectedComponents]]: a
    * checkpointed frame the caller releases with `Bridge.release` once
    * it is done with every frame derived from it. */
  private[operators] def components(pairs: DataFrame,
                                    maxIters: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")).localCheckpoint()
    var it = 0
    var converged = false
    try {
      while (!converged && it < maxIters) {
        val nbrMin = sym
          .join(labels.select(col("id").as("src"), col("lbl").as("_sl")), "src")
          .groupBy(col("dst").as("id")).agg(min(col("_sl")).as("_nl"))
        val next = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("_nl"), col("lbl"))).as("lbl"))
          .localCheckpoint()
        converged = next
          .join(labels.select(col("id"), col("lbl").as("_old")), "id")
          .filter(col("lbl") < col("_old")).isEmpty
        Bridge.release(labels)
        labels = next
        it += 1
      }
    } finally Bridge.release(sym)
    if (!converged) Bridge.release(labels)
    require(converged,
      s"connectedComponents: no fixpoint after $maxIters rounds " +
        "(component diameter exceeds maxIters — raise it)")
    labels
  }

  /** END-TO-END corpus dedup — the composed pipeline a training-data
    * run actually executes, as one operator:
    *  1. exact dedup (normalized-md5 fingerprint, keep min id),
    *  2. MinHash+LSH near-dup candidate pairs over the exact KEEPERS
    *     only (exact dups never re-enter the quadratic stage),
    *  3. transitive clustering ([[connectedComponents]]),
    *  4. canonical = the cluster's min keeper.
    * Returns `(doc_id, kept_id)` for EVERY input doc — the join table
    * that filters a corpus to survivors (`doc_id === kept_id`) or
    * rewrites references to canonical docs. All stages are the
    * bucket-local scale-safe operators above. */
  def dedupCorpus(docs: DataFrame, id: Column, text: Column,
                  jaccardThreshold: Option[Double] = None): DataFrame = {
    // ONE fingerprint pass feeds every stage: without the checkpoint
    // the `fp` subtree (corpus scan + normalize + md5) is embedded in
    // the exact-keep aggregation, BOTH sides of the exactMap join, the
    // keeper/shingle pipeline AND the returned mapping — measured ~5
    // re-executions per call on the gate shapes (guide §1.2). The
    // returned mapping is materialized as a LEAF (eager checkpoint of
    // the bounded (doc_id, kept_id) table) so the fp pin can be
    // RELEASED before returning — no block outlives the call except
    // the small mapping itself.
    val fp = docs.select(id.cast("long").as("doc_id"),
      Text.fingerprint(text).as("_fp"), text.as("_text"))
      .localCheckpoint()
    try {
      val keep = fp.groupBy(col("_fp")).agg(min(col("doc_id")).as("_keeper"))
      val exactMap = fp.join(keep, Seq("_fp"))
      val keepers = exactMap.filter(col("doc_id") === col("_keeper"))
        .select(col("doc_id"), col("_text"))
      // precision mode: verify every LSH candidate's exact shingle
      // Jaccard before it may merge clusters — the standard guard
      // against LSH false positives chaining unrelated docs together
      val pairs = jaccardThreshold match {
        case Some(t) => jaccardPairs(keepers, col("doc_id"), col("_text"), t)
          .select(col("doc_a"), col("doc_b"))
        case None => minhashCandidatePairs(keepers, col("doc_id"),
          col("_text"))
      }
      val cc = components(pairs)
      try exactMap.select(col("doc_id"), col("_keeper"))
        .join(cc.select(col("id").as("_keeper"), col("lbl").as("_rep")),
          Seq("_keeper"), "left")
        .select(col("doc_id"),
          coalesce(col("_rep"), col("_keeper")).as("kept_id"))
        .localCheckpoint()
      finally Bridge.release(cc)
    } finally Bridge.release(fp)
  }

  /** [[dedupCorpus]] with QUALITY-AWARE canonical selection — real
    * pipelines keep each duplicate cluster's BEST member, not its
    * first: same exact → LSH → transitive-cluster pipeline (cluster
    * MEMBERSHIP is unchanged, and so are all the expensive stages),
    * then the kept doc of every cluster is re-chosen as its
    * argmax-`score` member (ties to the lower id — deterministic).
    * One extra aggregation + join over the O(corpus) mapping table,
    * nothing quadratic. Returns `(doc_id, kept_id)` with kept_id the
    * highest-scoring member of doc_id's cluster — filter to
    * survivors with `doc_id === kept_id` exactly as before.
    * A NULL score ranks BELOW every real score (it is coalesced to
    * -Infinity before the argmax): an unscored member can only win a
    * cluster whose every member is unscored, never beat a scored one
    * (a null field inside the min-struct would otherwise sort first
    * and win). */
  def dedupCorpusBest(docs: DataFrame, id: Column, text: Column,
                      score: Column,
                      jaccardThreshold: Option[Double] = None)
      : DataFrame = {
    val mapping = dedupCorpus(docs, id, text, jaccardThreshold)
    val scores = docs.select(id.cast("long").as("doc_id"),
      coalesce(score.cast("double"), lit(Double.NegativeInfinity))
        .as("_sc"))
    val best = mapping.join(scores, Seq("doc_id"))
      .groupBy(col("kept_id"))
      .agg(min(struct((-col("_sc")).as("n"), col("doc_id").as("i")))
        .as("_b"))
      .select(col("kept_id"), col("_b.i").as("_best"))
    mapping.join(best, Seq("kept_id"))
      .select(col("doc_id"), col("_best").as("kept_id"))
  }

  /** 64-bit SimHash over whitespace tokens (md5-derived token hashes,
    * per-bit majority vote). The token hash is the first 16 hex digits
    * of md5(token), read as two 32-bit halves (digits 1-8 = high bits
    * 32-63, digits 9-16 = low bits 0-31) — an engine-portable
    * construction (the same md5-derivation trick as MinHash), so the
    * operator is DuckDB-oracle-gated, not just spec-gated.
    *
    * Vectorized formulation: explode tokens, hash each once, one
    * partial-aggregating groupBy with 64 per-bit vote sums — everything
    * stays in whole-stage codegen (a nested higher-order-function
    * formulation would interpret and recompute the token hashes 64×
    * per document). Bit 63 contributes Long.MinValue (two's complement)
    * so the sum never overflows checked arithmetic in either engine.
    * Returns (doc_id, simhash). */
  def simhashValues(docs: DataFrame, id: Column, textCol: String): DataFrame = {
    val toks = docs.select(id.cast("long").as("doc_id"), col(textCol))
      // parallelism for single-partition small-file scans (see shingleSets)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("doc_id"), explode_outer(Text.tokens(col(textCol))).as("_w"))
      // md5(NULL) is NULL, so empty/null-text docs vote 0 on every bit
      // and get simhash 0
      .withColumn("_m", md5(col("_w").cast("binary")))
      .withColumn("_hi", conv(substring(col("_m"), 1, 8), 16, 10).cast("long"))
      .withColumn("_lo", conv(substring(col("_m"), 9, 8), 16, 10).cast("long"))
    def bit(b: Int): Column =
      if (b < 32) shiftright(col("_lo"), b).bitwiseAND(lit(1L))
      else shiftright(col("_hi"), b - 32).bitwiseAND(lit(1L))
    val votes = (0 until 64).map { b =>
      sum(when(col("_m").isNull, 0L)
        .when(bit(b) === 1L, 1L)
        .otherwise(-1L)).as(s"_b$b")
    }
    val bits = (0 until 63).map { b =>
      when(col(s"_b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    } :+ when(col("_b63") > 0, lit(Long.MinValue)).otherwise(lit(0L))
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Band decomposition of a simhash column: rows `(i, v)` for the
    * four 16-bit bands (arithmetic shift + mask — sign extension is
    * masked away, so band 3 of negative hashes is exact). */
  private def bandRows(simhash: Column): Column =
    explode(array((0 to 3).map(i =>
      struct(lit(i).as("i"),
        shiftright(simhash, 16 * i).bitwiseAND(lit(0xFFFFL)).as("v"))): _*))

  /** Bucket of a band `(i, v)` — the q43 portable modular mix (the
    * product stays < 2^48, no overflow in either engine). */
  private def bandBucket(i: Column, v: Column, nBuckets: Int): Column =
    pmod((i * lit(65536L) + v) * lit(2654435761L), lit(nBuckets.toLong))
      .cast("int")

  /** Persist a banded SimHash index: each doc's 64-bit simhash exploded
    * into its four 16-bit bands, partitioned by band bucket — the C3
    * analogue of the LSH/IVF/text indexes: signatures are computed once
    * at build, and a near-dup probe reads only the probed docs' band
    * buckets, never re-hashing (or even rereading) the corpus. */
  /** The stored band rows of a doc batch: simhash → four (i, v) bands
    * → `_sb` bucket routing. */
  private def simhashBandRows(docs: DataFrame, id: Column, textCol: String,
                              nBuckets: Int): DataFrame =
    simhashValues(docs, id, textCol)
      .select(col("doc_id"), col("simhash"), bandRows(col("simhash")).as("_b"))
      .select(col("doc_id"), col("simhash"),
        col("_b.i").as("i"), col("_b.v").as("v"))
      .withColumn("_sb", bandBucket(col("i"), col("v"), nBuckets))

  def buildSimhashIndex(docs: DataFrame, id: Column, textCol: String,
                        path: String, nBuckets: Int = 64,
                        seq: Long = 0L): Unit = {
    import graft.view.IndexStore
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    simhashBandRows(docs, id, textCol, nBuckets)
      .repartition(col("_sb"))
      .sortWithinPartitions(col("_sb"), col("i"), col("v"))
      .write.mode("overwrite").partitionBy("_sb").parquet(path + "/bands")
    // by-doc sidecar: which band buckets hold each doc's rows — the
    // same O(changed buckets) maintenance key as every graft index
    spark.read.parquet(path + "/bands")
      .select(col("doc_id"), col("_sb")).distinct()
      .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nBuckets))
      .repartition(col("_ib"))
      .sortWithinPartitions(col("_ib"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_ib").parquet(path + "/ids")
    IndexStore.writeMeta(spark, path,
      graft.view.IndexMeta(seq, nBuckets, Nil))
  }

  /** Incremental maintenance of a [[buildSimhashIndex]] index — the
    * sidecar-pruned merge every graft index uses: changed docs are
    * re-hashed, their old band rows located via the by-doc sidecar,
    * and only old∪new `_sb` directories rewritten; `deletedIds`
    * tombstone docs out. Returns the affected band buckets. */
  def upsertSimhashDocs(spark: SparkSession, path: String,
                        changedDocs: DataFrame, id: Column,
                        textCol: String, deletedIds: Seq[Long] = Nil,
                        newSeq: Long = -1L): Seq[Int] =
    upsertSimhashDocs(spark, path, graft.view.IndexStore.Delta(changedDocs,
      id.cast("long"), deletedIds), id, textCol, newSeq)

  private[graft] def upsertSimhashDocs(spark: SparkSession, path: String,
                                       d: graft.view.IndexStore.Delta,
                                       id: Column, textCol: String,
                                       newSeq: Long): Seq[Int] = {
    import graft.view.IndexStore
    import IndexStore.Write
    IndexStore.finishSwap(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val nB = meta.buckets
    val newRows = simhashBandRows(d.live, id, textCol, nB).persist()
    val cids = d.changedIds(id.cast("long")).toDF("doc_id").distinct()
      .persist()
    try {
      val ibs = IndexStore.bucketsOf(
        cids.select(IndexStore.idBucket(col("doc_id"), nB)))
      def oldIds = IndexStore.readBuckets(spark, path + "/ids", "_ib", ibs)
        .filter(col("_ib").isin(ibs: _*))
      val oldSbs = IndexStore.bucketsOf(
        oldIds.join(cids, Seq("doc_id"), "left_semi").select(col("_sb")))
      val newSbs = IndexStore.bucketsOf(newRows.select(col("_sb")))
      val affected = (oldSbs ++ newSbs).distinct.sorted
      val bandCols = Seq("doc_id", "simhash", "i", "v", "_sb").map(col)
      val writes = if (affected.isEmpty) Nil else Seq(
        Write.sorted(path + "/bands", "_sb", affected,
          IndexStore.readBuckets(spark, path + "/bands", "_sb", affected)
            .filter(col("_sb").isin(affected: _*))
            .join(cids, Seq("doc_id"), "left_anti").select(bandCols: _*)
            .unionByName(newRows.select(bandCols: _*)),
          Seq(col("_sb"), col("i"), col("v"))),
        Write.sorted(path + "/ids", "_ib", ibs,
          oldIds.join(cids, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("_sb"), col("_ib"))
            .unionByName(newRows.select(col("doc_id"), col("_sb")).distinct()
              .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nB))),
          Seq(col("_ib"), col("doc_id"))))
      IndexStore.commitBatch(spark, path, writes, Some(meta.copy(
        updateSeq = if (newSeq >= 0) newSeq else meta.updateSeq + 1)))
      affected
    } finally {
      newRows.unpersist()
      cids.unpersist()
    }
  }

  /** Whole-corpus banded near-dup pairs served from a
    * [[buildSimhashIndex]] index — identical results to
    * [[simhashNearDups]] without re-hashing a single token: bucket-
    * local pair expansion over the stored band rows. */
  def simhashPairsIndexed(spark: SparkSession, path: String,
                          maxHamming: Int = 3): DataFrame = {
    val members = struct(col("doc_id"), col("simhash"))
    spark.read.parquet(path + "/bands")
      .groupBy(col("i"), col("v"))
      .agg(sort_array(collect_list(members)).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (a, ix) =>
        transform(slice(col("ms"), ix + 2, size(col("ms"))), m =>
          struct(a.getField("doc_id").as("doc_a"),
            m.getField("doc_id").as("doc_b"),
            bit_count(a.getField("simhash")
              .bitwiseXOR(m.getField("simhash"))).cast("long")
              .as("hamming")))))).as("_p"))
      .select(col("_p.doc_a"), col("_p.doc_b"), col("_p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Probe the index for near-dups of a SMALL query set: the queries'
    * band buckets are collected driver-side (≤ 4×|queries| ints) and
    * pushed as `_sb` partition filters, so the scan touches only the
    * probed bucket directories — the interactive serving path.
    * `queries` needs `(doc_id, simhash)` (e.g. from
    * [[simhashValues]]). Returns `(q_id, n_id, hamming)`. */
  def simhashProbeIndexed(spark: SparkSession, path: String,
                          queries: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    val q = queries
      .select(col("doc_id").as("q_id"), col("simhash").as("q_sh"),
        bandRows(col("simhash")).as("_b"))
      .select(col("q_id"), col("q_sh"),
        col("_b.i").as("i"), col("_b.v").as("v"))
    // the build-time bucket count comes from the stored meta (deriving
    // it from observed directory names would break when top buckets
    // happen to be empty)
    val nBuckets = graft.view.IndexStore.readMeta(spark, path).buckets
    val probes = q
      .withColumn("_sb", bandBucket(col("i"), col("v"), nBuckets))
      .select(col("_sb")).distinct().collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(path + "/bands")
      .filter(col("_sb").isin(probes: _*))
      .select(col("doc_id").as("n_id"), col("simhash").as("n_sh"),
        col("i"), col("v"))
    q.join(c, Seq("i", "v"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        bit_count(col("q_sh").bitwiseXOR(col("n_sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup candidates: bucket by each of the four 16-bit
    * bands (two near-dups differing in ≤3 bits must agree on ≥1 band),
    * verify by hamming distance. */
  def simhashNearDups(docs: DataFrame, id: Column, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val h = simhashValues(docs, id, textCol)
    val banded = h.select(col("doc_id"), col("simhash"),
      explode(array((0 to 3).map(i =>
        struct(lit(i).as("i"),
          shiftright(col("simhash"), 16 * i)
            .bitwiseAND(lit(0xFFFFL)).as("b"))): _*)).as("_x"))
      .select(col("doc_id"), col("simhash"),
        col("_x.i").as("i"), col("_x.b").as("b"))
    // bucket-local pair expansion, one pass — same rationale as
    // minhashCandidatePairs (no self-join, no pipeline re-execution)
    val members = struct(col("doc_id"), col("simhash"))
    banded.groupBy(col("i"), col("b"))
      .agg(sort_array(collect_list(members)).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (a, ix) =>
        transform(slice(col("ms"), ix + 2, size(col("ms"))), m =>
          struct(a.getField("doc_id").as("doc_a"),
            m.getField("doc_id").as("doc_b"),
            bit_count(a.getField("simhash")
              .bitwiseXOR(m.getField("simhash"))).as("hamming")))))).as("_p"))
      .select(col("_p.doc_a"), col("_p.doc_b"), col("_p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --------------------------------------------- span-level exact dedup

  /** `(doc_id, _p, _h)` position-stamped word n-gram rows: like
    * [[shingleRows]] (same codegen'd posexplode + window-lead form,
    * same load-bearing leading repartition) but keeping the 0-based
    * token position and hashing the gram to its 16-byte md5 — the
    * shuffle key for the cross-document duplicate group is fixed-width
    * instead of carrying the n-token string (at corpus scale the gram
    * group shuffles one row per corpus TOKEN, so the payload width is
    * the bill). Docs shorter than `n` tokens contribute nothing — a
    * span of length ≥ n cannot exist in them. */
  private def spanGramRows(docs: DataFrame, id: Column, text: Column,
                           n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(id.cast("long").as("doc_id"), text.as("_text"))
      .repartition(parts, col("doc_id"))
    val toks = base.select(col("doc_id"),
      posexplode(Text.tokens(col("_text"))).as(Seq("_p", "_w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
    val withLeads = toks.select(col("doc_id") +: col("_p") +: col("_w") +:
      (1 until n).map(o => lead(col("_w"), o).over(w).as(s"_l$o")): _*)
    withLeads.filter(col(s"_l${n - 1}").isNotNull)
      .select(col("doc_id"), col("_p"),
        unhex(md5(concat_ws(" ",
          col("_w") +: (1 until n).map(o => col(s"_l$o")): _*))).as("_h"))
  }

  /** Span-level EXACT-substring duplicate detection — the
    * Lee-et-al-style pass modern LLM pipelines run AFTER doc-level
    * dedup: boilerplate, license headers and quoted chains repeat as
    * long token SPANS across otherwise-distinct documents, and
    * doc-level fingerprints never see them.
    *
    * Returns `(doc_id, span_start, span_end)` — maximal 0-based
    * token-position spans `[start, end)` of length ≥ n such that every
    * length-n window inside the span also occurs in at least one OTHER
    * document. Construction: hash every n-gram with its position, keep
    * grams whose md5 occurs in > 1 distinct doc (cross-document only;
    * an intra-doc repeat is repetition, not contamination — see
    * [[Text.repetitionScores]]), then merge overlapping/adjacent hits
    * (`p2 ≤ p1 + n`) into maximal spans with the lag/running-sum
    * session pattern (q15). Every copy is reported, in every doc.
    *
    * Scale: one shuffle on the 16-byte gram hash (row count = corpus
    * tokens, the same class as the MinHash shingle group), a semi-join
    * back, and per-doc windows — no all-pairs stage anywhere. */
  def duplicatedSpans(docs: DataFrame, id: Column, text: Column,
                      n: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "span gram length n must be >= 2")
    val grams = spanGramRows(docs, id, text, n)
    val dup = grams.groupBy(col("_h"))
      .agg(count_distinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") > 1).select(col("_h"))
    val hits = grams.join(dup, Seq("_h"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
    val lagP = lag(col("_p"), 1).over(w)
    val marked = hits
      .withColumn("_new",
        when(lagP.isNull || col("_p") > lagP + n, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(w))
    marked.groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("_p")).cast("long").as("span_start"),
        (max(col("_p")) + n).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Rewrite: drop every token covered by a [[duplicatedSpans]] span
    * (ALL copies are removed, the Lee-et-al choice — removing the
    * duplicated text everywhere is reported there as harmless to
    * model quality and needs no cross-doc "which copy keeps it"
    * coordination). Returns `(doc_id, clean_text)` for EVERY input
    * doc, `clean_text` being the surviving tokens joined by single
    * spaces (whitespace-normalized, like every tokenized pipeline
    * stage here).
    *
    * Row form throughout: tokens anti-join the span table on
    * `doc_id` + position-in-range, then reassemble per doc — the
    * per-token work stays in codegen; no higher-order-function
    * membership probe per token. */
  def removeSpans(docs: DataFrame, id: Column, text: Column,
                  spans: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = docs.select(id.cast("long").as("doc_id"), text.as("_text"))
      .repartition(parts, col("doc_id"))
    val toks = base.select(col("doc_id"),
      posexplode(Text.tokens(col("_text"))).as(Seq("_p", "_w")))
    val kept = toks.join(spans,
      toks("doc_id") === spans("doc_id") &&
        col("_p") >= col("span_start") && col("_p") < col("span_end"),
      "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("_p"), col("_w")))),
          x => x.getField("_w"))).as("clean_text"))
    // docs whose every token was covered (or that had no tokens) must
    // still appear, with an empty rewrite
    base.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Benchmark DECONTAMINATION — the train/test-overlap pass an LLM
    * data pipeline runs before training: for every corpus document,
    * how many of its DISTINCT token n-grams also appear anywhere in a
    * held-out benchmark corpus (the n-gram-overlap decontamination of
    * GPT-3 appendix C / PaLM-style reports). Returns one row per
    * corpus doc with ≥1 full n-gram:
    * `(doc_id, grams, hits, contamination)` where `grams` is the
    * distinct n-gram count, `hits` how many of those occur in the
    * benchmark set, and `contamination = hits/grams` rounded half-up
    * to 4 decimals (the cross-engine-stable construction used by every
    * ratio gate here). Callers drop or quarantine docs above a
    * threshold.
    *
    * Shape for 100 TB: grams travel as 16-byte md5 hashes
    * ([[spanGramRows]]), never as strings, so the corpus-side shuffle
    * is narrow; the benchmark gram set is distinct-reduced BEFORE the
    * join (benchmarks are small — AQE broadcasts the build side when
    * it fits, and the join stays a hash semi-probe otherwise); the
    * LEFT join + single groupBy computes totals and hits in ONE
    * aggregation pass instead of two scans of the gram table. No
    * collect, no cross product; cost is O(corpus grams). */
  def decontaminate(corpus: DataFrame, cid: Column, ctext: Column,
                    benchmark: DataFrame, bid: Column, btext: Column,
                    n: Int = 8): DataFrame = {
    require(n >= 2, s"decontamination gram length n must be >= 2, got $n")
    val cg = spanGramRows(corpus, cid, ctext, n)
      .select(col("doc_id"), col("_h")).distinct()
    val bg = spanGramRows(benchmark, bid, btext, n)
      .select(col("_h")).distinct().withColumn("_inb", lit(1L))
    cg.join(bg, Seq("_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("grams"),
        coalesce(sum(col("_inb")), lit(0L)).as("hits"))
      .withColumn("contamination",
        floor(col("hits").cast("double") / col("grams") * 10000 + 0.5)
          / 10000)
  }

  /** Corpus-level n-gram overlap — the dataset-vs-dataset audit
    * ("how much of corpus A's content is already in corpus B?") behind
    * dedup-across-dumps and train/eval leakage estimates, computed
    * EXACTLY: distinct shingle-hash sets per side, one equi-join on the
    * 16-byte hash, three partial-aggregated counts. Both sides
    * distinct-reduce BEFORE the join (the q97 decontamination
    * discipline) so the join carries each unique gram once, not its
    * every occurrence — at 100 TB the reduction is typically 10-100×.
    *
    * Returns ONE row: `(grams_a, grams_b, inter, containment_a,
    * jaccard)`, ratios rounded at 1e-4 (`containment_a` = the fraction
    * of A's distinct grams present in B). Sides must be non-empty. */
  def corpusOverlap(a: DataFrame, b: DataFrame, id: Column, text: Column,
                    n: Int = 3): DataFrame = {
    def grams(d: DataFrame) =
      shingleRows(d, id, text, n).select(md5(col("_s")).as("h")).distinct()
    val sa = grams(a)
    val sb = grams(b)
    val ca = sa.agg(count(lit(1)).as("grams_a"))
    val cb = sb.agg(count(lit(1)).as("grams_b"))
    val ci = sa.join(sb, "h").agg(count(lit(1)).as("inter"))
    ca.crossJoin(cb).crossJoin(ci).select(
      col("grams_a"), col("grams_b"), col("inter"),
      round4(col("inter").cast("double") / col("grams_a"))
        .as("containment_a"),
      round4(col("inter").cast("double") /
        (col("grams_a") + col("grams_b") - col("inter"))).as("jaccard"))
  }

  /** LEAKAGE-FREE train/eval split — the assignment step after corpus
    * dedup: rows split by their duplicate-CLUSTER canonical id, not
    * their own id, so two near-duplicate documents can NEVER straddle
    * the train/eval boundary (splitting by doc hash leaks eval content
    * into training through every surviving near-dup — the
    * contamination [[decontaminate]] measures, prevented by
    * construction here).
    *
    * `labels` is the total `(doc_id, kept_id)` mapping [[dedupCorpus]]
    * (or the persisted C8 index) produces. Clusters rank by the
    * md5-of-kept_id deterministic permutation and the first
    * `floor(nClusters·num/den)` become `"val"` — the
    * [[Relational.stratifiedSampleExact]] integer-quota rule at
    * CLUSTER grain, so the realized fraction is exact ±1 cluster and
    * reproducible across engines and runs.
    *
    * Scale: the rank runs over DISTINCT clusters (≤ docs, typically
    * ≪), via the two-phase global rank — no single-task window; the
    * assignment joins back on `kept_id`, a narrow 2-column build side
    * (AQE broadcasts it when small). One scalar cluster-count
    * aggregate reaches the driver. */
  def assignClusterSplits(labels: DataFrame, valNum: Int,
                          valDen: Int): DataFrame = {
    require(valNum >= 0 && valDen > 0,
      "val quota must be num/den with den > 0")
    val clusters = labels.select(col("kept_id")).distinct()
      .withColumn("_h", md5(col("kept_id").cast("string").cast("binary")))
    val ranked = Relational.withGlobalRowNumber(clusters,
      Seq(col("_h"), col("kept_id")), "_r")
    val n = ranked.count()
    val assigned = ranked.select(col("kept_id"),
      when(col("_r") * valDen <= lit(n) * valNum, lit("val"))
        .otherwise(lit("train")).as("split"))
    labels.join(assigned, Seq("kept_id"))
      .select(col("doc_id"), col("kept_id"), col("split"))
  }

  /** Paragraph-level corpus dedup — the RefinedWeb/Dolma
    * "dedupe paragraphs" pass: a unit of text (paragraph, line, cell)
    * that repeats ACROSS the corpus survives only at its FIRST
    * occurrence in document order; every later copy is dropped and the
    * documents rewritten. Sits between doc-level dedup (C1: whole-doc
    * only) and span dedup (C9: n-gram spans, removes ALL copies) —
    * boilerplate paragraphs are killed everywhere EXCEPT one canonical
    * home, so no content is lost from the corpus.
    *
    * `paras` must be an `array<string>` column (the caller picks the
    * unit: `split(text, "\n\n")` for real paragraphs, lines, table
    * rows…). Keep rule, exact and engine-replayable: an instance
    * `(doc, pos)` survives iff `struct(doc_id, pos)` is the MINIMUM
    * over all instances sharing `md5(trim(para))`; blank/whitespace
    * paragraphs are never deduped (they carry layout, not content).
    *
    * Returns one row per input doc: `(doc_id, clean_text, n_paras,
    * n_kept)` with `clean_text` = surviving paragraphs in original
    * order joined by `sep`.
    *
    * Scale shape: paragraphs travel as 16-byte hashes; the keeper per
    * hash is a `min(struct)` GROUP BY — partial-aggregated map-side
    * (a window over the hash would sort without combining). Join back
    * on the hash (same shuffle key), filter to the keeper instance,
    * one groupBy doc to reassemble. Two shuffles total, both narrow;
    * no all-pairs anywhere. */
  def dedupParagraphs(docs: DataFrame, id: Column, paras: Column,
                      sep: String = "\n\n"): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // the explicit exchange is load-bearing twice over: (1) `_ps` is
    // consumed by BOTH the keeper aggregate and the join-back branch,
    // and AQE reuses an identical Exchange subtree, so an expensive
    // caller-side `paras` derivation (e.g. a chunking lambda) computes
    // ONCE instead of per consumer; (2) it pre-partitions on doc_id,
    // which the reassembly groupBy and the final doc join then reuse
    // without further shuffles. Measured 2.2× on the q141 drive.
    val base = docs.select(id.cast("long").as("doc_id"), paras.as("_ps"))
      .repartition(parts, col("doc_id"))
    val inst = base.select(col("doc_id"),
        posexplode(col("_ps")).as(Seq("_p", "_para")))
      .withColumn("_h", unhex(md5(trim(col("_para")))))
      .withColumn("_blank", trim(col("_para")) === "")
    val keepers = inst.filter(!col("_blank"))
      .groupBy(col("_h"))
      .agg(min(struct(col("doc_id"), col("_p"))).as("_keep"))
    val kept = inst.join(keepers, Seq("_h"), "left")
      .filter(col("_blank") ||
        (col("_keep.doc_id") === col("doc_id") && col("_keep._p") === col("_p")))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(concat_ws(sep,
          transform(sort_array(collect_list(struct(col("_p"), col("_para")))),
            x => x.getField("_para"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col("doc_id"), size(col("_ps")).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
