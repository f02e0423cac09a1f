package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** End-to-end training-data pipeline compositions — the stages exist
  * individually ([[Text.qualityFilter]], [[Dedup.dedupCorpusBest]],
  * [[Dedup.decontaminate]], [[Relational.temperatureMix]],
  * [[Relational.epochShuffle]], [[Text.packSequences]]); this object
  * proves they COMPOSE: one call takes a raw document corpus to
  * packed, shuffled training sequences, and the whole chain replays
  * in the DuckDB oracle (gate q264). */
object Pipeline {

  /** The CORPUS RELEASE: the canonical pre-training data pipeline as
    * ONE relational expression —
    *
    *   quality filter → near-dup dedup (quality-best canonicals) →
    *   benchmark decontamination → temperature-weighted domain mix →
    *   deterministic epoch shuffle → fixed-length sequence packing.
    *
    * Every stage keeps the engine-portable determinism its standalone
    * operator has (md5-keyed sampling/shuffle, exact integer
    * thresholds, 1e-4 fixed-point ratios), so the END of the chain is
    * hash-gated against the oracle, not just each link.
    *
    * Returns one row per (document, sequence) overlap:
    * `(doc_id, pos, grp, seq, seq_start, seq_end, tok_start,
    * tok_end)` — `pos` is the document's epoch-shuffle position,
    * `grp` its round-robin packing shard `(pos−1) mod nShards`, and
    * the slice columns follow [[Text.packSequences]]'s contract
    * (documents concatenate in shuffle order within a shard).
    *
    * Scale shape: each stage is the standalone operator — no new
    * shuffles are introduced by the composition itself; the only
    * mid-pipeline action is ONE `count()` of the decontaminated
    * corpus to resolve the mix budget (`budgetOf`), the number a
    * release pipeline must know anyway to bill its token budget.
    *
    * `minTokens >= contaminationN` is required: a doc shorter than
    * one n-gram emits no row from [[Dedup.decontaminate]] and would
    * silently skip the contamination check; the quality stage's
    * length floor closes that hole by construction. */
  def corpusRelease(docs: DataFrame, id: Column, text: Column,
                    lang: Column, score: Column, domain: Column,
                    benchmark: DataFrame, bid: Column, btext: Column,
                    seed: String, seqLen: Int = 128, nShards: Int = 16,
                    minTokens: Long = 15, maxTokens: Long = 90,
                    minQuality: Double = 0.55,
                    allowedLangs: Seq[String] = Seq("en", "de", "zh"),
                    maxDupTokenFrac: Double = 0.6,
                    maxTopBigramFrac: Double = 0.1,
                    contaminationN: Int = 8,
                    maxContamination: Double = 0.05,
                    budgetOf: Long => Long = _ / 2): DataFrame = {
    require(minTokens >= contaminationN,
      s"corpusRelease: minTokens ($minTokens) must be >= the " +
        s"decontamination gram length ($contaminationN) — shorter " +
        "docs would skip the contamination check entirely")
    val base = docs.select(id.cast("long").as("doc_id"),
      text.cast("string").as("text"), lang.cast("string").as("lang"),
      score.cast("double").as("_score"),
      domain.cast("string").as("_dom"))
    // 1. document-level quality (Gopher/C4-style reason chain)
    val kept = Text.qualityFilter(base, col("doc_id"), col("text"),
        minTokens, maxTokens, minQuality, allowedLangs,
        maxDupTokenFrac, maxTopBigramFrac, lang = Some(col("lang")))
      .filter(col("keep")).select(col("doc_id"))
    // pin each stage boundary: without the checkpoints the quality
    // tokenization forest rides INSIDE every consumer — d1 is embedded
    // ~4x through [[Dedup.dedupCorpusBest]] (fingerprint pass, shingle
    // pass, score join, mapping join) plus d2's own semi join, and d2
    // is embedded twice more (decontamination + the d3 cut), so the
    // most expensive stage re-ran many times per release (guide §1.2
    // — don't compute things you throw away). Checkpoint once per
    // stage boundary; d1/d2 are released as soon as d3 (eager) has
    // materialized past them.
    val d1 = base.join(kept, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    try {
      // 2. exact + near-dup dedup, keeping each cluster's best doc
      val mapping = Dedup.dedupCorpusBest(d1, col("doc_id"), col("text"),
        col("_score"))
      val d2 = d1.join(
        mapping.select(col("kept_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
        .localCheckpoint()
      try {
        // 3. benchmark decontamination (distinct n-gram containment)
        val cont = Dedup.decontaminate(d2, col("doc_id"), col("text"),
          benchmark, bid, btext, contaminationN)
        // d3 stays pinned: the budget count below and the returned
        // plan both consume it, and the result is returned lazily so
        // there is no unpersist point
        val d3 = d2.join(
          cont.filter(col("contamination") <= maxContamination)
            .select(col("doc_id")),
          Seq("doc_id"), "left_semi")
          .localCheckpoint()
        // 4-6. the mix → shuffle → pack tail, shared with the delta
        // release path so the two can never drift
        releaseTail(d3, budgetOf(d3.count()), seed, seqLen, nShards)
      } finally Bridge.release(d2)
    } finally Bridge.release(d1)
  }

  /** Stages 4-6 of the release — temperature-weighted domain mix to
    * `budget`, deterministic epoch shuffle, fixed-length packing in
    * shuffle order across round-robin shards (the packing id IS the
    * shuffle position, joined back to the document id). Shared by
    * [[corpusRelease]] (from scratch) and [[releaseFromState]]
    * (delta-maintained), so the served tail is one code path. */
  private def releaseTail(d3: DataFrame, budget: Long, seed: String,
                          seqLen: Int, nShards: Int): DataFrame = {
    val mixed = Relational.temperatureMix(d3, col("_dom"),
      col("doc_id"), budget)
    val shuffled = Relational.epochShuffle(
      mixed.select(col("doc_id"), col("text")), col("doc_id"), seed)
    Text.packSequences(shuffled, col("pos"), col("text"), seqLen,
        group = pmod(col("pos") - 1, lit(nShards.toLong)))
      .withColumnRenamed("doc_id", "pos")
      .join(shuffled.select(col("doc_id"), col("pos")), Seq("pos"))
      .select(col("doc_id"), col("pos"), col("grp"), col("seq"),
        col("seq_start"), col("seq_end"), col("tok_start"),
        col("tok_end"))
  }

  // ---------------- DELTA corpus release (maintained state) --------

  /** The thresholds of a release pipeline, PERSISTED with its state:
    * a delta recomputing verdicts under different thresholds than the
    * build would silently mix regimes, so the state dir is the single
    * source of truth and [[releaseDelta]] reads them back. */
  final case class ReleaseParams(minTokens: Long = 15,
                                 maxTokens: Long = 90,
                                 minQuality: Double = 0.55,
                                 allowedLangs: Seq[String] =
                                   Seq("en", "de", "zh"),
                                 maxDupTokenFrac: Double = 0.6,
                                 maxTopBigramFrac: Double = 0.1,
                                 contaminationN: Int = 8,
                                 maxContamination: Double = 0.05)

  /** On-disk layout version of the release state. */
  val StateFormat = 1

  private def docsDir(path: String) = path + "/docs"
  private def fpsDir(path: String) = path + "/fps"
  private def dedupDir(path: String) = path + "/dedup"

  /** True iff a release state of the current layout exists; an
    * unreadable `params` stamp throws, naming the path. */
  def stateCurrent(spark: SparkSession, path: String): Boolean =
    graft.view.IndexStore.stampIs(spark, path + "/params", StateFormat)

  private def writeParams(spark: SparkSession, path: String,
                          p: ReleaseParams): Unit = {
    import spark.implicits._
    Seq((StateFormat, p.minTokens, p.maxTokens, p.minQuality,
        p.allowedLangs, p.maxDupTokenFrac, p.maxTopBigramFrac,
        p.contaminationN, p.maxContamination))
      .toDF("fmt", "min_tokens", "max_tokens", "min_quality",
        "allowed_langs", "max_dup_frac", "max_bigram_frac",
        "contamination_n", "max_contamination")
      .coalesce(1).write.mode("overwrite").parquet(path + "/params")
  }

  private def readParams(spark: SparkSession,
                         path: String): ReleaseParams = {
    val r = spark.read.parquet(path + "/params").head()
    require(r.getAs[Int]("fmt") == StateFormat,
      s"release state at $path has layout fmt ${r.getAs[Int]("fmt")}, " +
        s"need $StateFormat — rebuild with releaseInit")
    ReleaseParams(r.getAs[Long]("min_tokens"), r.getAs[Long]("max_tokens"),
      r.getAs[Double]("min_quality"),
      r.getAs[scala.collection.Seq[String]]("allowed_langs").toSeq,
      r.getAs[Double]("max_dup_frac"), r.getAs[Double]("max_bigram_frac"),
      r.getAs[Int]("contamination_n"), r.getAs[Double]("max_contamination"))
  }

  /** Per-doc pipeline verdicts — the ONLY text analysis the release
    * ever runs: quality (per-doc signals), contamination (per-doc vs
    * the static benchmark), exact-dup fingerprint. Shared by
    * [[releaseInit]] (whole corpus) and [[releaseDelta]] (changed
    * docs only) so both regimes are one code path. */
  private def verdictsOf(docs: DataFrame, id: Column, text: Column,
                         lang: Column, score: Column, domain: Column,
                         benchmark: DataFrame, bid: Column,
                         btext: Column, p: ReleaseParams): DataFrame = {
    val base = docs.select(id.cast("long").as("doc_id"),
      text.cast("string").as("text"), lang.cast("string").as("lang"),
      score.cast("double").as("_score"),
      domain.cast("string").as("_dom"))
    val q = Text.qualityFilter(base, col("doc_id"), col("text"),
        p.minTokens, p.maxTokens, p.minQuality, p.allowedLangs,
        p.maxDupTokenFrac, p.maxTopBigramFrac,
        lang = Some(col("lang")))
      .select(col("doc_id"), col("keep").as("q_keep"))
    val cont = Dedup.decontaminate(base, col("doc_id"), col("text"),
        benchmark, bid, btext, p.contaminationN)
      .select(col("doc_id"), col("contamination"))
    base.join(q, Seq("doc_id"))
      .join(cont, Seq("doc_id"), "left")
      .withColumn("_fp", Text.fingerprint(col("text")))
  }

  /** Build the MAINTAINED release state at `path` from the full
    * corpus — the amortized form of [[corpusRelease]] for a pipeline
    * that re-releases from a change feed instead of re-reading 100 TB:
    * {{{
    * path/
    *   docs/_b=<b>/  (doc_id, text, lang, _score, _dom, _fp, q_keep,
    *                 contamination) — per-doc verdicts, id-bucketed
    *   fps/_fb=<b>/  (_fp, doc_id) of QUALITY-KEPT docs, fp-bucketed —
    *                 the exact-dup tier's group lookup
    *   dedup/        [[DedupIndex]] over the exact-tier KEEPERS (the
    *                 min-id member of each fp group) — precisely the
    *                 doc set [[Dedup.dedupCorpus]] LSH-clusters, so
    *                 maintained clusters == from-scratch clusters
    *   params/       the persisted [[ReleaseParams]] + layout fmt
    *   _graft_meta   update_seq + bucket count
    * }}}
    * [[releaseFromState]] then serves the release with NO text
    * re-analysis beyond packing's token count, and [[releaseDelta]]
    * keeps every layer current at O(delta). */
  def releaseInit(docs: DataFrame, id: Column, text: Column,
                  lang: Column, score: Column, domain: Column,
                  benchmark: DataFrame, bid: Column, btext: Column,
                  path: String, params: ReleaseParams = ReleaseParams(),
                  nBuckets: Int = 64,
                  /** The dedup tier's OWN bucket budget; `0` (the
                    * default) inherits `nBuckets`, so the tier's
                    * per-bucket size tracks the corpus exactly like
                    * the docs/fps layers and a FIXED delta's touched-
                    * bucket I/O stays ~flat as the corpus grows. The
                    * [[DedupIndex]] v3 members layout makes this safe:
                    * member sub-bucketing is a CONSTANT factor
                    * ([[DedupIndex.MemberSub]]), so directories are
                    * linear in the budget, never nB². Override only
                    * when the keeper population is known to be much
                    * smaller than the corpus. */
                  dedupBuckets: Int = 0, seq: Long = 0L): Unit = {
    import graft.view.{IndexMeta, IndexStore}
    require(params.minTokens >= params.contaminationN,
      "releaseInit: minTokens must be >= contaminationN " +
        "(the corpusRelease contract)")
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val v = verdictsOf(docs, id, text, lang, score, domain,
        benchmark, bid, btext, params)
      .withColumn("_b", IndexStore.idBucket(col("doc_id"), nBuckets))
    v.repartition(col("_b"))
      .sortWithinPartitions(col("_b"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_b").parquet(docsDir(path))
    val stored = spark.read.parquet(docsDir(path))
    stored.filter(col("q_keep")).select(col("_fp"), col("doc_id"))
      .withColumn("_fb", IndexStore.idBucket(col("_fp"), nBuckets))
      .repartition(col("_fb"))
      .sortWithinPartitions(col("_fb"), col("_fp"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_fb").parquet(fpsDir(path))
    val keeperIds = spark.read.parquet(fpsDir(path))
      .groupBy(col("_fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val keeperDocs = stored
      .join(keeperIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    DedupIndex.build(keeperDocs, col("doc_id"), col("text"),
      dedupDir(path),
      nBuckets = if (dedupBuckets > 0) dedupBuckets else nBuckets,
      seq = seq)
    writeParams(spark, path, params)
    IndexStore.writeMeta(spark, path, IndexMeta(seq, nBuckets, Nil))
  }

  /** Apply ONE change batch to the release state — the A27 delta
    * composed with the maintained layers, everything bounded by the
    * batch, never the corpus:
    *  1. `changedDocs` (new content) re-run the per-doc verdicts
    *     (quality, contamination, fingerprint) — O(delta) text work;
    *  2. their `docs/` id buckets are rewritten;
    *  3. the fp groups they enter or leave re-elect keepers from the
    *     fp-pruned `fps/` buckets;
    *  4. keeper changes flow into the [[DedupIndex]] as upserts and
    *     retirements — its own maintenance re-clusters only the
    *     touched membership, and commits first; `docs/` and `fps/`
    *     then commit together, so a replay after a crash sees this
    *     store's pre-state and repeats the same nested upsert.
    * An EMPTY batch touches nothing (the no-op re-release: the state
    * is byte-identical, so [[releaseFromState]] returns the identical
    * release). Returns the number of keeper upserts + retirements the
    * dedup tier processed. */
  def releaseDelta(spark: SparkSession, path: String,
                   changedDocs: DataFrame, id: Column, text: Column,
                   lang: Column, score: Column, domain: Column,
                   benchmark: DataFrame, bid: Column, btext: Column,
                   deletedIds: Seq[Long] = Nil,
                   newSeq: Long = -1L): Long = {
    import graft.view.IndexStore
    import IndexStore.Write
    import spark.implicits._
    // this store's record and its nested dedup tier's, each rolled
    // forward before the batch reads them
    IndexStore.finishSwap(spark, path)
    IndexStore.finishSwap(spark, dedupDir(path))
    val meta = IndexStore.readMeta(spark, path)
    val nB = meta.buckets
    val params = readParams(spark, path)
    val d = IndexStore.Delta(changedDocs, id.cast("long"), deletedIds)
    // localCheckpoint, not persist: the verdicts subtree (quality
    // expression forest + decontamination joins) would otherwise ride
    // INSIDE every downstream plan that references this relation —
    // through the DedupIndex.upsert boundary the repeated embedding
    // multiplies plan TEXT to heap-killing size under AQE's per-stage
    // explain. The checkpoint truncates lineage to a leaf.
    val newV = verdictsOf(d.live, id, text, lang, score, domain,
        benchmark, bid, btext, params)
      .withColumn("_b", IndexStore.idBucket(col("doc_id"), nB))
      .localCheckpoint()
    val cids = d.changedIds(id.cast("long")).toDF("doc_id").distinct()
      .localCheckpoint()
    // every intermediate checkpoint is registered here and released in
    // the finally: a leaked checkpoint block survives the call and,
    // over a long-lived session (the bench, a streaming driver),
    // accumulated blocks crowd the unified memory region and slow
    // every later job (guide §5 — cached data competes with execution
    // memory; unpersist when done)
    val pins = scala.collection.mutable.ListBuffer[DataFrame](newV, cids)
    def pin(df: DataFrame): DataFrame = { pins += df; df }
    try {
      val bs = cids.withColumn("_b", IndexStore.idBucket(col("doc_id"), nB))
        .select(col("_b")).distinct().collect().map(_.getInt(0)).toSeq
      if (bs.isEmpty) return 0L // empty batch: the no-op re-release
      // every read below sees the store as it stands; docs/ and fps/
      // commit together after the dedup tier has committed
      val docRows = IndexStore.readBuckets(spark, docsDir(path), "_b", bs)
        .filter(col("_b").isin(bs: _*))
      val oldRows = pin(docRows
        .join(cids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("_fp"), col("q_keep"))
        .localCheckpoint()) // lineage cut
      val survivors = docRows.join(cids, Seq("doc_id"), "left_anti")
      val mergedDocs = survivors
        .unionByName(newV.select(survivors.columns.map(col): _*))
      val docsW = Write.sorted(docsDir(path), "_b", bs, mergedDocs,
        Seq(col("_b"), col("doc_id")))
      // ---- affected fp groups: entered or left by a changed doc
      val affFps = pin((oldRows.filter(col("q_keep")).select(col("_fp"))
          unionByName newV.filter(col("q_keep")).select(col("_fp")))
        .distinct().localCheckpoint())
      val fbs = affFps.withColumn("_fb", IndexStore.idBucket(col("_fp"), nB))
        .select(col("_fb")).distinct().collect().map(_.getInt(0)).toSeq
      val (dedupWork, fpsW) = if (fbs.isEmpty) (0L, None) else {
        val fpRows = IndexStore.readBuckets(spark, fpsDir(path), "_fb", fbs)
          .filter(col("_fb").isin(fbs: _*))
        val oldKeepers = pin(fpRows
          .join(affFps, Seq("_fp"), "left_semi")
          .groupBy(col("_fp")).agg(min(col("doc_id")).as("old_k"))
          .localCheckpoint()) // lineage cut
        // ---- fps/: drop the changed ids' rows, add new q-kept
        val mergedFps = fpRows
          .join(cids, Seq("doc_id"), "left_anti")
          .select(col("_fp"), col("doc_id"), col("_fb"))
          .unionByName(newV.filter(col("q_keep"))
            .select(col("_fp"), col("doc_id"))
            .withColumn("_fb", IndexStore.idBucket(col("_fp"), nB))
            .filter(col("_fb").isin(fbs: _*)))
        // ---- keeper diff → dedup-index maintenance
        val newKeepers = mergedFps
          .join(affFps, Seq("_fp"), "left_semi")
          .groupBy(col("_fp")).agg(min(col("doc_id")).as("new_k"))
        val diff = pin(oldKeepers.join(newKeepers, Seq("_fp"),
          "full_outer").localCheckpoint())
        // keeper churn is decided at the ID level, not per fp slot:
        // a changed doc whose old fp group vanished and whose new
        // fp group promotes the SAME id is still a keeper — a
        // per-slot diff would list it as both retired and promoted,
        // and the dedup tier's tombstone rule would then ERASE it
        // (deletions beat upserts for the same id)
        val oldSet = diff.filter(col("old_k").isNotNull)
          .select(col("old_k").as("doc_id")).distinct()
        val newSet = diff.filter(col("new_k").isNotNull)
          .select(col("new_k").as("doc_id")).distinct()
        val retired = oldSet.join(newSet, Seq("doc_id"), "left_anti")
          .collect().map(_.getLong(0)).toSeq
        // newly-minted keepers, PLUS standing keepers whose doc
        // content changed in this batch (same keeper id, new bands)
        val promoted = newSet.join(oldSet, Seq("doc_id"), "left_anti")
        val touched = newSet.join(cids, Seq("doc_id"), "left_semi")
        val upsertIds = pin(promoted.unionByName(touched).distinct()
          .localCheckpoint())
        val nUp = upsertIds.count()
        if (nUp > 0 || retired.nonEmpty) {
          val ubs = upsertIds
            .withColumn("_b", IndexStore.idBucket(col("doc_id"), nB))
            .select(col("_b")).distinct().collect().map(_.getInt(0))
            .toSeq
          // the keepers' texts after the batch; checkpointed again at
          // the operator boundary: everything DedupIndex.upsert builds
          // references this relation many times over
          val upsertDocs = pin(IndexStore.readBuckets(spark,
              docsDir(path), "_b", ubs)
            .filter(col("_b").isin(ubs: _*))
            .join(cids, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("text"))
            .unionByName(newV.select(col("doc_id"), col("text")))
            .join(upsertIds, Seq("doc_id"), "left_semi")
            .localCheckpoint())
          DedupIndex.upsert(spark, dedupDir(path), upsertDocs,
            col("doc_id"), col("text"), deletedIds = retired,
            newSeq = newSeq)
        }
        (nUp + retired.size, Some(Write.sorted(fpsDir(path), "_fb", fbs,
          mergedFps, Seq(col("_fb"), col("_fp"), col("doc_id")))))
      }
      IndexStore.commitBatch(spark, path, docsW +: fpsW.toSeq,
        Option.when(newSeq >= 0)(meta.copy(updateSeq = newSeq)))
      dedupWork
    } finally pins.foreach(Bridge.release)
  }

  /** Serve the release from the MAINTAINED state: reconstruct the
    * kept set from stored verdicts (quality cut, fp-group → keeper →
    * cluster mapping, argmax-score canonicals with the
    * [[Dedup.dedupCorpusBest]] tie rule, contamination cut), then the
    * shared [[releaseTail]]. Identical output to [[corpusRelease]]
    * over the current corpus — the q273 gate replays exactly that —
    * but the serve never re-tokenizes for quality, never re-shingles,
    * never re-clusters: the only text touched is packing's token
    * count over the RELEASED docs. */
  def releaseFromState(spark: SparkSession, path: String, seed: String,
                       seqLen: Int = 128, nShards: Int = 16,
                       budgetOf: Long => Long = _ / 2): DataFrame = {
    val params = readParams(spark, path)
    val d = spark.read.parquet(docsDir(path))
    val dk = d.filter(col("q_keep"))
    val keepers = spark.read.parquet(fpsDir(path))
      .groupBy(col("_fp")).agg(min(col("doc_id")).as("_keeper"))
    val labels = DedupIndex.clusters(spark, dedupDir(path))
      .select(col("doc_id").as("_keeper"), col("cluster_id").as("_rep"))
    // pin the doc-verdict ⋈ keeper ⋈ cluster relation: it feeds BOTH
    // the per-cluster argmax and the survivor cut, and without the pin
    // the docs/fps/cluster reads run twice (guide §1.2); released as
    // soon as d3 (eager) has materialized past it
    val mapped = dk.join(keepers, Seq("_fp"))
      .join(labels, Seq("_keeper"), "left")
      .withColumn("_cl", coalesce(col("_rep"), col("_keeper")))
      .localCheckpoint()
    try {
      // the dedupCorpusBest argmax: min(struct(-score, id)), null
      // scores coalesced to -Inf so they only win all-null clusters
      val best = mapped.groupBy(col("_cl"))
        .agg(min(struct(
          (-coalesce(col("_score"), lit(Double.NegativeInfinity))).as("n"),
          col("doc_id").as("i"))).as("_bst"))
        .select(col("_bst.i").as("doc_id"))
      val d3 = mapped.join(best, Seq("doc_id"), "left_semi")
        .filter(col("contamination") <= params.maxContamination)
        .select(col("doc_id"), col("text"), col("lang"), col("_score"),
          col("_dom"))
        .localCheckpoint()
      releaseTail(d3, budgetOf(d3.count()), seed, seqLen, nShards)
    } finally Bridge.release(mapped)
  }
}
