package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gfunctions.round4
import graft.view.IndexStore.Delta

/** Full-text keyword search: BM25 relevance scoring, both as a direct
  * corpus-scan operator and served from a PERSISTED inverted index —
  * the text counterpart of the ANN signature/IVF indexes (build once,
  * probe-prune at serve time).
  *
  * Everything is builtin-function composition over [[Text.tokens]]
  * (codegen'd, oracle-replayable). Scoring keeps every floating-point
  * step in a FIXED expression order (per-term conditional aggregates
  * summed in sorted-term order) so the oracle engine reproduces the
  * doubles bit-for-bit before the final round4.
  */
object TextSearch {

  /** Token-analysis options for a text index: lowercasing, stopword
    * removal and light suffix stemming (the Harman "S-stemmer" —
    * `-ies→-y`, `-es→-e`, `-s→∅` with the standard exception lists; a
    * deterministic rule set expressible identically as Spark Columns,
    * driver-side JVM string ops, and oracle SQL). The analyzer is
    * STAMPED into the index's stats row at build time and re-applied
    * to query terms at serve time, so two differently-analyzed
    * artifacts are distinguishable on disk and a query can never be
    * tokenized differently from the corpus it searches.
    *
    * Note the must-match semantics downstream: a query term that IS a
    * stopword of the index has no postings — it contributes zero to
    * BM25 sums and (correctly) empties must-all operators like phrase
    * and boolean search, the standard behavior of stopworded indexes. */
  final case class Analyzer(lowercase: Boolean = true,
                            stopwords: Seq[String] = Nil,
                            stem: Boolean = false) {
    require(stopwords.distinct == stopwords,
      "stopwords must be distinct")
    /** Canonical (sorted) stopword list — the stored form. */
    def sortedStop: Seq[String] = stopwords.sorted
    /** Canonical form (stopwords sorted) — what the index stamps and
      * what [[requireAnalyzer]] compares; stopword ORDER never changes
      * analysis. */
    def canonical: Analyzer = copy(stopwords = sortedStop)
    /** Column-side token pipeline: raw text → analyzed token array.
      * With the default options this IS [[Text.tokens]], so default
      * indexes are bit-compatible with pre-analyzer builds. */
    def tokens(text: Column): Column = {
      val base = if (lowercase) Text.tokens(text) else Text.tokensCased(text)
      val stopped =
        if (stopwords.isEmpty) base
        else filter(base, w => !w.isin(stopwords: _*))
      if (!stem) stopped else transform(stopped, Analyzer.stemCol(_))
    }
    /** Driver-side normalization of ONE query term — must mirror the
      * Column pipeline exactly (bucket routing hashes the normalized
      * term). Stopword terms pass through UN-STEMMED: the index removes
      * stopwords BEFORE stemming, so a stopword never reaches
      * [[Analyzer.stemCol]] — stemming it here could collide with some
      * other term's indexed form (e.g. stopword "ties" stems to "ty")
      * and break the contract that a stopword query term has no
      * postings. */
    def queryTerm(t: String): String = {
      val l = if (lowercase) t.toLowerCase(java.util.Locale.ROOT) else t
      if (stem && !stopwords.contains(l)) Analyzer.stemJvm(l) else l
    }
    /** Normalize a distinct query-term list; terms that collapse to
      * the same analyzed form deduplicate (first occurrence wins). */
    def queryTerms(ts: Seq[String]): Seq[String] =
      ts.map(queryTerm).distinct
  }

  object Analyzer {
    /** Harman S-stemmer, Column side. */
    private[TextSearch] def stemCol(w: Column): Column =
      when(length(w) >= 4 && w.endsWith("ies") &&
           !w.endsWith("eies") && !w.endsWith("aies"),
        concat(w.substr(lit(1), length(w) - 3), lit("y")))
      .when(length(w) >= 3 && w.endsWith("es") &&
            !w.endsWith("aes") && !w.endsWith("ees") && !w.endsWith("oes"),
        w.substr(lit(1), length(w) - 1))
      .when(length(w) >= 3 && w.endsWith("s") &&
            !w.endsWith("us") && !w.endsWith("ss"),
        w.substr(lit(1), length(w) - 1))
      .otherwise(w)
    /** Harman S-stemmer, JVM side — mirrors [[stemCol]] rule for rule. */
    private[graft] def stemJvm(w: String): String =
      if (w.length >= 4 && w.endsWith("ies") &&
          !w.endsWith("eies") && !w.endsWith("aies")) w.dropRight(3) + "y"
      else if (w.length >= 3 && w.endsWith("es") &&
               !w.endsWith("aes") && !w.endsWith("ees") &&
               !w.endsWith("oes")) w.dropRight(1)
      else if (w.length >= 3 && w.endsWith("s") &&
               !w.endsWith("us") && !w.endsWith("ss")) w.dropRight(1)
      else w
  }

  /** The analyzer stamped into the index at `path`. */
  def analyzerOf(spark: SparkSession, path: String): Analyzer =
    statsOf(spark, path).analyzer

  /** Loud guard for callers that EXPECT a specific analyzer: opening
    * an index built with different options fails with the two
    * identities side by side instead of silently under-recalling. */
  def requireAnalyzer(spark: SparkSession, path: String,
                      expected: Analyzer): Unit = {
    val stored = analyzerOf(spark, path)
    require(stored == expected.canonical,
      s"analyzer mismatch at $path: index was built with $stored " +
        s"but the caller expects ${expected.canonical} — rebuild the " +
        "index or query with the stored analyzer")
  }

  /** CouchDB's `POST /db/_search_analyze` — the analyzer debugging
    * read (Clouseau's `analyze` call): run ONE text through an
    * analyzer pipeline and return the emitted tokens as
    * `(pos, token)` rows in emission order. `pos` is the token's
    * 0-based position AFTER stopword removal — exactly the position
    * the positional postings store, so what this endpoint shows is
    * byte-for-byte what [[termFreqs]] would index. A driver-literal
    * relation: no data read, one local-projection job. */
  def searchAnalyze(spark: SparkSession, text: String,
                    analyzer: Analyzer = Analyzer()): DataFrame = {
    import spark.implicits._
    Seq(text).toDF("_t")
      .select(posexplode(analyzer.tokens(col("_t"))))
      .select(col("pos"), col("col").as("token"))
  }

  /** The corpus form of [[searchAnalyze]]: every document's analyzed
    * token stream as `(doc_id, pos, token)` — the same Column
    * pipeline the index build runs ([[Analyzer.tokens]]), exposed as
    * a relation so a pipeline can audit EXACTLY what would be
    * indexed (per-doc, per-position) before paying for the build.
    * One narrow projection + explode, fully codegen; nothing is
    * collected or re-tokenized per row. */
  def analyzeCorpus(docs: DataFrame, id: Column, text: Column,
                    analyzer: Analyzer = Analyzer()): DataFrame =
    docs.select(id.cast("long").as("doc_id"), text.as("_text"))
      .select(col("doc_id"), posexplode(analyzer.tokens(col("_text"))))
      .select(col("doc_id"), col("pos"), col("col").as("token"))

  /** `(doc_id, term, tf, dl, pos)` POSITIONAL term-frequency rows;
    * `dl` (the document's token count) is denormalized onto every row
    * so scoring never joins a separate lengths table, and `pos` (the
    * sorted 0-based token positions, |pos| = tf) makes the postings a
    * positional index — phrase adjacency resolves inside the posting
    * rows, the classic inverted-index design. The leading
    * explicit-count repartition parallelizes the explode over small
    * single-partition file scans (same rationale as
    * [[Dedup.shingleRows]]). */
  def termFreqs(docs: DataFrame, id: Column, text: Column,
                analyzer: Analyzer = Analyzer()): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.select(id.cast("long").as("doc_id"), text.as("_text"))
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), analyzer.tokens(col("_text")).as("_ws"))
      .select(col("doc_id"), size(col("_ws")).cast("long").as("dl"),
        posexplode(col("_ws")).as(Seq("_p", "term")))
      .groupBy(col("doc_id"), col("term"))
      // dl is constant per doc; max() rather than first() so the plan
      // is deterministic by construction, not by argument
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("_p"))).as("pos"))
  }

  /** Okapi BM25 per-term weight. All operands double, left-associated
    * exactly as the oracle SQL writes it. */
  private def bm25Weight(tf: Column, dl: Column, df: Column, n: Column,
                         avgdl: Column, k1: Double, b: Double): Column = {
    val idf = log(((n - df).cast("double") + lit(0.5)) /
      (df.cast("double") + lit(0.5)) + lit(1.0))
    idf * (tf.cast("double") * lit(k1 + 1.0)) /
      (tf.cast("double") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * dl.cast("double") / avgdl))
  }

  /** Per-doc BM25 scores for a LITERAL query (the scan path: computes
    * df/N/avgdl from the corpus in the same pass). Returns
    * `(doc_id, score)` for docs matching ≥1 term. The per-term partial
    * scores are assembled with one conditional aggregate per query term
    * and added in sorted-term order — a fixed fold the oracle mirrors,
    * immune to Spark's unordered-aggregation float nondeterminism. */
  def bm25Scores(docs: DataFrame, id: Column, text: Column,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    // Scan-path note: the stats/df/tf branches prune DIFFERENT columns,
    // so their exchange subplans differ and ReuseExchange cannot fire
    // (unlike shingleSets, whose consumers read identical columns) —
    // the tokenize pipeline executes per consumer here. That is the
    // accepted cost of the one-shot scan path; the amortized path is
    // [[searchIndexed]]/[[tfidfVectorsIndexed]], which read the stored
    // postings/dfs/stats in one pass.
    val all = termFreqs(docs, id, text)
    // corpus stats from the SAME termFreqs shape (n = docs with ≥1
    // token; dl is constant per doc so max(dl) == dl)
    val stats = all.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = all.filter(col("term").isin(queryTerms: _*))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_s", bm25Weight(col("tf"), col("dl"), col("df"),
        col("n"), col("avgdl"), k1, b))
    sumInTermOrder(scored, queryTerms)
  }

  /** Fold per-(doc, term) partial scores into one score per doc:
    * max-of-one conditional aggregate per term (each (doc, term) is
    * unique), then a left-associated sum over terms in SORTED order —
    * deterministic addition order in both engines. */
  private def sumInTermOrder(scored: DataFrame,
                             queryTerms: Seq[String]): DataFrame = {
    val terms = queryTerms.sorted
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("_s"))), lit(0.0))
        .as(s"_t$i")
    }
    scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        round4(terms.indices.map(i => col(s"_t$i"))
          .reduceLeft(_ + _)).as("score"))
  }

  /** Top-k BM25 search over the corpus scan path: global ordered limit
    * (plans as TakeOrderedAndProject — partitions ship only their local
    * top k), rounded-score ties broken by doc id. */
  def search(docs: DataFrame, id: Column, text: Column,
             queryTerms: Seq[String], k: Int): DataFrame =
    bm25Scores(docs, id, text, queryTerms)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)

  // ------------------------------------------------- persisted inverted index

  /** Term → bucket routing: first 8 md5 hex digits mod `n` — the same
    * engine-portable construction as the MinHash/SimHash hashes, and
    * computable driver-side ([[termBucketJvm]]) so literal query terms
    * become literal partition filters without touching the cluster. */
  private def termBucket(term: Column, n: Int): Column =
    pmod(conv(substring(md5(term.cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(n.toLong)).cast("int")

  private[graft] def termBucketJvm(term: String, n: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.take(4).map(b => f"$b%02x").mkString
    java.lang.Math.floorMod(java.lang.Long.parseLong(hex, 16), n.toLong).toInt
  }

  /** Build the inverted index at `path`:
    *  - `postings/` — `(term, doc_id, tf, dl)` partitioned by `_tb`
    *    (term bucket) directories, sorted by term within each partition
    *    so a term lookup prunes to one directory and then to the parquet
    *    row groups whose term min/max cover it;
    *  - `terms/` — `(term, df)` document frequencies, same bucketing;
    *  - `ids/` — by-doc sidecar `(doc_id, _tb, dl)` hash-bucketed by
    *    doc id: which term buckets each doc posted into — the CouchDB
    *    by-id-btree role that makes [[upsertTextDocs]] O(changed
    *    buckets), not O(index);
    *  - `stats/` — one row `(n, sum_dl, avgdl, n_buckets)` (`sum_dl`
    *    kept exact so maintenance adjusts the average incrementally);
    *  - `_graft_meta` — update_seq stamp (shared IndexStore format).
    * Serving reads ONLY the probed bucket directories plus the one-row
    * stats — at 100 TB a query touches |terms| directories, never the
    * corpus. */
  def buildTextIndex(docs: DataFrame, id: Column, text: Column,
                     path: String, nBuckets: Int = 64,
                     seq: Long = 0L,
                     analyzer: Analyzer = Analyzer()): Unit = {
    import graft.view.{IndexMeta, IndexStore}
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val tfRows = termFreqs(docs, id, text, analyzer)
      .withColumn("_tb", termBucket(col("term"), nBuckets))
    require(!tfRows.isEmpty,
      "cannot build a text index from a corpus with no tokens " +
        "(the streaming maintainer defers creation past empty batches)")
    tfRows.repartition(col("_tb")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("_tb").parquet(path + "/postings")
    val posts = spark.read.parquet(path + "/postings")
    posts.groupBy(col("_tb"), col("term")).agg(count(lit(1)).as("df"))
      .repartition(col("_tb")).sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("_tb").parquet(path + "/terms")
    posts.select(col("doc_id"), col("_tb"), col("dl")).distinct()
      .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nBuckets))
      .repartition(col("_ib")).sortWithinPartitions(col("_ib"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_ib").parquet(path + "/ids")
    val st = posts.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
    statsDf(spark, st.getLong(0), st.getLong(1), nBuckets, analyzer)
      .coalesce(1).write.mode("overwrite").parquet(path + "/stats")
    IndexStore.writeMeta(spark, path, IndexMeta(seq, nBuckets, Nil))
  }

  /** On-disk layout version, stamped into the stats row. Bumped when
    * the postings/stats schema changes (v2 = positional postings, v3 =
    * analyzer identity in stats), so an artifact from an older library
    * never serves silently-wrong results — [[indexCurrent]] tells
    * callers to rebuild. */
  val FormatVersion = 3

  /** True iff a text index of the CURRENT layout exists at `path` —
    * the check lazily-building callers should gate on. An absent or
    * empty `stats/`, a partitioned index's stats or a stamp of another
    * layout give false; a `stats/` that exists but cannot be read
    * throws, naming its path. */
  def indexCurrent(spark: SparkSession, path: String): Boolean =
    !isPartitioned(spark, path) &&
      stamped(statsRows(spark, path + "/stats", FieldStatsRows),
        FormatVersion)

  /** Row bounds of the driver-side stats reads: a global index's stats
    * table is one row, a fielded index's one row per field. */
  private val StatsRows = 1L
  private val FieldStatsRows = 256L

  /** The rows of the stats table at `dir`, read on the driver; none
    * when `dir` is absent. */
  private def statsRows(spark: SparkSession, dir: String,
                        maxRows: Long): Seq[org.apache.spark.sql.Row] =
    if (!graft.view.IndexStore.fsFor(spark, dir)
        .exists(new org.apache.hadoop.fs.Path(dir))) Nil
    else graft.view.IndexStore.readSmall(spark, dir, maxRows)

  /** True iff `path` is a PARTITIONED text index: its stats table
    * has `_p=` partition directories. */
  private def isPartitioned(spark: SparkSession, path: String): Boolean =
    graft.view.IndexStore.partDirs(spark, path + "/stats", "_p").nonEmpty

  /** True iff the first stats row carries `cols` and the format stamp
    * `fmt`. */
  private def stamped(rows: Seq[org.apache.spark.sql.Row], fmt: Int,
                      cols: String*): Boolean =
    rows.headOption.exists(r =>
      (cols :+ "fmt").forall(r.schema.fieldNames.contains) &&
        r.getAs[Int]("fmt") == fmt)

  /** One-row stats table; `avgdl` is always re-derived as
    * `sum_dl/n` in the same double division, so a maintained index
    * serves the identical average a fresh build would. Carries the
    * analyzer identity (`an_lc`, `an_stem`, sorted `an_stop`) so
    * serve-time term normalization always matches the build. */
  private def statsDf(spark: SparkSession, n: Long, sumDl: Long,
                      nBuckets: Int, an: Analyzer): DataFrame = {
    import spark.implicits._
    Seq((n, sumDl)).toDF("n", "sum_dl")
      .select(col("n"), col("sum_dl"),
        (col("sum_dl").cast("double") / col("n")).as("avgdl"),
        lit(nBuckets).as("n_buckets"), lit(FormatVersion).as("fmt"),
        lit(an.lowercase).as("an_lc"), lit(an.stem).as("an_stem"),
        typedLit(an.sortedStop).as("an_stop"))
  }

  /** Every changed or tombstoned doc id of `d`, as one `doc_id` column. */
  private def changedIds(d: Delta, id: Column): DataFrame =
    d.changedIds(id).select(col("_id").cast("long").as("doc_id")).distinct()

  /** Incremental maintenance of a [[buildTextIndex]] index — the same
    * by-id-sidecar merge discipline as view and ANN indexes: changed
    * docs' NEW postings are term-bucket-routed, their OLD postings are
    * located via the sidecar (pruned to the changed ids' hash buckets),
    * and only the union of old∪new term-bucket directories is rewritten
    * — O(distinct terms of the changed docs), never an index scan or
    * rebuild. Per-term dfs are re-aggregated for exactly those buckets,
    * and the corpus stats (`n`, `sum_dl`) are adjusted by exact integer
    * deltas, so a maintained index serves bit-identical BM25 scores to
    * a fresh rebuild. `deletedIds` retire docs (tombstones); a changed
    * doc that now has zero tokens is equivalent to a delete. A store
    * of a stale layout is refused, naming its path. Returns the
    * affected term buckets. */
  def upsertTextDocs(spark: SparkSession, path: String,
                     changedDocs: DataFrame, id: Column, text: Column,
                     deletedIds: Seq[Long] = Nil,
                     newSeq: Long = -1L): Seq[Int] =
    upsertTextDocs(spark, path, Delta(changedDocs, id.cast("long"),
      deletedIds), id, text, newSeq)

  private[graft] def upsertTextDocs(spark: SparkSession, path: String,
                                    d: Delta, id: Column, text: Column,
                                    newSeq: Long): Seq[Int] = {
    import graft.view.IndexStore
    IndexStore.finishSwap(spark, path)
    val rows = statsRows(spark, path + "/stats", StatsRows)
    if (!stamped(rows, FormatVersion))
      throw IndexStore.staleLayout("text", path, FormatVersion, "buildTextIndex")
    val st = rows.head
    val nB = st.getAs[Int]("n_buckets")
    // changed docs tokenize under the STORED analyzer — a maintained
    // index must stay homogeneous with its build
    val an = analyzerFromRow(st)
    upsertTerms(spark, path, termFreqs(d.live, id, text, an),
      changedIds(d, id), nB, Nil, newSeq) {
      (rem, add) =>
        // exact integer deltas: a changed doc is removed with its old
        // dl from the sidecar and re-added with its new one
        statsDf(spark, st.getAs[Long]("n") - rem("")._1 + add("")._1,
          st.getAs[Long]("sum_dl") - rem("")._2 + add("")._2, nB, an)
    }
  }

  /** The one upsert of the global and fielded text stores. `newTf` are
    * the changed docs' term-frequency rows and `cids` every changed or
    * tombstoned `doc_id`; `fields` names the field column of a fielded
    * store (none for a global one). The old rows are located through
    * the sidecar, and every rewrite is computed from the store as it
    * stands: the affected term buckets' postings, their dfs aggregated
    * from the same merged postings, the changed ids' sidecar buckets,
    * and the stats table that `stats` builds from the removed and added
    * per-field `(n, sum_dl)` (keyed `""` without fields). All of them
    * and the new update_seq go live in one
    * [[graft.view.IndexStore.commitBatch]]. */
  private def upsertTerms(spark: SparkSession, path: String,
                          newTf0: DataFrame, cids0: DataFrame, nB: Int,
                          fields: Seq[String], newSeq: Long)(
      stats: (Map[String, (Long, Long)], Map[String, (Long, Long)]) =>
        DataFrame): Seq[Int] = {
    import graft.view.IndexStore
    import IndexStore.Write
    val meta = IndexStore.readMeta(spark, path)
    val fcols = fields.map(col)
    val newTf = newTf0.withColumn("_tb", termBucket(col("term"), nB)).persist()
    val cids = cids0.persist()
    var merged: DataFrame = null
    try {
      val ibs = IndexStore.bucketsOf(
        cids.select(IndexStore.idBucket(col("doc_id"), nB)))
      def oldIds = IndexStore.readBuckets(spark, path + "/ids", "_ib", ibs)
        .filter(col("_ib").isin(ibs: _*))
      // ONE aggregation per side yields the touched term buckets and the
      // exact per-field integer stat deltas (dl is constant per (doc,
      // field), so per-pair max(dl) == the old distinct-row count/sum)
      def tbsAndDeltas(df: DataFrame): (Seq[Int], Map[String, (Long, Long)]) = {
        val rows = df.groupBy(col("doc_id") +: fcols: _*)
          .agg(max(col("dl")).as("dl"), collect_set(col("_tb")).as("_tbs"))
          .groupBy(fcols: _*)
          .agg(count(lit(1)).as("_n"),
            coalesce(sum(col("dl")), lit(0L)).as("_sd"),
            flatten(collect_list(col("_tbs"))).as("_alltbs"))
          .collect()
        (rows.flatMap(r => r.getSeq[Int](r.fieldIndex("_alltbs")))
          .distinct.toSeq,
          rows.map(r => (if (fields.isEmpty) "" else r.getString(0)) ->
            (r.getAs[Long]("_n"), r.getAs[Long]("_sd"))).toMap)
      }
      val (oldTbs, rem) =
        tbsAndDeltas(oldIds.join(cids, Seq("doc_id"), "left_semi"))
      val (newTbs, add) = tbsAndDeltas(newTf)
      val affected = (oldTbs ++ newTbs).distinct.sorted
      val writes = if (affected.isEmpty) Nil else {
        val cols = (col("doc_id") +: fcols) ++
          Seq("term", "tf", "dl", "pos", "_tb").map(col)
        val sortCols = Seq(col("_tb"), col("term")) ++ fcols
        // the affected buckets' merged postings, pinned once and placed
        // by bucket: the postings write and the df aggregation both
        // read them without another exchange
        merged = IndexStore.readBuckets(spark, path + "/postings", "_tb",
            affected)
          .filter(col("_tb").isin(affected: _*))
          .join(cids, Seq("doc_id"), "left_anti").select(cols: _*)
          .unionByName(newTf.select(cols: _*))
          .repartition(affected.size, col("_tb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idCols = (col("doc_id") +: fcols) :+ col("_tb") :+ col("dl")
        Seq(
          Write(path + "/postings", "_tb", affected,
            merged.sortWithinPartitions(sortCols: _*)),
          Write(path + "/terms", "_tb", affected,
            merged.groupBy((col("_tb") +: fcols) :+ col("term"): _*)
              .agg(count(lit(1)).as("df"))
              .sortWithinPartitions(sortCols: _*)),
          Write.sorted(path + "/ids", "_ib", ibs,
            oldIds.join(cids, Seq("doc_id"), "left_anti")
              .select(idCols :+ col("_ib"): _*)
              .unionByName(newTf.select(idCols: _*).distinct()
                .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nB))),
            Seq(col("_ib"), col("doc_id"))),
          Write.whole(path + "/stats", stats(rem, add)))
      }
      IndexStore.commitBatch(spark, path, writes, Some(meta.copy(
        updateSeq = if (newSeq >= 0) newSeq else meta.updateSeq + 1)))
      affected
    } finally {
      if (merged != null) merged.unpersist()
      newTf.unpersist()
      cids.unpersist()
    }
  }

  /** Catch a [[buildTextIndex]] index up to its document store's
    * `purge_seq` — the text-search leg of purge propagation (the
    * GDPR hole a purge-blind search index leaves open: it keeps
    * matching, scoring, and SERVING the erased doc's terms). One
    * delete-only [[upsertTextDocs]] merge retires fully-purged ids;
    * still-alive ids (a conflict branch was purged) re-tokenize from
    * their CURRENT text in `docs` under the stored analyzer — an
    * alive id absent from `docs` (now-deleted winner) retires too.
    * Corpus stats (`n`, `sum_dl`) adjust by the usual exact integer
    * deltas, so post-purge BM25 scores are bit-identical to a fresh
    * rebuild over the purged corpus. `update_seq` is preserved; the
    * index purge_seq advances to the store's (re-runs are no-ops).
    * Cost: O(purged docs' term buckets), never a rebuild. Returns
    * the store purge_seq the index is now current through. */
  def catchUpPurges(spark: SparkSession, path: String, storePath: String,
                    docs: DataFrame, id: Column, text: Column): Long = {
    import graft.view.IndexStore
    val meta = IndexStore.readMeta(spark, path)
    val p = graft.operators.Replication.pendingPurges(spark, storePath,
      meta.purgeSeq)
    if (p.purgeSeq <= meta.purgeSeq) return meta.purgeSeq
    def longs(xs: Seq[Any]): Seq[Long] =
      xs.map { case n: Number => n.longValue }
    val aliveIds = longs(p.aliveIds)
    val aliveDf =
      if (aliveIds.isEmpty) docs.limit(0)
      else docs.filter(id.cast("long").isin(aliveIds: _*))
    val present = aliveDf.select(id.cast("long").as("_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val absent = aliveIds.filterNot(present.contains)
    upsertTextDocs(spark, path, aliveDf, id, text,
      deletedIds = longs(p.goneIds) ++ absent, newSeq = meta.updateSeq)
    IndexStore.writeMeta(spark, path,
      IndexStore.readMeta(spark, path).copy(purgeSeq = p.purgeSeq))
    p.purgeSeq
  }

  /** Top-k BM25 served from a [[buildTextIndex]] index: the query
    * terms' buckets are computed driver-side and pushed as literal
    * `_tb` partition filters (directory pruning) with the `term IN`
    * filter reaching the parquet scan (row-group pruning); corpus
    * stats come from the one-row stats table as literals. Identical
    * results to [[search]] over the same corpus. */
  def searchIndexed(spark: SparkSession, path: String,
                    queryTerms: Seq[String], k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    sumInTermOrder(bm25Partials(spark, path, terms, st, k1, b), terms)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** CouchDB's `highlight_fields` — term-highlighted snippets riding
    * the search response: for each of the BM25 top-`k` docs, up to
    * `number` FRAGMENTS, each a ±`fragSize`-token window around one
    * of the doc's earliest query-term occurrences, with every query
    * term inside the window wrapped in `preTag`/`postTag` (Lucene's
    * highlighter contract, expressed over the ANALYZED token stream
    * — positions are exactly the positional postings', so what gets
    * wrapped is what matched). Fragments report as
    * `(doc_id, score, frag_idx, fragment)` in rank order.
    *
    * Shape: the ranking is [[searchIndexed]]'s probe-pruned serve;
    * the highlight pass then touches ONLY the page's `k` docs (one
    * id-keyed semi join against the corpus, a page-bounded explode
    * for hit positions, and per-doc array slicing) — snippet cost
    * follows the PAGE, never the corpus or even the matched set. */
  def searchHighlights(spark: SparkSession, path: String,
                       queryTerms: Seq[String], docs: DataFrame,
                       idCol: String, textCol: String, k: Int,
                       fragSize: Int = 5, number: Int = 1,
                       preTag: String = "<em>",
                       postTag: String = "</em>"): DataFrame = {
    require(number >= 1, s"highlight number must be >= 1, got $number")
    require(fragSize >= 0, s"fragSize must be >= 0, got $fragSize")
    val an = analyzerOf(spark, path)
    val terms = an.queryTerms(queryTerms)
    val page = searchIndexed(spark, path, queryTerms, k)
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      an.tokens(col(textCol)).as("_ws"))
    val withToks = page.join(toks, Seq("doc_id"))
    // earliest `number` hit positions per page doc: a page-bounded
    // explode + one aggregation (never the corpus)
    val hits = withToks
      .select(col("doc_id"), posexplode(col("_ws")).as(Seq("_p", "_w")))
      .filter(col("_w").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(col("_p"))), 1, number)
        .as("_ps"))
    val frag = {
      // 1-based slice window [p+1-fragSize, p+1+fragSize] ∩ [1, n]
      val p = col("_hit")
      val start = greatest(p + 1 - fragSize, lit(1))
      val len = least(p + 1 + lit(fragSize),
        size(col("_ws")).cast("int")) - start + 1
      array_join(transform(slice(col("_ws"), start, len),
        w => when(w.isin(terms: _*), concat(lit(preTag), w, lit(postTag)))
          .otherwise(w)), " ")
    }
    withToks.join(hits, Seq("doc_id"))
      .select(col("doc_id"), col("score"), col("_ws"),
        posexplode(col("_ps")).as(Seq("frag_idx", "_hit")))
      .select(col("doc_id"), col("score"), col("frag_idx"), frag.as("fragment"))
      .orderBy(col("score").desc, col("doc_id"), col("frag_idx"))
  }

  /** Clouseau's `include_fields` — stored-field projection riding the
    * search response: each of the BM25 top-`k` hits carries ONLY the
    * named fields (smaller responses for wide docs than
    * `include_docs`, which ships the whole body). Returns
    * `(doc_id, score, <field>...)` in rank order; a requested field
    * the corpus lacks is an error (Clouseau indexes declare their
    * stored fields), a stored field that is null for a hit rides as
    * null (Lucene's absent-stored-field shape).
    *
    * Shape: the ranking is [[searchIndexed]]'s probe-pruned serve;
    * the projection then touches ONLY the page's `k` ids — the
    * k-row page BROADCASTS against the corpus and the corpus scan
    * reads just `idCol` + the requested columns (nested-schema
    * pruning; the [[searchHighlights]] discipline) — field cost
    * follows the PAGE, never the corpus or the matched set. */
  def searchIncludeFields(spark: SparkSession, path: String,
                          queryTerms: Seq[String], docs: DataFrame,
                          idCol: String, fields: Seq[String], k: Int,
                          k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(fields.nonEmpty, "include_fields needs at least one field")
    val missing = fields.filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"include_fields not stored in the corpus: ${missing.mkString(", ")}")
    val page = searchIndexed(spark, path, queryTerms, k, k1, b)
    val stored = docs.select(
      (col(idCol).cast("long").as("doc_id")) +: fields.map(col): _*)
    // INNER join: a broadcast build side cannot be the preserved side
    // of an outer join, and the index↔corpus coherence contract
    // (indexes build from the corpus; purge catch-up retires erased
    // ids) guarantees every page id has its doc row, so inner ==
    // left here — and the k-row page broadcasts
    broadcast(page).join(stored, Seq("doc_id"))
      .select((col("doc_id") +: col("score") +: fields.map(col)): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  // ---------------- partitioned `_search` (CouchDB 3.x) ------------

  /** CouchDB 3.x partitioned `_search`
    * (`GET /db/_partition/{p}/_design/{ddoc}/_search/{idx}`): the
    * inverted index stored in the [[graft.view.PartitionedStore]]
    * layout so a partition-scoped query promises PARTITION-LOCAL cost
    * the way partitioned views (A34) and Mango (A34d) do:
    * {{{
    * path/
    *   postings/_p=<part>/_tb=<b>/  (doc_id, term, tf, dl, pos)
    *   terms/_p=<part>/_tb=<b>/     (term, df)   — partition-local df
    *   stats/_p=<part>/             (n, sum_dl, avgdl, fmt, analyzer)
    *   _graft_meta                  update_seq stamp
    * }}}
    * Ranking stats (N, avgdl, df) are PARTITION-LOCAL: each partition
    * scores as its own corpus — the partition-scoped semantics a
    * tenant expects (its ranking never shifts because another
    * tenant's documents moved the global df), and the only definition
    * under which a scoped serve can stay O(one partition).
    * Doc ids are CouchDB partitioned ids (`<partition>:<key>`,
    * STRING-typed throughout), validated at write time (the
    * [[graft.view.PartitionedStore]] routedP contract). Global text
    * indexes and partitioned ones are separate planner families:
    * [[searchIndexed]] on a partitioned index refuses (see
    * [[statsOf]]), and [[searchPartitioned]] on a global index
    * refuses below. */
  def buildPartitionedTextIndex(docs: DataFrame, id: Column,
                                text: Column, path: String,
                                nBuckets: Int = 16, seq: Long = 0L,
                                analyzer: Analyzer = Analyzer())
      : Unit = {
    import graft.view.{IndexMeta, IndexStore, PartitionedStore}
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val an = analyzer.canonical
    // write-time id validation: a malformed id fails the BUILD JOB
    // (deferring to query time would silently misfile the postings)
    val routed = docs
      .select(id.cast("string").as("doc_id"), text.as("_text"))
      .withColumn("_p",
        when(PartitionedStore.validId(col("doc_id")),
          PartitionedStore.partitionOf(col("doc_id")))
        .otherwise(raise_error(concat(
          lit("partitioned text index: invalid doc id '"),
          col("doc_id"), lit("' (expected '<partition>:<key>')")))))
    val parts = spark.sessionState.conf.numShufflePartitions
    val tf = routed
      .repartition(parts, col("doc_id"))
      .select(col("_p"), col("doc_id"), an.tokens(col("_text")).as("_ws"))
      .select(col("_p"), col("doc_id"),
        size(col("_ws")).cast("long").as("dl"),
        posexplode(col("_ws")).as(Seq("_pp", "term")))
      .groupBy(col("_p"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("_pp"))).as("pos"))
      .withColumn("_tb", termBucket(col("term"), nBuckets))
    require(!tf.isEmpty,
      "cannot build a partitioned text index from a corpus with no tokens")
    tf.repartition(col("_p"), col("_tb"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("_p", "_tb")
      .parquet(path + "/postings")
    val posts = spark.read.parquet(path + "/postings")
    posts.groupBy(col("_p"), col("_tb"), col("term"))
      .agg(count(lit(1)).as("df"))
      .repartition(col("_p"), col("_tb"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("_p", "_tb")
      .parquet(path + "/terms")
    // by-id sidecar, per partition: which term buckets each doc
    // posted into — the maintenance lookup ([[upsertPartitionedTextDocs]]);
    // a changed doc's PARTITION is already derivable from its id,
    // so the sidecar only routes within the partition
    posts.select(col("_p"), col("doc_id"), col("_tb"), col("dl"))
      .distinct()
      .repartition(col("_p"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("_p").parquet(path + "/ids")
    partStats(posts.select(col("_p"), col("doc_id"), col("dl")).distinct()
        .groupBy(col("_p"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl")), nBuckets, an)
      .repartition(col("_p"))
      .write.mode("overwrite").partitionBy("_p").parquet(path + "/stats")
    IndexStore.writeMeta(spark, path, IndexMeta(seq, nBuckets, Nil))
  }

  /** True iff a PARTITIONED text index of the current layout exists
    * at `path` — the lazily-building caller's gate. The stamp is read
    * from one partition's stats row; a stats table that exists but
    * cannot be read throws, as in [[indexCurrent]]. */
  def partitionedIndexCurrent(spark: SparkSession, path: String)
      : Boolean =
    graft.view.IndexStore.partDirs(spark, path + "/stats", "_p")
      .headOption.exists(p =>
        stamped(statsRows(spark, p.toString, StatsRows), FormatVersion))

  /** Per-partition stats rows from `(_p, n, sum_dl)` rows: the
    * build's and the upsert's one stats layout. */
  private def partStats(rows: DataFrame, nBuckets: Int,
                        an: Analyzer): DataFrame =
    rows.select(col("_p"), col("n"), col("sum_dl"),
      (col("sum_dl").cast("double") / col("n")).as("avgdl"),
      lit(nBuckets).as("n_buckets"), lit(FormatVersion).as("fmt"),
      lit(an.lowercase).as("an_lc"), lit(an.stem).as("an_stem"),
      typedLit(an.sortedStop).as("an_stop"))

  /** Incremental maintenance of a [[buildPartitionedTextIndex]]
    * index — the E7b upsert discipline in the `_p` layout, with the
    * partitioned-store advantage that a changed doc's PARTITION is
    * derivable from its id alone: changed docs re-tokenize under the
    * STORED analyzer, their old postings are located via the
    * per-partition `ids/` sidecar (read pruned to the affected `_p`
    * dirs), and only the union of old∪new `(_p, _tb)` pair
    * directories rewrites — O(the changed docs' partitions' touched
    * term buckets), never the index. Per-pair dfs re-aggregate for
    * exactly those pairs, and each affected partition's stats adjust
    * by exact integer deltas, so a maintained partition serves
    * bit-identical partition-local BM25 to a fresh rebuild. Every
    * rewrite is computed from the store as it stands and goes live in
    * one [[graft.view.IndexStore.commitBatch]].
    * `deletedIds` retire docs. Returns the affected partitions. */
  def upsertPartitionedTextDocs(spark: SparkSession, path: String,
                                changedDocs: DataFrame, id: Column,
                                text: Column,
                                deletedIds: Seq[String] = Nil,
                                newSeq: Long = -1L): Seq[String] = {
    import graft.view.{IndexStore, PartitionedStore}
    import IndexStore.{Write, leaf, readLeaves}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import spark.implicits._
    IndexStore.finishSwap(spark, path)
    val statDirs = IndexStore.partDirs(spark, path + "/stats", "_p")
    require(statDirs.nonEmpty,
      s"$path is a GLOBAL text index — use upsertTextDocs")
    // the analyzer is index-wide (build stamps the same one on every
    // partition row)
    val st0 = IndexStore.readSmall(spark, statDirs.head.toString, StatsRows).head
    require(st0.getAs[Int]("fmt") == FormatVersion,
      s"partitioned text index at $path needs rebuild (fmt)")
    val an = analyzerFromRow(st0)
    val nB = st0.getAs[Int]("n_buckets")
    val d = Delta(changedDocs, id.cast("string"), deletedIds)
    val routed = d.live
      .select(id.cast("string").as("doc_id"), text.as("_text"))
      .withColumn("_p",
        when(PartitionedStore.validId(col("doc_id")),
          PartitionedStore.partitionOf(col("doc_id")))
        .otherwise(raise_error(concat(
          lit("partitioned text index: invalid doc id '"),
          col("doc_id"), lit("'")))))
    val shuffleN = spark.sessionState.conf.numShufflePartitions
    val newTf = routed
      .repartition(shuffleN, col("doc_id"))
      .select(col("_p"), col("doc_id"), an.tokens(col("_text")).as("_ws"))
      .select(col("_p"), col("doc_id"),
        size(col("_ws")).cast("long").as("dl"),
        posexplode(col("_ws")).as(Seq("_pp", "term")))
      .groupBy(col("_p"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("_pp"))).as("pos"))
      .withColumn("_tb", termBucket(col("term"), nB))
      .persist()
    val cids = d.changedIds(id.cast("string")).toDF("doc_id").distinct()
      .persist()
    var merged: DataFrame = null
    try {
      val parts = cids
        .select(PartitionedStore.partitionOf(col("doc_id")).as("_p"))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
      if (parts.isEmpty) return Nil
      val partLeaves = parts.map(p => leaf("_p" -> p))
      val byPart = Seq("_p" -> StringType)
      // ONE aggregation per side yields each partition's touched term
      // buckets and its exact integer stat deltas (dl is constant per doc)
      def tbsAndDeltas(df: DataFrame): Map[String, (Long, Long, Seq[Int])] =
        df.groupBy(col("_p"), col("doc_id"))
          .agg(max(col("dl")).as("dl"), collect_set(col("_tb")).as("_tbs"))
          .groupBy(col("_p"))
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)),
            flatten(collect_list(col("_tbs"))))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getSeq[Int](3))).toMap
      val rem = tbsAndDeltas(readLeaves(spark, path + "/ids", byPart,
        partLeaves).join(cids, Seq("doc_id"), "left_semi"))
      val add = tbsAndDeltas(newTf)
      val affected = (rem.toSeq ++ add.toSeq)
        .flatMap { case (p, (_, _, tbs)) => tbs.map(p -> _) }
        .distinct.sorted
      val writes = if (affected.isEmpty) Nil else {
        val pairLeaves = affected.map { case (p, b) =>
          leaf("_p" -> p, "_tb" -> b) }
        val cols = Seq("doc_id", "term", "tf", "dl", "pos", "_p", "_tb")
          .map(col)
        val sortCols = Seq(col("_p"), col("_tb"), col("term"))
        // read by both the postings and the df writes
        merged = readLeaves(spark, path + "/postings",
            byPart :+ ("_tb" -> IntegerType), pairLeaves)
          .join(cids, Seq("doc_id"), "left_anti").select(cols: _*)
          .unionByName(newTf.select(cols: _*))
          .repartition(affected.size, col("_p"), col("_tb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idCols = Seq("doc_id", "_tb", "dl", "_p").map(col)
        // each touched partition's stats row from its stored one and the
        // exact deltas; a partition seen for the FIRST time starts at 0
        val statParts = (parts ++ add.keys).distinct.sorted
        val newStats = statParts.flatMap { p =>
          val old = statDirs.find(_.getName == leaf("_p" -> p))
            .map(d => IndexStore.readSmall(spark, d.toString, StatsRows).head)
          Option.when(old.nonEmpty || add.contains(p)) {
            val (rn, rs, _) = rem.getOrElse(p, (0L, 0L, Nil))
            val (dn, ds, _) = add.getOrElse(p, (0L, 0L, Nil))
            (p, old.fold(0L)(_.getAs[Long]("n")) - rn + dn,
              old.fold(0L)(_.getAs[Long]("sum_dl")) - rs + ds)
          }
        }
        Seq(
          Write(path + "/postings", Seq("_p", "_tb"), pairLeaves,
            merged.sortWithinPartitions(sortCols: _*)),
          Write(path + "/terms", Seq("_p", "_tb"), pairLeaves,
            merged.groupBy(col("_p"), col("_tb"), col("term"))
              .agg(count(lit(1)).as("df"))
              .select(col("term"), col("df"), col("_p"), col("_tb"))
              .sortWithinPartitions(sortCols: _*)),
          Write.sorted(path + "/ids", Seq("_p"), partLeaves,
            readLeaves(spark, path + "/ids", byPart, partLeaves)
              .join(cids, Seq("doc_id"), "left_anti").select(idCols: _*)
              .unionByName(newTf.select(idCols: _*).distinct()),
            Seq(col("_p"), col("doc_id"))),
          Write.sorted(path + "/stats", Seq("_p"),
            statParts.map(p => leaf("_p" -> p)),
            partStats(newStats.toDF("_p", "n", "sum_dl"), nB, an),
            Seq(col("_p"))))
      }
      IndexStore.commitBatch(spark, path, writes,
        Option.when(newSeq >= 0)(
          IndexStore.readMeta(spark, path).copy(updateSeq = newSeq)))
      parts
    } finally {
      if (merged != null) merged.unpersist()
      newTf.unpersist()
      cids.unpersist()
    }
  }

  /** Partition-scoped top-k BM25 from a [[buildPartitionedTextIndex]]
    * index: the partition's one stats row and its query terms' dfs are
    * read on the driver from its own `_p=` directories (N, avgdl and
    * df enter the weight as literals, as in [[searchIndexed]]), then
    * one postings scan opened at `postings/_p=<partition>` and pruned
    * to the probed `_tb` buckets with `term IN` pushed to the scan.
    * Building the query runs no Spark job. Cost is O(the partition's
    * matching postings) at any corpus size. A partition holding no docs
    * (or an all-stopword query) returns the empty response, CouchDB's
    * shape. */
  def searchPartitioned(spark: SparkSession, path: String,
                        partition: String, queryTerms: Seq[String],
                        k: Int, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    graft.view.PartitionedStore.requireValidPartition(partition)
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    if (!graft.view.IndexStore.fsFor(spark, path)
        .exists(new org.apache.hadoop.fs.Path(path + "/stats")))
      throw new java.io.FileNotFoundException(s"no text index at $path")
    require(isPartitioned(spark, path),
      s"$path is a GLOBAL text index — use searchIndexed (a global " +
        "index cannot promise partition-local cost)")
    def empty = spark.range(0).select(
      col("id").cast("string").as("doc_id"), lit(0.0).as("score"))
    val pdir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString("_p", partition)
    val stDir = s"$path/stats/$pdir"
    if (!graft.view.IndexStore.fsFor(spark, stDir)
        .exists(new org.apache.hadoop.fs.Path(stDir))) return empty
    val st = graft.view.IndexStore.readSmall(spark, stDir, StatsRows).head
    require(st.getAs[Int]("fmt") == FormatVersion,
      s"partitioned text index at $path has layout fmt " +
        s"${st.getAs[Int]("fmt")}, need $FormatVersion — rebuild")
    val an = analyzerFromRow(st)
    val terms = an.queryTerms(queryTerms)
    if (terms.isEmpty) return empty
    val nB = st.getAs[Int]("n_buckets")
    val dfs = storedDfs(spark, s"$path/terms/$pdir", terms, nB)
    val scored = withBm25(
      prunedTable(spark, s"$path/postings/$pdir", dfs.map(_._1), nB),
      dfs, lit(st.getAs[Long]("n")), lit(st.getAs[Double]("avgdl")), k1, b)
    sumInTermOrder(scored, terms)
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** The bucket-pruned postings of the (already-normalized) `terms`
    * with the per-(doc, term) BM25 partial `_s` attached — the shared
    * front half of every indexed search operator. The terms' document
    * frequencies are read on the driver first ([[storedDfs]]) and
    * enter the weight as a literal `CASE` on `term`, so the plan is one
    * pruned postings scan with no join and no broadcast; postings are
    * read for the terms the index holds. */
  private def bm25Partials(spark: SparkSession, path: String,
                           terms: Seq[String], st: TextStats,
                           k1: Double, b: Double): DataFrame =
    bm25PartialsOf(spark, path, storedDfs(spark, s"$path/terms", terms,
      st.nBuckets), st, k1, b)

  /** [[bm25Partials]] over already-read `(term, df)` rows. */
  private def bm25PartialsOf(spark: SparkSession, path: String,
                             dfs: Seq[(String, Long)], st: TextStats,
                             k1: Double, b: Double): DataFrame =
    withBm25(readPruned(spark, path, "postings", dfs.map(_._1), st.nBuckets),
      dfs, lit(st.n), lit(st.avgdl), k1, b)

  /** `postings` with the literal `df` of its term and the BM25 partial
    * `_s` under the corpus stats `n` and `avgdl`. */
  private def withBm25(postings: DataFrame, dfs: Seq[(String, Long)],
                       n: Column, avgdl: Column, k1: Double,
                       b: Double): DataFrame =
    postings
      .withColumn("df", literalOf(dfs.map { case (t, d) =>
        (col("term") === t) -> d }))
      .withColumn("_s", bm25Weight(col("tf"), col("dl"), col("df"), n,
        avgdl, k1, b))

  /** A literal `CASE` over `(condition, value)` branches; NULL when none
    * holds (and when there are none). */
  private def literalOf(branches: Seq[(Column, Long)]): Column =
    if (branches.isEmpty) lit(null).cast("long")
    else branches.tail.foldLeft(when(branches.head._1,
      lit(branches.head._2))) { case (c, (p, v)) => c.when(p, lit(v)) }

  /** The stored rows of the literal `terms` in the term table at `dir`
    * (`_tb=` bucket directories), read on the driver by
    * [[graft.view.IndexStore.readSmall]]: only the terms' own bucket
    * directories, with `term IN (…)` pushed into Spark's Parquet
    * reader. An index holds each `key` of a row once — the term, or
    * `(field, term)` in a fielded index with `perTerm` fields — so at
    * most `perTerm × |terms|` rows can match; a read past that bound,
    * or a repeated key, throws naming the table. */
  private def termRows(spark: SparkSession, dir: String, terms: Seq[String],
                       nBuckets: Int, perTerm: Int = 1)
                      (key: org.apache.spark.sql.Row => Any)
      : Seq[org.apache.spark.sql.Row] = {
    val present = graft.view.IndexStore.partDirs(spark, dir, "_tb")
      .map(_.getName).toSet
    val rows = terms.groupBy(termBucketJvm(_, nBuckets)).toSeq.sortBy(_._1)
      .flatMap { case (tb, ts) =>
        if (!present(s"_tb=$tb")) Nil
        else graft.view.IndexStore.readSmall(spark, s"$dir/_tb=$tb",
          perTerm.toLong * ts.size,
          Some(org.apache.spark.sql.sources.In("term", ts.toArray[Any])))
      }
    rows.groupBy(key).find(_._2.size > 1).foreach { case (k, rs) =>
      throw new IllegalStateException(s"$dir holds term $k ${rs.size} " +
        "times; an index holds each term once")
    }
    rows
  }

  /** `(term, df)` of each of `terms` the term table at `dir` holds
    * ([[termRows]]). */
  private def storedDfs(spark: SparkSession, dir: String, terms: Seq[String],
                        nBuckets: Int): Seq[(String, Long)] =
    termRows(spark, dir, terms, nBuckets)(_.getAs[String]("term"))
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df"))

  /** Attribute-filtered BM25: [[searchIndexed]] restricted to an
    * allowed-doc set (one `doc_id` column — e.g. `docs.filter(lang ===
    * "en")`), applied BETWEEN scoring and ranking so the top-k is the
    * top-k OF THE FILTERED SET (post-limit filtering would
    * under-return). The allowed set joins as a semi-join — broadcast
    * when small, shuffle otherwise; the postings read stays
    * bucket-pruned either way. */
  def searchWhere(spark: SparkSession, path: String,
                  queryTerms: Seq[String], k: Int, allowed: DataFrame,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    require(allowed.columns.length == 1,
      s"allowed must be a single doc-id column; got " +
        s"[${allowed.columns.mkString(", ")}] — select the id column " +
        "explicitly (a silent columns.head guess would filter on the " +
        "wrong column)")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    sumInTermOrder(bm25Partials(spark, path, terms, st, k1, b), terms)
      .join(allowed.toDF("doc_id")
        .distinct(), Seq("doc_id"), "left_semi")
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** CouchDB `_search` PAGINATION: relevance-ordered pages
    * (`score DESC, doc_id ASC` — Lucene's default sort with the
    * stable id tiebreak) with the opaque `bookmark` the endpoint
    * returns. Resume is Lucene's `searchAfter` discipline: page N+1
    * filters STRICTLY AFTER the last served `(score, doc_id)` — the
    * skipped prefix is never rescanned, and pages already served stay
    * stable as long as the index GENERATION does not change between
    * pages (each page rescored against the live index: an interleaved
    * [[upsertTextDocs]] shifts BM25 scores and the cursor can then
    * skip or duplicate rows — unlike Lucene's searchAfter, which pins
    * a point-in-time searcher; walk-under-maintenance callers should
    * compare the index update_seq across pages and restart the walk
    * when it moved). The cursor
    * comparison is exact because every score here is the fixed-order
    * round4 BM25 fold (bit-deterministic across replays — a raw
    * float sum would make `score === cursor` engine-dependent).
    * Each page is ONE `limit(n+1)` job over the bucket-pruned
    * postings probe; the page itself is client-facing (bounded rows
    * by definition), so the cursor derives from its collected tail.
    * Returns `(page, Some(bookmark))`, or `(page, None)` when no
    * rows remain past it. Bookmarks are [[Mango]]'s typed-JSON
    * cursors (gadget-safe, loudly rejected when malformed). */
  def searchPage(spark: SparkSession, path: String,
                 queryTerms: Seq[String], pageSize: Int,
                 bookmark: Option[String] = None, k1: Double = 1.2,
                 b: Double = 0.75): (DataFrame, Option[String]) = {
    require(pageSize > 0, "pageSize must be positive")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    val scored = sumInTermOrder(
      bm25Partials(spark, path, terms, st, k1, b), terms)
    val resumed = bookmark match {
      case None => scored
      case Some(bm) => Mango.decodeBookmark(bm) match {
        case Seq(s: java.lang.Double, d) =>
          scored.filter(col("score") < s.doubleValue ||
            (col("score") === s.doubleValue && col("doc_id") > lit(d)))
        case other => throw new IllegalArgumentException(
          s"search bookmark must pin (score, doc_id); got $other")
      }
    }
    val rows = resumed.orderBy(col("score").desc, col("doc_id").asc)
      .limit(pageSize + 1).collect()
    val page = rows.take(pageSize).toSeq
    val pageDf = spark.createDataFrame(
      spark.sparkContext.parallelize(page, 1), scored.schema)
    val next =
      if (rows.length <= pageSize) None
      else Some(Mango.encodeBookmark(Seq(
        Double.box(page.last.getAs[Double]("score")),
        page.last.getAs[Any]("doc_id"))))
    (pageDf, next)
  }

  /** CouchDB `_search` with `sort: ["field"]` (Lucene field sort,
    * CouchDB Search API): pages ordered by an INDEXED-field value
    * instead of relevance, ascending or descending, with the same
    * opaque-bookmark resume discipline as [[searchPage]] — the
    * cursor pins the last served `(sort value, doc_id)` and page N+1
    * filters STRICTLY after it, so the skipped prefix is never
    * rescanned. The matched set is the bucket-pruned postings probe
    * (docs containing ANY query term — no scoring job at all: a
    * field sort does not pay BM25, exactly as Lucene skips scoring
    * for non-relevance sorts); field values come from the caller's
    * doc relation with only `(id, sort field)` projected — plus the
    * full doc row when `includeDocs` (CouchDB's `include_docs=true`,
    * one column-wider scan, same single join). Docs with a NULL sort
    * value are excluded, as Lucene excludes docs missing the sort
    * field's doc-values. Returns `(page, Some(bookmark))`, or
    * `(page, None)` past the last row. */
  def searchPageSorted(spark: SparkSession, path: String,
                       queryTerms: Seq[String], pageSize: Int,
                       docs: DataFrame, idCol: String, sortField: String,
                       descending: Boolean = false,
                       bookmark: Option[String] = None,
                       includeDocs: Boolean = false)
      : (DataFrame, Option[String]) = {
    require(pageSize > 0, "pageSize must be positive")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    require(docs.columns.contains(sortField),
      s"sort field '$sortField' is not a column of the doc relation " +
        s"[${docs.columns.mkString(", ")}]")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    val hits = readPruned(spark, path, "postings", terms, st.nBuckets)
      .select(col("doc_id")).distinct()
    val keepCols =
      if (includeDocs) docs.columns.toSeq.filterNot(_ == idCol)
      else Seq(sortField)
    val base = docs.select(col(idCol).as("doc_id") +:
      keepCols.map(c => col(c)): _*)
    val matched = base.join(hits, Seq("doc_id"), "left_semi")
      .filter(col(sortField).isNotNull)
    val v = col(sortField)
    val resumed = bookmark match {
      case None => matched
      case Some(bm) => Mango.decodeBookmark(bm) match {
        case Seq(sv, d) =>
          val strict =
            if (descending) v < lit(sv) else v > lit(sv)
          // the redundant non-strict conjunct is what parquet can push
          // down (the OR shape itself is not a row-group predicate)
          val loose = if (descending) v <= lit(sv) else v >= lit(sv)
          matched.filter(loose &&
            (strict || (v === lit(sv) && col("doc_id") > lit(d))))
        case other => throw new IllegalArgumentException(
          s"sorted-search bookmark must pin (sort value, doc_id); " +
            s"got $other")
      }
    }
    val ordered = resumed.orderBy(
      if (descending) v.desc else v.asc, col("doc_id").asc)
    val rows = ordered.limit(pageSize + 1).collect()
    val page = rows.take(pageSize).toSeq
    val pageDf = spark.createDataFrame(
      spark.sparkContext.parallelize(page, 1), ordered.schema)
    val next =
      if (rows.length <= pageSize) None
      else Some(Mango.encodeBookmark(Seq(
        page.last.getAs[Any](sortField), page.last.getAs[Any]("doc_id"))))
    (pageDf, next)
  }

  /** [[searchPage]] with CouchDB's `include_docs=true`: the
    * relevance-ordered page, each hit carrying its full doc row. The
    * page is served first (bucket-pruned probe + one `limit(n+1)`
    * TakeOrdered, exactly [[searchPage]]), THEN the bounded page
    * joins the doc relation — broadcast on the page side, so the doc
    * fetch is one hash-join pass whose build side is page-sized; over
    * a `_b`-bucketed doc store the scan additionally prunes to the
    * page ids' buckets. Returns the page in serve order (score DESC,
    * doc_id ASC, re-asserted after the join) and the same bookmark
    * [[searchPage]] would. */
  def searchPageDocs(spark: SparkSession, path: String,
                     queryTerms: Seq[String], pageSize: Int,
                     docs: DataFrame, idCol: String,
                     bookmark: Option[String] = None, k1: Double = 1.2,
                     b: Double = 0.75): (DataFrame, Option[String]) = {
    val (page, next) = searchPage(spark, path, queryTerms, pageSize,
      bookmark, k1, b)
    val withDocs = docs.select(col(idCol).as("doc_id") +:
        docs.columns.filterNot(_ == idCol).map(c => col(c)): _*)
      .join(broadcast(page), Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    (withDocs, next)
  }

  /** CouchDB `_search` with `group_field` (Clouseau's grouped
    * search): hits grouped by a stored field's value, the top
    * `groupLimit` groups ordered by their BEST hit's relevance, each
    * group carrying its `total_rows` (every match in the group, not
    * just the served ones) and its top `limitPerGroup` hits by
    * `(score DESC, doc_id ASC)`. Scale shape: one scoring probe
    * (bucket-pruned postings), one id-keyed join for the group
    * values, ONE group aggregation whose top-`groupLimit` cut is a
    * TakeOrdered (never a global sort), and one window PARTITIONED BY
    * GROUP over only the surviving groups' rows (the group cut
    * broadcasts — it is `groupLimit` rows by definition). A NULL
    * group value forms its own group, as Lucene grouping does.
    * Output: `(group_rank, group, total_rows, doc_id, score)` in
    * (group_rank, score DESC, doc_id) order. */
  /** `groupSort`: CouchDB's `group_sort` — order (and cut) the GROUPS
    * by a stored field instead of best-hit relevance. The group key
    * follows Lucene grouping's group-head rule: ascending sorts
    * groups by their MIN of the field over matched members,
    * descending by their MAX (for `field == groupField` both equal
    * the group value — the common `group_sort: ["-age"]` shape), ties
    * by group ascending. Within-group hits stay relevance-ordered
    * (CouchDB's `sort` applies within groups separately). */
  def searchGrouped(spark: SparkSession, path: String,
                    queryTerms: Seq[String], docs: DataFrame,
                    idCol: String, groupField: String, groupLimit: Int,
                    limitPerGroup: Int, k1: Double = 1.2,
                    b: Double = 0.75,
                    groupSort: Option[(String, Boolean)] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupLimit > 0 && limitPerGroup > 0,
      "groupLimit and limitPerGroup must be positive")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    val scored = sumInTermOrder(
      bm25Partials(spark, path, terms, st, k1, b), terms)
    val docCols = Seq(col(idCol).as("doc_id"),
        col(groupField).cast("string").as("group")) ++
      groupSort.filter(_._1 != groupField)
        .map { case (f, _) => col(f).as("_gsf") }
    val g = scored.join(docs.select(docCols: _*), Seq("doc_id"))
    val gsCol = groupSort.map { case (f, _) =>
      if (f == groupField) col("group") else col("_gsf") }
    val aggCols: Seq[Column] =
      Seq(max(struct(col("score"), (-col("doc_id").cast("long"))
          .as("_nd"))).as("_best"),
        count(lit(1)).as("total_rows")) ++
      groupSort.map { case (_, asc) =>
        (if (asc) min(gsCol.get) else max(gsCol.get)).as("_ghead") }
    val gtopAgg = g.groupBy(col("group"))
      .agg(aggCols.head, aggCols.tail: _*)
    val groupOrder: Seq[Column] = groupSort match {
      case Some((_, asc)) =>
        Seq(if (asc) col("_ghead").asc_nulls_last
            else col("_ghead").desc_nulls_last,
          col("group").asc_nulls_last)
      case None =>
        Seq(col("_best.score").desc, col("group").asc_nulls_last)
    }
    val gtop = gtopAgg.orderBy(groupOrder: _*).limit(groupLimit)
    val ranked = gtop.withColumn("group_rank", row_number().over(
        Window.orderBy(groupOrder: _*)))
      .drop("_ghead")
    val w = Window.partitionBy(col("group"))
      .orderBy(col("score").desc, col("doc_id").asc)
    g.join(broadcast(ranked), g("group") <=> ranked("group"))
      .drop(ranked("group"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= limitPerGroup)
      .select(col("group_rank").cast("long").as("group_rank"),
        col("group"), col("total_rows"), col("doc_id"), col("score"))
      .orderBy(col("group_rank"), col("score").desc, col("doc_id"))
  }

  /** CouchDB `_search` FACETING (`counts`, `ranges`, `drilldown` —
    * the Clouseau/Dreyfus faceted-search parameters, CouchDB search
    * docs): facet aggregations over the FULL matched set of a
    * disjunctive term query (CouchDB counts every hit, never just
    * the returned page), after `drilldown` narrows it facet-style —
    * each `(field, value)` pair keeps docs whose stored field equals
    * the value; repeated fields OR, distinct fields AND (CouchDB's
    * documented drilldown composition). Matching doc ids come from
    * the bucket-pruned postings probe (`term IN` pushed to parquet);
    * facet values join from the caller's doc relation with ONLY the
    * facet/drilldown columns projected (column-pruned scan), one
    * id-keyed hash semi join. The output is one row per facet
    * bucket — `(facet, field, label, count)` with `facet` ∈
    * {`counts`, `ranges`}: all `counts` fields aggregate in ONE
    * shuffle (explode to (field, value) pairs first — not a groupBy
    * per field), all `ranges` in ONE single-row conditional
    * aggregation. Range specs are Lucene range strings (`[a TO b]`
    * inclusive / `{a TO b}` exclusive per side — the [[TextQuery]]
    * grammar) evaluated on the field cast to double; every requested
    * range label reports (0 when empty, as CouchDB does), while
    * `counts` enumerates only occurring non-null values (ditto). */
  def searchFacets(spark: SparkSession, path: String,
                   queryTerms: Seq[String], docs: DataFrame,
                   idCol: String, countsFields: Seq[String] = Nil,
                   ranges: Seq[(String, String, String)] = Nil,
                   drilldown: Seq[(String, String)] = Nil): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    require(countsFields.nonEmpty || ranges.nonEmpty,
      "faceting needs at least one counts field or range")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    val hits = readPruned(spark, path, "postings", terms, st.nBuckets)
      .select(col("doc_id")).distinct()
    val want = (countsFields ++ ranges.map(_._1) ++ drilldown.map(_._1))
      .distinct
    val base = docs.select(col(idCol).as("doc_id") +:
      want.map(f => col(f)): _*)
    val drilled = drilldown.groupBy(_._1).foldLeft(
        base.join(hits, Seq("doc_id"), "left_semi")) {
      case (d, (f, vs)) =>
        d.filter(col(f).cast("string").isin(vs.map(_._2): _*))
    }
    val cnt = if (countsFields.isEmpty) Nil else Seq(
      drilled.select(explode(array(countsFields.map(f =>
          struct(lit(f).as("field"), col(f).cast("string").as("label")))
        : _*)).as("c"))
        .filter(col("c.label").isNotNull)
        .groupBy(col("c.field").as("field"), col("c.label").as("label"))
        .agg(count(lit(1)).as("count"))
        .select(lit("counts").as("facet"), col("field"), col("label"),
          col("count")))
    val rng = if (ranges.isEmpty) Nil else {
      val conds = ranges.map { case (f, label, spec) =>
        TextQuery.parse(s"$f:$spec") match {
          case TextQuery.TRange(_, lo, hi, loInc, hiInc) =>
            val v = col(f).cast("double")
            // Lucene's `*` is an unbounded side (no predicate); a
            // non-numeric bound fails LOUDLY naming the facet, never
            // as a bare NumberFormatException
            def bound(s: String, mk: Double => Column): Option[Column] =
              if (s == "*") None
              else try Some(mk(s.toDouble)) catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"range facet '$label': non-numeric bound '$s' in " +
                      s"$spec (bounds must be numbers or *)")
              }
            val sides =
              bound(lo, d => if (loInc) v >= d else v > d).toSeq ++
                bound(hi, d => if (hiInc) v <= d else v < d)
            // [* TO *]: every doc where the field exists numerically
            if (sides.isEmpty) v.isNotNull else sides.reduce(_ && _)
          case other => throw new IllegalArgumentException(
            s"range facet '$label' must be a Lucene range ([a TO b] / " +
              s"{a TO b}), got: $spec")
        }
      }
      val aggs = conds.zipWithIndex.map { case (c, i) =>
        count(when(c, lit(1))).as(s"_r$i")
      }
      Seq(drilled.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(ranges.zipWithIndex.map {
          case ((f, label, _), i) =>
            struct(lit(f).as("field"), lit(label).as("label"),
              col(s"_r$i").as("count"))
        }: _*)).as("r"))
        .select(lit("ranges").as("facet"), col("r.field").as("field"),
          col("r.label").as("label"), col("r.count").as("count")))
    }
    (cnt ++ rng).reduce(_ unionByName _)
  }

  /** Proximity-boosted BM25 for an N-term query (N ≥ 2): docs
    * containing EVERY term, scored `bm25 * (1 + 1/(1 + span))` where
    * `span` is the MINIMUM WINDOW — the smallest token distance
    * `max(pᵢ) - min(pᵢ)` over any choice of one occurrence per term —
    * resolved entirely from the positional index's stored position
    * arrays. Computed by the classic merged-stream scan: the terms'
    * positions explode into one sorted stream per doc, each row carries
    * a running conditional max per term, and the candidate window
    * ending at position `p` spans `p - least(running maxes)`; the
    * per-doc cost is Σtf·log(Σtf) (the sort) — never document length.
    * For two terms the window span IS the minimum pairwise distance,
    * so this is a strict generalization. Near-phrase docs can double
    * their score; far-apart co-occurrence converges to plain BM25. */
  def proximitySearch(spark: SparkSession, path: String,
                      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
                      b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.size >= 2 && queryTerms.distinct == queryTerms,
      "proximity needs at least two distinct terms")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms).sorted
    require(terms.size >= 2,
      "query terms collapsed to fewer than two analyzed terms")
    val scored = bm25Partials(spark, path, terms, st, k1, b)
    // BM25 partials: every term required (no coalesce — a null partial
    // marks a missing term), summed in sorted-term order
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("_s"))).as(s"_t$i")
    }
    val g = scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
      .filter(terms.indices.map(i => col(s"_t$i").isNotNull).reduce(_ && _))
    // minimum window span over the merged position stream
    val pos = scored.select(col("doc_id"), col("term"),
      explode(col("pos")).as("_p"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = terms.zipWithIndex.foldLeft(pos) { case (d, (t, i)) =>
      d.withColumn(s"_m$i", max(when(col("term") === t, col("_p"))).over(w))
    }
    val spans = run
      .filter(terms.indices.map(i => col(s"_m$i").isNotNull).reduce(_ && _))
      // the current row's own term has running max == _p, so the
      // window ending here spans _p - least(all running maxes)
      .withColumn("_span", col("_p") -
        least(terms.indices.map(i => col(s"_m$i")): _*))
      .groupBy(col("doc_id")).agg(min(col("_span")).as("_md"))
    g.join(spans, Seq("doc_id"))
      .select(col("doc_id"), round4(
        terms.indices.map(i => col(s"_t$i")).reduceLeft(_ + _) *
          (lit(1.0) + lit(1.0) / (lit(1.0) + col("_md").cast("double"))))
        .as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Two-term convenience overload of [[proximitySearch]]. */
  def proximitySearch(spark: SparkSession, path: String, termA: String,
                      termB: String, k: Int): DataFrame =
    proximitySearch(spark, path, Seq(termA, termB), k)

  /** Hashed TF-IDF document vectors — the text→embedding bridge: every
    * doc becomes a dense `dim`-dimensional `Array[Double]` usable by
    * every Similarity operator (brute/LSH/IVF ANN, cosine near-dup),
    * so search → vectorize → dedup runs as one pipeline with no
    * external model. Feature hashing (the same md5 bucket routing as
    * the inverted index) folds the open vocabulary into `dim` slots;
    * weights are smooth TF-IDF `tf * (ln((n+1)/(df+1)) + 1)`.
    *
    * Engine-portable by construction: the idf is rounded to 1e-6 and
    * carried as an INTEGER weight, so hash-collision sums are exact
    * integer adds (no float addition-order nondeterminism), divided
    * back to double once per slot. The dense array is `dim`
    * conditional integer sums (the SimHash vote pattern — codegen'd,
    * no per-element HOF). */
  def tfidfVectors(docs: DataFrame, id: Column, text: Column,
                   dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 1024, "dim must be in [2, 1024]")
    val tf = termFreqs(docs, id, text)
    val nDocs = tf.groupBy(col("doc_id")).agg(lit(1).as("_one"))
      .agg(count(lit(1)).as("n"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = tf.join(dft, Seq("term")).crossJoin(broadcast(nDocs))
    densify(weighted(w, col("n"), dim), dim)
  }

  /** TF-IDF vectors served from a [[buildTextIndex]] index — ONE pass
    * over the stored postings with the per-term dfs joined from the
    * stored terms table and `n` from the one-row stats: no
    * tokenization, no repeated corpus passes (the scan path executes
    * its pipeline once per stats/df/tf consumer — see [[tfidfVectors]]).
    * Identical vectors to the scan path over the same corpus. */
  def tfidfVectorsIndexed(spark: SparkSession, path: String,
                          dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 1024, "dim must be in [2, 1024]")
    val n = statsOf(spark, path).n
    val w = spark.read.parquet(path + "/postings")
      .select(col("doc_id"), col("term"), col("tf"))
      .join(spark.read.parquet(path + "/terms")
        .select(col("term"), col("df")), Seq("term"))
    densify(weighted(w, lit(n), dim), dim)
  }

  /** TF-IDF vectors for ONLY the docs in `candidates` (one doc-id
    * column) — the serving-path variant: the postings read is
    * semi-joined to the candidate set BEFORE the dim-wide densify
    * aggregation, so the aggregation (the expensive stage) processes
    * candidate docs' postings only, never the corpus. dfs and `n` come
    * from the stored tables, so each candidate's vector is
    * bit-identical to the full [[tfidfVectorsIndexed]] output. */
  def tfidfVectorsFor(spark: SparkSession, path: String,
                      candidates: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 1024, "dim must be in [2, 1024]")
    require(candidates.columns.length == 1,
      s"candidates must be a single doc-id column; got " +
        s"[${candidates.columns.mkString(", ")}]")
    val n = statsOf(spark, path).n
    val w = spark.read.parquet(path + "/postings")
      .select(col("doc_id"), col("term"), col("tf"))
      .join(candidates.toDF("doc_id").distinct(), Seq("doc_id"),
        "left_semi")
      .join(spark.read.parquet(path + "/terms")
        .select(col("term"), col("df")), Seq("term"))
    densify(weighted(w, lit(n), dim), dim)
  }

  /** Hybrid retrieval — the modern search stack's score fusion, served
    * entirely from the index: candidates and their BM25 scores come
    * from the inverted postings ([[searchIndexed]] semantics, no
    * limit), lexical-vector similarity comes from the hashed TF-IDF
    * embeddings of the CANDIDATES ONLY ([[tfidfVectorsFor]] — the
    * densify aggregation is bounded by the query terms' posting
    * lists, never the corpus) against the QUERY's own
    * TF-IDF vector (tf=1 per term, stored dfs), and the final score is
    * `alpha * bm25/max(bm25) + (1-alpha) * cosine` — min-max-
    * normalized BM25 so both signals live on [0,1]. Every float step
    * is a fixed-order expression (max is order-free, the fusion is one
    * literal-weighted sum), so the whole hybrid ranking replays in the
    * oracle engine. */
  def hybridSearch(spark: SparkSession, path: String,
                   queryTerms: Seq[String], k: Int, alpha: Double = 0.5,
                   dim: Int = 64): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0,1]")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    // lexical candidates + raw BM25 (searchIndexed without the limit)
    val dfs = storedDfs(spark, s"$path/terms", terms, st.nBuckets)
    val bm = sumInTermOrder(
        bm25PartialsOf(spark, path, dfs, st, 1.2, 0.75), terms)
      .withColumnRenamed("score", "bm25")
    val maxB = bm.agg(max(col("bm25")).as("_maxb"))
    // the query's own TF-IDF vector: tf=1 per term, stored dfs
    val qv = weighted(queryTfDf(spark, dfs), lit(st.n), dim)
    val qvec = densify(qv, dim)
      .select(col("embedding").as("_qv"))
    // candidate-bounded vectors: docs matching ≥1 query term (the BM25
    // candidate set, bounded by the query terms' posting lists) — NOT
    // the full-corpus tfidfVectorsIndexed, whose dim-wide densify
    // aggregation over every document would make each hybrid query pay
    // a whole-index aggregation at scale
    val dv = tfidfVectorsFor(spark, path, bm.select(col("doc_id")), dim)
      .select(col("vec_id").as("doc_id"), col("embedding").as("_dv"))
    import graft.operators.Similarity.dot
    bm.join(dv, Seq("doc_id"))
      .crossJoin(broadcast(qvec))
      .crossJoin(broadcast(maxB))
      .withColumn("_cos", dot(col("_dv"), col("_qv")) /
        (sqrt(dot(col("_dv"), col("_dv"))) *
          sqrt(dot(col("_qv"), col("_qv")))))
      .select(col("doc_id"), round4(
        lit(alpha) * (col("bm25") / col("_maxb")) +
          lit(1.0 - alpha) * col("_cos")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the other standard hybrid-retrieval combiner: instead of
    * normalizing scores onto one scale ([[hybridSearch]]'s min-max
    * fusion), each signal contributes `1/(k0 + rank)`, which is immune
    * to score-scale mismatch between BM25 and cosine. Both rankings run
    * over the SAME candidate set (docs matching ≥1 query term — bounded
    * by the query terms' posting lists, never the corpus), ranks break
    * ties by doc id, and the fused score is a fixed-order sum of exact
    * rationals of integer ranks — so the whole ranking replays in the
    * oracle engine bit-for-bit. Both ranks run through the two-phase
    * range-partitioned [[Relational.withGlobalRowNumber]] — a high-df
    * query term's posting list is corpus-scale, and a partition-less
    * `row_number` window would pull that whole candidate set through
    * ONE task; the two-phase rank keeps it distributed. */
  def rrfSearch(spark: SparkSession, path: String, queryTerms: Seq[String],
                k: Int, k0: Int = 60, dim: Int = 64): DataFrame = {
    require(k0 > 0, "rrf k0 must be positive")
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val st = statsOf(spark, path)
    val terms = st.analyzer.queryTerms(queryTerms)
    val dfs = storedDfs(spark, s"$path/terms", terms, st.nBuckets)
    val bm = sumInTermOrder(
        bm25PartialsOf(spark, path, dfs, st, 1.2, 0.75), terms)
      .withColumnRenamed("score", "bm25")
    val qv = weighted(queryTfDf(spark, dfs), lit(st.n), dim)
    val qvec = densify(qv, dim).select(col("embedding").as("_qv"))
    val dv = tfidfVectorsFor(spark, path, bm.select(col("doc_id")), dim)
      .select(col("vec_id").as("doc_id"), col("embedding").as("_dv"))
    import graft.operators.Similarity.dot
    val cos = bm.select(col("doc_id")).join(dv, Seq("doc_id"))
      .crossJoin(broadcast(qvec))
      .select(col("doc_id"), round4(dot(col("_dv"), col("_qv")) /
        (sqrt(dot(col("_dv"), col("_dv"))) *
          sqrt(dot(col("_qv"), col("_qv"))))).as("_cos"))
    val r1 = Relational.withGlobalRowNumber(bm,
        Seq(col("bm25").desc, col("doc_id").asc), "_r1")
      .select(col("doc_id"), col("_r1"))
    val r2 = Relational.withGlobalRowNumber(cos,
        Seq(col("_cos").desc, col("doc_id").asc), "_r2")
      .select(col("doc_id"), col("_r2"))
    r1.join(r2, Seq("doc_id"))
      .select(col("doc_id"), round4(
        lit(1.0) / (lit(k0) + col("_r1")) +
          lit(1.0) / (lit(k0) + col("_r2"))).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** The query's own `(doc_id = -1, term, tf = 1, df)` rows from its
    * stored dfs, as a local frame. */
  private def queryTfDf(spark: SparkSession,
                        dfs: Seq[(String, Long)]): DataFrame =
    spark.createDataFrame(dfs.map { case (t, d) => (-1L, t, 1L, d) })
      .toDF("doc_id", "term", "tf", "df")

  /** `(doc_id, _feat, _wi)` integer hashed-TF-IDF weights. The idf is
    * rounded at 1e-6 and carried as an integer so downstream
    * collision sums are order-free exact adds. */
  private def weighted(tfdf: DataFrame, n: Column, dim: Int): DataFrame =
    tfdf
      .withColumn("_feat", termBucket(col("term"), dim))
      .withColumn("_idf6", floor(
        (log((n.cast("double") + lit(1.0)) /
          (col("df").cast("double") + lit(1.0))) + lit(1.0)) *
          lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("_wi", col("tf") * col("_idf6"))

  /** Dense `dim`-slot vectors from integer slot weights: `dim`
    * conditional integer sums (the SimHash vote pattern — codegen'd,
    * no per-element HOF), divided back to double once per slot. */
  private def densify(w: DataFrame, dim: Int): DataFrame = {
    val sums = (0 until dim).map(i =>
      sum(when(col("_feat") === i, col("_wi"))).as(s"_f$i"))
    w.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id").as("vec_id"),
        array((0 until dim).map(i =>
          coalesce(col(s"_f$i"), lit(0L)).cast("double") / 1000000.0): _*)
          .as("embedding"))
  }

  /** Read an index sub-table pruned to the literal terms: their
    * driver-side-computed buckets become `_tb` partition filters
    * (directory pruning) and `term IN` reaches the parquet row groups. */
  private def readPruned(spark: SparkSession, path: String, sub: String,
                         terms: Seq[String], nBuckets: Int): DataFrame =
    prunedTable(spark, s"$path/$sub", terms, nBuckets)

  private def prunedTable(spark: SparkSession, dir: String,
                          terms: Seq[String], nBuckets: Int): DataFrame = {
    val buckets = terms.map(termBucketJvm(_, nBuckets)).distinct
    graft.view.IndexStore.readBuckets(spark, dir, "_tb", buckets)
      .filter(col("_tb").isin(buckets: _*) && col("term").isin(terms: _*))
  }

  /** The one-row stats in typed form: corpus stats + the analyzer the
    * index was built with. */
  private final case class TextStats(n: Long, avgdl: Double,
                                     nBuckets: Int, analyzer: Analyzer)

  private def analyzerFromRow(st: org.apache.spark.sql.Row): Analyzer =
    Analyzer(st.getAs[Boolean]("an_lc"),
      st.getAs[scala.collection.Seq[String]]("an_stop").toSeq,
      st.getAs[Boolean]("an_stem"))

  private def statsOf(spark: SparkSession, path: String): TextStats = {
    // family separation: a PARTITIONED index's stats are per-`_p`
    // rows — a global serve reading an arbitrary partition's stats
    // would score silently wrong, so refuse loudly (the A34d
    // planner discipline: global planners skip partitioned indexes)
    require(!isPartitioned(spark, path),
      s"$path is a PARTITIONED text index — scope the query with " +
        "searchPartitioned(partition, ...)")
    val st = graft.view.IndexStore.readSmall(spark, path + "/stats",
      StatsRows).head
    TextStats(st.getAs[Long]("n"), st.getAs[Double]("avgdl"),
      st.getAs[Int]("n_buckets"), analyzerFromRow(st))
  }

  /** Phrase occurrence counts served from the POSITIONAL index, with
    * optional SLOP: each phrase term's sorted token positions come
    * from its posting row (no document access); occurrences fold
    * left-to-right as `occ_j = intersect(∪_{p∈occ_(j-1)} [p+1, p+1+slop],
    * pos(term_j))` — after step j, `occ` holds the DISTINCT positions
    * where a length-(j+1) prefix match ends, so `|occ|` at the last
    * term counts match end positions. `slop = 0` (default) is the
    * exact phrase: every gap exactly 1; `slop = s` allows each
    * consecutive pair to sit up to `s` extra tokens apart, IN ORDER —
    * the middle ground between exact phrase and proximity boost
    * ([[proximitySearch]]), resolved from the same stored position
    * arrays. The per-element HOF cost is bounded by tf·(1+slop), not
    * document length. Returns the top-k docs by occurrence count
    * (ties by doc id). */
  def phraseSearchIndexed(spark: SparkSession, path: String,
                          rawPhrase: Seq[String], k: Int,
                          slop: Int = 0): DataFrame =
    phraseOccurrences(spark, path, rawPhrase, slop)
      .orderBy(col("n_occ").desc, col("doc_id").asc).limit(k)

  /** ALL `(doc_id, n_occ)` rows where the phrase occurs — the unbounded
    * core shared by [[phraseSearchIndexed]] (top-k by occurrence
    * count) and [[idsMatchingPhrase]] (Mango `$text` phrase clauses,
    * no ranking). Postings pruned to the phrase's term buckets. */
  private def phraseOccurrences(spark: SparkSession, path: String,
                                rawPhrase: Seq[String],
                                slop: Int): DataFrame = {
    require(rawPhrase.size >= 2, "a phrase needs at least two tokens")
    require(slop >= 0, "slop must be >= 0")
    val st = statsOf(spark, path)
    val nB = st.nBuckets
    // normalize each token in place (order and repeats preserved); a
    // stopword token has no postings, so — as in any stopworded index —
    // a phrase containing one cannot match
    val phrase = rawPhrase.map(st.analyzer.queryTerm)
    val terms = phrase.distinct
    val idx = terms.zipWithIndex.toMap
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      first(when(col("term") === t, col("pos")), ignoreNulls = true)
        .as(s"_pos$i")
    }
    val g = readPruned(spark, path, "postings", terms, nB)
      .groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
      // phrase semantics: every distinct term must be present
      .filter(terms.indices.map(i => col(s"_pos$i").isNotNull)
        .reduce(_ && _))
    // array_intersect returns distinct elements, so the expanded
    // candidate windows collapse back to distinct end positions at
    // every step; slop=0 degenerates to transform(acc, _ + 1)
    val occ = phrase.tail.foldLeft(col(s"_pos${idx(phrase.head)}")) {
      (acc, t) => array_intersect(
        flatten(transform(acc, p => sequence(p + 1, p + lit(1 + slop)))),
        col(s"_pos${idx(t)}"))
    }
    g.select(col("doc_id"), size(occ).cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  /** ALL doc ids whose indexed text contains the EXACT phrase
    * (contiguous, in order) — the unbounded positional match behind a
    * Mango `$text` phrase clause: [[phraseOccurrences]] at slop 0, ids
    * only. */
  def idsMatchingPhrase(spark: SparkSession, path: String,
                        rawPhrase: Seq[String]): DataFrame =
    phraseOccurrences(spark, path, rawPhrase, slop = 0)
      .select(col("doc_id"))

  /** ALL doc ids whose indexed text contains EVERY query term — the
    * unbounded conjunctive match behind Mango `$text` (no ranking, no
    * k): postings pruned to the probed term buckets, then a per-doc
    * term count equal to the full term list. Terms that are stopwords
    * of the index's analyzer are DROPPED from the query first (the
    * standard analyzer behavior — they have no postings, so keeping
    * them would empty every conjunction). */
  def idsMatchingAll(spark: SparkSession, path: String,
                     rawTerms: Seq[String]): DataFrame = {
    val st = statsOf(spark, path)
    val stop = st.analyzer.sortedStop.toSet
    val terms = st.analyzer.queryTerms(rawTerms).filterNot(stop.contains)
    require(terms.nonEmpty,
      "no query terms remain after analysis (all stopwords or empty)")
    readPruned(spark, path, "postings", terms, st.nBuckets)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_nt"))
      .filter(col("_nt") === terms.size)
      .select(col("doc_id"))
  }

  /** Boolean BM25 search from the index: docs containing EVERY `must`
    * term and NO `mustNot` term, ranked by the BM25 sum over the
    * `must` terms (same fixed-order fold as [[searchIndexed]]). The
    * exclusion is a doc-id anti-join against the `mustNot` postings —
    * still only probed-bucket reads. */
  def searchBoolean(spark: SparkSession, path: String, must: Seq[String],
                    mustNot: Seq[String] = Nil, k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(must.nonEmpty && must.distinct == must,
      "must terms must be non-empty and distinct")
    require(mustNot.distinct == mustNot && must.intersect(mustNot).isEmpty,
      "mustNot terms must be distinct and disjoint from must")
    val st = statsOf(spark, path)
    val nB = st.nBuckets
    val mustN = st.analyzer.queryTerms(must)
    val mustNotN = st.analyzer.queryTerms(mustNot)
    require(mustN.intersect(mustNotN).isEmpty,
      "must and mustNot terms collide after analysis")
    val scored = bm25Partials(spark, path, mustN, st, k1, b)
    val terms = mustN.sorted
    // NO coalesce here: a null partial marks a missing must term
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("_s"))).as(s"_t$i")
    }
    val g = scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
      .filter(terms.indices.map(i => col(s"_t$i").isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        round4(terms.indices.map(i => col(s"_t$i"))
          .reduceLeft(_ + _)).as("score"))
    val out =
      if (mustNotN.isEmpty) g
      else g.join(readPruned(spark, path, "postings", mustNotN, nB)
        .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    out.orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  // ----------------------------------------------- fielded index (BM25F)

  /** On-disk layout version for FIELDED indexes (distinct from the
    * single-field [[FormatVersion]] line so neither artifact kind can
    * ever serve as the other). v102 = by-doc sidecar (`ids/`) for
    * incremental maintenance. */
  val FieldedFormatVersion = 102

  /** Build a FIELDED inverted index — real corpora carry structured
    * text (title/body/anchor), and relevance weights them differently
    * (a title hit outranks a body hit). Layout mirrors
    * [[buildTextIndex]] with a `field` tag on every posting and df
    * row, and a PER-FIELD stats row `(field, ord, weight, n, sum_dl,
    * avgdl)` — each field is its own BM25 universe (own df, own doc
    * count, own average length), the fields+weights stamped into the
    * index exactly like the analyzer so a serve can never assume a
    * different field map than the build ([[requireFields]]).
    *
    * `fields` is the ordered `(name, column, weight)` spec; a doc
    * whose field analyzes to zero tokens simply has no postings (and
    * no length) in that field. Serving ([[searchFielded]]) reads only
    * the probed term-bucket directories plus the per-field stats rows.
    */
  /** `perField` is CouchDB's text-index `"analyzer": {"name":
    * "perfield", "default": …, "fields": {…}}` — each listed field
    * analyzes (tokenize/stopword/stem) under its OWN options, unlisted
    * fields fall back to `analyzer` (the `default`). Every field's
    * analyzer is stamped into ITS stats row, so the serve side
    * re-analyzes each query term per field and a multilingual index
    * (e.g. English-stopworded title beside an unstopworded body)
    * cannot tokenize a query differently from the field it probes. */
  def buildFieldedTextIndex(docs: DataFrame, id: Column,
                            fields: Seq[(String, Column, Double)],
                            path: String, nBuckets: Int = 64,
                            seq: Long = 0L,
                            analyzer: Analyzer = Analyzer(),
                            perField: Map[String, Analyzer] = Map.empty)
      : Unit = {
    import graft.view.{IndexMeta, IndexStore}
    require(fields.nonEmpty, "at least one field")
    require(fields.map(_._1).distinct.size == fields.size,
      "field names must be distinct")
    require(fields.forall(_._3 > 0.0), "field weights must be positive")
    val unknown = perField.keySet -- fields.map(_._1).toSet
    require(unknown.isEmpty,
      s"perField names fields not in the index: ${unknown.mkString(", ")}")
    def anOf(nm: String): Analyzer =
      perField.getOrElse(nm, analyzer).canonical
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    val tfRows = fields.map { case (nm, c, _) =>
      termFreqs(docs, id, c, anOf(nm)).withColumn("field", lit(nm))
    }.reduce(_.unionByName(_))
      .withColumn("_tb", termBucket(col("term"), nBuckets))
    require(!tfRows.isEmpty,
      "cannot build a fielded text index from a corpus with no tokens")
    tfRows.repartition(col("_tb"))
      .sortWithinPartitions(col("term"), col("field"))
      .write.mode("overwrite").partitionBy("_tb").parquet(path + "/postings")
    val posts = spark.read.parquet(path + "/postings")
    posts.groupBy(col("_tb"), col("field"), col("term"))
      .agg(count(lit(1)).as("df"))
      .repartition(col("_tb")).sortWithinPartitions(col("term"), col("field"))
      .write.mode("overwrite").partitionBy("_tb").parquet(path + "/terms")
    // by-doc sidecar: which term buckets each (doc, field) posted into,
    // with the field length — [[upsertFieldedDocs]]'s O(changed
    // buckets) locator and exact per-field stat-delta source
    posts.select(col("doc_id"), col("field"), col("_tb"), col("dl"))
      .distinct()
      .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nBuckets))
      .repartition(col("_ib")).sortWithinPartitions(col("_ib"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_ib").parquet(path + "/ids")
    // per-field corpus stats: n = docs with >=1 token IN THAT FIELD
    val fst = posts.groupBy(col("field"), col("doc_id"))
      .agg(max(col("dl")).as("dl"))
      .groupBy(col("field"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    fieldedStatsDf(spark,
      fields.zipWithIndex.map { case ((nm, _, w), i) =>
        val (n, sd) = fst.getOrElse(nm, (0L, 0L))
        (nm, i, w, n, sd, anOf(nm))
      }, nBuckets)
      .coalesce(1).write.mode("overwrite").parquet(path + "/stats")
    IndexStore.writeMeta(spark, path, IndexMeta(seq, nBuckets, Nil))
  }

  /** Per-field stats rows, each carrying ITS analyzer (the perfield
    * stamp); `avgdl` always re-derived as `sum_dl/n` in the same
    * double division (driver-side guard: ANSI division would throw on
    * an all-empty field), so a maintained index serves the identical
    * averages a fresh build would. */
  private def fieldedStatsDf(spark: SparkSession,
                             rows: Seq[(String, Int, Double, Long,
                               Long, Analyzer)],
                             nBuckets: Int): DataFrame = {
    import spark.implicits._
    rows.map { case (nm, i, w, n, sd, an) =>
      (nm, i, w, n, sd, if (n > 0) sd.toDouble / n else 0.0,
        an.lowercase, an.stem, an.sortedStop)
    }.toDF("field", "ord", "weight", "n", "sum_dl", "avgdl",
        "an_lc", "an_stem", "an_stop")
      .select(col("field"), col("ord"), col("weight"), col("n"),
        col("sum_dl"), col("avgdl"),
        lit(nBuckets).as("n_buckets"), lit(FieldedFormatVersion).as("fmt"),
        col("an_lc"), col("an_stem"), col("an_stop"))
  }

  /** Incremental maintenance of a [[buildFieldedTextIndex]] index —
    * the [[upsertTextDocs]] merge discipline with a field tag: changed
    * docs' new per-field postings are term-bucket-routed, old postings
    * located via the by-doc sidecar (pruned to the changed ids' hash
    * buckets), and only the union of old∪new term buckets is rewritten;
    * per-field `(n, sum_dl)` adjust by exact integer deltas so a
    * maintained index serves bit-identical BM25F scores to a rebuild.
    * `changedFields` must name the STORED fields in build order (the
    * index stays homogeneous — weights and analyzer come from the
    * stamp, never the caller). `deletedIds` retire docs. A store of a
    * stale layout is refused, naming its path. Returns the affected
    * term buckets. */
  def upsertFieldedDocs(spark: SparkSession, path: String,
                        changedDocs: DataFrame, id: Column,
                        changedFields: Seq[(String, Column)],
                        deletedIds: Seq[Long] = Nil,
                        newSeq: Long = -1L): Seq[Int] =
    upsertFieldedDocs(spark, path, Delta(changedDocs, id.cast("long"),
      deletedIds), id, changedFields, newSeq)

  private[graft] def upsertFieldedDocs(spark: SparkSession, path: String,
                                       d: Delta, id: Column,
                                       changedFields: Seq[(String, Column)],
                                       newSeq: Long): Seq[Int] = {
    graft.view.IndexStore.finishSwap(spark, path)
    val rows = statsRows(spark, path + "/stats", FieldStatsRows)
    if (!stamped(rows, FieldedFormatVersion, "ord"))
      throw graft.view.IndexStore.staleLayout("fielded text", path,
        FieldedFormatVersion, "buildFieldedTextIndex")
    val stRows = rows.sortBy(_.getAs[Int]("ord"))
    val nB = stRows.head.getAs[Int]("n_buckets")
    // perfield: each field tokenizes under ITS stamped analyzer
    val anByField = stRows.map(r =>
      r.getAs[String]("field") -> analyzerFromRow(r)).toMap
    val stored = stRows.map(_.getAs[String]("field")).toSeq
    require(changedFields.map(_._1) == stored,
      s"changed fields ${changedFields.map(_._1)} must match the " +
        s"stored field map $stored (in build order)")
    upsertTerms(spark, path,
      changedFields.map { case (nm, c) =>
        termFreqs(d.live, id, c, anByField(nm)).withColumn("field", lit(nm))
      }.reduce(_ unionByName _),
      changedIds(d, id), nB, Seq("field"),
      newSeq) { (rem, add) =>
      fieldedStatsDf(spark, stRows.map { r =>
        val f = r.getAs[String]("field")
        val (rn, rs) = rem.getOrElse(f, (0L, 0L))
        val (dn, ds) = add.getOrElse(f, (0L, 0L))
        (f, r.getAs[Int]("ord"), r.getAs[Double]("weight"),
          r.getAs[Long]("n") - rn + dn,
          r.getAs[Long]("sum_dl") - rs + ds, anByField(f))
      }.toSeq, nB)
    }
  }

  /** True iff a FIELDED text index of the current layout exists at
    * `path`; absent, empty and unreadable stats as in [[indexCurrent]]. */
  def fieldedCurrent(spark: SparkSession, path: String): Boolean =
    !isPartitioned(spark, path) &&
      stamped(statsRows(spark, path + "/stats", FieldStatsRows),
        FieldedFormatVersion, "ord")

  /** A fielded index's per-field stats rows in build order. */
  private def fieldedStatRows(spark: SparkSession,
                              path: String): Seq[org.apache.spark.sql.Row] =
    graft.view.IndexStore.readSmall(spark, path + "/stats", FieldStatsRows)
      .sortBy(_.getAs[Int]("ord"))

  private final case class FieldStat(name: String, weight: Double,
                                     n: Long, avgdl: Double,
                                     analyzer: Analyzer)
  private final case class FieldedStats(fields: Seq[FieldStat],
                                        nBuckets: Int)

  private def fieldedStatsOf(spark: SparkSession,
                             path: String): FieldedStats = {
    val rows = fieldedStatRows(spark, path)
    require(rows.nonEmpty, s"no fielded stats at $path")
    FieldedStats(
      rows.map(r => FieldStat(r.getAs[String]("field"),
        r.getAs[Double]("weight"), r.getAs[Long]("n"),
        r.getAs[Double]("avgdl"), analyzerFromRow(r))).toSeq,
      rows.head.getAs[Int]("n_buckets"))
  }

  /** The `(field, weight)` map stamped into the fielded index at
    * `path`, in build order. */
  def fieldsOf(spark: SparkSession, path: String): Seq[(String, Double)] =
    fieldedStatsOf(spark, path).fields.map(f => (f.name, f.weight))

  /** The `(field, analyzer)` map stamped into the fielded index at
    * `path`, in build order — the perfield stamp, readable for the
    * same loud-guard composition as [[requireAnalyzer]]. */
  def fieldAnalyzersOf(spark: SparkSession,
                       path: String): Seq[(String, Analyzer)] =
    fieldedStatsOf(spark, path).fields.map(f => (f.name, f.analyzer))

  /** Loud guard for callers that EXPECT a specific field map: opening
    * an index built with different fields or weights fails with both
    * identities side by side (the [[requireAnalyzer]] contract for
    * fields). */
  def requireFields(spark: SparkSession, path: String,
                    expected: Seq[(String, Double)]): Unit = {
    val stored = fieldsOf(spark, path)
    require(stored == expected,
      s"field map mismatch at $path: index was built with $stored " +
        s"but the caller expects $expected — rebuild the index or " +
        "query with the stored fields")
  }

  /** Top-k BM25F search from a [[buildFieldedTextIndex]] index:
    * score(doc) = Σ_field weight_f · BM25_f(doc) — each field scored
    * as its own BM25 universe (field-local tf, df, doc count and
    * average length from the stamped stats), then summed with the
    * stamped weights. The fold is one conditional aggregate per
    * (field, term) cell, added field-major (build order) then
    * sorted-term — a fixed order both engines reproduce. Reads stay
    * term-bucket-pruned exactly like [[searchIndexed]]. */
  def searchFielded(spark: SparkSession, path: String,
                    queryTerms: Seq[String], k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "queryTerms must be non-empty and distinct")
    val fs = fieldedStatsOf(spark, path)
    // perfield: each field re-analyzes the query under ITS stamped
    // analyzer — the same term may probe different indexed forms (or
    // none: a field-stopword contributes zero in that field only)
    val fieldTerms: Seq[(FieldStat, Seq[String])] =
      fs.fields.map(f => f -> f.analyzer.queryTerms(queryTerms).sorted)
    val terms = fieldTerms.flatMap(_._2).distinct.sorted
    // perfield makes an all-stopword query a mainline case: every
    // term stopworded by every field's analyzer leaves no cell to
    // aggregate — the contract is "a stopword contributes zero", so
    // the whole query scores nothing rather than throwing
    if (terms.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        lit(0.0).as("score"))
    def perField(g: FieldStat => Column): Column =
      fs.fields.tail.foldLeft(
        when(col("field") === fs.fields.head.name, g(fs.fields.head))) {
        (acc, f) => acc.when(col("field") === f.name, g(f))
      }
    // each (field, term) df read on the driver, as for searchIndexed;
    // the filter drops what an inner join with the term table would
    val dfs = termRows(spark, s"$path/terms", terms, fs.nBuckets,
        fs.fields.size)(r => (r.getAs[String]("field"), r.getAs[String]("term")))
      .map(r => (r.getAs[String]("field"), r.getAs[String]("term"),
        r.getAs[Long]("df")))
    val scored = readPruned(spark, path, "postings",
        dfs.map(_._2).distinct, fs.nBuckets)
      .withColumn("df", literalOf(dfs.map { case (f, t, d) =>
        (col("field") === f && col("term") === t) -> d }))
      .filter(col("df").isNotNull)
      .withColumn("_s", perField(f => lit(f.weight)) *
        bm25Weight(col("tf"), col("dl"), col("df"),
          perField(f => lit(f.n)), perField(f => lit(f.avgdl)), k1, b))
    val cells = for {
      ((f, fts), fi) <- fieldTerms.zipWithIndex
      (t, ti) <- fts.zipWithIndex
    } yield coalesce(max(when(col("field") === f.name &&
        col("term") === t, col("_s"))), lit(0.0)).as(s"_c${fi}_$ti")
    val names = for {
      ((_, fts), fi) <- fieldTerms.zipWithIndex; ti <- fts.indices
    } yield s"_c${fi}_$ti"
    scored.groupBy(col("doc_id")).agg(cells.head, cells.tail: _*)
      .select(col("doc_id"),
        round4(names.map(col).reduceLeft(_ + _)).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }
}
