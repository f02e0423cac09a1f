package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.gfunctions.collation_key
import graft.operators.{Dedup, DedupIndex, Pq, Replication, Similarity, TextSearch}
import graft.sources.{ChangesFeed, EventStore}
import graft.view.IndexStore
import graft.view.IndexStore.Delta

/** A closed user session emitted by [[Streams.sessionizeStream]]. */
final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                            n_events: Long)

/** Per-key state carried between micro-batches by the sessionizer. */
final case class SessionState(start_us: Long, last_us: Long, n: Long)

/** Structured Streaming formulations of the engine's operators: the
  * reference's change-feed-driven incremental view maintenance,
  * continuous windowed aggregation, and streaming dedup — all standard
  * `readStream → transform → writeStream` plans with watermarks, so the
  * same code runs against Kafka/files at scale. */
object Streams {

  /** Tumbling-window event counts with a watermark: late data beyond
    * `lateness` is dropped and state is bounded — the streaming
    * equivalent of [[graft.operators.Relational.tumblingAgg]]. Expects a
    * `ts` TimestampType column. */
  def windowedCounts(events: DataFrame, width: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Streaming `_stats` reduce: the reference's stats builtin maintained
    * continuously per window+key with bounded state. The sums
    * accumulate as DECIMALS internally (exact, order-free — a plain
    * double sum would make the settled table depend on micro-batch
    * arrival order in the last ulp) and surface as doubles. */
  def windowedStats(events: DataFrame, width: String = "1 hour",
                    lateness: String = "2 hours"): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(
        sum(v).cast("double").as("sum"),
        count(col("value")).as("count"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        sum(v * v).cast("double").as("sumsqr"))
  }

  /** Streaming exact dedup on a content key with bounded state: documents
    * whose fingerprint was already seen inside the watermark horizon are
    * dropped — the streaming form of [[graft.operators.Dedup.exactGroups]].
    */
  def dedupStream(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Continuous gap sessionization with custom state —
    * `flatMapGroupsWithState` over a `KeyValueGroupedDataset`: one state
    * record per user carries (session start, last seen, count); a session
    * closes and is EMITTED when the gap to the next event exceeds
    * `gapSeconds`, or when the EVENT-TIME timeout fires (the watermark
    * passed last-seen + gap, so no on-time event can extend it) — state
    * is bounded by active users. Event-time timeouts, not processing
    * time: processing-time timeouts self-trigger endless empty
    * micro-batches. The streaming form of
    * [[graft.operators.Relational.sessionize]]. Expects columns
    * `user_id: long`, `ts: timestamp`. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long,
                       lateness: String = "0 seconds")
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    // the exact micros ride along as a THIRD column: extracting them
    // from java.sql.Timestamp.getTime (milliseconds) would silently
    // truncate sub-millisecond event times, and the watermark column
    // itself must stay in place for EventTimeTimeout
    events.withWatermark("ts", lateness)
      .selectExpr("user_id", "ts", "unix_micros(ts) AS us")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start_us, s.last_us, s.n))
          } else {
            val sorted = rows.map(_._3).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { ts =>
              cur match {
                case Some(s) if ts - s.last_us <= gapUs =>
                  cur = Some(SessionState(s.start_us, ts, s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.start_us, s.last_us, s.n)
                  cur = Some(SessionState(ts, ts, 1))
                case None =>
                  cur = Some(SessionState(ts, ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_us / 1000L + gapSeconds * 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** The one foreachBatch loop behind every `maintain*`: each
    * micro-batch becomes one [[graft.view.IndexStore.Delta]], split by
    * the feed's `_deleted` tombstones of `id` (None: the stream is a
    * log, every row goes in as it is). While the store does not
    * `exist`, `build` runs on the live rows of the first batch `ready`
    * accepts; every later batch is `upsert`ed. Both are stamped
    * `seq = batchId + 1`, so a foreachBatch RETRY replays onto the same
    * update_seq (idempotence). The split lives in the Delta and the
    * seq rule here, once for every store kind, and no tombstone id is
    * ever collected to the driver. */
  private def maintain(feed: DataFrame, checkpoint: String,
                       id: Option[Column], exists: => Boolean,
                       ready: DataFrame => Boolean = !_.isEmpty,
                       mode: String = "update")
                      (build: (DataFrame, Long) => Unit)
                      (upsert: (Delta, Long) => Unit): StreamingQuery =
    feed.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val d = id.fold(Delta(batch, None))(Delta(batch, _))
        if (exists) upsert(d, batchId + 1)
        else if (ready(d.live)) build(d.live, batchId + 1)
        ()
      }
      .start()

  private val VecId = Some(col("vec_id"))
  private val DocId = Some(col("doc_id"))

  /** Incremental view-index maintenance — the reference's design-doc view
    * updater driven by the change feed, as a streaming upsert into an
    * [[graft.view.IndexStore]] index: the first non-empty micro-batch
    * creates the bucketed index; every later batch maps ONLY its docs
    * through the view's emit columns and rewrites ONLY the key buckets
    * those docs touch (old rows found via the by-id sidecar) — the same
    * O(changed buckets) merge `View.updateIndex` runs in batch, never a
    * full-index rewrite. Filesystem is resolved from the index path and
    * swap failures throw inside `foreachBatch`, failing the batch so the
    * checkpoint retries it (the merge is idempotent).
    *
    * `emit` maps a batch of LIVE docs to view rows `(_id, key, value)`.
    * The index's update_seq tracks the number of batches applied.
    * When `reduce` is given and a materialized reduced index exists
    * alongside the raw one (see [[graft.view.View.materializeReduced]]),
    * its affected buckets are re-aggregated in the same batch.
    *
    * Deletes (the reference change feed's `deleted: true` entries): when
    * the change feed carries a boolean `_deleted` column, tombstone rows
    * are NOT mapped through `emit`; their ids (the `id` column on the
    * RAW feed) join the batch's changed-id set, so the merge drops their
    * old index rows — exactly the batch path
    * ([[graft.view.View.updateIndex]]'s `deletedIds`). With `_deleted`
    * present, live docs' ids also come from the raw feed via `id`, so a
    * doc whose conditional map phase stops emitting still has its old
    * rows retired; without it they are the emitted rows' `_id`. An id
    * with both an update and a tombstone in one batch is retired (the
    * tombstone wins, as on the batch path). Tombstones before the
    * index exists are no-ops.
    *
    * `locale = true` keys the index with the locale-aware collator,
    * matching a view declared with `View(..., locale = true)`.
    *
    * `autoCompactSkew > 0` enables the bucket-skew compaction policy
    * after each batch ([[graft.view.IndexStore.maybeCompact]]): a
    * change feed whose keys drift away from the creation-time range
    * bounds eventually overloads one bucket; when max/median row count
    * exceeds the threshold, the index is rebuilt with freshly sampled
    * bounds (and the reduced index re-derived) as part of the batch. */
  def maintainViewIndex(spark: SparkSession, changeFeed: DataFrame,
                        emit: DataFrame => DataFrame, path: String,
                        checkpoint: String, buckets: Int = 0,
                        reduce: Option[graft.view.Reduce] = None,
                        id: org.apache.spark.sql.Column = col("_id"),
                        locale: Boolean = false,
                        autoCompactSkew: Double = 0.0): StreamingQuery = {
    val keyFn = if (locale) graft.gfunctions.collation_key_locale _
                else collation_key _
    def rows(live: DataFrame) =
      emit(live).withColumn("_ck", keyFn(col("key")))
    // deletes can't refer to anything yet — creation considers only the
    // batch's live rows
    maintain(changeFeed, checkpoint, Some(id), IndexStore.exists(spark, path),
      ready = !rows(_).isEmpty) { (live, seq) =>
      val n = if (buckets > 0) buckets
              else spark.sessionState.conf.numShufflePartitions
      IndexStore.create(spark, path, rows(live), n, seq)
    } { (d, seq) =>
      val meta = IndexStore.readMeta(spark, path)
      val r = rows(d.live)
      IndexStore.merge(spark, path, meta,
        r.withColumn("_kb", IndexStore.bucketCol(col("_ck"), meta)),
        d.ids.getOrElse(r.select(col("_id"))), newSeq = seq, reduce = reduce)
      if (autoCompactSkew > 0)
        IndexStore.maybeCompact(spark, path, reduce, autoCompactSkew)
    }
  }

  /** Streaming maintenance of a persisted ANN index — the embedding-
    * corpus analogue of [[maintainViewIndex]]: the first non-empty
    * micro-batch builds the index ([[graft.operators.Similarity
    * .buildLshIndex]] or, with `ivf = true`, `buildIvfIndex` — whose
    * quantizer is then FIXED across batches); every later batch
    * upserts bucket-locally via the vector by-id sidecar
    * (`upsertLshVectors`/`upsertIvfVectors`), so re-embedded vectors
    * move buckets and `_deleted` tombstones retire, touching only the
    * affected bucket directories. The change feed needs `vec_id` +
    * `embedding` columns, plus optional boolean `_deleted`. update_seq
    * tracks batches, exactly like view indexes. */
  def maintainAnnIndex(spark: SparkSession, changeFeed: DataFrame,
                       path: String, checkpoint: String,
                       ivf: Boolean = false, planes: Int = 8,
                       nCentroids: Int = 16): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path)) { (live, seq) =>
      if (ivf) Similarity.buildIvfIndex(live, path, nCentroids, seq = seq)
      else Similarity.buildLshIndex(live, path, planes, seq = seq)
    } { (d, seq) =>
      if (ivf) Similarity.upsertIvfVectors(spark, path, d, seq)
      else Similarity.upsertLshVectors(spark, path, d, planes, seq)
    }

  /** Streaming maintenance of a persisted PQ (product-quantization)
    * index — the compressed-codes analogue of [[maintainAnnIndex]]: the
    * first non-empty micro-batch builds the index ([[graft.operators
    * .Pq.buildPqIndex]] — codebooks then FROZEN across batches); every
    * later batch re-encodes only its changed vectors against the stored
    * codebooks and rewrites only their id buckets
    * (`Pq.upsertPqVectors`). The change feed needs `vec_id` +
    * `embedding`, plus optional boolean `_deleted` tombstones.
    * update_seq tracks batches, exactly like every graft index. */
  def maintainPqIndex(spark: SparkSession, changeFeed: DataFrame,
                      path: String, checkpoint: String,
                      m: Int = 8, ks: Int = 16): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) => Pq.buildPqIndex(live, path, m, ks, seq = seq))(
      Pq.upsertPqVectors(spark, path, _, _))

  /** Streaming maintenance of a persisted IVFADC index — the
    * list-pruned compressed tier under the same contract as
    * [[maintainPqIndex]]: the first non-empty micro-batch builds
    * ([[graft.operators.Pq.buildIvfPqIndex]] — coarse centroids AND
    * codebooks then FROZEN across batches); every later batch
    * re-assigns + re-encodes only its changed vectors against the
    * stored quantizers and rewrites only the touched inverted lists
    * (`Pq.upsertIvfPqVectors`). Same feed schema (`vec_id`,
    * `embedding`, optional `_deleted`). */
  def maintainIvfPqIndex(spark: SparkSession, changeFeed: DataFrame,
                         path: String, checkpoint: String,
                         nCentroids: Int = 16, m: Int = 8,
                         ks: Int = 16): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) =>
        Pq.buildIvfPqIndex(live, path, nCentroids, m, ks, seq = seq))(
      Pq.upsertIvfPqVectors(spark, path, _, _))

  /** Streaming maintenance of a persisted IVF-SQ8 index — the
    * list-pruned 8-bit tier under the same contract as
    * [[maintainIvfPqIndex]]: the first non-empty micro-batch builds
    * ([[graft.operators.Similarity.buildIvfSq8Index]] — coarse
    * centroids AND the `[min, max]` model then FROZEN across
    * batches); every later batch re-assigns + re-encodes only its
    * changed vectors against the stored quantizers and rewrites only
    * the touched inverted lists (`Similarity.upsertIvfSq8Vectors`).
    * Same feed schema (`vec_id`, `embedding`, optional `_deleted`). */
  def maintainIvfSq8Index(spark: SparkSession, changeFeed: DataFrame,
                          path: String, checkpoint: String,
                          nCentroids: Int = 16): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) =>
        Similarity.buildIvfSq8Index(live, path, nCentroids, seq = seq))(
      Similarity.upsertIvfSq8Vectors(spark, path, _, _))

  /** Streaming maintenance of a persisted BINARY-quantization index —
    * the 1-bit tier under the same contract as [[maintainPqIndex]]:
    * the first non-empty micro-batch builds ([[graft.operators
    * .Similarity.buildBinaryIndex]] — sign-bit packing is model-free,
    * so nothing to freeze); every later batch re-packs only its
    * changed vectors and rewrites only their id buckets
    * (`Similarity.upsertBinaryVectors`), `_deleted` tombstones
    * retire. Same feed schema (`vec_id`, `embedding`, optional
    * boolean `_deleted`); update_seq tracks batches. */
  def maintainBinaryIndex(spark: SparkSession, changeFeed: DataFrame,
                          path: String, checkpoint: String,
                          dims: Int = 64): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) => Similarity.buildBinaryIndex(live, path, dims, seq = seq))(
      Similarity.upsertBinaryVectors(spark, path, _, dims, _))

  /** Streaming maintenance of a persisted SQ8 index — the 8-bit tier
    * under the same contract as [[maintainPqIndex]]: the first
    * non-empty micro-batch builds ([[graft.operators.Similarity
    * .buildSq8Index]] — the `[min, max]` model then FROZEN across
    * batches); every later batch re-encodes only its changed vectors
    * under the STORED model and rewrites only their id buckets
    * (`Similarity.upsertSq8Vectors`), `_deleted` tombstones retire.
    * Same feed schema (`vec_id`, `embedding`, optional boolean
    * `_deleted`); update_seq tracks batches. */
  def maintainSq8Index(spark: SparkSession, changeFeed: DataFrame,
                       path: String, checkpoint: String): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) => Similarity.buildSq8Index(live, path, seq = seq))(
      Similarity.upsertSq8Vectors(spark, path, _, _))

  /** Streaming maintenance of a persisted SemDeDup index — the
    * semantic-dedup analogue of [[maintainAnnIndex]]: the first
    * non-empty micro-batch builds the index ([[graft.operators
    * .Similarity.buildSemDedupIndex]] — quantizer and tau then FROZEN
    * across batches); every later batch upserts via
    * `upsertSemDedupVectors`, which merges bucket-locally and re-pairs
    * keep verdicts ONLY inside the touched clusters. The change feed
    * needs `vec_id` + `embedding`, plus optional boolean `_deleted`
    * (a retired vector can resurrect cluster-mates it had shadowed).
    * update_seq tracks batches, exactly like every graft index. */
  def maintainSemDedupIndex(spark: SparkSession, changeFeed: DataFrame,
                            path: String, checkpoint: String,
                            tau: Double, nCentroids: Int = 16,
                            refineIters: Int = 0): StreamingQuery =
    maintain(changeFeed, checkpoint, VecId,
      IndexStore.exists(spark, path))(
      (live, seq) => Similarity.buildSemDedupIndex(live, path, tau,
        nCentroids, refineIters, seq = seq))(
      Similarity.upsertSemDedupVectors(spark, path, _, _))

  /** Streaming maintenance of a persisted inverted text index — the
    * document-corpus analogue of [[maintainViewIndex]]: the first
    * micro-batch with an ANALYZED token builds the index
    * ([[graft.operators.TextSearch.buildTextIndex]] needs a non-empty
    * vocabulary, so a stopword-only batch defers too); every later
    * batch upserts term-bucket-locally via the by-doc sidecar
    * (`TextSearch.upsertTextDocs`, which re-reads the STORED analyzer —
    * `analyzer` governs only the build, and a store of a stale layout
    * is refused there), so edited docs re-post, `_deleted` tombstones
    * retire, and the BM25 stats stay exact. The change feed needs
    * `doc_id` + `text` columns, plus optional boolean `_deleted`.
    * update_seq tracks batches, like every graft index. */
  def maintainTextIndex(spark: SparkSession, changeFeed: DataFrame,
                        path: String, checkpoint: String,
                        nBuckets: Int = 64,
                        analyzer: TextSearch.Analyzer = TextSearch.Analyzer())
      : StreamingQuery =
    maintain(changeFeed, checkpoint, DocId,
      IndexStore.exists(spark, path),
      ready = !_.filter(size(analyzer.tokens(col("text"))) > 0).isEmpty)(
      (live, seq) => TextSearch.buildTextIndex(live, col("doc_id"),
        col("text"), path, nBuckets, seq = seq, analyzer = analyzer))(
      TextSearch.upsertTextDocs(spark, path, _, col("doc_id"), col("text"), _))

  /** Streaming maintenance of a persisted FIELDED (BM25F) text index —
    * [[maintainTextIndex]] with a field map: the first batch with ≥1
    * analyzed token in ANY field builds
    * ([[graft.operators.TextSearch.buildFieldedTextIndex]]), later
    * batches upsert field-tagged postings bucket-locally with exact
    * per-field stat deltas (`TextSearch.upsertFieldedDocs`). `fields`
    * names the per-document field columns IN BUILD ORDER with their
    * weights; weights and analyzer are stamped at build and re-read
    * from the stamp on every upsert (the feed can never fork the
    * scoring config). Change feed: `doc_id` + whatever columns the
    * field expressions read (+ optional `_deleted`). */
  def maintainFieldedTextIndex(spark: SparkSession, changeFeed: DataFrame,
                               path: String, checkpoint: String,
                               fields: Seq[(String, Column, Double)],
                               nBuckets: Int = 64,
                               analyzer: TextSearch.Analyzer =
                                 TextSearch.Analyzer()): StreamingQuery = {
    val anyTokens =
      fields.map { case (_, c, _) => size(analyzer.tokens(c)) }.reduce(_ + _)
    maintain(changeFeed, checkpoint, DocId,
      IndexStore.exists(spark, path),
      ready = !_.filter(anyTokens > 0).isEmpty)(
      (live, seq) => TextSearch.buildFieldedTextIndex(live, col("doc_id"),
        fields, path, nBuckets, seq = seq, analyzer = analyzer))(
      TextSearch.upsertFieldedDocs(spark, path, _, col("doc_id"),
        fields.map { case (n, c, _) => (n, c) }, _))
  }

  /** Streaming maintenance of a persisted SimHash band index — same
    * contract as the other index maintainers: first non-empty batch
    * builds ([[graft.operators.Dedup.buildSimhashIndex]]), later
    * batches re-hash changed docs and rewrite only their old∪new band
    * buckets (`Dedup.upsertSimhashDocs`), `_deleted` tombstones
    * retire. Change feed: `doc_id` + `text` (+ optional `_deleted`). */
  def maintainSimhashIndex(spark: SparkSession, changeFeed: DataFrame,
                           path: String, checkpoint: String,
                           nBuckets: Int = 64): StreamingQuery =
    maintain(changeFeed, checkpoint, DocId,
      IndexStore.exists(spark, path))(
      (live, seq) => Dedup.buildSimhashIndex(live, col("doc_id"), "text",
        path, nBuckets, seq = seq))(
      Dedup.upsertSimhashDocs(spark, path, _, col("doc_id"), "text", _))

  /** Streaming maintenance of the persisted dedup-cluster index
    * ([[graft.operators.DedupIndex]]): a crawl delta re-hashes only
    * its docs and re-clusters only the components it touches —
    * continuously-correct near-dup clusters over a live corpus. A
    * store of a stale layout cannot be upgraded from a change feed
    * (the stream does not carry the corpus) and is refused by the
    * upsert. Change feed: `doc_id` + `text` (+ optional `_deleted`). */
  def maintainDedupClusters(spark: SparkSession, changeFeed: DataFrame,
                            path: String, checkpoint: String,
                            nBuckets: Int = 64): StreamingQuery =
    maintain(changeFeed, checkpoint, DocId,
      IndexStore.exists(spark, path))(
      (live, seq) => DedupIndex.build(live, col("doc_id"), col("text"), path,
        nBuckets = nBuckets, seq = seq))(
      // k, bands and maxBucket: the build's defaults
      DedupIndex.upsert(spark, path, _, col("doc_id"), col("text"), 8, 4,
        1000, _))

  /** Streaming ingestion into a [[graft.sources.EventStore]] — each
    * micro-batch of events appends into its `_day` partitions (the
    * first non-empty batch creates the store): the event lake's
    * landing path. Timestamp encoding is normalized per batch
    * (`EventTime` — producers upgrade mid-stream without breaking
    * ingestion); late data appends into old days and is `compact`'s
    * business, never the ingest path's. */
  def maintainEventStore(spark: SparkSession, eventStream: DataFrame,
                         path: String, checkpoint: String,
                         filesPerDay: Int = 1): StreamingQuery =
    maintain(eventStream, checkpoint, None,
      IndexStore.fsFor(spark, path).exists(new Path(path)), mode = "append")(
      (b, _) => EventStore.write(b, path, filesPerDay))(
      (d, _) =>
        if (!d.live.isEmpty) EventStore.append(d.live, path, filesPerDay))

  /** CONTINUOUS replication — CouchDB's `continuous=true`, the
    * reference replicator left running: each micro-batch of source
    * change rows (anything with an `id` column; the
    * [[graft.sources.ChangesFeed]] row shape works as-is) triggers one
    * [[graft.operators.Replication.syncBatch]] — a delta-bounded pull
    * of just the batch's changed docs from the source's leaf relation
    * into the persisted bucketed target. Per batch the work is
    * O(changed docs): touched `_b` directories only, ancestor-aware
    * revs-diff, fetch of just the misses, rename-swap writes. A failed
    * batch retries from the streaming checkpoint; the sync is
    * idempotent, so the retry converges instead of double-applying.
    * The first non-empty batch creates the target store. */
  def maintainReplication(spark: SparkSession, changeStream: DataFrame,
                          source: DataFrame, id: Column, revPos: Column,
                          revHash: Column, deleted: Column,
                          ancestors: Column, targetPath: String,
                          checkpoint: String, numBuckets: Int = 0)
      : StreamingQuery =
    maintain(changeStream, checkpoint, None, true, mode = "append")(
      (_, _) => ())(
      replicate(spark, source, id, revPos, revHash, deleted, ancestors,
        targetPath, numBuckets)(identity))

  /** G14: CONTINUOUS filtered replication — CouchDB's
    * `continuous=true` with a `selector` body: every micro-batch's
    * changed ids are first cut to documents whose CURRENT content in
    * `docs` matches the compiled Mango selector (the predicate column
    * is compiled ONCE, outside the loop; per batch that is one
    * pruned predicate scan + a semi join against the batch's ids —
    * never a per-change callback), then delta-synced into the
    * persisted bucket store exactly as
    * [[maintainReplication]] does. The batch op's documented caveats
    * carry over verbatim ([[graft.operators.Replication
    * .replicateFilteredOnce]]): a tombstoned id absent from `docs`
    * matches nothing, so its delete does not propagate; per batch the
    * cost keys on the MATCHING delta, whatever the target's size. */
  def maintainFilteredReplication(spark: SparkSession,
                                  changeStream: DataFrame,
                                  source: DataFrame, id: Column,
                                  revPos: Column, revHash: Column,
                                  deleted: Column, ancestors: Column,
                                  docs: DataFrame, docIdCol: String,
                                  selectorJson: String,
                                  targetPath: String, checkpoint: String,
                                  numBuckets: Int = 0): StreamingQuery = {
    import graft.operators.Mango
    val pred = Mango.compile(Mango.parseSelector(selectorJson),
      docs.schema)
    val matching = docs.filter(pred)
      .select(col(docIdCol).as("id")).distinct()
    maintain(changeStream, checkpoint, None, true, mode = "append")(
      (_, _) => ())(
      replicate(spark, source, id, revPos, revHash, deleted, ancestors,
        targetPath, numBuckets)(_.join(matching, Seq("id"), "left_semi")))
  }

  /** The upsert of a replication target: every non-empty batch syncs
    * the changed ids `keep` retains, and the first creates the target
    * (so the target always "exists" for [[maintain]]). */
  private def replicate(spark: SparkSession, source: DataFrame, id: Column,
                        revPos: Column, revHash: Column, deleted: Column,
                        ancestors: Column, targetPath: String,
                        numBuckets: Int)
                       (keep: DataFrame => DataFrame): (Delta, Long) => Unit =
    (d, seq) =>
      if (!d.live.isEmpty)
        Replication.syncBatch(spark, targetPath, source, id, revPos,
          revHash, deleted, ancestors, keep(d.live.select(col("id"))),
          numBuckets, newSeq = seq)

  /** Streaming maintenance of a [[graft.sources.ChangesFeed]] store —
    * the write-side of the replication backbone: each micro-batch of
    * change rows `(seq, id, rev, deleted)` is appended into its seq
    * buckets (the first non-empty batch creates the store). Append-only
    * by design — a log never upserts — so a batch's cost is exactly its
    * own rows' bucket writes; consumers tail with
    * `ChangesFeed.since(checkpoint)` concurrently (readers see whole
    * parquet files, and a half-visible batch only shortens the feed,
    * never corrupts it). */
  def maintainChangesFeed(spark: SparkSession, changeStream: DataFrame,
                          path: String, checkpoint: String,
                          width: Long = 1024L): StreamingQuery =
    maintain(changeStream, checkpoint, None, ChangesFeed.exists(spark, path),
      mode = "append")(
      (b, _) => ChangesFeed.write(b, path, width))(
      (d, _) => if (!d.live.isEmpty) ChangesFeed.append(d.live, path))
}
