package graft.operators

import java.io.IOException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ChangesFeed

/** The CouchDB/PouchDB replication protocol, composed end to end as
  * set-at-a-time relational steps (the reference's replicator loop,
  * reconstructed in SURVEY §1: `_local` checkpoint read → `_changes`
  * since → `_revs_diff` → `_bulk_get` → `_bulk_docs new_edits=false` →
  * `_local` checkpoint write).
  *
  * Every step's cost is bounded by the DELTA, never the database:
  * the feed read prunes to seq buckets past the checkpoint, the
  * revs-diff is one anti join of the delta's leaf revs against the
  * target's known-rev relation, the fetch is [[Revisions.bulkGet]]'s
  * bounded path explode over just the misses, and the write leg
  * grafts just the fetched revisions onto the target's trees. A
  * steady-state sync of a 100 TB database that changed 1k docs costs
  * 1k docs.
  */
object Replication {

  /** One replication round's outputs: the target's NEW leaf relation
    * (lazy — persist it to make the write durable), and the feed
    * batch that produced it (`pushed`). Checkpoint AFTER the write is
    * durable: `ChangesFeed.checkpointAfter(spark, feedPath, repId,
    * round.pushed)` — advancing first would lose the batch on a
    * crash between checkpoint and write (the CouchDB replicator's
    * write-then-checkpoint discipline). */
  final case class ReplicationRound(targetLeaves: DataFrame,
                                    pushed: DataFrame)

  /** `_bulk_docs` with `new_edits=false` — the replicator's WRITE
    * leg: graft a batch of fetched revisions onto the target's
    * revision trees WITHOUT minting new revs. Each incoming row
    * carries the rev it IS (`inPos`/`inHash`), its deleted flag, and
    * its `_revisions` ancestor path (deepest-first `"pos-hash"` ids,
    * the [[Revisions.bulkGet]] shape) — the path is what lets the
    * target recognize that an incoming rev EXTENDS a branch it holds
    * the old tip of (the old tip stops being a leaf) versus opens a
    * genuinely divergent branch (a real conflict, kept). Returns the
    * target's new leaf relation `(id, rev_pos, rev_hash, deleted,
    * ancestors)`.
    *
    * Same tree-merge core as [[Revisions.mergeReplicas]]
    * ([[Revisions.mergeLeaves]]): one groupBy collapsing revs both
    * sides share, one bounded ancestor-path explode (tree depth, not
    * corpus size), one anti join — no window, no all-pairs. Writing a
    * million-doc batch onto a trillion-doc target keys every join on
    * `(id, rev)`. */
  def applyBulkDocs(target: DataFrame, id: Column, revPos: Column,
                    revHash: Column, deleted: Column, ancestors: Column,
                    incoming: DataFrame, inId: Column, inPos: Column,
                    inHash: Column, inDel: Column,
                    inAnc: Column): DataFrame = {
    def norm(df: DataFrame, i: Column, p: Column, h: Column, d: Column,
             a: Column): DataFrame =
      df.select(i.as("_id"), p.cast("long").as("_pos"),
        h.cast("string").as("_hash"), d.cast("boolean").as("_del"),
        a.as("_anc"))
    Revisions.mergeLeaves(
        norm(target, id, revPos, revHash, deleted, ancestors),
        norm(incoming, inId, inPos, inHash, inDel, inAnc))
      .select(col("_id").as("id"), col("_pos").as("rev_pos"),
        col("_hash").as("rev_hash"), col("_del").as("deleted"),
        col("_anc").as("ancestors"))
  }

  /** A `_bulk_docs new_edits=true` batch's outputs: the per-write
    * report (`id, status ok|conflict, rev` — the endpoint's response
    * array) and the target's new leaf relation with the accepted
    * edits grafted. */
  final case class BulkDocsResult(report: DataFrame, leaves: DataFrame)

  /** `_bulk_docs` with `new_edits=true` — CouchDB's NORMAL interactive
    * write path (the default the replicator's `new_edits=false` leg
    * bypasses): each write names the revision it EDITS (`wBaseRev`,
    * null to create) and the database mints the successor rev or
    * rejects the write. The MVCC rule, per write against the
    * PRE-batch tree:
    *  - `base` names ANY current leaf → accepted, extends THAT branch
    *    (CouchDB accepts edits to losing leaves too — that is exactly
    *    how a conflict is resolved: tombstone the losing branch);
    *  - `base` null and no leaves, or only a TOMBSTONE winner
    *    (CouchDB lets a deleted doc be recreated without a rev;
    *    the new edit extends the tombstone branch) → accepted;
    *  - anything else — a non-leaf (superseded/unknown) base, or a
    *    rev-less write over a live doc — → `conflict` (CouchDB's
    *    409), never a write.
    * The minted rev is `pos+1` with hash `md5(id:pos:body)` —
    * deterministic from content, so batches are idempotent and
    * engine-replayable (CouchDB's rev hash is likewise a content
    * digest). Contract: ONE write per id per batch (the endpoint is
    * non-transactional; in-batch ordering semantics are the caller's
    * to sequence — submit successive batches). ENFORCED, not trusted:
    * duplicate-id writes keep one deterministic winner (lowest
    * `(base, deleted, body)`) judged against the pre-batch tree; the
    * rest report `conflict` — which is what CouchDB's sequential
    * apply returns for them in the common cases (a later duplicate
    * names a base the first write just superseded, or creates over
    * the live doc the first write just minted). The one divergence:
    * a second duplicate naming a DIFFERENT still-current leaf would
    * sequentially be accepted by CouchDB; here it conflicts —
    * resubmit it in its own batch. Duplicate `(id, rev)` rows in the
    * target leaf relation are collapsed before the join so they can
    * never fan the report out.
    *
    * Scale shape: the JOINS are id-keyed, but the winner aggregation
    * and leaf-rev derivation run over the WHOLE `target` relation the
    * caller passes — this form is delta-bounded only when the caller
    * passes a pre-pruned leaf relation (the touched docs' trees).
    * Against a persisted corpus use [[bulkDocsStore]], which prunes
    * the read to the write ids' `_b` buckets before judging — the
    * [[syncBatch]] discipline on the write endpoint. */
  def bulkDocs(target: DataFrame, id: Column, revPos: Column,
               revHash: Column, deleted: Column, ancestors: Column,
               writes: DataFrame, wId: Column, wBaseRev: Column,
               wBody: Column, wDel: Column): BulkDocsResult = {
    val in = target.select(id.as("_id"), revPos.cast("long").as("_pos"),
      revHash.cast("string").as("_hash"),
      deleted.cast("boolean").as("_del"), ancestors.as("_anc"))
    // the winner rule of Revisions.revsInfo: live > deepest > hash,
    // the ancestor path riding along for the graft
    val win = in.groupBy(col("_id"))
      .agg(max(struct((!col("_del")).as("live"), col("_pos").as("pos"),
        col("_hash").as("hash"), col("_anc").as("anc"))).as("w"))
      .select(col("_id").as("id"), col("w.live").as("_wlive"),
        col("w.pos").as("_wpos"), col("w.hash").as("_whash"),
        col("w.anc").as("_wanc"),
        concat(col("w.pos").cast("string"), lit("-"), col("w.hash"))
          .as("_wrev"))
    // leaf relation keyed by (id, rev): a base-rev write joins the
    // LEAF it edits — any current leaf is editable, and the minted
    // rev extends that branch's path, not the winner's
    val leafRevs = in.select(col("_id").as("_lid"),
      concat(col("_pos").cast("string"), lit("-"), col("_hash"))
        .as("_lrev"),
      col("_pos").as("_lpos"), col("_anc").as("_lanc"))
      .dropDuplicates("_lid", "_lrev")
    val wAll = writes.select(wId.as("id"),
      wBaseRev.cast("string").as("_base"), wBody.cast("string").as("_body"),
      coalesce(wDel.cast("boolean"), lit(false)).as("_wdel"))
      .withColumn("_wrk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("_base").asc_nulls_first, col("_wdel").asc,
            col("_body").asc_nulls_first)))
    val w = wAll.filter(col("_wrk") === 1).drop("_wrk")
    val dupReport = wAll.filter(col("_wrk") > 1)
      .select(col("id"), lit("conflict").as("status"),
        lit(null).cast("string").as("rev"))
    val joined = w.join(win, Seq("id"), "left")
      .join(leafRevs,
        col("id") === col("_lid") && col("_base") === col("_lrev"), "left")
    val ok = (col("_base").isNotNull && col("_lrev").isNotNull) ||
      (col("_base").isNull && (col("_wrev").isNull || !col("_wlive")))
    val basePos = when(col("_base").isNotNull, col("_lpos"))
      .otherwise(col("_wpos"))
    val baseRev = when(col("_base").isNotNull, col("_lrev"))
      .otherwise(col("_wrev"))
    val baseAnc = when(col("_base").isNotNull, col("_lanc"))
      .otherwise(col("_wanc"))
    val newPos = coalesce(basePos, lit(0L)) + lit(1L)
    val newHash = md5(concat(col("id").cast("string"), lit(":"),
      newPos.cast("string"), lit(":"), coalesce(col("_body"), lit(""))))
    val judged = joined.select(col("id"), col("_wdel"),
      ok.as("_ok"), newPos.as("_npos"), newHash.as("_nhash"),
      when(baseRev.isNotNull, concat(array(baseRev),
        coalesce(baseAnc, array().cast("array<string>"))))
        .otherwise(array().cast("array<string>")).as("_nanc"))
    val report = judged.select(col("id"),
      when(col("_ok"), lit("ok")).otherwise(lit("conflict")).as("status"),
      when(col("_ok"), concat(col("_npos").cast("string"), lit("-"),
        col("_nhash"))).otherwise(lit(null).cast("string")).as("rev"))
      .unionByName(dupReport)
    val accepted = judged.filter(col("_ok"))
    val leaves = applyBulkDocs(target, id, revPos, revHash, deleted,
      ancestors, accepted, col("id"), col("_npos"), col("_nhash"),
      col("_wdel"), col("_nanc"))
    BulkDocsResult(report, leaves)
  }

  /** One full PULL replication round — PouchDB's
    * `replicate(source, target)` for the batch since `repId`'s last
    * checkpoint. `source` and `target` are revision-tree LEAF
    * relations in the shared contract (`id`…`ancestors` name the
    * columns in BOTH); `feedPath` is the source's [[ChangesFeed]]
    * store.
    *
    * The steps, each delta-bounded:
    *  1. resume point: the `_local` checkpoint for `repId`;
    *  2. `_changes style=all_docs` since it — every changed doc's
    *     full leaf set (tombstone tips included: they must travel);
    *  3. `_revs_diff`: anti-join the delta's leaf revs against
    *     everything the target KNOWS — its leaves AND their ancestor
    *     paths (a rev the target has already superseded is not a
    *     miss, so a round-tripped edit is never re-fetched);
    *  4. `_bulk_get` the misses with their `_revisions` paths;
    *  5. [[applyBulkDocs]] them onto the target's trees.
    *
    * Returns the round lazily; persist `targetLeaves`, then advance
    * the checkpoint with `ChangesFeed.checkpointAfter(spark,
    * feedPath, repId, round.pushed)`. Re-running a round before the
    * checkpoint advances is harmless: every step is idempotent (revs
    * the target has stop being misses). After checkpointing, the next
    * round's delta is empty — convergence. */
  def replicateOnce(spark: SparkSession, feedPath: String, repId: String,
                    source: DataFrame, target: DataFrame, id: Column,
                    revPos: Column, revHash: Column, deleted: Column,
                    ancestors: Column): ReplicationRound = {
    val sinceSeq = ChangesFeed.readCheckpoint(spark, feedPath, repId)
    val feed = ChangesFeed.sinceStyleAllDocs(spark, feedPath, sinceSeq,
      source, id, revPos, revHash, deleted)
    val merged = applyFeed(spark, feed, source, target, id, revPos,
      revHash, deleted, ancestors)
    ReplicationRound(merged, feed)
  }

  /** A FILTERED replication round's outputs: the target's new leaf
    * relation, the filtered batch that produced it (`pushed`), and the
    * UNFILTERED feed rows the round scanned (`scanned`) — checkpoint
    * on `scanned`, not `pushed`: the CouchDB replicator advances its
    * `_local` checkpoint past changes the filter REJECTED too,
    * otherwise a feed whose tail is all non-matching changes would be
    * re-scanned on every round forever. */
  final case class FilteredRound(targetLeaves: DataFrame,
                                 pushed: DataFrame,
                                 scanned: DataFrame)

  /** The effective checkpoint id of a filtered replication. CouchDB
    * hashes the filter into the replication id (the reference's
    * replicator does the same with the `filter`/`query_params`
    * options): a CHANGED selector must restart the feed from 0 — the
    * old checkpoint was advanced past changes the old filter
    * rejected, which the new filter might have passed, and silently
    * skipping them would lose documents. Deriving the `_local` doc id
    * from the selector text makes that restart automatic. */
  def filteredRepId(repId: String, selectorJson: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(selectorJson.getBytes("UTF-8"))
    repId + "+" + d.map("%02x".format(_)).mkString
  }

  /** One SELECTOR-FILTERED pull replication round — CouchDB's
    * `_replicate` with a `selector` body (the reference's
    * `replicate(..., {filter, selector})`). Identical protocol to
    * [[replicateOnce]], with the feed restricted to documents whose
    * CURRENT content in `docs` matches the Mango selector — evaluated
    * as ONE compiled predicate over the corpus + a semi join onto the
    * pruned feed read, never a per-change callback. The documented
    * filtered-replication caveats are preserved faithfully:
    *  - a tombstoned id ABSENT from `docs` matches nothing, so its
    *    deletion does NOT propagate (CouchDB's behavior — deletes pass
    *    a doc filter only while a matching body is still known);
    *  - the checkpoint key is [[filteredRepId]], so changing the
    *    selector restarts from seq 0 instead of skipping history;
    *  - checkpoint on `scanned` ([[FilteredRound]]), not `pushed`.
    * Cost: the predicate scan prunes to the selector's pushable
    * conjuncts; everything downstream is bounded by the MATCHING
    * delta. */
  def replicateFilteredOnce(spark: SparkSession, feedPath: String,
                            repId: String, selectorJson: String,
                            docs: DataFrame, docIdCol: String,
                            source: DataFrame, target: DataFrame,
                            id: Column, revPos: Column, revHash: Column,
                            deleted: Column,
                            ancestors: Column): FilteredRound = {
    val effId = filteredRepId(repId, selectorJson)
    val sinceSeq = ChangesFeed.readCheckpoint(spark, feedPath, effId)
    val scanned = ChangesFeed.sinceStyleAllDocs(spark, feedPath, sinceSeq,
      source, id, revPos, revHash, deleted)
    val pred = Mango.compile(Mango.parseSelector(selectorJson), docs.schema)
    val matching = docs.filter(pred)
      .select(col(docIdCol).as("id")).distinct()
    val feed = scanned.join(matching, Seq("id"), "left_semi")
    val round = applyFeed(spark, feed, source, target, id, revPos,
      revHash, deleted, ancestors)
    FilteredRound(round, feed, scanned)
  }

  /** The effective checkpoint id of a `doc_ids`-filtered replication:
    * the list is canonicalized (stringified, distinct, sorted) and
    * hashed into the replication id exactly like a selector
    * ([[filteredRepId]]) — CouchDB derives the replication id from
    * the `doc_ids` option, so an EDITED list restarts from seq 0
    * instead of silently skipping history the old list rejected. */
  def docIdsRepId(repId: String, ids: Seq[Any]): String =
    filteredRepId(repId,
      ids.map(String.valueOf).distinct.sorted.mkString("[", ",", "]"))

  /** One `doc_ids`-filtered pull replication round — CouchDB's
    * `_replicate` with a `doc_ids` body: only the LISTED ids' changes
    * replicate; every other doc's tree on the target stays untouched.
    * Identical protocol to [[replicateFilteredOnce]] with the id list
    * as the cut: the listed ids push into the pruned feed read as a
    * LITERAL `IN` (directory + row-group pruning — a 5-id watch over
    * a billion-row log reads almost nothing), and unlike a content
    * selector the filter is keyed on the STABLE id, so deletions of
    * listed docs propagate (no known-body caveat) and advancing the
    * checkpoint past unlisted changes loses nothing — an edited list
    * restarts via [[docIdsRepId]]. Checkpoint on `scanned`
    * ([[FilteredRound]]), as every filtered round does. */
  def replicateDocIdsOnce(spark: SparkSession, feedPath: String,
                          repId: String, docIds: Seq[Any],
                          source: DataFrame, target: DataFrame,
                          id: Column, revPos: Column, revHash: Column,
                          deleted: Column,
                          ancestors: Column): FilteredRound = {
    require(docIds.nonEmpty, "replicateDocIdsOnce: empty doc_ids (use " +
      "replicateOnce for an unfiltered round)")
    val effId = docIdsRepId(repId, docIds)
    val sinceSeq = ChangesFeed.readCheckpoint(spark, feedPath, effId)
    val scanned = ChangesFeed.sinceStyleAllDocs(spark, feedPath, sinceSeq,
      source, id, revPos, revHash, deleted)
    val feed = scanned.filter(col("id").isin(docIds: _*))
    val round = applyFeed(spark, feed, source, target, id, revPos,
      revHash, deleted, ancestors)
    FilteredRound(round, feed, scanned)
  }

  /** The shared tail of a pull round: feed batch (style=all_docs
    * rows) → ancestor-aware `_revs_diff` → `_bulk_get` → `_bulk_docs
    * new_edits=false`. Factored so the filtered and unfiltered rounds
    * cannot drift. */
  private def applyFeed(spark: SparkSession, feed: DataFrame,
                        source: DataFrame, target: DataFrame, id: Column,
                        revPos: Column, revHash: Column, deleted: Column,
                        ancestors: Column): DataFrame = {
    val candidates = feed
      .select(col("id"), explode(col("changes")).as("rev")).distinct()
    val tgt = target.select(id.as("_id"), revPos.cast("long").as("_pos"),
      revHash.cast("string").as("_hash"), ancestors.as("_anc"))
    val tgtRev = concat(col("_pos").cast("string"), lit("-"), col("_hash"))
    val known = tgt.select(col("_id").as("id"), tgtRev.as("rev"))
      .unionByName(tgt.select(col("_id").as("id"),
        explode(col("_anc")).as("rev")))
      .distinct()
    val misses = candidates.join(known, Seq("id", "rev"), "left_anti")
      .select(col("id"),
        split_part(col("rev"), lit("-"), lit(1)).cast("long").as("rev_pos"),
        split_part(col("rev"), lit("-"), lit(2)).as("rev_hash"))
    val revsArr = split(col("revisions"), ",")
    val incoming = Revisions.bulkGet(source, id, revPos, revHash, deleted,
        ancestors, misses, col("id"), col("rev_pos"), col("rev_hash"))
      .filter(col("status") === "ok")
      .select(col("id"),
        split_part(col("rev"), lit("-"), lit(1)).cast("long").as("rev_pos"),
        split_part(col("rev"), lit("-"), lit(2)).as("rev_hash"),
        col("deleted"),
        slice(revsArr, lit(2), greatest(size(revsArr) - 1, lit(0)))
          .as("ancestors"))
    applyBulkDocs(target, id, revPos, revHash, deleted, ancestors,
      incoming, col("id"), col("rev_pos"), col("rev_hash"),
      col("deleted"), col("ancestors"))
  }

  /** Both directions of one sync round: each side's NEW leaf relation
    * plus what traveled each way. */
  final case class SyncRound(aLeaves: DataFrame, bLeaves: DataFrame,
                             pushedToB: DataFrame, pushedToA: DataFrame)

  /** PouchDB `sync(a, b)` — BIDIRECTIONAL replication, which the
    * reference implements as two independent replications running the
    * same protocol in opposite directions (sync = replicate(a→b) +
    * replicate(b→a); there is no third mechanism). Each direction
    * keeps its OWN `_local` checkpoint (`repId:a->b` / `repId:b->a`,
    * as PouchDB derives distinct replication ids per direction), each
    * pull reads the counterparty's PRE-ROUND state — the directions
    * are order-independent because [[Revisions.mergeLeaves]] is
    * commutative, so after one round BOTH sides hold the union tree:
    * `sync(a,b).aLeaves == sync(a,b).bLeaves ==
    * Revisions.mergeReplicas(a,b)` (gate- and spec-pinned).
    * Checkpoint each direction after persisting its target:
    * `checkpointAfter(spark, feedA, repId + ":a->b", r.pushedToB)` and
    * the mirror call on `feedB`. */
  def sync(spark: SparkSession, feedA: String, feedB: String,
           repId: String, a: DataFrame, b: DataFrame, id: Column,
           revPos: Column, revHash: Column, deleted: Column,
           ancestors: Column): SyncRound = {
    val ab = replicateOnce(spark, feedA, repId + ":a->b", a, b,
      id, revPos, revHash, deleted, ancestors)
    val ba = replicateOnce(spark, feedB, repId + ":b->a", b, a,
      id, revPos, revHash, deleted, ancestors)
    SyncRound(ba.targetLeaves, ab.targetLeaves, ab.pushed, ba.pushed)
  }

  // ----------------------- the persisted replication TARGET ----------

  import graft.view.{IndexMeta, IndexStore}
  import org.apache.hadoop.fs.Path

  private def dataDir(path: String) = s"$path/data"

  /** The rewrite of the `bs` buckets of a target's `data/` with `out`. */
  private def dataWrite(path: String, bs: Seq[Int],
                        out: DataFrame): IndexStore.Write =
    IndexStore.Write.sorted(dataDir(path), "_b", bs, out,
      Seq(col("_b"), col("id"), col("rev_pos"), col("rev_hash")))

  private def normL(df: DataFrame, i: Column, p: Column, h: Column,
                    d: Column, a: Column): DataFrame =
    df.select(i.as("id"), p.cast("long").as("rev_pos"),
      h.cast("string").as("rev_hash"), d.cast("boolean").as("deleted"),
      a.as("ancestors"))

  /** Winner-rule `(doc_count, doc_del_count)` of a leaf relation —
    * ONE bounded aggregation. The count-cache maintainers call this
    * only over touched buckets or batch-sized relations, never whole
    * stores (that is exactly the scan the cache exists to avoid). */
  private def winnerCounts(leaves: DataFrame): (Long, Long) = {
    val r = Revisions.dbInfo(leaves, col("id"), col("rev_pos"),
      col("rev_hash"), col("deleted")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The delta-maintained counts stamp: starting from `meta`, advance
    * the cached winner-rule counts by (new touched rows − old touched
    * rows) when the cache was CURRENT before this write; leave the
    * stamp stale otherwise (readers fall back to the scan and
    * self-heal). Both relations must hold the touched buckets'
    * COMPLETE docs (id-hash bucketing guarantees a doc never spans
    * buckets, so winner resolution inside the touched set is total).
    *
    * COST RULE (the deployment-vs-gate split): the delta costs two
    * bounded aggregations over the touched buckets — the right trade
    * when a batch touches a few buckets of a huge store (the
    * endpoint's steady state). A batch that touches EVERY bucket
    * would pay two whole-store aggregations for a "delta"; callers
    * detect that shape and instead count the PINNED rewrite relation
    * directly (it IS the whole new store) — one in-memory
    * aggregation, which also self-heals a previously stale stamp
    * for free. */
  private def countsAfter(meta: IndexMeta, oldTouched: DataFrame,
                          newTouched: DataFrame, newSeq: Long)
      : IndexMeta = {
    val base = meta.copy(updateSeq = newSeq)
    if (meta.countsSeq != meta.updateSeq || meta.docCount < 0) base
    else {
      // BOTH sides of the delta in ONE driver action: tag each leaf
      // relation, resolve winners per (side, id) and count per side in
      // a single partial-aggregable job — the per-micro-batch
      // maintenance cost at sf0.1 is driver gaps between tiny jobs
      // (guide §1.2), so halving the job count halves the exposure.
      // Winner rule identical to [[Revisions.dbInfo]]'s
      // max(struct(live, pos, hash)) resolution.
      val tag = (df: DataFrame, side: Int) =>
        df.select(lit(side).as("_side"), col("id"),
          col("rev_pos").cast("long").as("_pos"),
          col("rev_hash").cast("string").as("_hash"),
          col("deleted").cast("boolean").as("_del"))
      val rows = tag(oldTouched, 0).unionByName(tag(newTouched, 1))
        .groupBy(col("_side"), col("id"))
        .agg(max(struct((!col("_del")).as("live"), col("_pos").as("pos"),
          col("_hash").as("hash"))).as("w"))
        .groupBy(col("_side"))
        .agg(count(when(col("w.live"), lit(1))).as("dc"),
          count(when(!col("w.live"), lit(1))).as("xc"))
        .collect()
      def cnts(side: Int): (Long, Long) =
        rows.find(_.getInt(0) == side)
          .map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
      val (od, ox) = cnts(0)
      val (nd, nx) = cnts(1)
      base.copy(docCount = meta.docCount + nd - od,
        delCount = meta.delCount + nx - ox, countsSeq = newSeq)
    }
  }


  def targetExists(spark: SparkSession, path: String): Boolean =
    IndexStore.exists(spark, path)

  /** Persist a target's revision-tree leaves hive-partitioned by id
    * HASH bucket (`_b` — arithmetic on the id, no sidecar): the layout
    * that makes a continuous replication batch touch only the bucket
    * directories holding its changed docs, whatever the target's total
    * size. */
  def createTarget(spark: SparkSession, path: String, leaves: DataFrame,
                   id: Column, revPos: Column, revHash: Column,
                   deleted: Column, ancestors: Column,
                   numBuckets: Int = 0, seq: Long = 0L): Unit = {
    val n = if (numBuckets > 0) numBuckets
            else spark.sessionState.conf.numShufflePartitions
    val rows = normL(leaves, id, revPos, revHash, deleted, ancestors)
      .withColumn("_b", IndexStore.idBucket(col("id"), n))
    val fs = IndexStore.fsFor(spark, path)
    fs.delete(new Path(path), true)
    rows.repartition(n, col("_b"))
      .sortWithinPartitions(col("_b"), col("id"), col("rev_pos"),
        col("rev_hash"))
      .write.mode("overwrite").partitionBy("_b").parquet(dataDir(path))
    // stamp the count cache at creation (read back what was written —
    // one aggregation over the fresh store, the only full pass the
    // cache ever costs; every later writer maintains it by delta)
    val (dc, xc) = winnerCounts(spark.read.parquet(dataDir(path)))
    IndexStore.writeMeta(spark, path, IndexMeta(seq, n, Nil,
      docCount = dc, delCount = xc, countsSeq = seq))
  }

  /** The stored leaf relation `(id, rev_pos, rev_hash, deleted,
    * ancestors)`. */
  def openTarget(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(dataDir(path)).drop("_b")

  /** One DELTA-BOUNDED sync of `changedIds` from `source` into the
    * persisted target — the micro-batch body of continuous replication
    * ([[graft.streaming.Streams.maintainReplication]]) and equally a
    * batch API for "sync just these docs". Only the `_b` bucket
    * directories holding changed ids are read and rewritten: the
    * revs-diff anti-joins the delta's source-leaf revs against what
    * THOSE buckets know (leaves + ancestor paths), the fetch is
    * [[Revisions.bulkGet]] over just the misses, the write leg is
    * [[applyBulkDocs]] on just the touched docs' trees, and the swap
    * is rename-per-bucket (crash leaves old-or-new; the merge is
    * idempotent, so a checkpoint retry converges). A first batch
    * creates the store from the changed docs' source leaves. Returns
    * the rewritten bucket ids (empty when nothing changed). */
  def syncBatch(spark: SparkSession, path: String, source: DataFrame,
                id: Column, revPos: Column, revHash: Column,
                deleted: Column, ancestors: Column,
                changedIds: DataFrame, numBuckets: Int = 0,
                newSeq: Long = -1L): Seq[Int] = {
    val srcN = normL(source, id, revPos, revHash, deleted, ancestors)
    val ids = changedIds.toDF("id").distinct().persist()
    try {
      if (!targetExists(spark, path)) {
        val leaves = srcN.join(ids, Seq("id"), "left_semi")
        if (leaves.isEmpty) return Nil
        createTarget(spark, path, leaves, col("id"), col("rev_pos"),
          col("rev_hash"), col("deleted"), col("ancestors"),
          numBuckets, math.max(newSeq, 0L))
        return leaves.select(
            IndexStore.idBucket(col("id"), if (numBuckets > 0) numBuckets
              else spark.sessionState.conf.numShufflePartitions).as("_b"))
          .distinct().collect().map(_.getInt(0)).toSeq.sorted
      }
      IndexStore.finishSwap(spark, path)
      val meta = IndexStore.readMeta(spark, path)
      val bs = ids.select(IndexStore.idBucket(col("id"), meta.buckets)
          .as("_b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (bs.isEmpty) return Nil
      val bucketRows = graft.view.IndexStore
        .readBuckets(spark, dataDir(path), "_b", bs)
        .filter(col("_b").isin(bs: _*))
      val curTouched = bucketRows.join(ids, Seq("id"), "left_semi")
        .drop("_b")
      // _revs_diff against what the touched docs' trees already know
      val rev = concat(col("rev_pos").cast("string"), lit("-"),
        col("rev_hash"))
      val known = curTouched.select(col("id"), rev.as("rev"))
        .unionByName(curTouched.select(col("id"),
          explode(col("ancestors")).as("rev")))
        .distinct()
      val candidates = srcN.join(ids, Seq("id"), "left_semi")
        .select(col("id"), rev.as("rev"))
      val misses = candidates.join(known, Seq("id", "rev"), "left_anti")
        .select(col("id"),
          split_part(col("rev"), lit("-"), lit(1)).cast("long")
            .as("rev_pos"),
          split_part(col("rev"), lit("-"), lit(2)).as("rev_hash"))
      val revsArr = split(col("revisions"), ",")
      val incoming = Revisions.bulkGet(srcN, col("id"), col("rev_pos"),
          col("rev_hash"), col("deleted"), col("ancestors"),
          misses, col("id"), col("rev_pos"), col("rev_hash"))
        .filter(col("status") === "ok")
        .select(col("id"),
          split_part(col("rev"), lit("-"), lit(1)).cast("long")
            .as("rev_pos"),
          split_part(col("rev"), lit("-"), lit(2)).as("rev_hash"),
          col("deleted"),
          slice(revsArr, lit(2), greatest(size(revsArr) - 1, lit(0)))
            .as("ancestors"))
      val mergedTouched = applyBulkDocs(curTouched, col("id"),
        col("rev_pos"), col("rev_hash"), col("deleted"), col("ancestors"),
        incoming, col("id"), col("rev_pos"), col("rev_hash"),
        col("deleted"), col("ancestors"))
      val out = bucketRows.join(ids, Seq("id"), "left_anti")
        .unionByName(mergedTouched
          .withColumn("_b", IndexStore.idBucket(col("id"), meta.buckets)))
        // pin the merged result: the count delta AND the swap both
        // consume it — without the pin the merge lineage would
        // execute twice (a measured ~2x on the store-write paths)
        .persist()
      try {
        val seqF = if (newSeq >= 0) newSeq else meta.updateSeq + 1
        // count-cache maintenance, cost-ruled: a batch touching EVERY
        // bucket makes `out` the whole new store, so count the CACHED
        // result directly (one in-memory agg, heals stale stamps for
        // free); a bounded batch pays the two-sided touched delta
        val newMeta =
          if (bs.size >= meta.buckets) {
            val (dc, xc) = winnerCounts(out.drop("_b"))
            meta.copy(updateSeq = seqF, docCount = dc, delCount = xc,
              countsSeq = seqF)
          } else countsAfter(meta, bucketRows.drop("_b"),
            out.drop("_b"), seqF)
        // crash discipline: invalidate the counts stamp BEFORE the
        // swap (meta with no counts line → readers scan-fallback and
        // self-heal), so a crash mid-swap or between swap and the
        // final stamp can never leave new data under a stale-current
        // stamp — the documented idempotent retry would otherwise
        // delta from the wrong base and serve wrong counts forever
        IndexStore.writeMeta(spark, path, meta.copy(countsSeq = -1L))
        IndexStore.commitBatch(spark, path, Seq(dataWrite(path, bs, out)),
          Some(newMeta))
      } finally out.unpersist()
      bs
    } finally ids.unpersist()
  }

  /** A store-backed `_bulk_docs new_edits=true` batch's outputs: the
    * per-write report (LOCAL rows — bounded by the batch size, safe on
    * the driver, and immune to the post-write bucket swap) and the
    * `_b` bucket ids the batch rewrote. */
  final case class BulkDocsStoreResult(report: DataFrame,
                                       buckets: Seq[Int])

  /** [[bulkDocs]] against a PERSISTED target ([[createTarget]]'s
    * `_b`-bucketed layout) — the interactive write ENDPOINT, with the
    * [[syncBatch]] discipline the relation form cannot give: the
    * relation form's winner aggregation runs over WHATEVER leaf
    * relation the caller passes (calling it on a full corpus
    * aggregates the full corpus per batch), while here only the
    * bucket directories holding the batch's write ids are read,
    * judged against, and rewritten behind rename swaps — a 1k-write
    * batch onto a trillion-doc store reads 1k docs' buckets. Same
    * MVCC rule, same minted revs, same report vocabulary as
    * [[bulkDocs]] (gate-pinned equal); a first batch creates the
    * store. `update_seq` advances per batch (or to `newSeq`). The
    * report is collected (one row per write — the endpoint's response
    * array is driver-sized by definition) BEFORE the swap so it can
    * never observe post-write files. */
  def bulkDocsStore(spark: SparkSession, path: String, writes: DataFrame,
                    wId: Column, wBaseRev: Column, wBody: Column,
                    wDel: Column, numBuckets: Int = 0,
                    newSeq: Long = -1L): BulkDocsStoreResult = {
    def localized(report: DataFrame): DataFrame = {
      val schema = report.schema
      spark.createDataFrame(
        spark.sparkContext.parallelize(report.collect().toSeq, 1), schema)
    }
    if (!targetExists(spark, path)) {
      // empty pre-batch tree: every write judged against nothing
      val empty = writes.select(wId.as("id"), lit(0L).as("rev_pos"),
        lit("").as("rev_hash"), lit(false).as("deleted"),
        array().cast("array<string>").as("ancestors")).limit(0)
      val res = bulkDocs(empty, col("id"), col("rev_pos"),
        col("rev_hash"), col("deleted"), col("ancestors"),
        writes, wId, wBaseRev, wBody, wDel)
      val rep = localized(res.report)
      if (res.leaves.isEmpty) return BulkDocsStoreResult(rep, Nil)
      val n = if (numBuckets > 0) numBuckets
              else spark.sessionState.conf.numShufflePartitions
      createTarget(spark, path, res.leaves, col("id"), col("rev_pos"),
        col("rev_hash"), col("deleted"), col("ancestors"),
        numBuckets, math.max(newSeq, 1L))
      val bs = res.leaves
        .select(IndexStore.idBucket(col("id"), n).as("_b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      return BulkDocsStoreResult(rep, bs)
    }
    IndexStore.finishSwap(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val ids = writes.select(wId.as("id")).distinct().persist()
    try {
      val bs = ids.select(IndexStore.idBucket(col("id"), meta.buckets)
          .as("_b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (bs.isEmpty)
        return BulkDocsStoreResult(localized(
          writes.select(wId.as("id"), lit("ok").as("status"),
            lit(null).cast("string").as("rev")).limit(0)), Nil)
      val bucketRows = IndexStore
        .readBuckets(spark, dataDir(path), "_b", bs)
        .filter(col("_b").isin(bs: _*))
      val curTouched = bucketRows.join(ids, Seq("id"), "left_semi")
        .drop("_b")
      val res = bulkDocs(curTouched, col("id"), col("rev_pos"),
        col("rev_hash"), col("deleted"), col("ancestors"),
        writes, wId, wBaseRev, wBody, wDel)
      val rep = localized(res.report)
      val out = bucketRows.join(ids, Seq("id"), "left_anti")
        .unionByName(res.leaves
          .withColumn("_b", IndexStore.idBucket(col("id"), meta.buckets)))
        // pin: the count delta and the swap both consume the merge
        .persist()
      try {
        val seqF = if (newSeq >= 0) newSeq else meta.updateSeq + 1
        val newMeta =
          if (bs.size >= meta.buckets) {
            val (dc, xc) = winnerCounts(out.drop("_b"))
            meta.copy(updateSeq = seqF, docCount = dc, delCount = xc,
              countsSeq = seqF)
          } else countsAfter(meta, bucketRows.drop("_b"),
            out.drop("_b"), seqF)
        // stamp-invalidate before the swap (see syncBatch): a crash
        // between swap and final meta falls back to the scan, never
        // deltas from a base that no longer matches the data
        IndexStore.writeMeta(spark, path, meta.copy(countsSeq = -1L))
        IndexStore.commitBatch(spark, path, Seq(dataWrite(path, bs, out)),
          Some(newMeta))
      } finally out.unpersist()
      BulkDocsStoreResult(rep, bs)
    } finally ids.unpersist()
  }

  /** CouchDB's `_reshard` (POST /_reshard: split every shard) on a
    * persisted target: multiply the `_b` bucket count by `factor`,
    * SHUFFLE-FREE. Because `_b = pmod(xxhash64(id), n)`, a row in
    * bucket k under n buckets can only land in {k, k+n, …,
    * k+(factor-1)·n} under factor·n — each old bucket directory is
    * read once and its rows fan out to exactly its `factor` child
    * directories, an embarrassingly parallel per-bucket rewrite with
    * no Exchange in the plan (spec-asserted): at 100 TB every
    * executor streams its bucket straight into the new layout and no
    * byte crosses the network. The resharded store is staged beside
    * the live one and swapped whole-directory by two renames (the
    * [[graft.view.IndexStore.compact]] crash discipline — meta and
    * data travel together, so readers see old-or-new, never a
    * mixed-generation store; a crash between the renames leaves the
    * old store intact at `path + "._old"`). `update_seq` is
    * preserved: resharding is a layout change, not a write. Returns
    * the new bucket count. */
  def reshardTarget(spark: SparkSession, path: String,
                    factor: Int): Int = {
    require(factor >= 2, s"reshard: factor must be >= 2 (got $factor)")
    val meta = IndexStore.readMeta(spark, path)
    val n2 = meta.buckets * factor
    val fs = IndexStore.fsFor(spark, path)
    val tmp = path + "._reshard"
    fs.delete(new Path(tmp), true)
    spark.read.parquet(dataDir(path)).drop("_b")
      .withColumn("_b", IndexStore.idBucket(col("id"), n2))
      .sortWithinPartitions(col("_b"), col("id"), col("rev_pos"),
        col("rev_hash"))
      .write.partitionBy("_b").parquet(dataDir(tmp))
    IndexStore.writeMeta(spark, tmp, meta.copy(buckets = n2))
    carrySidecars(spark, fs, path, tmp, rebucketLocalTo = Some(n2))
    IndexStore.replaceStore(spark, path, tmp, "reshard")
    n2
  }

  /** One row of CouchDB's `_replicator` database, relationally: the
    * job's doc id, the source's change feed and leaf relation, the
    * persisted target store, and optionally a selector over source
    * doc content — `(docs relation, its id column, selector JSON)`,
    * the `replicateFilteredOnce` contract. */
  final case class ReplicatorDoc(docId: String, feedPath: String,
                                 source: DataFrame, targetPath: String,
                                 selector: Option[(DataFrame, String,
                                   String)] = None,
                                 numBuckets: Int = 0,
                                 /** CouchDB's `doc_ids` option:
                                   * non-empty restricts the job to the
                                   * listed ids (mutually exclusive
                                   * with `selector`, as the endpoint
                                   * rejects both together). */
                                 docIds: Seq[Any] = Nil)

  /** CouchDB's `_replicator` scheduler, one SWEEP: run one
    * checkpointed, delta-bounded round per replication document and
    * return `GET /_scheduler/docs` — one state row per doc. Per doc:
    * `_local` checkpoint read (a selector hashes into the checkpoint
    * id via [[filteredRepId]] — editing a doc's filter restarts it
    * from seq 0, CouchDB's replication-id rule) → `_changes` since →
    * optional selector cut (one compiled content predicate + a semi
    * join, never a per-change callback) → [[syncBatch]] into the
    * store (only the touched `_b` buckets are read/rewritten,
    * whatever the target's size) → checkpoint past everything
    * SCANNED (rejected changes advance it too — the FilteredRound
    * rule), mirrored as a `_local/<repId>` doc on the TARGET (the
    * CouchDB/PouchDB shape: a replicated-into store's `_local_docs`
    * lists its replications). A throwing doc reports `state = "error"` with the
    * message and does NOT stop the sweep: CouchDB's scheduler
    * isolates jobs, one broken doc must not starve the rest.
    * Output: `(doc_id, state, changes_scanned, docs_synced,
    * buckets_touched, last_seq, error)` — one row per doc, the
    * driver-sized response of an admin endpoint; the per-doc counts
    * are aggregation jobs, never collects of the delta. */
  def runReplicatorDocs(spark: SparkSession, docs: Seq[ReplicatorDoc],
                        id: Column, revPos: Column, revHash: Column,
                        deleted: Column, ancestors: Column): DataFrame = {
    require(docs.nonEmpty, "runReplicatorDocs: at least one doc")
    require(docs.map(_.docId).distinct.size == docs.size,
      "runReplicatorDocs: duplicate _replicator doc ids")
    require(docs.forall(d => d.selector.isEmpty || d.docIds.isEmpty),
      "runReplicatorDocs: selector and doc_ids are mutually exclusive " +
        "(CouchDB's _replicate rejects both together)")
    val rows = docs.map { d =>
      try {
        val effId = effectiveRepId(d)
        val since = ChangesFeed.readCheckpoint(spark, d.feedPath, effId)
        val scanned = ChangesFeed.since(spark, d.feedPath, since)
        val ids = (d.selector match {
          case None if d.docIds.nonEmpty =>
            // the id list cuts the scan as a LITERAL pushed filter
            scanned.select(col("id"))
              .filter(col("id").isin(d.docIds: _*))
          case None => scanned.select(col("id"))
          case Some((docsRel, docIdCol, sel)) =>
            val pred = Mango.compile(Mango.parseSelector(sel),
              docsRel.schema)
            scanned.select(col("id")).join(
              docsRel.filter(pred).select(col(docIdCol).as("id"))
                .distinct(),
              Seq("id"), "left_semi")
        }).distinct()
        val nScanned = scanned.count()
        val bs = syncBatch(spark, d.targetPath, d.source, id, revPos,
          revHash, deleted, ancestors, ids, d.numBuckets)
        val nSynced = ids.count()
        val last = ChangesFeed.checkpointAfter(spark, d.feedPath, effId,
          scanned)
        // CouchDB writes the checkpoint as a _local doc on the TARGET
        // too — mirror it so `GET /db/_local_docs` on a replicated
        // store shows its replications, the PouchDB-visible shape.
        // One id-bucket rewrite; invisible to counts/seq by A47's
        // construction. Target may not exist yet when the round
        // scanned nothing (no first batch ever landed).
        if (last > since && targetExists(spark, d.targetPath)) {
          import spark.implicits._
          localDocsUpsert(spark, d.targetPath,
            Seq((s"_local/${effId}", s"""{"last_seq":$last}""", false))
              .toDF("id", "body", "del"),
            col("id"), col("body"), col("del"))
        }
        (d.docId, "completed", nScanned, nSynced, bs.size.toLong, last,
          null: String)
      } catch {
        case e: Exception =>
          (d.docId, "error", 0L, 0L, 0L, -1L,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    }
    import spark.implicits._
    rows.toDF("doc_id", "state", "changes_scanned", "docs_synced",
      "buckets_touched", "last_seq", "error")
  }

  /** One checkpoint identity rule for the whole scheduler surface:
    * plain docs checkpoint under their own id, selector docs hash the
    * selector in ([[filteredRepId]]), `doc_ids` docs hash the
    * canonical list in ([[docIdsRepId]]) — the sweep, the jobs poll,
    * and the active-tasks report all read the same `_local` doc. */
  private def effectiveRepId(d: ReplicatorDoc): String =
    d.selector match {
      case Some((_, _, sel)) => filteredRepId(d.docId, sel)
      case None if d.docIds.nonEmpty => docIdsRepId(d.docId, d.docIds)
      case None => d.docId
    }

  /** CouchDB's `GET /_scheduler/jobs` — the RUNTIME state of each
    * `_replicator` document WITHOUT running a round (the poll a
    * replication monitor actually issues; [[runReplicatorDocs]] is
    * the sweep and answers `/_scheduler/docs`). Per doc: the
    * `_local` checkpoint (a selector doc hashes its filter into the
    * checkpoint id — the [[filteredRepId]] rule, so this reads the
    * SAME checkpoint the sweep writes), the feed's `last_seq`
    * high-water mark ([[ChangesFeed.lastSeq]] — one tail-bucket
    * read, never a feed scan), and CouchDB's `changes_pending`
    * estimate `last_seq - checkpointed` (never negative; a missing
    * checkpoint reports 0, the endpoint's "never started" shape).
    * `state` is `"pending"` while changes wait, `"idle"` at the
    * high-water mark. Cost per job: one checkpoint stat + one
    * tail-bucket read + one target-meta stat, whatever the feed's
    * or target's size — the `_db_updates` (A41) discipline. One
    * driver-sized row per doc, like every admin endpoint. */
  def schedulerJobs(spark: SparkSession,
                    docs: Seq[ReplicatorDoc]): DataFrame = {
    require(docs.nonEmpty, "schedulerJobs: at least one doc")
    require(docs.map(_.docId).distinct.size == docs.size,
      "schedulerJobs: duplicate _replicator doc ids")
    val rows = docs.map { d =>
      val effId = effectiveRepId(d)
      val cp = math.max(
        ChangesFeed.readCheckpoint(spark, d.feedPath, effId), 0L)
      val last = math.max(ChangesFeed.lastSeq(spark, d.feedPath), 0L)
      val pending = math.max(last - cp, 0L)
      val tseq =
        if (targetExists(spark, d.targetPath))
          IndexStore.readMeta(spark, d.targetPath).updateSeq
        else -1L
      (d.docId, cp, last, pending,
        if (pending > 0) "pending" else "idle", tseq)
    }
    import spark.implicits._
    rows.toDF("doc_id", "checkpointed_source_seq", "source_seq",
      "changes_pending", "state", "target_update_seq")
  }

  /** CouchDB's `GET /_active_tasks` over this engine's long-running
    * work: `replication` rows (the [[schedulerJobs]] state re-shaped
    * into the task vocabulary) and `indexer` rows (a secondary
    * index's `update_seq` vs its feed's `last_seq` — the view/Mango/
    * text/ANN maintainers all stamp the same IndexStore meta, so one
    * `(name, indexPath, feedPath)` triple describes any of them).
    * `progress` is CouchDB's integer percent
    * `100 * through_seq / source_seq` (100 for an empty feed —
    * nothing left to do). Same per-row cost discipline as
    * [[schedulerJobs]]: stats and tail-bucket reads only. */
  def activeTasks(spark: SparkSession,
                  repDocs: Seq[ReplicatorDoc] = Nil,
                  indexers: Seq[(String, String, String)] = Nil)
      : DataFrame = {
    require(repDocs.nonEmpty || indexers.nonEmpty,
      "activeTasks: at least one replication doc or indexer")
    def progress(through: Long, last: Long): Long =
      if (last <= 0L) 100L else math.min(100L * through / last, 100L)
    val rep =
      if (repDocs.isEmpty) Nil
      else Seq(schedulerJobs(spark, repDocs).select(
        lit("replication").as("type"), col("doc_id").as("task_id"),
        col("checkpointed_source_seq").as("through_seq"),
        col("source_seq"), col("changes_pending"),
        when(col("source_seq") <= 0L, 100L)
          .otherwise(least(floor(col("checkpointed_source_seq") * 100L /
              col("source_seq")).cast("long"),
            lit(100L))).as("progress")))
    val idx = indexers.map { case (name, indexPath, feedPath) =>
      val through = IndexStore.readMeta(spark, indexPath).updateSeq
      val last = math.max(ChangesFeed.lastSeq(spark, feedPath), 0L)
      (name, through, last, math.max(last - through, 0L),
        progress(through, last))
    }
    val idxDf =
      if (idx.isEmpty) Nil
      else {
        import spark.implicits._
        Seq(idx.toDF("task_id", "through_seq", "source_seq",
            "changes_pending", "progress")
          .select(lit("indexer").as("type"), col("task_id"),
            col("through_seq"), col("source_seq"),
            col("changes_pending"), col("progress")))
      }
    (rep ++ idxDf).reduce(_ unionByName _)
  }

  /** [[bulkDocs]] behind CouchDB's `validate_doc_update` gatekeeper:
    * every write row must pass the named requirement selectors
    * ([[Mango.validateDocs]] — the design-doc VDU function as data;
    * selectors may reference ANY column of the writes relation)
    * BEFORE it is judged against the tree. Rejected writes report
    * `status = "forbidden"` with the comma-joined failing rule names
    * (CouchDB's per-item `{forbidden: reason}` — ALL failures, one
    * fixable round trip) and leave the tree untouched; surviving
    * writes get the unchanged MVCC verdicts, their report rows
    * carrying `reason = ""`. Validation is one codegen'd predicate
    * pass on the writes scan — no extra shuffle, no UDF. */
  def bulkDocsValidated(target: DataFrame, id: Column, revPos: Column,
                        revHash: Column, deleted: Column,
                        ancestors: Column, writes: DataFrame,
                        wId: Column, wBaseRev: Column, wBody: Column,
                        wDel: Column,
                        rules: Seq[(String, String)]): BulkDocsResult = {
    require(rules.nonEmpty,
      "bulkDocsValidated: at least one rule (use bulkDocs for none)")
    val v = Mango.validateDocs(writes, rules)
    val res = bulkDocs(target, id, revPos, revHash, deleted, ancestors,
      v.filter(col("_valid")).drop("_valid", "_reasons"),
      wId, wBaseRev, wBody, wDel)
    val forbidden = v.filter(!col("_valid")).select(wId.as("id"),
      lit("forbidden").as("status"), lit(null).cast("string").as("rev"),
      col("_reasons").as("reason"))
    BulkDocsResult(
      res.report.withColumn("reason", lit("")).unionByName(forbidden),
      res.leaves)
  }

  /** [[bulkDocsStore]] behind `validate_doc_update` — the endpoint
    * form of [[bulkDocsValidated]]: forbidden writes never reach the
    * store (their buckets are not even read), the rest follow the
    * bucket-pruned write path; the combined report is localized like
    * every endpoint response (one row per write, driver-sized by
    * definition). */
  def bulkDocsStoreValidated(spark: SparkSession, path: String,
                             writes: DataFrame, wId: Column,
                             wBaseRev: Column, wBody: Column,
                             wDel: Column, rules: Seq[(String, String)],
                             numBuckets: Int = 0,
                             newSeq: Long = -1L): BulkDocsStoreResult = {
    require(rules.nonEmpty,
      "bulkDocsStoreValidated: at least one rule (use bulkDocsStore " +
        "for none)")
    val v = Mango.validateDocs(writes, rules)
    val res = bulkDocsStore(spark, path,
      v.filter(col("_valid")).drop("_valid", "_reasons"),
      wId, wBaseRev, wBody, wDel, numBuckets, newSeq)
    val forbidden = v.filter(!col("_valid")).select(wId.as("id"),
      lit("forbidden").as("status"), lit(null).cast("string").as("rev"),
      col("_reasons").as("reason"))
    val forbL = spark.createDataFrame(
      spark.sparkContext.parallelize(forbidden.collect().toSeq, 1),
      forbidden.schema)
    BulkDocsStoreResult(
      res.report.withColumn("reason", lit("")).unionByName(forbL),
      res.buckets)
  }

  /** CouchDB's `POST /db/_purge` against the persisted target — the
    * GDPR / bad-crawl eraser with the [[syncBatch]] discipline: ONLY
    * the bucket directories holding the requested ids are read,
    * those docs' trees re-derive through
    * [[Revisions.purgeLeaves]] (tip purges resurrect the deepest
    * surviving ancestor with its correctly sliced path; fully-purged
    * docs leave NO row — purge un-happens, delete replicates), and
    * the touched buckets rename-swap; a million-doc store with a
    * 10-id purge request reads 10 docs' buckets. Requested ids are
    * semi-joined against the STORE first: a request naming only
    * unknown ids is a complete no-op (no bucket rewrite, no seq
    * bump, nothing logged), and only buckets holding a stored
    * requested id are touched. An effective purge advances BOTH
    * sequences: `update_seq` (readers must notice the store changed)
    * and `purge_seq` (CouchDB's purge counter), and appends the
    * effective requests to the store's purge log
    * (`purges/_pq=<purge_seq>/`) so secondary indexes catch up via
    * [[pendingPurges]] without being handed the ids out of band.
    * Returns the rewritten bucket ids (empty when no request named a
    * stored id). */
  def purgeTarget(spark: SparkSession, path: String, requests: DataFrame,
                  reqId: Column, reqPos: Column, reqHash: Column,
                  newSeq: Long = -1L): Seq[Int] = {
    IndexStore.finishSwap(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val req = requests.select(reqId.as("id"),
      reqPos.cast("long").as("rev_pos"),
      reqHash.cast("string").as("rev_hash")).persist()
    try {
      val ids = req.select(col("id")).distinct()
      val bs0 = ids.select(IndexStore.idBucket(col("id"), meta.buckets)
          .as("_b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (bs0.isEmpty) return Nil
      // requested ids actually stored — the request-derived bucket set
      // is only a LISTING cut; the write set derives from present ids,
      // so purging unknown ids rewrites nothing and bumps nothing
      val present = IndexStore
        .readBuckets(spark, dataDir(path), "_b", bs0)
        .filter(col("_b").isin(bs0: _*))
        .join(ids, Seq("id"), "left_semi")
        .select(col("id")).distinct().persist()
      val bs = present.select(IndexStore.idBucket(col("id"), meta.buckets)
          .as("_b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (bs.isEmpty) { present.unpersist(); return Nil }
      val bucketRows = IndexStore
        .readBuckets(spark, dataDir(path), "_b", bs)
        .filter(col("_b").isin(bs: _*))
      val curTouched = bucketRows.join(present, Seq("id"), "left_semi")
        .drop("_b")
      val newTouched = Revisions.purgeLeaves(curTouched, col("id"),
        col("rev_pos"), col("rev_hash"), col("deleted"), col("ancestors"),
        req, col("id"), col("rev_pos"), col("rev_hash"))
      val out = bucketRows.join(present, Seq("id"), "left_anti")
        .unionByName(newTouched
          .withColumn("_b", IndexStore.idBucket(col("id"), meta.buckets)))
        // pin: the count delta and the swap both consume the rewrite
        .persist()
      try {
        val seqF = if (newSeq >= 0) newSeq else meta.updateSeq + 1
        // count-cache maintenance, cost-ruled (see syncBatch): whole-
        // store batches count the cached rewrite, bounded ones delta
        val newMeta =
          if (bs.size >= meta.buckets) {
            val (dc, xc) = winnerCounts(out.drop("_b"))
            meta.copy(updateSeq = seqF, docCount = dc, delCount = xc,
              countsSeq = seqF)
          } else countsAfter(meta, bucketRows.drop("_b"),
            out.drop("_b"), seqF)
        // stamp-invalidate before the swap (see syncBatch)
        IndexStore.writeMeta(spark, path, meta.copy(countsSeq = -1L))
        // the purge log's `_pq` entry commits with the data and the meta
        // stamp; catch-ups only read dirs at-or-below the stamped
        // purge_seq
        val pq = meta.purgeSeq + 1
        IndexStore.commitBatch(spark, path, Seq(dataWrite(path, bs, out),
          IndexStore.Write(s"$path/purges", Seq("_pq"), Seq(s"_pq=$pq"),
            req.join(present, Seq("id"), "left_semi")
              .withColumn("_pq", lit(pq)).coalesce(1))),
          Some(newMeta.copy(purgeSeq = pq)))
      } finally {
        out.unpersist()
        present.unpersist()
      }
      bs
    } finally req.unpersist()
  }

  /** One catch-up's worth of pending purges for a secondary index
    * current through store purge_seq `sincePurgeSeq`: the store's
    * purge_seq plus the purged ids split by their CURRENT store
    * state — `goneIds` (no surviving row: retire from the index) vs
    * `aliveIds` (another branch survived the purge, so the doc's
    * winner may have changed: retire AND re-upsert from current
    * content). The split is CouchDB's view purge catch-up rule — an
    * index that only drops purged ids would erase still-live docs
    * whose conflict branch was purged. Reads ONLY the purge-log
    * directories past the cursor plus the named ids' `_b` buckets;
    * the returned id lists are purge-request sized (admin batches —
    * driver-bounded by definition, like every endpoint response). */
  final case class PendingPurges(purgeSeq: Long, goneIds: Seq[Any],
                                 aliveIds: Seq[Any])

  def pendingPurges(spark: SparkSession, path: String,
                    sincePurgeSeq: Long): PendingPurges = {
    val meta = IndexStore.readMeta(spark, path)
    if (meta.purgeSeq <= sincePurgeSeq)
      return PendingPurges(meta.purgeSeq, Nil, Nil)
    // the catch-up is only sound if the log still COVERS the cursor:
    // a batch trimmed by [[trimPurgeLog]] is gone, and serving a
    // partial id set would leave purged docs in the index silently —
    // CouchDB's rule for an index lagging past purged_infos_limit is
    // a REBUILD, and we say so loudly
    val oldest = oldestPurgeBatch(spark, path)
    if (oldest > sincePurgeSeq + 1)
      throw new IllegalStateException(
        s"pendingPurges: purge batches (${sincePurgeSeq + 1}, " +
          s"${oldest - 1}] were trimmed from the log at $path " +
          "(purged_infos_limit) — the index is too stale to catch " +
          "up incrementally; rebuild it from the current store")
    val ids = IndexStore.readWhere(spark, s"$path/purges", "_pq",
        q => q > sincePurgeSeq && q <= meta.purgeSeq)
      .filter(col("_pq") > sincePurgeSeq && col("_pq") <= meta.purgeSeq)
      .select(col("id")).distinct().persist()
    try {
      val bs = ids.select(IndexStore.idBucket(col("id"), meta.buckets)
          .as("_b")).distinct().collect().map(_.getInt(0)).toSeq.sorted
      val stored = IndexStore.readBuckets(spark, dataDir(path), "_b", bs)
        .filter(col("_b").isin(bs: _*))
        .join(ids, Seq("id"), "left_semi")
        .select(col("id")).distinct()
      val alive = stored.collect().map(_.get(0)).toSeq
      val gone = ids.join(stored, Seq("id"), "left_anti")
        .collect().map(_.get(0)).toSeq
      PendingPurges(meta.purgeSeq, gone, alive)
    } finally ids.unpersist()
  }

  /** Sidecars travel WITH the store through whole-directory swaps:
    * the purge log (the proof behind meta's purgeSeq — losing it
    * strands every secondary index on a loud rebuild) and the
    * `_local` docs (client state; CouchDB compaction keeps local
    * docs) are part of the DATABASE, not of the data layout a
    * compact/reshard rewrites. The purge log copies as-is (`_pq`
    * batch dirs are seq-keyed, independent of bucket count); local
    * docs copy as-is under the same bucket count and REBUCKET under
    * a new one (their `_lb` routing hashes against meta.buckets —
    * a tiny checkpoint-scale job, never data-sized). */
  private def carrySidecars(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            src: String, dst: String,
                            rebucketLocalTo: Option[Int]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pg = new Path(s"$src/purges")
    if (fs.exists(pg) &&
        !org.apache.hadoop.fs.FileUtil.copy(fs, pg, fs,
          new Path(s"$dst/purges"), false, conf))
      throw new java.io.IOException(
        s"sidecar carry: purge-log copy failed ($pg -> $dst/purges)")
    val lc = new Path(localDir(src))
    // all-buckets-deleted local dirs carry as nothing (the rebucket
    // read would fail schema inference on a partition-less directory)
    if (localBucketDirs(fs, src).nonEmpty) rebucketLocalTo match {
      case None =>
        if (!org.apache.hadoop.fs.FileUtil.copy(fs, lc, fs,
            new Path(localDir(dst)), false, conf))
          throw new java.io.IOException(
            s"sidecar carry: local-docs copy failed ($lc)")
      case Some(n2) =>
        spark.read.parquet(localDir(src))
          .select(col("id"), col("rev_n"), col("body"))
          .withColumn("_lb", IndexStore.idBucket(col("id"), n2))
          .repartition(1)
          .sortWithinPartitions(col("_lb"), col("id"))
          .write.mode("overwrite").partitionBy("_lb")
          .parquet(localDir(dst))
    }
  }

  /** The oldest purge batch id still present in the log (`purgeSeq +
    * 1` when the log is empty or absent — nothing pending, nothing
    * trimmed-away). One directory listing, no data read. */
  private def oldestPurgeBatch(spark: SparkSession, path: String): Long = {
    val fs = IndexStore.fsFor(spark, path)
    val dir = new Path(s"$path/purges")
    if (!fs.exists(dir))
      return IndexStore.readMeta(spark, path).purgeSeq + 1
    val ids = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("_pq="))
      .map(_.drop(4).toLong)
    if (ids.isEmpty) IndexStore.readMeta(spark, path).purgeSeq + 1
    else ids.min
  }

  /** CouchDB's `purged_infos_limit`: trim the purge log to the newest
    * `limit` batches — purge requests are kept only long enough for
    * secondary indexes to catch up ([[pendingPurges]]), and a store
    * that purges forever would otherwise grow a log forever. Removes
    * every `_pq` directory at or below `purgeSeq - limit` (driver
    * directory deletes, no data job) and returns the removed batch
    * ids in order. An index still lagging past the trim point gets a
    * LOUD rebuild instruction from [[pendingPurges]], never a silent
    * partial catch-up — CouchDB's own contract for an indexer that
    * falls behind `purged_infos_limit`. Idempotent. */
  def trimPurgeLog(spark: SparkSession, path: String,
                   limit: Int): Seq[Long] = {
    require(limit >= 1, s"purged_infos_limit must be >= 1, got $limit")
    val meta = IndexStore.readMeta(spark, path)
    val cutoff = meta.purgeSeq - limit
    if (cutoff < 1) return Nil
    val fs = IndexStore.fsFor(spark, path)
    val dir = new Path(s"$path/purges")
    if (!fs.exists(dir)) return Nil
    val victims = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("_pq="))
      .map(_.drop(4).toLong).filter(_ <= cutoff).sorted
    victims.foreach { n =>
      val d = new Path(s"$path/purges/_pq=$n")
      if (!fs.delete(d, true))
        throw new java.io.IOException(
          s"trimPurgeLog: could not remove purge batch $d")
    }
    victims.toSeq
  }

  /** CouchDB's `POST /db/_compact` on the persisted target: ONE
    * shuffle-free full rewrite that stems every leaf's ancestor path
    * to `revsLimit` ([[Revisions.truncateHistory]] — compaction is
    * where CouchDB applies `_revs_limit` to stored history) and
    * defragments each bucket into freshly sorted files. Ids do not
    * move (`_b` is untouched), so like [[reshardTarget]] the plan
    * has no Exchange — every executor streams its bucket through the
    * slice — and the swap is the whole-directory two-rename
    * (old-or-new, never mixed; a crash leaves the old store at
    * `path + "._old"`). `update_seq` is preserved: compaction
    * changes no document. */
  def compactTarget(spark: SparkSession, path: String,
                    revsLimit: Int): Unit = {
    val meta = IndexStore.readMeta(spark, path)
    val fs = IndexStore.fsFor(spark, path)
    val tmp = path + "._compact"
    fs.delete(new Path(tmp), true)
    require(revsLimit >= 1, s"_revs_limit must be >= 1, got $revsLimit")
    // the truncateHistory slice, with `_b` riding along (ids do not
    // move, so the stored bucket IS the home — no re-hash, no shuffle)
    spark.read.parquet(dataDir(path))
      .select(col("_b"), col("id"), col("rev_pos"), col("rev_hash"),
        col("deleted"),
        slice(col("ancestors"), 1, revsLimit - 1).as("ancestors"))
      .sortWithinPartitions(col("_b"), col("id"), col("rev_pos"),
        col("rev_hash"))
      .write.partitionBy("_b").parquet(dataDir(tmp))
    IndexStore.writeMeta(spark, tmp, meta)
    carrySidecars(spark, fs, path, tmp, rebucketLocalTo = None)
    IndexStore.replaceStore(spark, path, tmp, "compact")
  }

  /** Conflict REPAIR over a persisted target — the documented CouchDB
    * resolution recipe (DELETE every conflicting revision you do not
    * want) run store-wide as one admin verb: every losing LIVE leaf
    * gets a minted tombstone extending its branch
    * (`rev = (pos+1)-md5(id:(pos+1):repair:loserHash)` — the loser's
    * own hash in the mint keeps two same-depth losers' tombstones
    * distinct; ancestors = the loser's rev + its own path, so no
    * history is forgotten and future revs-diffs still recognize
    * superseded revs). Winners never move:
    * a live winner beats any deeper tombstone by the first rule, so
    * repair is observation-equivalent for reads while `_conflicts`
    * empties and the losers surface in `_deleted_conflicts`
    * ([[Revisions.docMeta]]) — exactly what a post-repair CouchDB doc
    * shows. FINDING the conflicts is one corpus aggregation (an admin
    * pass, the compact/reshard cost class); APPLYING them is
    * [[syncBatch]], delta-bounded to the conflicted ids' buckets.
    * Deterministic (no randomness, no timestamps) and idempotent:
    * a second run finds no live losers and rewrites nothing. Returns
    * the rewritten bucket ids. */
  def repairConflicts(spark: SparkSession, path: String,
                      newSeq: Long = -1L): Seq[Int] = {
    require(targetExists(spark, path),
      s"repairConflicts: no store at $path")
    val cur = openTarget(spark, path)
    val losers = Revisions.conflicts(cur, col("id"), col("rev_pos"),
        col("rev_hash"), col("deleted"))
      // carry each loser's own ancestor path: the minted tombstone's
      // path must extend it, not truncate history
      .join(cur.select(col("id"), col("rev_pos"), col("rev_hash"),
        col("ancestors").as("_anc")), Seq("id", "rev_pos", "rev_hash"))
    val newPos = col("rev_pos") + 1L
    val tombs = losers.select(col("id"), newPos.as("rev_pos"),
      md5(concat(col("id").cast("string"), lit(":"),
        newPos.cast("string"), lit(":repair:"), col("rev_hash")))
        .as("rev_hash"),
      lit(true).as("deleted"),
      concat(array(concat(col("rev_pos").cast("string"), lit("-"),
        col("rev_hash"))), col("_anc")).as("ancestors"))
    syncBatch(spark, path, tombs, col("id"), col("rev_pos"),
      col("rev_hash"), col("deleted"), col("ancestors"),
      tombs.select(col("id")).distinct(), newSeq = newSeq)
  }

  /** CouchDB's `POST /_dbs_info` over persisted targets: one row per
    * named store — live doc count, deleted (tombstone-winner) count,
    * `update_seq`, and the shard (`_b` bucket) count, the fields a
    * replication monitor reads.
    *
    * Counts serve from the meta sidecar's CACHED winner-rule counts
    * whenever the cache is current (`countsSeq == updateSeq` — every
    * store writer maintains it by touched-bucket delta), so the
    * steady-state poll is N stat calls with NO data scanned, CouchDB's
    * own O(1) `GET /db` shape. A store whose stamp is stale (written
    * by a pre-cache artifact or an out-of-band tool) falls back to
    * one [[graft.operators.Revisions.dbInfo]] aggregation and
    * SELF-HEALS the stamp, so the scan happens once, not per poll. */
  /** `GET /_all_dbs` — enumerate the databases under a stores root:
    * one FS listing plus one sidecar-stat per child (a child IS a
    * database iff its `_graft_meta` sidecar exists — the same probe
    * every store open uses; non-store directories are invisible, as
    * the endpoint hides system artifacts). Names return sorted
    * ascending, CouchDB's response order. Cost: one directory listing
    * whatever the stores' sizes — compose with [[dbsInfo]] for the
    * per-db stat block. */
  def allDbs(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = IndexStore.fsFor(spark, root)
    val p = new Path(root)
    val names =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath)
        // a half-destroyed store parked at `<name>.__deleting` (the
        // destroyTarget crash window) still holds a _graft_meta — it
        // must not list as a database under the mangled name: after
        // the destroy rename, no namespace probe may see the db
        .filter(d => !d.getName.endsWith(".__deleting") &&
          fs.exists(new Path(d, "_graft_meta")))
        .map(_.getName).sorted
    names.toDF("db_name")
  }

  def dbsInfo(spark: SparkSession,
              dbs: Seq[(String, String)]): DataFrame = {
    require(dbs.nonEmpty, "dbsInfo: at least one (name, path) required")
    import spark.implicits._
    dbs.map { case (name, path) =>
      val meta = IndexStore.readMeta(spark, path)
      val (dc, xc) =
        if (meta.countsSeq == meta.updateSeq && meta.docCount >= 0)
          (meta.docCount, meta.delCount)
        else {
          val scanned = winnerCounts(openTarget(spark, path))
          IndexStore.writeMeta(spark, path, meta.copy(
            docCount = scanned._1, delCount = scanned._2,
            countsSeq = meta.updateSeq))
          scanned
        }
      Seq((name, dc, xc, meta.updateSeq, meta.buckets.toLong))
        .toDF("db_name", "doc_count", "doc_del_count", "update_seq",
          "buckets")
    }.reduce(_ unionByName _)
  }

  /** The catch-up read of CouchDB's `GET /_db_updates?since=` over
    * persisted targets: which of the named stores advanced past
    * `since`, as `(db_name, type, seq)` rows in seq order — the
    * poll a multi-database replicator runs to decide what to sync
    * next. `type` follows the endpoint's vocabulary: `"created"`
    * for a store whose whole history is past the cursor (its
    * creation event itself has not been consumed: the meta
    * sidecar's `createdSeq` — stamped at the store's first write
    * — is past `since`), `"updated"` otherwise. A store written
    * before `createdSeq` existed (-1) falls back to the
    * since-zero proxy. Reads ONLY each store's meta sidecar (one
    * tiny file per db — no data listed or scanned), so polling N
    * databases costs N stat calls whatever their sizes. */
  def dbUpdates(spark: SparkSession, dbs: Seq[(String, String)],
                since: Long = 0L): DataFrame = {
    require(dbs.nonEmpty, "dbUpdates: at least one (name, path) required")
    val rows = dbs.flatMap { case (name, path) =>
      deletedSeqOf(spark, path) match {
        // the third vocabulary word: a destroyed store reports
        // `deleted` from its tombstone breadcrumb — exactly while the
        // poller's cursor has not consumed the event
        case Some(ds) =>
          if (ds > since) Some((name, "deleted", ds)) else None
        case None =>
          if (!targetExists(spark, path)) None
          else {
            val meta = IndexStore.readMeta(spark, path)
            val seq = meta.updateSeq
            val born =
              if (meta.createdSeq >= 0) meta.createdSeq > since
              else since == 0L
            if (seq > since)
              Some((name, if (born) "created" else "updated", seq))
            else None
          }
      }
    }.sortBy(r => (r._3, r._1))
    import spark.implicits._
    rows.toDF("db_name", "type", "seq")
  }

  // ----------------------------- database lifecycle: DELETE /db ----

  private def deletingDir(path: String) = new Path(path + ".__deleting")

  /** The destroy breadcrumb's seq, if `path` holds one. The
    * breadcrumb is a FILE at the store's own path, so every
    * directory-shaped probe ([[allDbs]] lists directories,
    * [[targetExists]] probes the meta sidecar INSIDE a dir) is
    * blind to it by construction — only [[dbUpdates]] reads it. */
  private def deletedSeqOf(spark: SparkSession,
                           path: String): Option[Long] = {
    val fs = IndexStore.fsFor(spark, path)
    val p = new Path(path)
    if (!fs.exists(p) || !fs.getFileStatus(p).isFile) None
    else {
      val in = fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.linesIterator.toSeq match {
        case Seq("v1", seq) => Some(seq.trim.toLong)
        case other => throw new IOException(
          s"corrupt destroy breadcrumb at $path: $other")
      }
    }
  }

  /** CouchDB's `DELETE /db` — destroy a persisted store WHOLE: data,
    * `_local` sidecar, purge log, meta (everything lives under the
    * store root) in one recursive drop, leaving a one-line tombstone
    * BREADCRUMB file at the store's path so [[dbUpdates]] can report
    * the `deleted` event once (`deletedSeq = updateSeq + 1` — strictly
    * past every update a poller may already have consumed). Returns
    * that seq.
    *
    * Two-rename crash discipline (the compact/reshard swap family):
    * (1) the store dir renames to `<path>.__deleting` — ONE atomic FS
    * op after which every namespace probe (`_all_dbs`,
    * [[targetExists]], opens) sees no db; (2) the breadcrumb writes
    * at the now-free path; (3) the renamed dir deletes recursively.
    * A crash at any point heals on RETRY: before (1) the store is
    * intact; between (1) and (3) the half-deleted dir still holds the
    * meta to re-derive the seq, so calling destroy again completes
    * the remaining steps (idempotent — destroying an
    * already-breadcrumbed db just re-clears leftovers). Re-creating
    * the db ([[createTarget]] deletes whatever sits at `path` first)
    * consumes the breadcrumb, and the new store's `createdSeq` makes
    * the next poll report `created` again — CouchDB's
    * create→delete→create event order. */
  def destroyTarget(spark: SparkSession, path: String): Long = {
    val fs = IndexStore.fsFor(spark, path)
    val p = new Path(path)
    val half = deletingDir(path)
    val already = deletedSeqOf(spark, path)
    val seq: Long =
      if (targetExists(spark, path)) {
        val s = IndexStore.readMeta(spark, path).updateSeq + 1
        // a stale half dir (crash between rename and breadcrumb, then
        // re-create) would wedge the rename below — its seq is
        // superseded by the live meta just read, so drop it first
        if (fs.exists(half) && !fs.delete(half, true))
          throw new IOException(s"destroy: could not drop stale $half")
        IndexStore.move(fs, p, half, s"destroy rename failed: $p -> $half")
        s
      } else if (already.isDefined) already.get
      else if (fs.exists(half)) // crashed between rename and breadcrumb
        IndexStore.readMeta(spark, half.toString).updateSeq + 1
      else throw new IllegalArgumentException(
        s"destroyTarget: no store at $path")
    if (already.isEmpty) {
      val tmp = new Path(path + ".__tombstone")
      val out = fs.create(tmp, true)
      try out.write(s"v1\n$seq".getBytes("UTF-8")) finally out.close()
      IndexStore.move(fs, tmp, p, s"breadcrumb rename failed: $tmp -> $p")
    }
    fs.delete(half, true)
    seq
  }

  /** `GET /db/_shards` — the store's shard map, one row per `_b`
    * bucket: `(shard, doc_rows)` in shard order. CouchDB's response
    * maps hash RANGES to nodes; the single-cluster analog of a range
    * is the id-hash bucket (`pmod(xxhash64(id), q)` — the same
    * routing every write and delta-bounded read uses), and the
    * node list is the executor set, which Spark owns. `doc_rows`
    * counts LEAF rows (the shard's physical size driver), one
    * partial-aggregated pass over the data directory — the read a
    * shard-balance monitor polls. */
  def shardMap(spark: SparkSession, path: String): DataFrame = {
    require(targetExists(spark, path), s"shardMap: no store at $path")
    spark.read.parquet(dataDir(path))
      .groupBy(col("_b").cast("int").as("shard"))
      .agg(count(lit(1)).as("doc_rows"))
      .orderBy(col("shard"))
  }

  /** `GET /db/_shards/{docid}` — which shard holds `docId`: route the
    * literal through the writer's own bucket column (no data read at
    * all; the map IS the hash). Every doc-bounded operation in the
    * store family prunes to exactly this bucket. */
  def docShard(spark: SparkSession, path: String, docId: String): Int = {
    require(targetExists(spark, path), s"docShard: no store at $path")
    val meta = IndexStore.readMeta(spark, path)
    import spark.implicits._
    Seq(docId).toDF("id")
      .select(IndexStore.idBucket(col("id"), meta.buckets))
      .head().getInt(0)
  }

  private def localDir(path: String) = s"$path/local"

  /** The `_lb=` bucket directories actually present under a store's
    * local/ sidecar — deleting the last local doc in every bucket
    * leaves the directory present but partition-less, where a bare
    * `read.parquet` would throw "Unable to infer schema" instead of
    * listing empty. */
  private def localBucketDirs(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Seq[Path] = {
    val lc = new Path(localDir(path))
    if (!fs.exists(lc)) Nil
    else fs.listStatus(lc).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_lb="))
      .map(_.getPath)
  }

  /** CouchDB `_local` (non-replicating) documents against a persisted
    * target store — the namespace PouchDB keeps replication
    * checkpoints and client-side state in (`PUT /db/_local/{id}`,
    * reference: the CouchDB local-documents API). Local docs live OUTSIDE
    * the MVCC world: no revision tree, no conflicts (last write
    * wins), revs are the advisory `0-N` counter CouchDB mints, a
    * delete REMOVES the row (no tombstone), and nothing about them is
    * visible to `_all_docs`, `_changes`, replication, `doc_count`, or
    * `update_seq` — the store's meta sidecar is deliberately NOT
    * touched by a local write.
    *
    * Layout: `path/local/_lb=<b>/` (id-hash bucketed like the doc
    * relation's `_b`, same bucket count), so an upsert batch reads
    * and rename-swaps ONLY the buckets holding the written ids — a
    * checkpoint write onto a trillion-doc store touches one bucket.
    * Each written id's new rev counter is `old + 1` (1 when absent).
    * Duplicate ids in one batch are rejected loudly (the endpoint
    * semantics give each id ONE current value; silently picking a
    * winner would hide a client bug). Returns the rewritten `_lb`
    * bucket ids (empty when every write was a delete of an absent
    * id). */
  def localDocsUpsert(spark: SparkSession, path: String,
                      writes: DataFrame, id: Column, body: Column,
                      delete: Column): Seq[Int] = {
    require(targetExists(spark, path),
      s"localDocsUpsert: no store at $path (create the target first)")
    IndexStore.finishSwap(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val w = writes.select(id.cast("string").as("id"),
      body.cast("string").as("_nb"),
      coalesce(delete.cast("boolean"), lit(false)).as("_del"))
    val dups = w.groupBy(col("id")).count().filter(col("count") > 1)
      .select(col("id")).limit(5).collect().map(_.getString(0))
    require(dups.isEmpty,
      s"localDocsUpsert: one write per id per batch (duplicates: " +
        s"${dups.mkString(", ")})")
    val bs = w.select(IndexStore.idBucket(col("id"), meta.buckets)
        .as("_lb")).distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (bs.isEmpty) return Nil
    val fs = IndexStore.fsFor(spark, path)
    val hasLocal = fs.exists(new Path(localDir(path)))
    val cur =
      if (hasLocal)
        IndexStore.readBuckets(spark, localDir(path), "_lb", bs)
          .filter(col("_lb").isin(bs.map(Integer.valueOf): _*))
          .select(col("id"), col("rev_n"), col("body"))
      else {
        import spark.implicits._
        Seq.empty[(String, Long, String)].toDF("id", "rev_n", "body")
      }
    val untouched = cur.join(w, Seq("id"), "left_anti")
    val upserted = w.filter(!col("_del"))
      .join(cur.select(col("id"), col("rev_n").as("_old")),
        Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("_old"), lit(0L)) + 1L).as("rev_n"),
        col("_nb").as("body"))
    val out = untouched.unionByName(upserted)
      .withColumn("_lb", IndexStore.idBucket(col("id"), meta.buckets))
    IndexStore.commitBatch(spark, path, Seq(IndexStore.Write.sorted(
      localDir(path), "_lb", bs, out, Seq(col("_lb"), col("id")))), None)
    bs
  }

  /** `GET /db/_local_docs` — every local doc as `(id, rev, body)` in
    * id order, rev in CouchDB's `0-N` counter form. Reads only the
    * `local/` sidecar directory (never the doc relation); a store
    * with no local writes yet lists empty. Point reads are a filter
    * on this relation — the scan prunes to the id's hash bucket when
    * the caller pins `_lb`, and a `_local/{id}` GET is one bucket
    * read either way at serve time via [[IndexStore.readBuckets]]. */
  def localDocs(spark: SparkSession, path: String): DataFrame = {
    require(targetExists(spark, path),
      s"localDocs: no store at $path")
    val fs = IndexStore.fsFor(spark, path)
    if (localBucketDirs(fs, path).isEmpty) {
      import spark.implicits._
      return Seq.empty[(String, String, String)].toDF("id", "rev", "body")
    }
    spark.read.parquet(localDir(path))
      .select(col("id"),
        concat(lit("0-"), col("rev_n").cast("string")).as("rev"),
        col("body"))
      .orderBy(col("id"))
  }

  /** `GET /db/_local/{id}` — one local doc's `(id, rev, body)` row,
    * pruned to the id's hash bucket (one directory read, whatever the
    * store size); empty when absent. */
  def localDocGet(spark: SparkSession, path: String, docId: String)
      : DataFrame = {
    require(targetExists(spark, path), s"localDocGet: no store at $path")
    val fs = IndexStore.fsFor(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val empty = {
      import spark.implicits._
      Seq.empty[(String, String, String)].toDF("id", "rev", "body")
    }
    if (localBucketDirs(fs, path).isEmpty) return empty
    // route the literal id through the writer's own bucket column
    // (one local-relation row, no data job) so the read prunes to
    // exactly the directory the writer placed it in
    val b = {
      import spark.implicits._
      Seq(docId).toDF("id")
        .select(IndexStore.idBucket(col("id"), meta.buckets))
        .head().getInt(0)
    }
    IndexStore.readBuckets(spark, localDir(path), "_lb", Seq(b))
      .filter(col("id") === lit(docId))
      .select(col("id"),
        concat(lit("0-"), col("rev_n").cast("string")).as("rev"),
        col("body"))
  }
}
