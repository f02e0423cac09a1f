package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The `_changes` feed — the reference ecosystem's replication surface
  * (CouchDB `GET /db/_changes?since=N`, reconstructed in SURVEY §1): a
  * seq-ordered log of document writes that a replicator tails with a
  * checkpoint, receiving each changed document ONCE, at its latest
  * change.
  *
  * Store layout: hive-partitioned parquet on `_kg = seq div
  * (width·SeqGroup)` — [[SeqGroup]] consecutive `width`-buckets share
  * one directory — rows sorted by `seq` within each file (the
  * EventStore discipline keyed by sequence number instead of time).
  * A `since=N` read then:
  *
  *  1. prunes to partitions `_kg >= N div (width·SeqGroup)`
  *     (directory-level: already-replicated history is never listed
  *     or scheduled);
  *  2. pushes `seq > N` into the scan (seq-sorted files → tight
  *     row-group min/max skip the boundary bucket's replayed prefix);
  *  3. dedups to the latest change per doc with ONE partial-aggregable
  *     `max(struct(seq, ...))` groupBy — correct because a doc's
  *     inclusion and its reported row depend only on changes with
  *     `seq > N`, all of which the pruned read retains.
  *
  * At 100 TB the feed is the incremental-everything backbone: a
  * checkpointed consumer pays O(new changes), never O(history). Append
  * is the only write mode a log needs; seq assignment (strictly
  * increasing across appends) is the single-writer's contract, as in
  * the reference. */
object ChangesFeed {

  /** Physical GROUPING of seq buckets: one partition directory holds
    * `SeqGroup` consecutive logical `width`-buckets (`_kg = seq div
    * (width·SeqGroup)`). A log used to pay one directory per logical
    * bucket — 157 near-empty dirs for the 128-width gate feeds, each
    * write committing a file per touched dir — when the reads only
    * need (1) a directory-level cut of already-replicated history and
    * (2) tight row-group `seq` min/max inside the tail, which the
    * per-file seq sort provides at ANY directory width (the same
    * two-level economics as [[graft.operators.Similarity]]'s LSH
    * SigGroups and [[graft.operators.DedupIndex]]'s MemberSub). A
    * CONSTANT granularity factor, never a host tune: directories stay
    * 8x fewer at every scale, and per-dir file counts grow instead of
    * dir counts, which is what a filesystem (and a manifest-keeping
    * table format) wants. Layout fmt 2; fmt-1 stores fail loudly on
    * read (gate artifact kinds were bumped, so nothing re-serves
    * one). */
  val SeqGroup = 8L

  private def fsFor(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMeta(spark: SparkSession, path: String,
                        width: Long): Unit = {
    val out = fsFor(spark, path).create(new Path(path, "_graft_meta"), true)
    out.write(s"width=$width\nfmt=2\n".getBytes("UTF-8"))
    out.close()
  }

  /** Whether a CURRENT-layout feed store exists at `path` (meta stamp
    * present and of this code's format — an old-layout store reads as
    * absent, so exists-guarded writers rebuild instead of appending
    * into a layout the readers no longer understand). */
  def exists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new Path(path, "_graft_meta")) &&
      metaLines(spark, path).contains("fmt=2")

  /** The lines of the store's meta stamp. A stamp cut short (no final
    * newline) or without a `width` line is unreadable and throws,
    * naming the path. */
  private def metaLines(spark: SparkSession, path: String): Seq[String] = {
    val meta = new Path(path, "_graft_meta")
    val in = fsFor(spark, path).open(meta)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.linesIterator.toSeq
    if (!text.endsWith("\n") || !lines.exists(_.matches("width=\\d+")))
      throw new java.io.IOException(s"unreadable changes-feed stamp at $meta")
    lines
  }

  private def readWidth(spark: SparkSession, path: String): Long = {
    val lines = metaLines(spark, path)
    require(lines.contains("fmt=2"),
      s"changes feed at $path has a pre-grouping layout (fmt 1) — " +
        "rebuild it (artifact kinds were bumped precisely so a stale " +
        "store cannot serve)")
    lines.collectFirst {
      case l if l.startsWith("width=") => l.stripPrefix("width=").toLong
    }.get
  }

  private def routed(changes: DataFrame, width: Long): DataFrame =
    changes
      .select(col("seq").cast("long").as("seq"), col("id"),
        col("rev").cast("string").as("rev"),
        col("deleted").cast("boolean").as("deleted"))
      .withColumn("_kg", expr(s"seq div ${width * SeqGroup}"))
      .repartition(col("_kg"))
      .sortWithinPartitions(col("_kg"), col("seq"))

  /** Create the store from an initial change log. `changes` must have
    * `(seq, id, rev, deleted)` columns; `width` fixes the seq-bucket
    * granularity for the store's lifetime. */
  def write(changes: DataFrame, path: String, width: Long = 1024L): Unit = {
    require(width > 0, "changes feed: width must be positive")
    routed(changes, width)
      .write.mode(SaveMode.Overwrite).partitionBy("_kg").parquet(path)
    writeMeta(changes.sparkSession, path, width)
  }

  /** Append new changes: rows land in their `_kg` buckets as additional
    * seq-sorted files, no read-modify-write. The single-writer contract
    * is seq UNIQUENESS (the log's identity); physical arrival order is
    * free — routing is content-based, so a late batch lands correctly
    * and merely fragments its buckets (compaction territory, the
    * EventStore discipline). */
  def append(changes: DataFrame, path: String): Unit = {
    val width = readWidth(changes.sparkSession, path)
    routed(changes, width)
      .write.mode(SaveMode.Append).partitionBy("_kg").parquet(path)
  }

  /** The feed since a checkpoint: one row per document changed after
    * `sinceSeq`, reported at its LATEST change, ordered by `seq` —
    * `(seq, id, rev, deleted)`. `limit`, when set, truncates to the
    * earliest `limit` changes (the resumable page: the caller's next
    * checkpoint is the page's max seq). */
  def since(spark: SparkSession, path: String, sinceSeq: Long,
            limit: Option[Int] = None): DataFrame =
    since(spark, path, sinceSeq, limit, descending = false)

  /** [[since]] with CouchDB's `descending=true`: newest change first.
    * The dedup-to-latest semantics are unchanged; only the report
    * order flips, so `limit` truncates to the LATEST `limit` changes —
    * the "what just happened" tail probe. A limited descending read
    * still prunes: only seq buckets past the checkpoint are scanned,
    * and the `TakeOrderedAndProject` the plan compiles to keeps the
    * limit partial per partition. */
  /** Open the log pruned at the directory-NAME level to
    * `_kg >= minKg`: a bare `read.parquet(path)` builds a file index
    * over EVERY seq bucket's files before partition-pruning, so a
    * near-tip checkpoint read over a long log pays the whole table's
    * listing (driver time ∝ log span — the EventStore.readRange
    * finding). One status call lists bucket names; the parquet reader
    * then enumerates files only under the post-checkpoint buckets.
    * The `_kg` filter is still applied after — correctness never
    * depends on the listing cut. */
  private def openFrom(spark: SparkSession, path: String,
                       minKg: Long): DataFrame =
    graft.view.IndexStore.readWhere(spark, path, "_kg", _ >= minKg)

  def since(spark: SparkSession, path: String, sinceSeq: Long,
            limit: Option[Int], descending: Boolean): DataFrame = {
    val width = readWidth(spark, path)
    val base = openFrom(spark, path, Math.floorDiv(sinceSeq, width * SeqGroup))
      .filter(col("_kg") >= Math.floorDiv(sinceSeq, width * SeqGroup) &&
        col("seq") > sinceSeq)
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("rev"), col("deleted"))).as("w"))
      .select(col("w.seq").as("seq"), col("id"),
        col("w.rev").as("rev"), col("w.deleted").as("deleted"))
      .orderBy(if (descending) col("seq").desc else col("seq").asc)
    limit.fold(base)(base.limit)
  }

  /** CouchDB's built-in `filter=_design` feed: the [[since]] relation
    * restricted to the `_design/` id namespace — the ddoc-deploy
    * watch an ops user runs. Unlike `_selector`/`_view` filtering
    * this needs NO document content: the cut is one `StartsWith` on
    * the feed's own id column, pushed through the dedup aggregation
    * into the seq-pruned bucket scan (grouping-key predicates
    * commute with the per-id dedup), so the watch pays row groups
    * that can hold `_design/` ids only. Tombstoned design docs PASS
    * (an id keeps its namespace when deleted) — deploy watchers see
    * removals, the difference from selector filtering's tombstone
    * caveat. `limit` pages the filtered relation (checkpoint at the
    * page's max seq). */
  def sinceDesignDocs(spark: SparkSession, path: String,
                      sinceSeq: Long,
                      limit: Option[Int] = None): DataFrame = {
    val out = since(spark, path, sinceSeq)
      .filter(col("id").cast("string").startsWith("_design/"))
      .orderBy(col("seq"))
    limit.fold(out)(out.limit)
  }

  /** CouchDB's `filter=_doc_ids` feed: the [[since]] relation
    * restricted to an explicit id list (the POST body's `doc_ids`).
    * The literal list compiles to an IN predicate that pushes into
    * the parquet scan alongside the seq-bucket pruning — a 5-id
    * watch over a billion-row log reads only the post-checkpoint
    * buckets' row groups that can contain those ids. Dedup-to-latest
    * and seq order are [[since]]'s, applied after the cut (the two
    * commute: dedup groups per id). */
  def sinceDocIds(spark: SparkSession, path: String, sinceSeq: Long,
                  ids: Seq[Any], limit: Option[Int] = None): DataFrame = {
    val width = readWidth(spark, path)
    val base = openFrom(spark, path, Math.floorDiv(sinceSeq, width * SeqGroup))
      .filter(col("_kg") >= Math.floorDiv(sinceSeq, width * SeqGroup) &&
        col("seq") > sinceSeq && col("id").isin(ids: _*))
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("rev"), col("deleted"))).as("w"))
      .select(col("w.seq").as("seq"), col("id"),
        col("w.rev").as("rev"), col("w.deleted").as("deleted"))
      .orderBy(col("seq"))
    limit.fold(base)(base.limit)
  }

  /** [[sinceDocIds]] for id sets too large to inline as a literal
    * list: a semi join of the pruned feed read against the id
    * RELATION, placed before the dedup aggregation so the shuffle
    * carries only watched ids. */
  def sinceDocIds(spark: SparkSession, path: String, sinceSeq: Long,
                  ids: DataFrame, limit: Option[Int]): DataFrame = {
    val width = readWidth(spark, path)
    val base = openFrom(spark, path, Math.floorDiv(sinceSeq, width * SeqGroup))
      .filter(col("_kg") >= Math.floorDiv(sinceSeq, width * SeqGroup) &&
        col("seq") > sinceSeq)
      .join(ids.toDF("id").distinct(), Seq("id"), "left_semi")
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("rev"), col("deleted"))).as("w"))
      .select(col("w.seq").as("seq"), col("id"),
        col("w.rev").as("rev"), col("w.deleted").as("deleted"))
      .orderBy(col("seq"))
    limit.fold(base)(base.limit)
  }

  /** [[since]] with CouchDB's `include_docs=true`: each change row
    * carries the document's CURRENT body as a `doc` struct (one hash
    * join of the seq-pruned feed against the caller's corpus — the
    * feed side is the delta, so the join is broadcast-able whenever
    * the delta is small). A tombstoned change whose id is absent from
    * `docs` reports a null `doc`, CouchDB's shape for deleted rows.
    * Catalyst's nested-schema pruning keeps the docs scan down to the
    * struct fields the caller actually projects. */
  def sinceWithDocs(spark: SparkSession, path: String, sinceSeq: Long,
                    docs: DataFrame, idCol: Column,
                    limit: Option[Int] = None): DataFrame = {
    val docCols = docs.columns.map(col)
    val d = docs.select(idCol.as("_doc_id"),
      struct(docCols.toIndexedSeq: _*).as("doc"))
    since(spark, path, sinceSeq, limit)
      .join(d, col("id") === col("_doc_id"), "left")
      .drop("_doc_id")
      // the join must not disturb feed order (the sort is over the
      // delta, not the corpus)
      .orderBy(col("seq"))
  }

  /** FILTERED feed — CouchDB's `filter=_selector` replication: the
    * [[since]] relation restricted to documents whose CURRENT content
    * (in the caller-supplied `docs` corpus) matches a Mango selector,
    * evaluated set-at-a-time as one compiled predicate + semi join —
    * never a per-change callback. The classic filtered-replication
    * caveat is preserved faithfully: a tombstoned id ABSENT from
    * `docs` cannot match any selector and its deletion does NOT
    * propagate (CouchDB's documented behavior — deletes pass a doc
    * filter only while a matching doc body is still known); ids still
    * present in `docs` pass, tombstone or not. `limit` truncates
    * AFTER filtering (the resumable page: checkpoint at its max
    * seq). */
  def sinceFiltered(spark: SparkSession, path: String, sinceSeq: Long,
                    docs: DataFrame, idCol: String, selectorJson: String,
                    limit: Option[Int] = None): DataFrame = {
    import graft.operators.Mango
    val pred = Mango.compile(Mango.parseSelector(selectorJson), docs.schema)
    val matching = docs.filter(pred).select(col(idCol).as("id")).distinct()
    val out = since(spark, path, sinceSeq)
      .join(matching, Seq("id"), "left_semi")
      .select(col("seq"), col("id"), col("rev"), col("deleted"))
      .orderBy(col("seq"))
    limit.fold(out)(out.limit)
  }

  /** VIEW-FILTERED feed — CouchDB's other public filter mode
    * (`filter=_view&view=ddoc/viewname`): a change passes when the
    * view's MAP function EMITS at least one row for the document's
    * current content. With declarative views that is a semi join of
    * the [[since]] relation against the view's distinct emitting ids
    * — set-at-a-time, never a per-change map callback, and on a
    * MATERIALIZED view the emitting-id side is an index read, not a
    * corpus scan. Conditional emission is the view's own contract
    * (express the condition inside the map phase — `View.multi` with
    * a `when(...)` emit, the CouchDB "map decides to emit" idiom).
    * The filtered-replication tombstone caveat carries over exactly
    * as in [[sinceFiltered]]: an id absent from the view's corpus
    * emits nothing, so its deletion does not propagate (CouchDB's
    * documented `_view` filter behavior). `limit` truncates AFTER
    * filtering (the resumable page: checkpoint at its max seq). */
  def sinceView(spark: SparkSession, path: String, sinceSeq: Long,
                view: graft.view.View, limit: Option[Int] = None): DataFrame = {
    val emitting = view.rows.select(col("_id").as("id")).distinct()
    val out = since(spark, path, sinceSeq)
      .join(emitting, Seq("id"), "left_semi")
      .select(col("seq"), col("id"), col("rev"), col("deleted"))
      .orderBy(col("seq"))
    limit.fold(out)(out.limit)
  }

  /** One replication round's PUSH SET — the batch form of CouchDB's
    * `_changes` + `_revs_diff` handshake: the source's post-checkpoint
    * latest-changes, minus everything the target already stores at the
    * same `(id, rev)`. The anti-join is the `revs_diff` answer computed
    * set-at-a-time (the target's rev relation is typically itself a
    * pruned read of ITS feed or a [[graft.operators.Revisions]] winners
    * table); pushing these rows and checkpointing at their max seq
    * makes the next round's delta empty — convergence, spec-proven.
    * Deletions replicate as rows with `deleted = true` (tombstones must
    * travel; filtering them would resurrect docs on the target). */
  def replicationDelta(spark: SparkSession, path: String, sinceSeq: Long,
                       targetRevs: DataFrame): DataFrame =
    since(spark, path, sinceSeq)
      .join(targetRevs.select(col("id"), col("rev").cast("string").as("rev"))
        .distinct(), Seq("id", "rev"), "left_anti")
      .select(col("seq"), col("id"), col("rev"), col("deleted"))
      .orderBy(col("seq"))

  // ------------------------------------------- replication checkpoints

  /** CouchDB keeps each replication's resume point in a `_local/<id>`
    * document on (both sides of) the database — non-replicating,
    * last-write-wins, one per replication id. Here: a one-line file
    * under `path/_local/`, named by the md5 of the replication id (ids
    * are caller-chosen free text; the raw id is stored INSIDE and
    * verified on read, so a hash collision cannot silently serve
    * another replication's checkpoint). */
  private def checkpointFile(path: String, repId: String): Path = {
    require(repId.nonEmpty, "replication id must be non-empty")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(repId.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new Path(s"$path/_local/$h")
  }

  /** The checkpointed sequence for `repId`, or -1 (replicate from the
    * beginning — `since` is an exclusive bound and seqs may start at
    * 0). */
  def readCheckpoint(spark: SparkSession, path: String,
                     repId: String): Long = {
    val fs = fsFor(spark, path)
    val p = checkpointFile(path, repId)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = txt.linesIterator.toSeq
      val storedId = lines.collectFirst {
        case l if l.startsWith("repId=") => l.stripPrefix("repId=")
      }
      require(storedId.contains(repId),
        s"checkpoint file ${p} belongs to replication " +
          s"'${storedId.getOrElse("?")}', not '$repId' (md5 collision?)")
      lines.collectFirst {
        case l if l.startsWith("seq=") => l.stripPrefix("seq=").toLong
      }.getOrElse(sys.error(s"malformed checkpoint file $p"))
    }
  }

  /** Persist `repId`'s resume point (overwrite — last write wins, as
    * CouchDB `_local` docs resolve). */
  def saveCheckpoint(spark: SparkSession, path: String, repId: String,
                     seq: Long): Unit = {
    val out = fsFor(spark, path).create(checkpointFile(path, repId), true)
    try out.write(s"repId=$repId\nseq=$seq\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** One CHECKPOINTED replication round: the [[replicationDelta]] push
    * set resuming from `repId`'s stored checkpoint (or the beginning).
    * The caller applies the rows to the target, then calls
    * [[checkpointAfter]] with them — the CouchDB replicator protocol
    * (`_local` read → `_changes` since → push → `_local` write) in two
    * set-at-a-time calls. */
  def resumeDelta(spark: SparkSession, path: String, repId: String,
                  targetRevs: DataFrame): DataFrame =
    replicationDelta(spark, path, readCheckpoint(spark, path, repId),
      targetRevs)

  /** Advance `repId`'s checkpoint past a pushed batch: the new resume
    * point is the batch's max seq (an empty batch — already converged —
    * leaves the checkpoint where it was). Returns the saved seq. The
    * max is one partial-aggregated job over the already-computed batch,
    * not a re-read of the feed. */
  def checkpointAfter(spark: SparkSession, path: String, repId: String,
                      pushed: DataFrame): Long = {
    val m = pushed.agg(max(col("seq"))).head()
    val prev = readCheckpoint(spark, path, repId)
    val seq = if (m.isNullAt(0)) prev else math.max(m.getLong(0), prev)
    if (seq > prev) saveCheckpoint(spark, path, repId, seq)
    seq
  }

  /** The feed with `style=all_docs` — each changed document's row
    * reports its revision tree's full LEAF set, not just the winner
    * (CouchDB's conflict-aware replication feed: `changes` =
    * `[{rev: leaf}, ...]`). The tree lives in the caller's leaves
    * relation (same contract as [[graft.view.View.withConflicts]] /
    * [[graft.operators.Revisions]]); the composition is ONE partial-
    * aggregable groupBy over the leaves (per-doc state = one rev tree's
    * leaf count, bounded by contract) and ONE left join onto the pruned
    * [[since]] read. The row's `rev`/`deleted` resolve to the WINNER
    * under the [[graft.operators.Revisions]] rule (live > deepest >
    * greatest hash — what CouchDB reports when the tree has branches);
    * `changes` lists every leaf rev, ascending (deterministic order,
    * deleted-branch tips included — tombstone leaves travel in
    * replication). A feed id with no row in `leaves` falls back to its
    * own logged rev — a single-leaf tree. */
  def sinceStyleAllDocs(spark: SparkSession, path: String, sinceSeq: Long,
                        leaves: DataFrame, id: Column, revPos: Column,
                        revHash: Column, deleted: Column,
                        limit: Option[Int] = None): DataFrame = {
    val rev = concat(col("_pos").cast("string"), lit("-"), col("_hash"))
    val leafSets = leaves
      .select(id.as("id"), revPos.cast("long").as("_pos"),
        revHash.cast("string").as("_hash"),
        deleted.cast("boolean").as("_del"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(rev)).as("_changes"),
        max(struct((!col("_del")).as("live"), col("_pos").as("pos"),
          col("_hash").as("hash"))).as("_w"))
      .select(col("id"), col("_changes"),
        concat(col("_w.pos").cast("string"), lit("-"), col("_w.hash"))
          .as("_win_rev"),
        (!col("_w.live")).as("_win_deleted"))
    val out = since(spark, path, sinceSeq)
      .join(leafSets, Seq("id"), "left")
      .select(col("seq"), col("id"),
        coalesce(col("_win_rev"), col("rev")).as("rev"),
        coalesce(col("_win_deleted"), col("deleted")).as("deleted"),
        coalesce(col("_changes"), array(col("rev"))).as("changes"))
      .orderBy(col("seq"))
    limit.fold(out)(out.limit)
  }

  /** Rewrite ONLY the seq buckets whose file count exceeds
    * `maxFilesPerBucket` — streaming appends (one file per touched
    * bucket per micro-batch) fragment the tail over time; compaction
    * re-sorts each fragmented bucket into one file behind a rename
    * swap (crash leaves old-or-new, the EventStore/IndexStore
    * discipline), restoring tight row-group `seq` min/max. Untouched
    * buckets are never read or written. Returns compacted bucket ids. */
  def compact(spark: SparkSession, path: String,
              maxFilesPerBucket: Int = 4): Seq[Long] = {
    val fs = fsFor(spark, path)
    SwapDir.recover(fs, new Path(path))
    val buckets = fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_kg="))
    val fragmented = buckets.filter { b =>
      fs.listStatus(b.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket
    }
    fragmented.map { b =>
      val dirP = b.getPath
      val kb = dirP.getName.stripPrefix("_kg=").toLong
      val tmp = new Path(dirP.getParent, s"_compact_tmp_${dirP.getName}")
      fs.delete(tmp, true)
      spark.read.parquet(dirP.toString)
        .sort(col("seq"))
        .coalesce(1)
        .write.parquet(tmp.toString)
      SwapDir.publish(fs, dirP, tmp, s"_old_${dirP.getName}")
      kb
    }.toSeq
  }

  /** PURGE at the LOG tier — the [[graft.operators.Revisions.purge]]
    * counterpart for the `_changes` store: every change row of the
    * given doc ids is REMOVED (no tombstone appended — a deletion is
    * a change that replicates; a purge un-happens the doc's history,
    * the GDPR/bad-crawl eraser for the feed). Replicators that
    * checkpointed past a purged change simply never see the doc
    * again; seq uniqueness is preserved (no renumbering).
    *
    * Only the seq buckets that CONTAIN a purged id are rewritten
    * (located by one column-pruned scan of the id column), behind the
    * same rename swap as [[compact]] — a crash mid-swap is healed on
    * the next purge/compact entry by [[SwapDir.recover]], and
    * untouched buckets are never read or written. `ids` is a
    * driver-side list (the [[graft.view.ChangeSet]]`.deletedIds`
    * convention) for targeted erasure; the DataFrame overload keeps a
    * BULK subject set distributed. Null-id rows are never purge
    * victims. Idempotent. Returns the rewritten bucket ids. */
  def purge(spark: SparkSession, path: String, ids: Seq[Any]): Seq[Long] = {
    if (ids.isEmpty) return Nil
    purgeBuckets(spark, path,
      st => st.filter(col("id").isin(ids: _*)),
      kb => kb.filter(col("id").isNull || !col("id").isin(ids: _*)))
  }

  /** Bulk purge: victim ids as a RELATION (first column), located by
    * semi join and erased by anti join — the id set stays distributed
    * (never collected), the shape a mass-erasure batch needs. */
  def purge(spark: SparkSession, path: String, ids: DataFrame): Seq[Long] = {
    val victims = ids.select(col(ids.columns.head).as("id")).distinct()
      .persist()
    try purgeBuckets(spark, path,
      st => st.join(victims, Seq("id"), "left_semi"),
      kb => kb.join(victims, Seq("id"), "left_anti"))
    finally victims.unpersist()
  }

  private def purgeBuckets(spark: SparkSession, path: String,
                           locate: DataFrame => DataFrame,
                           keep: DataFrame => DataFrame): Seq[Long] = {
    val fs = fsFor(spark, path)
    SwapDir.recover(fs, new Path(path))
    val affected = locate(spark.read.parquet(path))
      // partition-column inference may narrow _kg to int — normalize
      .select(col("_kg").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    affected.map { kb =>
      val dirP = new Path(path, s"_kg=$kb")
      val tmp = new Path(dirP.getParent, s"_purge_tmp__kg=$kb")
      fs.delete(tmp, true)
      keep(spark.read.parquet(dirP.toString))
        .sort(col("seq")).coalesce(1)
        .write.parquet(tmp.toString)
      SwapDir.publish(fs, dirP, tmp, s"_old_purge__kg=$kb")
      kb
    }
  }

  /** The current high-water mark (`last_seq`): reads ONLY the greatest
    * `_kg` partition — O(tail bucket), not O(log). Returns -1 for an
    * empty store. */
  def lastSeq(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val kbs = fs.listStatus(new Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_kg="))
      .map(_.getPath.getName.stripPrefix("_kg=").toLong)
    if (kbs.isEmpty) -1L
    else {
      val tail = spark.read.parquet(path)
        .filter(col("_kg") === kbs.max)
        .agg(max(col("seq"))).head()
      if (tail.isNullAt(0)) -1L else tail.getLong(0)
    }
  }
}
