package graft.view

import java.io.{FileNotFoundException, IOException}
import java.net.{URLDecoder, URLEncoder}
import java.util.concurrent.CompletionException

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Index metadata persisted alongside the data: the change-feed sequence
  * the index is current through (CouchDB's `update_seq`), the bucket
  * count, and the per-bucket minimum collation key (the range bounds new
  * keys are routed by). `bounds` holds (bucketId, min `_ck`) for every
  * bucket that was non-empty at creation, in key order. */
final case class IndexMeta(updateSeq: Long, buckets: Int,
                           bounds: Seq[(Int, Array[Byte])],
                           /** Stored group count of the reduced index
                             * (-1 = none/unknown): serves the paging
                             * envelope's total_rows without a count job
                             * per page. Stamped by every reduced-dir
                             * write ([[IndexStore.writeReduced]] /
                             * [[IndexStore.merge]]) from Parquet
                             * footer row counts. */
                           reducedGroups: Long = -1L,
                           /** CouchDB's `purge_seq`: on a document
                             * store, how many purge batches it has
                             * applied; on a secondary index, the
                             * store purge_seq the index has caught up
                             * to ([[IndexStore.purgeIndex]]). 0 =
                             * never purged / pre-purge artifact. */
                           purgeSeq: Long = 0L,
                           /** The update_seq stamped by the artifact's
                             * FIRST meta write — the seq of its
                             * creation event on a `_db_updates` feed
                             * ([[graft.operators.Replication.dbUpdates]]).
                             * Stamped automatically by [[writeMeta]]
                             * when no prior meta exists and preserved
                             * by every later write; -1 on artifacts
                             * written before the field existed. */
                           createdSeq: Long = -1L,
                           /** Winner-rule document counts CACHED at
                             * `countsSeq` (CouchDB keeps doc_count in
                             * the db header — `GET /db` is O(1), not
                             * a scan). Valid ONLY when `countsSeq ==
                             * updateSeq`: a writer that does not
                             * maintain the counts leaves them stale
                             * and readers fall back to the scan (and
                             * self-heal the stamp). -1 = never
                             * stamped. */
                           docCount: Long = -1L,
                           delCount: Long = -1L,
                           countsSeq: Long = -1L)

/** On-disk layout and maintenance of a persistent view index — the
  * reference's design-doc view storage (pouchdb-abstract-mapreduce's
  * by-key + by-id btrees), re-expressed as range-bucketed parquet:
  *
  * {{{
  * path/
  *   _graft_meta        update_seq + bucket range bounds (text)
  *   data/_kb=<b>/      view rows (_id, key, value, _ck), range-bucketed
  *                      by _ck, sorted by _ck within each file
  *   ids/_ib=<b>/       by-id sidecar (_id, _kb): which key buckets each
  *                      doc emitted into (the role of CouchDB's by-id
  *                      btree: find a changed doc's OLD rows without
  *                      scanning the index)
  *   reduced/_kb=<b>/   optional per-key aggregates of data bucket b
  * }}}
  *
  * The layout is what makes maintenance O(changed buckets), not
  * O(index): an incremental update reads the by-id sidecar (pruned to
  * the changed ids' hash buckets) to find which key buckets hold the
  * changed docs' old rows, then rewrites ONLY those `_kb` directories.
  * Untouched bucket directories are never read or written — at 100 TB a
  * small change-feed batch touches a handful of buckets, not the index.
  * The reduced group count is kept the same way: as a delta of the
  * Parquet footer row counts of the reduced buckets swapped out and in.
  * Queries prune the same way: `startkey`/`endkey` become a `_kb` range
  * (directory-level partition pruning) plus a binary `_ck` range pushed
  * to parquet (row-group min/max pruning within the bucket).
  *
  * Every bucketed graft store commits a batch through one record —
  * views, Mango indexes and the vector tiers through [[merge]], and the
  * text, SimHash, dedup-cluster, release-state, replication and
  * partitioned stores through [[commitBatch]]; no other code renames or
  * drops a bucket directory. One batch writes all, then swaps:
  *  1. every rewritten directory is written concurrently to its
  *     `<dir>._tmp` (a [[Write]] names the leaves it replaces: integer
  *     buckets, escaped string partitions, two-level `_p=…/_tb=…`
  *     pairs, or the whole table); if any write fails, the temp dirs
  *     are deleted and nothing on the live side changes;
  *  2. `_graft_swap` records the affected and written leaves of each
  *     directory and the batch's new meta, with a closing `end` line;
  *  3. the leaves are swapped in by rename in record order (for a view
  *     data → ids → reduced), then `_graft_meta` is written and
  *     `_graft_swap` dropped.
  *
  * A replay after a crash at any point converges. Before step 2 is
  * complete the live directories and meta are the pre-state, and the
  * replay rebuilds the temp dirs from scratch. Once it is complete the
  * store's next batch (or [[compact]]) first rolls the record forward
  * ([[finishSwap]]): a leaf whose temp dir still exists is swapped, a
  * written leaf without one was swapped already, an affected leaf that
  * received no rows is dropped — each step is idempotent, so a crash
  * inside the roll forward is rolled forward again — and the recorded
  * meta is written. Every rewrite of a batch is computed from the
  * store as it stands before the commit, so no step reads a directory
  * an earlier step of the same batch replaced. A store that feeds a
  * nested store (the release state's dedup tier) commits after it.
  * Data goes before ids so that the sidecar, until it is swapped
  * itself, still names every bucket the changed docs' old rows were in.
  *
  * Every store is created by one writer, [[writeStore]]: [[create]]
  * range-buckets view rows into it, and the persisted vector tiers
  * ([[graft.operators.Similarity.buildVecStore]]) route their rows by
  * list, signature group or id hash. Every store is then maintained
  * by [[merge]].
  *
  * Opening a store costs no Spark job. [[readWhere]] takes the row
  * schema from one Parquet footer on the driver instead of running a
  * schema-inference job, and small side tables (a stats row, centroids,
  * params) are read on the driver by [[readSmall]], which refuses a
  * table past its row bound.
  */
object IndexStore {

  private[graft] def fsFor(spark: SparkSession, path: String): FileSystem =
    // resolve the filesystem FROM the path: an index on s3a/hdfs must
    // not hit the default filesystem namespace
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataDir(path: String) = s"$path/data"
  private def idsDir(path: String) = s"$path/ids"
  private[view] def reducedDir(path: String) = s"$path/reduced"

  /** True if a materialized reduced index (per-key aggregates) exists
    * alongside the raw index. */
  def hasReduced(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new Path(reducedDir(path)))

  /** Unsigned-lexicographic byte compare — the collation order. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Driver-side bucket routing for a literal key: the last bucket whose
    * minimum is at-or-below the key (keys below every bound route to the
    * first bucket). Used to turn startkey/endkey into `_kb` partition
    * filters. */
  def bucketOf(meta: IndexMeta, key: Array[Byte]): Int =
    if (meta.bounds.isEmpty) 0
    else meta.bounds.takeWhile(b => cmp(b._2, key) <= 0)
      .lastOption.map(_._1).getOrElse(meta.bounds.head._1)

  /** Column-side bucket routing for new index rows: the native
    * [[RangeBucket]] binary-search expression over the stored bounds —
    * O(log buckets) per row with constant-size generated code (a
    * when-chain would be O(buckets) per row AND per plan, breaking down
    * at the bucket counts a 100 TB index needs). Same routing as the
    * driver-side [[bucketOf]]. */
  def bucketCol(ck: Column, meta: IndexMeta): Column =
    if (meta.bounds.isEmpty) lit(0)
    else org.apache.spark.sql.graft.Bridge.column(RangeBucket(
      org.apache.spark.sql.graft.Bridge.expression(ck),
      meta.bounds.map(_._1).toArray,
      meta.bounds.map(_._2).toArray))

  /** Hash bucket of a doc id for the by-id sidecar layout. */
  def idBucket(id: Column, buckets: Int): Column =
    pmod(xxhash64(id.cast("string")), lit(buckets.toLong)).cast("int")

  /** Open a hive-partitioned store directory pruned at the
    * partition-directory-NAME level to the given integer bucket ids:
    * a bare `read.parquet(dir)` enumerates EVERY partition's leaf
    * files before partition-pruning, so a touched-bucket read over a
    * store with many buckets pays the whole store's listing (driver
    * time ∝ store size — the EventStore.readRange finding; the
    * deployment discipline sizes buckets ∝ corpus, so the listing
    * grows with data). One status call lists directory names; the
    * parquet reader then enumerates leaf files only under the hit
    * buckets. Callers KEEP their own partition-column filter — the
    * name cut is a listing optimization, never the correctness cut.
    * See [[readWhere]] for the schema and the empty case. */
  private[graft] def readBuckets(spark: SparkSession, dir: String,
                                 part: String, ids: Seq[Int]): DataFrame = {
    val want = ids.map(_.toLong).toSet
    readWhere(spark, dir, part, want)
  }

  /** The predicate form of [[readBuckets]] — one listing-prune
    * implementation for every integral partition scheme: exact bucket
    * sets (`readBuckets`), checkpoint tails (ChangesFeed's
    * `_kb >= minKb`), day windows (EventStore's `_day` range).
    *
    * The open costs no Spark job: see [[storeSchema]]. A predicate
    * that hits no bucket opens an empty frame of that schema. An
    * absent store, or one without any bucket directory, fails in
    * Spark's own open. */
  private[graft] def readWhere(spark: SparkSession, dir: String,
                               part: String,
                               keep: Long => Boolean): DataFrame = {
    val fs = fsFor(spark, dir)
    val all = bucketDirs(fs, dir, part)
    if (all.isEmpty) return spark.read.parquet(dir) // loud, as before
    val hit = all.filter(d => keep(d._1))
    val schema = storeSchema(spark, fs, dir, part,
      if (hit.nonEmpty) hit else all, all)
    if (hit.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", dir)
      .parquet(hit.map(_._2.toString): _*)
  }

  /** Open a whole store at its root directory, with the job-free
    * schema of [[readWhere]]. */
  private[graft] def readStore(spark: SparkSession, dir: String,
                               part: String): DataFrame = {
    val fs = fsFor(spark, dir)
    val all = bucketDirs(fs, dir, part)
    if (all.isEmpty) spark.read.parquet(dir) // loud, as before
    else spark.read.schema(storeSchema(spark, fs, dir, part, all, all))
      .parquet(dir)
  }

  /** Open the `leaves` of a store whose partition columns are `parts`
    * ([[leaf]] names a leaf; absent ones are skipped) with the job-free
    * schema of [[readWhere]]: one footer gives the data schema, and each
    * partition column takes its given type. With no leaf present it
    * opens an empty frame of the store's schema. */
  private[graft] def readLeaves(spark: SparkSession, dir: String,
                                parts: Seq[(String, DataType)],
                                leaves: Seq[String]): DataFrame = {
    val fs = fsFor(spark, dir)
    val hit = leaves.distinct.map(l => new Path(s"$dir/$l")).filter(fs.exists)
    def firstFile(ds: Iterator[Path]) =
      dataFiles(fs, ds.map(0L -> _).toSeq).nextOption()
    val file = firstFile(hit.iterator)
      .orElse(firstFile(leavesOf(fs, dir, parts.map(_._1)).iterator
        .map(l => new Path(s"$dir/$l"))))
      .getOrElse(throw new IOException(s"$dir holds no data file"))
    val schema = parts.foldLeft(
        Bridge.footerSchema(spark, file, footer(fs, file))) {
      case (s, (p, t)) => s.add(StructField(p, t)) }
    if (hit.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", dir)
      .parquet(hit.map(_.toString): _*)
  }

  /** The row schema of a store opened over the bucket dirs `read`,
    * taken on the driver instead of by a schema-inference job: one
    * Parquet footer (the first file of `read`, else of `all`) gives the
    * data schema as inference derives it, and the partition column is
    * `IntegerType` — `LongType` once a bucket id leaves the int range —
    * as inference types integral directory names. */
  private def storeSchema(spark: SparkSession, fs: FileSystem, dir: String,
                          part: String, read: Seq[(Long, Path)],
                          all: Seq[(Long, Path)]): StructType = {
    val file = dataFiles(fs, read ++ all).nextOption().getOrElse(
      throw new IOException(s"$dir has bucket directories but no data file"))
    Bridge.footerSchema(spark, file, footer(fs, file))
      .add(StructField(part,
        if (read.forall(_._1.isValidInt)) IntegerType else LongType))
  }

  /** Read a small side table — a stats row, a centroid table, a
    * params row — on the driver with Spark's own Parquet row reader
    * ([[Bridge.decodeLocal]]), so it decodes exactly as a scan task
    * would and costs no Spark job, no broadcast and no generated code.
    * Without a `filter` the footers are counted first: a table of more
    * than `maxRows` rows is refused before a row is decoded. With one
    * (say `In("term", …)` over a term table), Spark's Parquet filter
    * conversion prunes row groups and records, and the read is bounded
    * by the rows it returns instead: the `maxRows + 1`-th match throws.
    * Either way a driver-side read stays bounded by construction.
    * Partition directories become columns as in `read.parquet`. A
    * directory without data files reads as no rows; an absent `dir`
    * or an unreadable file throws, naming the path. */
  def readSmall(spark: SparkSession, dir: String, maxRows: Long,
                filter: Option[Filter] = None): Seq[Row] = {
    val fs = fsFor(spark, dir)
    if (!fs.exists(new Path(dir)))
      throw new FileNotFoundException(s"no table at $dir")
    def unreadable(e: Throwable) =
      new IOException(s"unreadable table at $dir: ${e.getMessage}", e)
    val (files, partSchema) =
      try {
        val (files, partSchema) = Bridge.listTable(spark, dir)
        (files.map { case (v, f) => (v, f, footer(fs, f.getPath)) }, partSchema)
      } catch { case NonFatal(e) => throw unreadable(e) }
    if (filter.isEmpty) {
      val rows = files.map(_._3.getBlocks.asScala.map(_.getRowCount).sum).sum
      if (rows > maxRows)
        throw new IllegalStateException(
          s"$dir holds $rows rows; this driver-side read takes at most $maxRows")
    }
    val got =
      if (files.isEmpty) Nil
      else try Bridge.decodeLocal(spark, files,
          Bridge.footerSchema(spark, files.head._2.getPath, files.head._3),
          partSchema, filter,
          if (maxRows < Long.MaxValue) maxRows + 1 else maxRows)
        catch {
          case e: IllegalArgumentException => throw e
          case NonFatal(e) => throw unreadable(e)
        }
    if (got.size > maxRows)
      throw new IllegalStateException(s"$dir holds more than $maxRows " +
        s"rows matching ${filter.mkString}; this driver-side read takes " +
        s"at most $maxRows")
    got
  }

  /** True iff the one-row Parquet stamp table at `dir` carries format
    * `fmt` in its `fmt` column. An absent `dir` or another format is
    * false; an unreadable stamp throws, naming the path ([[readSmall]]). */
  private[graft] def stampIs(spark: SparkSession, dir: String,
                             fmt: Int): Boolean =
    fsFor(spark, dir).exists(new Path(dir)) &&
      readSmall(spark, dir, 1).headOption.exists(r =>
        r.schema.fieldNames.contains("fmt") && r.getAs[Int]("fmt") == fmt)

  /** The refusal an upsert gives a `what` store at `path` whose layout
    * stamp is not `fmt`: a change batch cannot upgrade it, and a
    * rebuild from the batch alone would drop every doc outside it. */
  private[graft] def staleLayout(what: String, path: String, fmt: Int,
                                 build: String): IllegalStateException =
    new IllegalStateException(s"$what index at $path has a stale on-disk " +
      s"layout (expected fmt $fmt) — rebuild it with $build over the full " +
      "corpus before maintaining it incrementally")

  /** The `part=<value>` partition directories of `dir`, any value
    * (none if `dir` is absent). */
  private[graft] def partDirs(spark: SparkSession, dir: String,
                              part: String): Seq[Path] =
    partDirs(fsFor(spark, dir), dir, part)

  private def partDirs(fs: FileSystem, dir: String, part: String): Seq[Path] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(part + "="))
  }

  /** The `part=<n>` partition directories of `dir` with an integral
    * `n` (none if `dir` is absent). */
  private def bucketDirs(fs: FileSystem, dir: String,
                         part: String): Seq[(Long, Path)] =
    partDirs(fs, dir, part).flatMap(d => scala.util.Try(
      d.getName.substring(part.length + 1).toLong).toOption.map(_ -> d))

  def exists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new Path(path, "_graft_meta"))

  def writeMeta(spark: SparkSession, path: String, meta: IndexMeta): Unit =
    writeText(fsFor(spark, path), new Path(path, "_graft_meta"),
      metaText(spark, path, meta))

  private def metaText(spark: SparkSession, path: String,
                       meta0: IndexMeta): String = {
    // creation-seq bookkeeping is automatic: the first write of a meta
    // file stamps createdSeq = its updateSeq (the creation event's seq);
    // later writes that pass the -1 default inherit the stored value so
    // no caller has to thread it (a full rebuild deletes the meta first
    // and so re-stamps — a rebuilt artifact IS a new creation event)
    val meta =
      if (meta0.createdSeq >= 0) meta0
      else if (exists(spark, path))
        meta0.copy(createdSeq = readMeta(spark, path).createdSeq)
      else meta0.copy(createdSeq = meta0.updateSeq)
    val enc = java.util.Base64.getEncoder
    val sb = new StringBuilder("v1\n")
    sb.append(s"updateSeq=${meta.updateSeq}\n")
    sb.append(s"buckets=${meta.buckets}\n")
    meta.bounds.foreach { case (b, lo) =>
      sb.append(s"bound=$b:${enc.encodeToString(lo)}\n")
    }
    if (meta.reducedGroups >= 0)
      sb.append(s"rgroups=${meta.reducedGroups}\n")
    if (meta.purgeSeq > 0)
      sb.append(s"purgeSeq=${meta.purgeSeq}\n")
    if (meta.createdSeq >= 0)
      sb.append(s"createdSeq=${meta.createdSeq}\n")
    if (meta.countsSeq >= 0)
      sb.append(s"counts=${meta.docCount}:${meta.delCount}:" +
        s"${meta.countsSeq}\n")
    sb.toString
  }

  private def writeText(fs: FileSystem, file: Path, text: String): Unit = {
    val out = fs.create(file, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  def readMeta(spark: SparkSession, path: String): IndexMeta = {
    val text = readText(fsFor(spark, path), new Path(path, "_graft_meta"))
    val dec = java.util.Base64.getDecoder
    var seq = 0L; var buckets = 0; var rgroups = -1L; var pq = 0L
    var created = -1L; var doc = -1L; var del = -1L; var cseq = -1L
    val bounds = Seq.newBuilder[(Int, Array[Byte])]
    text.linesIterator.foreach {
      case l if l.startsWith("updateSeq=") => seq = l.drop(10).toLong
      case l if l.startsWith("buckets=") => buckets = l.drop(8).toInt
      case l if l.startsWith("bound=") =>
        val Array(b, b64) = l.drop(6).split(":", 2)
        bounds += ((b.toInt, dec.decode(b64)))
      case l if l.startsWith("rgroups=") => rgroups = l.drop(8).toLong
      case l if l.startsWith("purgeSeq=") => pq = l.drop(9).toLong
      case l if l.startsWith("createdSeq=") => created = l.drop(11).toLong
      case l if l.startsWith("counts=") =>
        val Array(dc, xc, cs) = l.drop(7).split(":", 3)
        doc = dc.toLong; del = xc.toLong; cseq = cs.toLong
      case _ => ()
    }
    IndexMeta(seq, buckets, bounds.result(), rgroups, pq, created,
      doc, del, cseq)
  }

  /** Full (re)build: range-bucket the view rows by collation key and
    * write them through [[writeStore]], deriving the bucket bounds
    * from the written buckets. */
  def create(spark: SparkSession, path: String, rows: DataFrame,
             buckets: Int, seq: Long): Unit = {
    // a zero-row build would write no bucket files and leave the index
    // unreadable — fail with intent instead of an obscure schema error
    // (the streaming maintainer skips empty batches for this reason)
    require(!rows.isEmpty,
      "cannot build an index from an empty view: materialize after the " +
        "first documents exist (the streaming maintainer defers creation " +
        "past empty batches)")
    fsFor(spark, path).delete(new Path(path), true)
    writeStore(spark, path,
      rows.repartitionByRange(buckets, col("_ck"))
        .withColumn("_kb", spark_partition_id()),
      Seq(col("_ck")), buckets, seq,
      _.groupBy(col("_kb")).agg(min(col("_ck")).as("lo"))
        .orderBy(col("_kb")).collect()
        .map(r => (r.getInt(0), r.getAs[Array[Byte]]("lo"))).toSeq)
  }

  /** The one fresh-store writer, shared by [[create]] and every
    * persisted vector tier: `rows` (already placed, one partition per
    * `_kb` bucket or several) are written to `data/` partitioned by
    * `_kb` and sorted by `sortCols` within each bucket, the by-id
    * sidecar is derived from the written data (opened by
    * [[readStore]], no schema job) and hashed into `buckets` id
    * buckets, and `_graft_meta` stamps `seq`, `buckets` and the bounds
    * `bounds` derives from the written data. */
  private[graft] def writeStore(spark: SparkSession, path: String,
                                rows: DataFrame, sortCols: Seq[Column],
                                buckets: Int, seq: Long,
                                bounds: DataFrame => Seq[(Int, Array[Byte])])
      : Unit = {
    rows
      // the _kb prefix satisfies the writer's partition-column ordering
      // requirement, so the writer does not re-sort and break the order
      .sortWithinPartitions(col("_kb") +: sortCols: _*)
      .write.mode("overwrite").partitionBy("_kb").parquet(dataDir(path))
    val data = readStore(spark, dataDir(path), "_kb")
    val bs = bounds(data)
    data.select(col("_id"), col("_kb")).distinct()
      .withColumn("_ib", idBucket(col("_id"), buckets))
      .repartition(buckets, col("_ib"))
      .sortWithinPartitions(col("_ib"), col("_id"))
      .write.mode("overwrite").partitionBy("_ib").parquet(idsDir(path))
    writeMeta(spark, path, IndexMeta(seq, buckets, bs))
  }

  /** Incremental merge of one change batch. `newRows` are the mapped
    * view rows of the changed docs (with `_kb` routed via [[bucketCol]]);
    * `changedIds` holds every changed OR deleted doc id (duplicates are
    * harmless). Only the key buckets that contain old rows of changed
    * ids (found via the by-id sidecar) or receive new rows are read and
    * rewritten; with `reduce` and a materialized reduced index, the
    * same buckets of the reduced index are re-aggregated from the
    * merged rows (a key's rows never span buckets, so bucket-local
    * re-aggregation is complete). `finish` is a bucket-local step over
    * the merged rows of the affected buckets, applied before the data
    * write (SemDeDup re-pairs its keep verdicts there), so its result
    * commits in the same swap. The data, sidecar and reduced
    * rewrites run concurrently and are swapped in only when all three
    * succeeded (see the class doc for the order). */
  def merge(spark: SparkSession, path: String, meta0: IndexMeta,
            newRows0: DataFrame, changedIds: DataFrame,
            newSeq: Long,
            dataSortCols: Seq[Column] = Seq(col("_kb"), col("_ck")),
            reduce: Option[Reduce] = None,
            finish: DataFrame => DataFrame = identity): Seq[Int] = {
    val fs = fsFor(spark, path)
    // a batch cut off mid-swap is rolled forward first; its meta is
    // then the one this batch builds on
    val meta = if (finishSwap(spark, path)) readMeta(spark, path) else meta0
    // the batch rows and ids feed every job of the batch — pin them so
    // the upstream map phase runs once per batch, not once per consumer
    val cids = changedIds.toDF("_id").persist()
    val newRows = newRows0.persist()
    var merged: DataFrame = null
    try {
      val found = bucketPairs(
        cids.select(lit(0), idBucket(col("_id"), meta.buckets))
          .union(newRows.select(lit(1), col("_kb"))))
      val ibs = found.collect { case (0, b) => b }.toSeq.sorted
      // by-id lookup, pruned to the changed ids' hash buckets — O(batch),
      // never a scan of the whole sidecar, let alone the index
      def oldIds = readBuckets(spark, idsDir(path), "_ib", ibs)
        .filter(col("_ib").isin(ibs: _*))
      val oldKbs =
        if (ibs.isEmpty) Set.empty[(Int, Int)]
        else bucketPairs(oldIds.join(cids, Seq("_id"), "left_semi")
          .select(lit(1), col("_kb")))
      val affected = (oldKbs ++ found).collect { case (1, b) => b }
        .toSeq.sorted
      if (affected.isEmpty) {
        writeMeta(spark, path, meta.copy(updateSeq = newSeq))
        return affected
      }
      // the affected buckets' merged rows, pinned once and hash-placed
      // by bucket: the data write and the reduced aggregation both read
      // them without another exchange or a re-read of written buckets
      merged = readBuckets(spark, dataDir(path), "_kb", affected)
        .filter(col("_kb").isin(affected: _*))
        .join(cids, Seq("_id"), "left_anti")
        .unionByName(newRows)
        .repartition(affected.size, col("_kb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dataW = Write(dataDir(path), "_kb", affected,
        finish(merged).sortWithinPartitions(dataSortCols: _*))
      val idsW = Option.when(ibs.nonEmpty)(Write(idsDir(path), "_ib", ibs,
        oldIds.join(cids, Seq("_id"), "left_anti")
          .unionByName(newRows.select(col("_id"), col("_kb"))
            .withColumn("_ib", idBucket(col("_id"), meta.buckets)))
          // one exchange: hash placement by _ib also clusters the dedup
          .repartition(ibs.size, col("_ib")).distinct()
          .sortWithinPartitions(col("_ib"), col("_id"))))
      val reducedW = reduce.filter(_ => hasReduced(spark, path)).map(rf =>
        Write(reducedDir(path), "_kb", affected,
          reducedRowsOf(merged, rf).sortWithinPartitions(col("_kb"), col("_ck"))))
      val writes = Seq(dataW) ++ idsW ++ reducedW
      val written = writeAll(spark, fs, writes)
      val isAffected = affected.map(_.toLong).toSet
      val groups = reducedW.fold(meta.reducedGroups) { w =>
        val kept =
          if (meta.reducedGroups >= 0)
            meta.reducedGroups - footerRows(fs, w.dir, "_kb", isAffected)
          else footerRows(fs, w.dir, "_kb", b => !isAffected(b))
        kept + footerRows(fs, w.dir + "._tmp", "_kb", isAffected)
      }
      commit(spark, path, writes.zip(written),
        Some(meta.copy(updateSeq = newSeq, reducedGroups = groups)))
      affected
    } finally {
      if (merged != null) merged.unpersist()
      cids.unpersist()
      newRows.unpersist()
    }
  }

  /** The distinct (tag, bucket) int pairs of `df`, deduplicated inside
    * each partition before the collect: one job and no shuffle, and
    * the driver receives at most partitions × buckets pairs. */
  private def bucketPairs(df: DataFrame): Set[(Int, Int)] =
    df.rdd.mapPartitions(_.map(r => (r.getInt(0), r.getInt(1))).toSet.iterator)
      .collect().toSet

  /** The distinct int values of `df`'s one column, sorted: deduplicated
    * inside each partition before the collect, so one job and no
    * shuffle, and the driver receives at most partitions × values. */
  private[graft] def bucketsOf(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(_.map(_.getInt(0)).toSet.iterator)
      .collect().distinct.sorted.toSeq

  /** Purge-propagation primitive for every IndexStore-layout secondary
    * index (materialized views, Mango JSON indexes, IVF-family ANN
    * stores): retire the given doc ids' rows WITHOUT a rebuild —
    * CouchDB's view-index purge catch-up. A delete-only [[merge]]: the
    * by-id sidecar (pruned to the purged ids' hash buckets) locates
    * the old rows, only those key buckets are read, anti-joined, and
    * rename-swapped; untouched bucket directories stay byte-identical.
    * `update_seq` is PRESERVED (a purge is not a change — the index
    * has seen no new document versions); `newPurgeSeq` stamps the
    * store purge_seq the index is now current through, so
    * [[graft.operators.Replication.pendingPurges]] catch-ups are
    * idempotent and resumable. A still-alive doc whose winner changed
    * under a branch purge must be RE-UPSERTED by the owning index's
    * normal maintenance path after this retire (the View catch-up
    * does both in one merge). `dataSortCols` and `finish` are the
    * store's own, as in every other [[merge]] of it (a vector tier's
    * sort order and bucket-local step). Cost: O(purged ids' buckets) —
    * the purge-request size, never the index. */
  def purgeIndex(spark: SparkSession, path: String, ids: Seq[Any],
                 rf: Option[Reduce] = None, newPurgeSeq: Long = -1L,
                 dataSortCols: Seq[Column] =
                   Seq(col("_kb"), col("_ck")),
                 finish: DataFrame => DataFrame = identity): Seq[Int] = {
    val meta = readMeta(spark, path)
    val affected =
      if (ids.isEmpty) Nil
      else {
        val none = readBuckets(spark, dataDir(path), "_kb", Nil).limit(0)
        val d = Delta(none, col("_id"), ids)
        merge(spark, path, meta, d.live, d.changedIds(col("_id")),
          meta.updateSeq, dataSortCols, rf, finish)
      }
    if (newPurgeSeq >= 0)
      writeMeta(spark, path,
        readMeta(spark, path).copy(purgeSeq = newPurgeSeq))
    affected
  }

  /** Write `df`, partitioned by `parts`, to `destDir._tmp`; returns the
    * leaves that received rows. */
  private def writeTmp(fs: FileSystem, df: DataFrame, destDir: String,
                       parts: Seq[String]): Set[String] = {
    val tmp = destDir + "._tmp"
    fs.delete(new Path(tmp), true)
    df.write.mode("overwrite").partitionBy(parts: _*).parquet(tmp)
    leavesOf(fs, tmp, parts)
  }

  /** The leaf directories of `dir` for the partition columns `parts`,
    * as paths relative to `dir` (`_kb=3`, `_p=acme/_tb=5`); a present
    * `dir` without partition columns is its own one leaf, `""`. */
  private def leavesOf(fs: FileSystem, dir: String,
                       parts: Seq[String]): Set[String] =
    if (!fs.exists(new Path(dir))) Set.empty
    else parts.foldLeft(Seq("")) { (ls, p) =>
      ls.flatMap(l => partDirs(fs, s"$dir/$l", p)
        .map(d => if (l.isEmpty) d.getName else s"$l/${d.getName}"))
    }.toSet

  /** The leaf path of one partition, named as Spark's writer names it:
    * `leaf("_p" -> "a b", "_tb" -> 5)` is `_p=a%20b/_tb=5`. */
  private[graft] def leaf(kvs: (String, Any)*): String =
    kvs.map { case (k, v) =>
      ExternalCatalogUtils.getPartitionPathString(k, String.valueOf(v))
    }.mkString("/")

  /** Swap the `affected` leaves of `destDir` in from `destDir._tmp`,
    * each by rename; an affected leaf that has no rows left (`written`
    * lacks it) is deleted — a dynamic-partition overwrite would
    * silently leave its stale directory behind. A leaf in `written`
    * whose temp directory is gone was swapped in before, so re-running
    * a swap is a no-op for it. Rename/delete failures throw — a failed
    * swap must never pass silently. */
  private def swapIn(fs: FileSystem, destDir: String, affected: Seq[String],
                     written: Set[String]): Unit = {
    val tmp = destDir + "._tmp"
    def under(dir: String, l: String) = new Path(if (l.isEmpty) dir else s"$dir/$l")
    affected.foreach { l =>
      val (dst, src) = (under(destDir, l), under(tmp, l))
      val fresh = fs.exists(src)
      if ((fresh || !written(l)) && fs.exists(dst) && !fs.delete(dst, true))
        throw new IOException(s"index update: could not drop stale bucket $dst")
      if (fresh && !(fs.mkdirs(dst.getParent) && fs.rename(src, dst)))
        throw new IOException(
          s"index update: bucket swap failed ($src -> $dst); rerun the update")
    }
    fs.delete(new Path(tmp), true)
  }

  /** One directory's rewrite in a batch: `rows` (already partitioned
    * for the write) replace the `leaves` of `dir` ([[leaf]] names
    * them). A write without partition columns replaces `dir` whole. */
  private[graft] final case class Write(dir: String, parts: Seq[String],
                                        leaves: Seq[String], rows: DataFrame)

  private[graft] object Write {
    /** Rows that replace the integer `buckets` of `dir`. */
    def apply(dir: String, pcol: String, buckets: Seq[Int],
              rows: DataFrame): Write =
      Write(dir, Seq(pcol), buckets.map(b => s"$pcol=$b"), rows)

    /** `df` hash-placed by `pcol` into one task per bucket and sorted by
      * `sortCols`, replacing the `buckets` of `dir`. */
    def sorted(dir: String, pcol: String, buckets: Seq[Int], df: DataFrame,
               sortCols: Seq[Column]): Write =
      Write(dir, pcol, buckets, df.repartition(math.max(buckets.size, 1),
        col(pcol)).sortWithinPartitions(sortCols: _*))

    /** [[sorted]] over named leaves of the partition columns `parts`. */
    def sorted(dir: String, parts: Seq[String], leaves: Seq[String],
               df: DataFrame, sortCols: Seq[Column]): Write =
      Write(dir, parts, leaves, df.repartition(math.max(leaves.size, 1),
        parts.map(col): _*).sortWithinPartitions(sortCols: _*))

    /** One file of `df` replacing the table at `dir` whole. */
    def whole(dir: String, df: DataFrame): Write =
      Write(dir, Nil, Seq(""), df.coalesce(1))
  }

  /** Run the temp writes of one batch concurrently — the first on the
    * calling thread, the others on writer threads that carry its
    * session and local properties — and join them all. Returns each
    * write's written leaves; if any write failed, every temp dir is
    * deleted and the first failure is thrown with the others attached
    * as suppressed. */
  private def writeAll(spark: SparkSession, fs: FileSystem,
                       writes: Seq[Write]): Seq[Set[String]] = {
    def run(w: Write) = writeTmp(fs, w.rows, w.dir, w.parts)
    val others = writes.tail.map(w => Bridge.async(spark)(run(w)))
    val first = try Right(run(writes.head)) catch { case e: Throwable => Left(e) }
    val results = first +: others.map(f =>
      try Right(f.join()) catch { case e: CompletionException => Left(e.getCause) })
    val errs = results.collect { case Left(e) => e }
    if (errs.nonEmpty) {
      writes.foreach(w => fs.delete(new Path(w.dir + "._tmp"), true))
      errs.tail.foreach(errs.head.addSuppressed)
      throw errs.head
    }
    results.collect { case Right(b) => b }
  }

  /** Commit one batch of the store at `path`: the `writes` run
    * concurrently to their temp dirs, then one `_graft_swap` record
    * swaps them all in with the new `meta` (none: the meta stays), as
    * [[merge]] does. A store that feeds a nested store commits after
    * it. Call [[finishSwap]] before reading the store for the batch. */
  private[graft] def commitBatch(spark: SparkSession, path: String,
                                 writes: Seq[Write],
                                 meta: Option[IndexMeta]): Unit =
    if (writes.isEmpty) meta.foreach(writeMeta(spark, path, _))
    else commit(spark, path,
      writes.zip(writeAll(spark, fsFor(spark, path), writes)), meta)

  private def swapLog(path: String) = new Path(path, "_graft_swap")

  /** Make one batch's temp writes live: record each write's affected
    * and written leaves plus the new meta in `_graft_swap`, apply the
    * record, then drop it. A record line names a leaf by its partition
    * values (`3`, `acme/5`, URL-encoded; `*` for a whole table). */
  private def commit(spark: SparkSession, path: String,
                     writes: Seq[(Write, Set[String])],
                     meta: Option[IndexMeta]): Unit = {
    val fs = fsFor(spark, path)
    def values(w: Write, ls: Seq[String]) = ls.map(l =>
      if (w.parts.isEmpty) "*"
      else URLEncoder.encode(l.split("/").map(s => s.drop(s.indexOf('=') + 1))
        .mkString("/"), "UTF-8")).mkString(",")
    val text = writes.map { case (w, written) =>
        require(w.dir.startsWith(path + "/"), s"${w.dir} is outside $path")
        s"swap=${w.dir.drop(path.length + 1)}|${w.parts.mkString("/")}|" +
          s"${values(w, w.leaves)}|${values(w, w.leaves.filter(written))}\n"
      }.mkString + meta.fold("")(metaText(spark, path, _)) + "end\n"
    writeText(fs, swapLog(path), text)
    applySwaps(fs, path, text)
    fs.delete(swapLog(path), false)
  }

  private def applySwaps(fs: FileSystem, path: String, text: String): Unit = {
    val (swaps, metaLines) = text.linesIterator.filter(_ != "end").toSeq
      .partition(_.startsWith("swap="))
    swaps.foreach { l =>
      val Array(dir, pcols, affected, written) = l.drop(5).split("\\|", -1)
      val parts = pcols.split("/").filter(_.nonEmpty).toSeq
      def leaves(s: String) = s.split(",").filter(_.nonEmpty).toSeq.map(v =>
        parts.zip(URLDecoder.decode(v, "UTF-8").split("/", -1))
          .map { case (p, x) => s"$p=$x" }.mkString("/"))
      swapIn(fs, s"$path/$dir", leaves(affected), leaves(written).toSet)
    }
    if (metaLines.nonEmpty)
      writeText(fs, new Path(path, "_graft_meta"),
        metaLines.mkString("", "\n", "\n"))
  }

  /** Roll forward a batch commit that a crash cut off after its swap
    * record was complete (every temp write had finished); a record
    * without its `end` line was cut off before any swap and is
    * dropped. Every batch of a store calls this before it reads the
    * store. Returns true when a commit was rolled forward. */
  private[graft] def finishSwap(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    if (!fs.exists(swapLog(path))) return false
    val text = readText(fs, swapLog(path))
    val complete = text.linesIterator.toSeq.lastOption.contains("end")
    if (complete) applySwaps(fs, path, text)
    fs.delete(swapLog(path), false)
    complete
  }

  /** (_kb, key, value, _ck) per-key aggregate rows of raw index rows —
    * the content of the materialized reduced index. */
  private[graft] def reducedRowsOf(data: DataFrame, rf: Reduce): DataFrame =
    data.groupBy(col("_kb"), col("key"))
      .agg(Reduce.aggFor(rf), min(col("_ck")).as("_ck"))

  /** Visible (not `_`/`.`-prefixed) files of the given bucket dirs. */
  private def dataFiles(fs: FileSystem, dirs: Seq[(Long, Path)]): Iterator[Path] =
    dirs.iterator.flatMap(d => fs.listStatus(d._2).iterator.map(_.getPath))
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))

  private def footer(fs: FileSystem, file: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, fs.getConf))
    try r.getFooter finally r.close()
  }

  /** Row count of the selected buckets from their Parquet footers — no
    * Spark job, O(files). */
  private def footerRows(fs: FileSystem, dir: String, pcol: String,
                         keep: Long => Boolean): Long =
    dataFiles(fs, bucketDirs(fs, dir, pcol).filter(d => keep(d._1)))
      .map(f => footer(fs, f).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Per-bucket row counts — the skew diagnostic that tells an operator
    * (or a maintenance policy) when to [[compact]]. Read from the
    * Parquet footers on the driver: no Spark job, O(files). */
  def bucketStats(spark: SparkSession, path: String): Map[Int, Long] = {
    val fs = fsFor(spark, path)
    bucketDirs(fs, dataDir(path), "_kb").map { d =>
      d._1.toInt -> dataFiles(fs, Seq(d))
        .map(f => footer(fs, f).getBlocks.asScala.map(_.getRowCount).sum).sum
    }.filter(_._2 > 0).toMap
  }

  /** Derive (or re-derive) the materialized reduced index from the
    * current raw data — used by [[graft.view.View.materializeReduced]]
    * and after [[compact]] re-sampled the bucket layout. Stamps
    * `reducedGroups` from the written files' Parquet footers, so every
    * later paging envelope serves total_rows straight from the meta. */
  private[graft] def writeReduced(spark: SparkSession, path: String,
                                  rf: Reduce): Unit = {
    finishSwap(spark, path)
    reducedRowsOf(readStore(spark, dataDir(path), "_kb"), rf)
      .repartition(col("_kb"))
      .sortWithinPartitions(col("_kb"), col("_ck"))
      .write.mode("overwrite").partitionBy("_kb")
      .parquet(reducedDir(path))
    val n = footerRows(fsFor(spark, path), reducedDir(path), "_kb", _ => true)
    writeMeta(spark, path, readMeta(spark, path).copy(reducedGroups = n))
  }

  /** Automatic compaction policy for long-lived maintained indexes:
    * incremental merges route new keys into the CREATION-TIME range
    * bounds, so a drifting change feed slowly overloads one bucket.
    * When the largest bucket exceeds `maxSkew` × the median bucket row
    * count, rebuild with fresh sampled bounds ([[compact]]) and
    * re-derive the reduced index if one existed (compaction drops it —
    * its layout is bucket-aligned). Returns true when compaction ran.
    * Run from the maintainers per batch: the stats pass is footer
    * metadata, the rebuild amortizes like any table-maintenance job. */
  def maybeCompact(spark: SparkSession, path: String,
                   rf: Option[Reduce] = None, maxSkew: Double = 8.0,
                   numBuckets: Int = 0): Boolean = {
    val counts = bucketStats(spark, path).values.toSeq.sorted
    if (counts.size < 2) return false
    val median = math.max(counts(counts.size / 2), 1L)
    if (counts.last.toDouble / median <= maxSkew) false
    else {
      val hadReduced = hasReduced(spark, path)
      compact(spark, path, numBuckets)
      if (hadReduced) rf.foreach(writeReduced(spark, path, _))
      true
    }
  }

  /** Rebalance a long-lived index: full rebuild with FRESH range bounds
    * sampled from the current data (optionally a new bucket count for a
    * grown index), preserving the update_seq. Incremental merges route
    * new keys into the fixed creation-time bounds, so a skewed change
    * feed eventually overloads one bucket — compaction is the periodic
    * amortized fix (run it like any table-maintenance job). The rebuilt
    * index is written beside the live one and swapped in two renames;
    * a crash between them leaves the old index at `path + "._old"`. */
  def compact(spark: SparkSession, path: String, numBuckets: Int = 0): Unit = {
    finishSwap(spark, path)
    val meta = readMeta(spark, path)
    val n = if (numBuckets > 0) numBuckets else meta.buckets
    val rows = readStore(spark, dataDir(path), "_kb").drop("_kb")
    val tmp = path + "._compact"
    create(spark, tmp, rows, n, meta.updateSeq)
    replaceStore(spark, path, tmp, "compact")
  }

  /** Replace the store at `path` whole with the one staged at `staged`,
    * in two renames: a crash between them leaves the old store at
    * `path._old`. */
  private[graft] def replaceStore(spark: SparkSession, path: String,
                                  staged: String, what: String): Unit = {
    val fs = fsFor(spark, path)
    val old = new Path(path + "._old")
    fs.delete(old, true)
    move(fs, new Path(path), old,
      s"$what: could not move the live store aside ($path)")
    move(fs, new Path(staged), new Path(path),
      s"$what: swap failed — old store preserved at $old, new at $staged")
    fs.delete(old, true)
  }

  /** Rename `src` to `dst`, throwing `failure` when the rename fails. */
  private[graft] def move(fs: FileSystem, src: Path, dst: Path,
                            failure: => String): Unit =
    if (!fs.rename(src, dst)) throw new IOException(failure)

  /** One change batch of an incrementally maintained store, split once
    * by the tombstone rule every upsert shares. `live` is the batch's
    * rows minus every row whose id the batch tombstones: a tombstone
    * wins over an update of the same id (in feed order the delete is
    * the later event), and a null id never matches one. `ids`, when
    * the batch carries tombstones, is every changed id — the batch
    * rows' ids plus the tombstoned ones, duplicates harmless — as one
    * column `_id`; without tombstones it is None ([[changedIds]]).
    * Tombstones stay a DataFrame and are cut by a broadcast anti-join,
    * so no tombstone id is collected to the driver. */
  final case class Delta(live: DataFrame, ids: Option[DataFrame]) {
    /** Every changed id as one `_id` column: [[ids]], or the live rows'
      * own under `id` when the batch carries no tombstone. */
    def changedIds(id: Column): DataFrame =
      ids.getOrElse(live.select(id.as("_id")))
  }

  object Delta {
    /** A change-feed batch: a row whose optional boolean `_deleted` is
      * true tombstones its `id` (a null `_deleted` is an update). */
    def apply(batch: DataFrame, id: Column): Delta =
      if (!batch.columns.contains("_deleted")) Delta(batch, None)
      else {
        val deleted = coalesce(col("_deleted"), lit(false))
        Delta(cut(batch.filter(!deleted), id,
            batch.filter(deleted).select(id.as("_graft_del"))),
          Some(batch.select(id.as("_id"))))
      }

    /** The batch API's change batch: the `changed` docs, identified by
      * `id`, and the literal `deletedIds`, typed like `id`. */
    def apply(changed: DataFrame, id: Column, deletedIds: Seq[Any]): Delta =
      if (deletedIds.isEmpty) Delta(changed, None)
      else {
        val ids = changed.select(id.as("_id"))
        val tombs = changed.sparkSession.createDataFrame(
          deletedIds.map(Row(_)).asJava, ids.schema)
        Delta(cut(changed, id, tombs.toDF("_graft_del")),
          Some(ids.unionByName(tombs)))
      }

    private def cut(rows: DataFrame, id: Column, tombs: DataFrame): DataFrame =
      rows.join(broadcast(tombs), id === col("_graft_del"), "left_anti")
  }
}
