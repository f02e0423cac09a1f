package graft.view

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** PARTITIONED-DATABASE view storage — CouchDB 3.x partitioned
  * databases (`{"partitioned": true}`, SURVEY §1 addendum): every doc
  * id is `"<partition>:<key>"`, and queries scoped to one partition
  * (`/db/_partition/{p}/_view`, `_all_docs`, `_find`) promise
  * partition-local cost — CouchDB co-locates a partition's view rows
  * in one shard so a scoped query touches one shard, not the database.
  *
  * The Spark-first translation of that promise is HIVE PARTITION
  * PRUNING, not shard routing:
  *
  * {{{
  * path/
  *   _graft_meta      update_seq stamp (IndexStore format, no bounds)
  *   data/_p=<part>/  view rows (_id, key, value, _ck), hive-partitioned
  *                    by the id's partition key, _ck-sorted files
  * }}}
  *
  * A partition-scoped query filters `_p = <partition>` — directory-level
  * pruning (other partitions are never listed, let alone scheduled) —
  * then pushes the `_ck` startkey/endkey range into the scan, where the
  * per-partition `_ck`-sorted files give tight row-group min/max skips.
  * Two levels, same as the `_kb` store ([[IndexStore]]), but keyed by
  * the partition a 100 TB tenant query actually asks for: cost is
  * O(one partition's matching rows) regardless of corpus size.
  *
  * Maintenance is SIMPLER than the global store's: a changed doc's
  * partition is derivable from its id alone, so there is no by-id
  * sidecar — an incremental [[merge]] rewrites exactly the `_p`
  * directories holding changed docs (O(changed partitions) per batch),
  * through the same one-record batch commit as [[IndexStore]].
  *
  * Global (cross-partition) queries remain legal — a plain read of
  * `data/` sees every partition, as CouchDB allows via global views in
  * a partitioned database — they just pay corpus cost, as there too. */
object PartitionedStore {

  /** The id separator: everything before the FIRST `:` is the
    * partition key (CouchDB's partitioned-id syntax). */
  val Sep = ":"

  private[view] def dataDir(path: String) = s"$path/data"

  /** The partition key of a doc id column. */
  def partitionOf(id: Column): Column =
    substring_index(id.cast("string"), Sep, 1)

  /** CouchDB's partitioned-id write validation as a predicate:
    * `<partition>:<key>` with both halves non-empty and the partition
    * not starting with `_` (reserved namespace). */
  def validId(id: Column): Column = {
    val s = id.cast("string")
    val p = substring_index(s, Sep, 1)
    instr(s, Sep) > 0 && length(p) > 0 && !p.startsWith("_") &&
      length(s) > length(p) + 1
  }

  /** Partition keys a CALLER supplies (query scope) get the same
    * validation a stored id's partition half passed. */
  def requireValidPartition(partition: String): Unit =
    require(partition.nonEmpty && !partition.startsWith("_") &&
      !partition.contains(Sep),
      s"invalid partition key '$partition': must be non-empty, must " +
        s"not contain '$Sep', must not start with '_'")

  /** `_p` derived from `_id`, failing the WRITE JOB on the first
    * invalid id (CouchDB rejects a malformed partitioned id at write
    * time; deferring to query time would silently misfile the row) —
    * the check rides the write pass, costing no extra scan. */
  private def routedP(id: Column): Column =
    when(validId(id), partitionOf(id)).otherwise(raise_error(concat(
      lit("partitioned db: invalid doc id '"), id.cast("string"),
      lit(s"' (expected '<partition>${Sep}<key>', both non-empty, " +
        "partition not starting with '_')"))))

  def exists(spark: SparkSession, path: String): Boolean =
    IndexStore.exists(spark, path)

  /** Full build: route every view row to its id's partition directory,
    * `_ck`-sorted within. `tasks` bounds write parallelism (files per
    * large partition); tiny partitions cost one small file each. */
  def create(spark: SparkSession, path: String, rows: DataFrame,
             tasks: Int, seq: Long): Unit = {
    require(!rows.isEmpty,
      "cannot build a partitioned index from an empty view")
    val fs = IndexStore.fsFor(spark, path)
    fs.delete(new Path(path), true)
    rows.withColumn("_p", routedP(col("_id")))
      .repartitionByRange(tasks, col("_p"), col("_ck"), col("_id"))
      .sortWithinPartitions(col("_p"), col("_ck"), col("_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("_p")
      .parquet(dataDir(path))
    IndexStore.writeMeta(spark, path, IndexMeta(seq, tasks, Nil))
  }

  /** The stored rows (`_id, key, value, _ck, _p`). Filtering
    * `_p = <partition>` before anything else is what keeps a scoped
    * read directory-pruned. */
  def open(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(dataDir(path))

  /** Incremental merge of one change batch — the [[IndexStore.merge]]
    * contract (`newRows`: mapped view rows of changed docs;
    * `changedIds`: every changed or deleted doc id, a superset of
    * `newRows`' ids) with partition-local scope: only the `_p`
    * directories holding changed ids are read and rewritten, found by
    * ARITHMETIC on the ids (no sidecar lookup). Idempotent; the
    * rewritten partitions and the new meta go live in one
    * [[IndexStore.commitBatch]] (a crash leaves old-or-new, rolled
    * forward by the next merge). Returns the rewritten partition keys. */
  def merge(spark: SparkSession, path: String, newRows0: DataFrame,
            changedIds: DataFrame, newSeq: Long): Seq[String] = {
    IndexStore.finishSwap(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    val cids = changedIds.toDF("_id").distinct().persist()
    val newRows = newRows0.withColumn("_p", routedP(col("_id"))).persist()
    try {
      val parts = cids.select(routedP(col("_id")).as("_p")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val leaves = parts.map(p => IndexStore.leaf("_p" -> p))
      val writes = Option.when(parts.nonEmpty)(IndexStore.Write.sorted(
        dataDir(path), Seq("_p"), leaves,
        IndexStore.readLeaves(spark, dataDir(path), Seq("_p" -> StringType),
            leaves)
          .join(cids, Seq("_id"), "left_anti")
          .unionByName(newRows),
        Seq(col("_p"), col("_ck"), col("_id"))))
      IndexStore.commitBatch(spark, path, writes.toSeq,
        Some(meta.copy(updateSeq = newSeq)))
      parts
    } finally {
      cids.unpersist()
      newRows.unpersist()
    }
  }

  /** CouchDB's `GET /db/_partition/{p}` partition-info surface: per-
    * partition doc and view-row counts. The scan reads ONLY the
    * partition column and the id — footer/dictionary speed, no data
    * columns. */
  def partitionStats(spark: SparkSession, path: String): DataFrame =
    open(spark, path)
      .groupBy(col("_p").as("partition"))
      .agg(count(lit(1)).as("row_count"),
        countDistinct(col("_id")).as("doc_count"))
}
