package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.view.{IndexMeta, IndexStore}

/** Persisted, incrementally-maintained near-duplicate CLUSTERS — the
  * amortized form of [[Dedup.dedupCorpus]]'s quadratic-ish stages: the
  * MinHash band rows and the connected-component labels live on disk,
  * and a change batch re-hashes only the changed docs and re-clusters
  * only the components they touch (plus their band-mates), not the
  * corpus. At 100 TB a daily crawl delta re-clusters thousands of
  * docs, never billions.
  *
  * Layout (the standard graft index discipline — partition-pruned
  * reads, by-id sidecar, every batch's rewrites committed in one
  * [[IndexStore.commitBatch]]):
  * {{{
  * path/
  *   bands/_bb=<b>/   (doc_id, j, band) MinHash band rows, bucketed by
  *                    a portable hash of the band value
  *   ids/_ib=<b>/     (doc_id, _bb) — which band buckets hold each doc
  *   labels/_lb=<b>/  (doc_id, cluster_id) by DOC hash — point lookups
  *   members/_cm=<b>/ (doc_id, cluster_id) by CLUSTER hash × MEMBER
  *                    hash (`_cm = cb·[[MemberSub]] + mb`, the member
  *                    factor a CONSTANT) — member expansion prunes to
  *                    one cluster's [[MemberSub]] sub-buckets, and a
  *                    membership delta rewrites only the sub-buckets
  *                    its changed docs hash into, never a huge
  *                    cluster's whole member list. The directory count
  *                    is nB·[[MemberSub]] — LINEAR in the bucket
  *                    budget, so `nBuckets` can track the corpus (the
  *                    deployment discipline) without the v2 layout's
  *                    nB² directory explosion
  *   _graft_meta      update_seq + bucket count
  * }}}
  *
  * Cluster ids are the component's min doc id. Maintenance soundness:
  * the re-clustered set M = every member of every cluster containing a
  * changed/deleted doc or a NEW band-mate of one. Any near-dup pair
  * with exactly one endpoint outside M is impossible — the outside
  * endpoint would share a band with an M doc, which (pairs being
  * symmetric and pre-existing pairs being intra-cluster) pulls its
  * whole cluster into M — so re-clustering M in isolation is exact.
  * Rewrite soundness: docs whose (doc_id, cluster_id) row is UNCHANGED
  * after re-clustering keep byte-identical label/member rows, so only
  * rows that actually changed (plus deletions) swap buckets — at crawl
  * scale a delta brushing a million-doc boilerplate family rewrites
  * the handful of sub-buckets its docs land in, not millions of rows. */
object DedupIndex {

  /** On-disk layout version (one-row `/fmt` table). Bumped when the
    * layout changes (v2 = composite `_cm` members sub-buckets; v3 =
    * CONSTANT member sub-factor, so the members directory count is
    * linear in `nBuckets` and the bucket budget can scale with the
    * corpus), so an old artifact reads as stale and rebuilds instead
    * of crashing an upsert or serving a wrong-layout read. */
  val FormatVersion = 3

  /** The members layout's CONSTANT per-cluster sub-bucket factor: a
    * cluster's member rows spread over this many `_cm` sub-buckets, so
    * a delta brushing a huge boilerplate family rewrites 1/[[MemberSub]]
    * of its member list while the total directory count stays
    * `nBuckets · MemberSub` — linear, never nB². */
  val MemberSub = 8

  /** True iff a cluster index of the CURRENT layout exists; an
    * unreadable `/fmt` stamp throws, naming the path. */
  def indexCurrent(spark: SparkSession, path: String): Boolean =
    IndexStore.stampIs(spark, path + "/fmt", FormatVersion)

  private def bandBucket(band: Column, n: Int): Column =
    pmod(conv(substring(band, 1, 8), 16, 10).cast("long"), lit(n.toLong))
      .cast("int")

  private def bandRowsOf(docs: DataFrame, id: Column, text: Column,
                         k: Int, bands: Int, nB: Int): DataFrame =
    Dedup.lshBands(Dedup.minhashSigs(
        Dedup.shingleRows(docs, id, text), k), k, bands)
      .withColumn("_bb", bandBucket(col("band"), nB))

  /** In-bucket candidate pairs over stored band rows (both directions
    * deduplicated; `maxBucket` guards boilerplate-shingle buckets). */
  private def pairsOf(bandRows: DataFrame, maxBucket: Int): DataFrame =
    bandRows.groupBy(col("j"), col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("_p"))
      .select(col("_p.doc_a"), col("_p.doc_b")).distinct()

  /** Labels for every doc in `allIds` from the components `cc` of its
    * pairs ([[Dedup.components]]): component min where paired, self
    * where singleton. */
  private def labelsOf(allIds: DataFrame, cc: DataFrame): DataFrame =
    allIds.join(cc.select(col("id").as("doc_id"), col("lbl").as("_cl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_cl"), col("doc_id")).as("cluster_id"))

  /** Composite members partition: cluster hash × member hash. A
    * cluster's rows span [[MemberSub]] sub-buckets, so a membership
    * delta rewrites 1/[[MemberSub]] of a big cluster, and a
    * cluster-pruned read lists its [[MemberSub]] sub-bucket ids
    * driver-side ([[cmsOfClusterBuckets]]). The member factor is a
    * constant, NOT `nB`: the directory count must stay linear in the
    * bucket budget for `nBuckets` to track the corpus. */
  private def memberBucket(clusterId: Column, docId: Column,
                           nB: Int): Column =
    (IndexStore.idBucket(clusterId, nB) * MemberSub +
      IndexStore.idBucket(docId, MemberSub)).cast("int")

  /** All `_cm` values under the given cluster buckets. */
  private def cmsOfClusterBuckets(cbs: Seq[Int], nB: Int): Seq[Int] =
    cbs.flatMap(cb => (0 until MemberSub).map(cb * MemberSub + _))

  private def writeLabelLayouts(spark: SparkSession, path: String,
                                labels: DataFrame, nB: Int): Unit = {
    labels.withColumn("_lb", IndexStore.idBucket(col("doc_id"), nB))
      .repartition(col("_lb"))
      .sortWithinPartitions(col("_lb"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_lb").parquet(path + "/labels")
    labels.withColumn("_cm",
        memberBucket(col("cluster_id"), col("doc_id"), nB))
      .repartition(col("_cm"))
      .sortWithinPartitions(col("_cm"), col("cluster_id"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_cm").parquet(path + "/members")
  }

  def build(docs: DataFrame, id: Column, text: Column, path: String,
            k: Int = 8, bands: Int = 4, nBuckets: Int = 64,
            maxBucket: Int = 1000, seq: Long = 0L): Unit = {
    val spark = docs.sparkSession
    IndexStore.fsFor(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    bandRowsOf(docs, id, text, k, bands, nBuckets)
      .repartition(col("_bb"))
      .sortWithinPartitions(col("_bb"), col("j"), col("band"))
      .write.mode("overwrite").partitionBy("_bb").parquet(path + "/bands")
    val stored = spark.read.parquet(path + "/bands")
    stored.select(col("doc_id"), col("_bb")).distinct()
      .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nBuckets))
      .repartition(col("_ib"))
      .sortWithinPartitions(col("_ib"), col("doc_id"))
      .write.mode("overwrite").partitionBy("_ib").parquet(path + "/ids")
    val allIds = docs.select(id.cast("long").as("doc_id")).distinct()
    val cc = Dedup.components(pairsOf(stored, maxBucket))
    try writeLabelLayouts(spark, path, labelsOf(allIds, cc), nBuckets)
    finally Bridge.release(cc)
    import spark.implicits._
    Seq(FormatVersion).toDF("fmt").coalesce(1)
      .write.mode("overwrite").parquet(path + "/fmt")
    IndexStore.writeMeta(spark, path, IndexMeta(seq, nBuckets, Nil))
  }

  /** The stored `(doc_id, cluster_id)` mapping. */
  def clusters(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path + "/labels")
      .select(col("doc_id"), col("cluster_id"))

  /** Member expansion: every `(doc_id, cluster_id)` row of the given
    * clusters, served from the by-cluster `members/` layout with the
    * read pruned to each cluster's nB sub-bucket directories — a
    * point lookup per cluster, never a labels scan. The duplicate-
    * family review workflow: look up a doc's label ([[clusters]]),
    * expand its family here. */
  def membersOf(spark: SparkSession, path: String,
                clusterIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(clusterIds.nonEmpty, "clusterIds must be non-empty")
    val nB = IndexStore.readMeta(spark, path).buckets
    // bucket routing runs as a tiny local job so the driver-side ids
    // use the exact same hash expression as the stored layout
    val cbs = clusterIds.toDF("cluster_id")
      .select(IndexStore.idBucket(col("cluster_id"), nB).as("_cb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    IndexStore.readBuckets(spark, path + "/members", "_cm",
        cmsOfClusterBuckets(cbs, nB))
      .filter(col("_cm").isin(cmsOfClusterBuckets(cbs, nB): _*) &&
        col("cluster_id").isin(clusterIds: _*))
      .select(col("doc_id"), col("cluster_id"))
  }

  /** Apply one change batch: re-hash `changedDocs`, rewrite their
    * old∪new band buckets, and re-cluster ONLY the affected membership
    * (see the soundness note above). A store of a stale layout is
    * refused, naming its path. Returns the re-clustered doc count. */
  def upsert(spark: SparkSession, path: String, changedDocs: DataFrame,
             id: Column, text: Column, deletedIds: Seq[Long] = Nil,
             k: Int = 8, bands: Int = 4, maxBucket: Int = 1000,
             newSeq: Long = -1L): Long =
    upsert(spark, path, IndexStore.Delta(changedDocs, id.cast("long"),
      deletedIds), id, text, k, bands, maxBucket, newSeq)

  private[graft] def upsert(spark: SparkSession, path: String,
                            d: IndexStore.Delta, id: Column, text: Column,
                            k: Int, bands: Int, maxBucket: Int,
                            newSeq: Long): Long = {
    import spark.implicits._
    import IndexStore.Write
    IndexStore.finishSwap(spark, path)
    if (!indexCurrent(spark, path))
      throw IndexStore.staleLayout("dedup-cluster", path, FormatVersion,
        "DedupIndex.build")
    val meta = IndexStore.readMeta(spark, path)
    val nB = meta.buckets
    val newRows = bandRowsOf(d.live, id, text, k, bands, nB).persist()
    val liveIds = d.live.select(id.cast("long").as("doc_id"))
      .distinct().persist()
    val cids = d.changedIds(id.cast("long")).toDF("doc_id").distinct()
      .persist()
    // the tombstoned ids: the changed ids without a live row
    val dels =
      if (d.ids.isEmpty) liveIds.limit(0)
      else cids.join(liveIds, Seq("doc_id"), "left_anti")
    val pins = scala.collection.mutable.ListBuffer[DataFrame](
      newRows, liveIds, cids)
    def pin(df: DataFrame): DataFrame = { pins += df; df.persist() }
    def buckets(df: DataFrame, c: Column) = IndexStore.bucketsOf(df.select(c))
    try {
      // every read below sees the store as it stands; the batch's own
      // band and sidecar rows are merged in where the re-clustering
      // needs the post-batch state
      val newIds = newRows.select(col("doc_id"), col("_bb")).distinct()
        .withColumn("_ib", IndexStore.idBucket(col("doc_id"), nB))
      def merged(dir: String, part: String, bs: Seq[Int],
                 batch: DataFrame): DataFrame = {
        val cols = batch.columns.map(col)
        IndexStore.readBuckets(spark, s"$path/$dir", part, bs)
          .filter(col(part).isin(bs: _*))
          .join(cids, Seq("doc_id"), "left_anti").select(cols: _*)
          .unionByName(batch.filter(col(part).isin(bs: _*)).select(cols: _*))
      }
      // ---- band + sidecar merge (the standard sidecar-pruned rewrite)
      val ibs = buckets(cids, IndexStore.idBucket(col("doc_id"), nB))
      val affBb = (buckets(IndexStore.readBuckets(spark, path + "/ids",
          "_ib", ibs).filter(col("_ib").isin(ibs: _*))
          .join(cids, Seq("doc_id"), "left_semi"), col("_bb")) ++
        buckets(newRows, col("_bb"))).distinct.sorted
      val bandCols = Seq(col("doc_id"), col("j"), col("band"), col("_bb"))
      val newBands = newRows.select(bandCols: _*)
      val bandWrites = if (affBb.isEmpty) Nil else Seq(
        Write.sorted(path + "/bands", "_bb", affBb,
          merged("bands", "_bb", affBb, newBands),
          Seq(col("_bb"), col("j"), col("band"))),
        Write.sorted(path + "/ids", "_ib", ibs,
          merged("ids", "_ib", ibs, newIds),
          Seq(col("_ib"), col("doc_id"))))
      // ---- affected membership: clusters of changed docs + clusters
      // of their band-mates after the batch
      val mates = merged("bands", "_bb", affBb, newBands)
        .join(newRows.select(col("j"), col("band")).distinct(),
          Seq("j", "band"))
        .select(col("doc_id"))
      val seeds = pin(cids.unionByName(mates).distinct())
      val slbs = buckets(seeds, IndexStore.idBucket(col("doc_id"), nB))
      val affClusters = pin(IndexStore.readBuckets(spark, path + "/labels",
          "_lb", slbs)
        .filter(col("_lb").isin(slbs: _*))
        .join(seeds, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct())
      val cbs = buckets(affClusters,
        IndexStore.idBucket(col("cluster_id"), nB))
      val oldMembers = IndexStore.readBuckets(spark, path + "/members",
          "_cm", cmsOfClusterBuckets(cbs, nB))
        .filter(col("_cm").isin(cmsOfClusterBuckets(cbs, nB): _*))
        .join(affClusters, Seq("cluster_id"), "left_semi")
        .select(col("doc_id"))
      // M = surviving old members + live changed docs (deleted drop out)
      val m = pin(oldMembers.unionByName(liveIds).distinct()
        .join(dels, Seq("doc_id"), "left_anti"))
      // ---- re-cluster M from its bands after the batch
      val mibs = buckets(m, IndexStore.idBucket(col("doc_id"), nB))
      val mbbs =
        if (mibs.isEmpty) Seq.empty[Int]
        else buckets(merged("ids", "_ib", mibs, newIds)
          .join(m, Seq("doc_id"), "left_semi"), col("_bb"))
      val mPairs =
        if (mbbs.isEmpty)
          Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        else pairsOf(merged("bands", "_bb", mbbs, newBands)
          .join(m, Seq("doc_id"), "left_semi"), maxBucket)
      val cc = Dedup.components(mPairs)
      pins += cc
      val newLabels = pin(labelsOf(m, cc))
      // ---- rename-efficient rewrites: only rows whose LABEL CHANGED (or
      // whose doc was deleted) rewrite. Unchanged M docs keep identical
      // (doc_id, cluster_id) rows, so leaving their buckets on disk is
      // exact — a delta brushing a huge stable cluster rewrites the
      // changed docs' sub-buckets, not the cluster.
      val mlbs = buckets(m, IndexStore.idBucket(col("doc_id"), nB))
      val oldLabelsM =
        if (mlbs.isEmpty)
          Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
        else IndexStore.readBuckets(spark, path + "/labels", "_lb", mlbs)
          .filter(col("_lb").isin(mlbs: _*))
          .join(m, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("cluster_id"))
      // the changed-labels delta feeds two writes and a bucket collect
      val changed = pin(newLabels
        .join(oldLabelsM, Seq("doc_id", "cluster_id"), "left_anti"))
      val n = newLabels.count()
      val touched = pin(changed.select(col("doc_id")).unionByName(dels)
        .distinct())
      val lbs = buckets(touched, IndexStore.idBucket(col("doc_id"), nB))
      // the touched docs' OLD member rows drop from their sub-buckets
      val cmsOld =
        if (lbs.isEmpty) Seq.empty[Int]
        else buckets(IndexStore.readBuckets(spark, path + "/labels", "_lb", lbs)
          .filter(col("_lb").isin(lbs: _*))
          .join(touched, Seq("doc_id"), "left_semi"),
          memberBucket(col("cluster_id"), col("doc_id"), nB))
      val cmsNew = buckets(changed,
        memberBucket(col("cluster_id"), col("doc_id"), nB))
      val labelWrites = Option.when(lbs.nonEmpty)(
        Write.sorted(path + "/labels", "_lb", lbs,
          IndexStore.readBuckets(spark, path + "/labels", "_lb", lbs)
            .filter(col("_lb").isin(lbs: _*))
            .join(touched, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("cluster_id"), col("_lb"))
            .unionByName(changed
              .withColumn("_lb", IndexStore.idBucket(col("doc_id"), nB))),
          Seq(col("_lb"), col("doc_id"))))
      val cms = (cmsOld ++ cmsNew).distinct.sorted
      val memberWrites = Option.when(cms.nonEmpty)(
        Write.sorted(path + "/members", "_cm", cms,
          IndexStore.readBuckets(spark, path + "/members", "_cm", cms)
            .filter(col("_cm").isin(cms: _*))
            .join(touched, Seq("doc_id"), "left_anti")
            .select(col("doc_id"), col("cluster_id"), col("_cm"))
            .unionByName(changed.withColumn("_cm",
              memberBucket(col("cluster_id"), col("doc_id"), nB))),
          Seq(col("_cm"), col("cluster_id"), col("doc_id"))))
      IndexStore.commitBatch(spark, path,
        bandWrites ++ labelWrites ++ memberWrites, Some(meta.copy(
          updateSeq = if (newSeq >= 0) newSeq else meta.updateSeq + 1)))
      n
    } finally pins.foreach(Bridge.release)
  }
}
