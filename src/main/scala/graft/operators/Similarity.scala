package graft.operators

import java.io.IOException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}

import graft.functions.DotProduct
import graft.gfunctions.round4
import graft.view.IndexStore
import graft.view.IndexStore.Delta

/** Similarity search over embedding columns (`array<float>`).
  * Scalar math runs through the native [[graft.functions.DotProduct]]
  * codegen expression — an in-order left fold, deterministic and
  * engine-reproducible, ~100× an interpreted higher-order-function
  * formulation. */
object Similarity {

  // Cast, not transform(_.cast): array-to-array Cast is native codegen,
  // a higher-order transform is interpreted per element.
  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** In-order dot product — deterministic accumulation, same value in
    * any engine that folds left-to-right. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(
      Bridge.expression(asDouble(a)), Bridge.expression(asDouble(b))))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force exact top-k cosine neighbors for a (small, broadcast)
    * query set: the baseline. Scales as |queries| × n — fine for
    * interactive query sets against any corpus size; the LSH variant is
    * the all-pairs scale path. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    // Norms precomputed per vector BEFORE the join: |q|+|n| sqrt's
    // instead of one per candidate pair. Same doubles, same result.
    val (c, q) = (vecRows(corpus, "n"), vecRows(queries, "q"))
    rankTopK(
      c.join(broadcast(q), col("n_id") =!= col("q_id")).withColumn("cos", qnCos),
      k)
  }

  /** `(<p>_id, <p>_vec, <p>_nrm)` rows of a `(vec_id, embedding)`
    * frame: the vector as doubles and its norm. */
  private[operators] def vecRows(df: DataFrame, p: String): DataFrame =
    df.select(col("vec_id").as(s"${p}_id"),
      asDouble(col("embedding")).as(s"${p}_vec"))
      .withColumn(s"${p}_nrm", sqrt(dot(col(s"${p}_vec"), col(s"${p}_vec"))))

  /** The cosine of `q_vec` and `n_vec` from their norms. */
  private[operators] def qnCos: Column =
    dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm"))

  /** `df` with `_v` (the embedding as doubles) and its norm `_nrm`. */
  private[operators] def withVecNorm(df: DataFrame): DataFrame =
    df.withColumn("_v", asDouble(col("embedding")))
      .withColumn("_nrm", sqrt(dot(col("_v"), col("_v"))))

  /** Distributed top-k per query via the bounded [[graft.functions
    * .TopKPairs]] aggregate: map-side partial aggregation keeps k pairs
    * per query per partition, so the shuffle carries partitions×k rows
    * per query instead of every scored candidate (a window rank would
    * move them ALL to one partition per query — the n/k scale fix the
    * round-1 audit called out). Identical output to the window form:
    * same score ordering, same id tie-break. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new graft.functions.TopKPairs(k))
    scored
      .groupBy(col("q_id"))
      .agg(agg(col("cos"), col("n_id")).as("_top"))
      .select(col("q_id"), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col("q_id"), (col("_i") + 1).cast("long").as("rank"),
        col("_t._2").as("n_id"), round4(col("_t._1")).as("cos"))
  }

  // ----------------------------------------- the persisted vector store

  /** The one store path of every persisted vector tier (LSH, IVF, SQ8,
    * IVF-SQ8, binary, PQ, IVF-PQ, IVF-PQ-residual, SemDeDup): the
    * [[graft.view.IndexStore]] layout — `data/_kb=<bucket>` rows
    * `(_id, payload…)`, the by-id sidecar `ids/_ib=`, `_graft_meta`
    * (update_seq and the id-bucket count) — plus the tier's FROZEN side
    * tables. A tier supplies only its rows function: corpus rows →
    * `(_id, payload…, _kb)` under its stored quantizers, given the
    * store's id-bucket count (the router of the flat tiers,
    * [[idRouted]]). A build deletes `path`, writes the side tables
    * (`centroids/`, `model/`, `codebooks/`, `params/`, one file each),
    * then the rows through [[graft.view.IndexStore.writeStore]];
    * `rows` runs after the side tables are written, so it may read
    * them back. `sortCols` order the rows within each bucket. */
  private[operators] def buildVecStore(corpus: DataFrame, path: String,
                                       idBuckets: Int, seq: Long,
                                       sides: Seq[(String, DataFrame)] = Nil,
                                       sortCols: Seq[String] = Seq("_id"))
                                      (rows: (DataFrame, Int) => DataFrame)
      : Unit = {
    val spark = corpus.sparkSession
    IndexStore.fsFor(spark, path).delete(new Path(path), true)
    sides.foreach { case (dir, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$path/$dir")
    }
    IndexStore.writeStore(spark, path,
      rows(corpus, idBuckets).repartition(col("_kb")),
      sortCols.map(col), idBuckets, seq, _ => Nil)
  }

  /** The one incremental upsert of every persisted vector tier: the
    * live vectors (`vec_id`, `embedding`) of the change batch `d`
    * become stored rows through the tier's `rows`, and
    * [[graft.view.IndexStore.merge]] rewrites only the buckets holding
    * the changed or deleted ids' old rows or the new rows, all in one
    * swap. `finish` is the tier's bucket-local step over the merged
    * rows (SemDeDup's verdicts). `newSeq` defaults to update_seq + 1.
    * Returns the rewritten bucket ids. */
  private[operators] def upsertVecStore(spark: SparkSession, path: String,
                                        d: Delta, newSeq: Long,
                                        sortCols: Seq[String] = Seq("_id"),
                                        finish: DataFrame => DataFrame =
                                          identity)
                                       (rows: (DataFrame, Int) => DataFrame)
      : Seq[Int] = {
    requireKbLayout(spark, path)
    val meta = IndexStore.readMeta(spark, path)
    IndexStore.merge(spark, path, meta, rows(d.live, meta.buckets),
      d.changedIds(col("vec_id")),
      if (newSeq >= 0) newSeq else meta.updateSeq + 1,
      ("_kb" +: sortCols).map(col), finish = finish)
  }

  /** The change batch of a vector tier's batch upsert. */
  private[operators] def vecDelta(changed: DataFrame,
                                  deletedIds: Seq[Any]): Delta =
    Delta(changed, col("vec_id"), deletedIds)

  /** A vector store written before the flat tiers joined the shared
    * layout keeps `data/_b=` buckets and no sidecar: refuse it, naming
    * the path, rather than misread it. */
  private def requireKbLayout(spark: SparkSession, path: String): Unit =
    if (IndexStore.partDirs(spark, path + "/data", "_b").nonEmpty)
      throw new IOException(s"$path is a vector store in the retired " +
        "`_b=` layout (no id sidecar): rebuild it")

  /** The whole `data/` table of a persisted vector store, opened with
    * no Spark job (see [[requireKbLayout]] for old layouts). */
  private[operators] def storeRows(spark: SparkSession,
                                   path: String): DataFrame = {
    requireKbLayout(spark, path)
    IndexStore.readStore(spark, path + "/data", "_kb")
  }

  /** The stored rows of the probed `buckets`, partition-pruned, with
    * `_id` as `n_id` and `_kb` as `bucket`. */
  private[operators] def probedRows(spark: SparkSession, path: String,
                                    buckets: Seq[Int]): DataFrame = {
    val df = IndexStore.readBuckets(spark, path + "/data", "_kb", buckets)
      .filter(col("_kb").isin(buckets: _*))
    df.select(df.columns.toSeq.map {
      case "_id" => col("_id").as("n_id")
      case "_kb" => col("_kb").as("bucket")
      case c => col(c)
    }: _*)
  }

  /** The flat tiers' router: `_kb` = the id-hash bucket of `_id`. */
  private[operators] def idRouted(rows: DataFrame, idBuckets: Int): DataFrame =
    rows.withColumn("_kb", IndexStore.idBucket(col("_id"), idBuckets))

  /** The probe side of a bucketed serve, from query rows carrying a
    * per-query `probe` array of bucket ids: one row per distinct query
    * row and probed bucket (`probe` exploded to `bucket`), and the
    * distinct probed buckets. The query rows are collected with their
    * probe arrays, deduplicated and exploded ON THE DRIVER, and come
    * back as a local frame: at most |queries| × probes rows, the rows a
    * broadcast of the exploded side would ship anyway. A duplicated
    * query row therefore probes once (its neighbours are not
    * duplicated), the serve plan holds no shuffle on the query side
    * and no dynamic-pruning subquery, and a local query frame costs no
    * job at all (the optimizer folds the projection at plan time). */
  private[operators] def probes(qp: DataFrame): (DataFrame, Seq[Int]) = {
    val keep = qp.schema.fields.toSeq.filter(_.name != "probe")
    val elem = qp.schema("probe").dataType.asInstanceOf[ArrayType].elementType
    val rows = qp.select((keep.map(_.name) :+ "probe").map(col): _*)
      .collect().toSeq.distinct
      .filterNot(_.isNullAt(keep.size))
      .flatMap { r =>
        val q = r.toSeq.take(keep.size)
        r.getSeq[Any](keep.size).filter(_ != null).distinct
          .map(b => Row.fromSeq(q :+ b))
      }
    (qp.sparkSession.createDataFrame(rows.asJava,
        StructType(keep :+ StructField("bucket", elem, nullable = false))),
      rows.map(_.getAs[Number](keep.size).intValue).distinct.sorted)
  }

  /** A centroid table `(cid int, cvec array<double>)` — the stored
    * coarse quantizer of the IVF-family tiers. */
  private[operators] def centroidTable(spark: SparkSession,
                                       cents: Seq[(Int, Array[Double])])
      : DataFrame = {
    import spark.implicits._
    cents.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cvec")
  }

  // ----------------------------------------- SQ8 scalar quantization

  /** SQ8 training — the compression tier between raw floats and PQ
    * (FAISS's `SQ8`): per-DIMENSION global `[min, max]` from one
    * aggregation over the corpus. Returns ONE row
    * `(mins array<double>, maxs array<double>)` — the whole model is
    * `2·dims` doubles, broadcast everywhere. */
  def sq8Train(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(asDouble(col("embedding"))).as(Seq("_d", "_x")))
      .groupBy(col("_d"))
      .agg(min(col("_x")).as("_mn"), max(col("_x")).as("_mx"))
      .agg(sort_array(collect_list(struct(col("_d"), col("_mn"))))
          .as("_a"),
        sort_array(collect_list(struct(col("_d"), col("_mx"))))
          .as("_b"))
      .select(transform(col("_a"), s => s.getField("_mn")).as("mins"),
        transform(col("_b"), s => s.getField("_mx")).as("maxs"))

  /** Encode every vector to 8-bit levels under an [[sq8Train]] model:
    * `code_d = floor((x−min_d)·255/(max_d−min_d))` clamped to
    * [0, 255] (degenerate constant dimensions encode 0). 4× smaller
    * than float32 at far higher recall than PQ — the tier to hold a
    * 100 TB embedding corpus hot. Map-only: one broadcast of the
    * one-row model, codegen'd array transform, no shuffle. */
  def sq8Codes(corpus: DataFrame, model: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(model))
      .select(col("vec_id"), sq8CodesExpr(asDouble(col("embedding")),
        col("mins"), col("maxs")).as("codes"))

  /** The SQ8 encode expression over a double-array column under the
    * per-dimension `mn`/`mx` arrays (a model's columns, or the literals
    * of a stored model, [[sq8Stored]]). Shared by the flat tier, the
    * IVF tier and query-side encoding so every path produces identical
    * codes. */
  private def sq8CodesExpr(v: Column, mn: Column, mx: Column): Column =
    transform(
      arrays_zip(v.as("x"), mn.as("mn"), mx.as("mx")),
      s => when(s.getField("mx") === s.getField("mn"), lit(0))
        .otherwise(least(greatest(
          floor((s.getField("x") - s.getField("mn")) * lit(255.0) /
            (s.getField("mx") - s.getField("mn"))).cast("int"),
          lit(0)), lit(255))))

  /** SQ8 top-k — approximate nearest neighbors scored ENTIRELY in
    * integer space: squared L2 in level units,
    * `d2 = Σ_d (cq_d − cn_d)²` (exact, engine-portable — no float
    * addition-order nondeterminism), ranked ascending with id
    * tie-break through the bounded [[graft.functions.TopKPairs]]
    * partial aggregate (shuffle carries partitions×k rows per query,
    * never the corpus). Queries are encoded under the SAME corpus
    * model — the ADC convention. Returns
    * `(q_id, rank, n_id, d2)`; rerank the shortlist against raw
    * floats ([[cascadeTopK]]) when exact cosine order matters.
    *
    * `model` pins a FROZEN (pre-trained / stored) model; left None
    * the call trains on `corpus` — an exploratory scan shape. SERVING
    * traffic belongs on [[sq8TopKIndexed]]: a per-call retrain is a
    * full-corpus aggregation plus a full re-encode every query batch,
    * and codes move whenever the corpus extremes do. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              model: Option[DataFrame] = None): DataFrame = {
    val m = model.getOrElse(sq8Train(corpus))
    val n = sq8Codes(corpus, m)
      .select(col("vec_id").as("n_id"), col("codes").as("n_c"))
    val q = sq8Codes(queries, m)
      .select(col("vec_id").as("q_id"), col("codes").as("q_c"))
    rankSq8(n, q, k)
  }

  /** Exact integer squared-L2 between the `q_c`/`n_c` code columns. */
  private def sq8D2: Column = aggregate(
    zip_with(col("q_c"), col("n_c"),
      (a, b) => ((a - b) * (a - b)).cast("long")),
    lit(0L), (acc, x) => acc + x)

  /** Rank `(q_id, n_id, _d)` pairs by the integer distance `_d`
    * ascending with id tie-break through the bounded
    * [[graft.functions.TopKPairs]] partial aggregate → `(q_id, rank,
    * n_id, <dist>)` — the shared rank tail of every SQ8 and binary
    * serve path. */
  private def rankAsc(scored: DataFrame, k: Int, dist: String): DataFrame = {
    val agg = udaf(new graft.functions.TopKPairs(k))
    scored
      .groupBy(col("q_id"))
      .agg(agg(-col("_d").cast("double"), col("n_id")).as("_top"))
      .select(col("q_id"), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col("q_id"), (col("_i") + 1).cast("long").as("rank"),
        col("_t._2").as("n_id"), (-col("_t._1")).cast("long").as(dist))
  }

  /** Integer-L2-rank a query code set against a corpus code set (both
    * in the `(id, codes array<int>)` shape) — the shared scorer of
    * [[sq8TopK]] and [[sq8TopKIndexed]], so the scan path and the
    * index path cannot drift. */
  private def rankSq8(n: DataFrame, q: DataFrame, k: Int): DataFrame =
    rankAsc(n.join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), sq8D2.as("_d")), k, "d2")

  /** Persist the SQ8 tier on the shared vector store
    * ([[buildVecStore]]): the `[min, max]` model FROZEN at build time
    * (`model/` — one row, the PQ frozen-codebook discipline,
    * Pq.buildPqIndex) plus one code row `(_id, codes)` per vector
    * under `data/_kb=<id-hash bucket>` (flat PQ's router,
    * [[idRouted]]) with the by-id sidecar `ids/_ib=`. Codes are
    * computed ONCE under the stored model; serving
    * ([[sq8TopKIndexed]]) scans stored 8-bit codes only and never
    * re-reads the embedding column — the point of SQ8 at 100 TB (the
    * hot scan is a quarter of the float corpus), and codes stay STABLE
    * across deltas because the model never moves. */
  def buildSq8Index(corpus: DataFrame, path: String, idBuckets: Int = 16,
                    seq: Long = 0L): Unit =
    buildVecStore(corpus, path, idBuckets, seq,
      Seq("model" -> sq8Train(corpus)))(sq8Rows(corpus.sparkSession, path))

  /** `(_id, codes, _kb)` rows of a corpus batch under the stored model,
    * routed by id hash. */
  private def sq8Rows(spark: SparkSession, path: String)
                     (corpus: DataFrame, idBuckets: Int): DataFrame = {
    val (mn, mx) = sq8Stored(spark, path)
    idRouted(corpus.select(col("vec_id").as("_id"),
      sq8CodesExpr(asDouble(col("embedding")), mn, mx).as("codes")),
      idBuckets)
  }

  /** The stored (frozen) `[min, max]` model of a [[buildSq8Index]]
    * store — one row, `(mins array<double>, maxs array<double>)`, read
    * on the driver (no Spark job). */
  def sq8Model(spark: SparkSession, path: String): DataFrame = {
    val rows = IndexStore.readSmall(spark, path + "/model", 1)
    spark.createDataFrame(rows.asJava, rows.head.schema)
  }

  /** The stored model's `mins`/`maxs` as literal columns. */
  private def sq8Stored(spark: SparkSession, path: String): (Column, Column) = {
    val m = IndexStore.readSmall(spark, path + "/model", 1).head
    (lit(m.getSeq[Double](0).toArray), lit(m.getSeq[Double](1).toArray))
  }

  /** Incremental maintenance of a [[buildSq8Index]] index through the
    * shared [[upsertVecStore]]: changed vectors re-encode under the
    * STORED model (never retrained — the q120 frozen-codebook
    * discipline), `deletedIds` retire, and ONLY the id-hash buckets
    * holding touched ids are rewritten — O(changed buckets) whatever
    * the corpus size. Returns the rewritten bucket ids. */
  def upsertSq8Vectors(spark: SparkSession, path: String,
                       changed: DataFrame, deletedIds: Seq[Any] = Nil,
                       newSeq: Long = -1L): Seq[Int] =
    upsertSq8Vectors(spark, path, vecDelta(changed, deletedIds), newSeq)

  private[graft] def upsertSq8Vectors(spark: SparkSession, path: String,
                                      d: Delta, newSeq: Long): Seq[Int] =
    upsertVecStore(spark, path, d, newSeq)(sq8Rows(spark, path))

  /** [[sq8TopK]] served from a [[buildSq8Index]] store: the corpus
    * side is the stored 8-bit codes (no embedding read, no retrain,
    * no re-encode); queries encode on the fly under the STORED
    * model. Same [[rankSq8]] scorer as the scan path. */
  def sq8TopKIndexed(spark: SparkSession, path: String,
                     queries: DataFrame, k: Int): DataFrame =
    sq8Indexed(spark, path, queries, k, identity)

  /** [[sq8TopKIndexed]] over the stored code rows `keep` retains. */
  private def sq8Indexed(spark: SparkSession, path: String,
                         queries: DataFrame, k: Int,
                         keep: DataFrame => DataFrame): DataFrame = {
    val (mn, mx) = sq8Stored(spark, path)
    rankSq8(keep(storeRows(spark, path)
        .select(col("_id").as("n_id"), col("codes").as("n_c"))),
      queries.select(col("vec_id").as("q_id"),
        sq8CodesExpr(asDouble(col("embedding")), mn, mx).as("q_c")), k)
  }

  // --------------------------------------- IVF-pruned SQ8 (sublinear serve)

  /** IVF-pruned SQ8 — FAISS's `IVF<n>,SQ8`: the SUBLINEAR serving path
    * for the 8-bit tier. [[buildSq8Index]]'s flat code scan is the
    * simple tier (full compressed scan by design); here every vector
    * lands in the inverted list of its nearest FROZEN coarse centroid
    * (one `data/_kb=<cid>` directory per list), codes under the FROZEN
    * `[min, max]` model, and a query integer-scores ONLY its `nProbe`
    * probed lists — the code read is partition-pruned to the probed
    * `_kb` directories, so serve cost tracks probed-list size, not the
    * corpus. Layout: `centroids/` + `model/` (both frozen) +
    * `data/_kb=` + the ids sidecar/meta — the shared vector store
    * ([[buildVecStore]]) with SQ8 codes in place of PQ codes. */
  def buildIvfSq8Index(corpus: DataFrame, path: String,
                       nCentroids: Int = 16, idBuckets: Int = 16,
                       seq: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    buildVecStore(corpus, path, idBuckets, seq,
      Seq("centroids" -> centroidTable(spark, initCentroids(corpus, nCentroids)),
        "model" -> sq8Train(corpus)))(ivfSq8Rows(spark, path))
  }

  /** Code rows with their inverted-list assignment under the stored
    * quantizers: `(_id, codes, _kb = nearest stored centroid)` — the
    * encode and the assignment are projections over ONE scan. */
  private def ivfSq8Rows(spark: SparkSession, path: String)
                        (corpus: DataFrame, idBuckets: Int): DataFrame = {
    val cents = readCentroids(spark, path)
    val (mn, mx) = sq8Stored(spark, path)
    withVecNorm(corpus).select(col("vec_id").as("_id"),
        sq8CodesExpr(col("_v"), mn, mx).as("codes"),
        nearestCidCol(col("_v"), col("_nrm"), cents).as("_kb"))
  }

  /** Incremental maintenance against the FROZEN quantizers: changed
    * vectors re-assign (stored centroids) and re-encode (stored
    * model), merged bucket-locally via the by-id sidecar; `deletedIds`
    * retire codes. O(changed buckets). */
  def upsertIvfSq8Vectors(spark: SparkSession, path: String,
                          changed: DataFrame, deletedIds: Seq[Any] = Nil,
                          newSeq: Long = -1L): Seq[Int] =
    upsertIvfSq8Vectors(spark, path, vecDelta(changed, deletedIds), newSeq)

  private[graft] def upsertIvfSq8Vectors(spark: SparkSession, path: String,
                                         d: Delta, newSeq: Long): Seq[Int] =
    upsertVecStore(spark, path, d, newSeq)(ivfSq8Rows(spark, path))

  /** Catch an [[IndexStore]]-layout ANN store (IVF-SQ8 and every
    * other `_kb`-listed, by-id-sidecar tier maintained through
    * [[IndexStore.merge]]) up to its document store's `purge_seq` —
    * the ANN leg of purge propagation: an erased doc's embedding must
    * stop being served as a neighbor. Fully-purged ids retire via a
    * delete-only bucket-local merge
    * ([[graft.view.IndexStore.purgeIndex]]); still-alive ids (a
    * conflict branch was purged) keep their vectors — an embedding is
    * keyed by doc id, not revision, so surviving docs' vectors are
    * unchanged (re-encode through the usual upsert if the pipeline
    * recomputes them). `update_seq` is preserved; the store purge_seq
    * stamps so re-runs are no-ops. Cost: O(purged ids' buckets). */
  def catchUpAnnPurges(spark: SparkSession, path: String,
                       storePath: String): Long = {
    val meta = IndexStore.readMeta(spark, path)
    val p = Replication.pendingPurges(spark, storePath, meta.purgeSeq)
    if (p.purgeSeq <= meta.purgeSeq) return meta.purgeSeq
    val (sortCols, finish) = tierLayout(spark, path)
    IndexStore.purgeIndex(spark, path, p.goneIds, None, p.purgeSeq,
      dataSortCols = ("_kb" +: sortCols).map(col), finish = finish)
    p.purgeSeq
  }

  /** The within-bucket sort and the bucket-local `finish` that every
    * rewrite of the vector store at `path` keeps, read off its stored
    * layout: an LSH store (a `_sig` column) sorts by `(_sig, _id)` so
    * its pushed `_sig IN` filter keeps pruning row groups; a SemDeDup
    * store (a `keep` column and `params/`) re-pairs the verdicts of
    * the rewritten clusters under its stored tau; every other tier
    * sorts by `_id`. */
  private def tierLayout(spark: SparkSession, path: String)
      : (Seq[String], DataFrame => DataFrame) = {
    val cols = storeRows(spark, path).columns.toSet
    if (cols("_sig")) (LshSort, identity)
    else if (cols("keep") &&
        IndexStore.fsFor(spark, path).exists(new Path(path, "params"))) {
      val tau = semDedupTau(spark, path)
      (Seq("_id"), keepVerdicts(_, tau))
    } else (Seq("_id"), identity)
  }

  /** Serve IVF-SQ8 top-k: each query probes its `nProbe` nearest
    * inverted lists (the shared [[probes]] side — the probed-list
    * union is bounded driver metadata), integer-scores ONLY the codes
    * in its probed `_kb` directories (hash join on the list id), and
    * ranks through the shared SQ8 rank tail. Returns
    * `(q_id, rank, n_id, d2)`; compose [[cascadeTopK]]-style float
    * reranking over the shortlist when exact cosine order matters. */
  def ivfSq8TopK(spark: SparkSession, path: String, queries: DataFrame,
                 k: Int, nProbe: Int = 4): DataFrame = {
    val (mn, mx) = sq8Stored(spark, path)
    val (q, buckets) = probes(
      ivfQueries(readCentroids(spark, path), queries, nProbe)
        .select(col("q_id"), sq8CodesExpr(col("q_vec"), mn, mx).as("q_c"),
          col("probe")))
    rankAsc(probedRows(spark, path, buckets).withColumnRenamed("codes", "n_c")
      .join(broadcast(q), Seq("bucket")).filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), sq8D2.as("_d")), k, "d2")
  }

  // ------------------------------------------- binary (1-bit) quantization

  /** Binary quantization — the most aggressive compression tier
    * (1 bit/dimension, 32× smaller than float32): every vector
    * becomes sign bits packed into 64-bit words,
    * `bit d set ⇔ v_d > 0`. Word count = ⌈dims/64⌉. Map-only codegen
    * (the SimHash bit-pack pattern); the code for a 64-dim embedding
    * is ONE long. */
  def binaryCodes(corpus: DataFrame, dims: Int = 64): DataFrame = {
    require(dims >= 1 && dims <= 4096, "dims must be in [1, 4096]")
    val words = (dims + 63) / 64
    val v = asDouble(col("embedding"))
    val wordCols = (0 until words).map { w =>
      val lo = w * 64
      val bits = (lo until math.min(lo + 64, dims)).map { d =>
        val bit = d - lo
        // element_at is 1-based; the sign bit contributes 2^bit
        when(element_at(v, d + 1) > lit(0.0),
          lit(if (bit == 63) Long.MinValue else 1L << bit))
          .otherwise(lit(0L))
      }
      bits.reduceLeft((a, b) => a.bitwiseOR(b)).as(s"w$w")
    }
    corpus.select(col("vec_id") +: wordCols: _*)
  }

  /** Binary-quantized top-k — HAMMING distance over the packed sign
    * bits: `d = Σ_w bit_count(qw ⊕ nw)`, exact integer arithmetic
    * (engine-portable), ranked ascending with id tie-break through
    * the bounded [[graft.functions.TopKPairs]] partial aggregate. The
    * standard serving shape is binary shortlist → [[sq8TopK]] or raw
    * float rerank; at 32× compression a 100 TB embedding corpus scans
    * as ~3 TB of longs with the distance inside whole-stage codegen.
    * Returns `(q_id, rank, n_id, hamming)`. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 dims: Int = 64): DataFrame = {
    val words = (dims + 63) / 64
    rankHamming(codeSide(binaryCodes(corpus, dims), "vec_id", "n", words),
      codeSide(binaryCodes(queries, dims), "vec_id", "q", words), k, words)
  }

  /** Binary code rows as one side of [[rankHamming]]: `id` as
    * `<p>_id`, words `w0..wN` as `<p>0..<p>N`. */
  private def codeSide(codes: DataFrame, id: String, p: String,
                       words: Int): DataFrame =
    codes.select(col(id).as(s"${p}_id") +:
      (0 until words).map(w => col(s"w$w").as(s"$p$w")): _*)

  /** Hamming-rank a query code set against a corpus code set (both in
    * the `w0..wN` packed-word shape) — the shared scorer of
    * [[binaryTopK]] and [[binaryTopKIndexed]], so the scan path and
    * the index path cannot drift. */
  private def rankHamming(n: DataFrame, q: DataFrame, k: Int,
                          words: Int): DataFrame = {
    val ham = (0 until words)
      .map(w => bit_count(col(s"q$w").bitwiseXOR(col(s"n$w"))))
      .reduceLeft(_ + _).cast("long")
    rankAsc(n.join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), ham.as("_d")), k, "hamming")
  }

  /** Persist the binary-code tier on the shared vector store
    * ([[buildVecStore]]): one row `(_id, w0..wN)` per vector under
    * `data/_kb=<id-hash bucket>` (flat PQ's router, [[idRouted]]) with
    * the by-id sidecar `ids/_ib=`. Codes are computed ONCE at build;
    * serving ([[binaryTopKIndexed]]) scans stored longs only — at 1
    * bit/dimension the full scan IS the design (a 100 TB float corpus
    * is ~3 TB of codes), and the embedding column is never re-read.
    * The word count is recoverable from the stored schema; no extra
    * metadata. */
  def buildBinaryIndex(corpus: DataFrame, path: String, dims: Int = 64,
                       idBuckets: Int = 16, seq: Long = 0L): Unit =
    buildVecStore(corpus, path, idBuckets, seq)(binaryRows(dims))

  private def binaryRows(dims: Int)(corpus: DataFrame,
                                    idBuckets: Int): DataFrame =
    idRouted(binaryCodes(corpus, dims).withColumnRenamed("vec_id", "_id"),
      idBuckets)

  /** Incremental maintenance of a [[buildBinaryIndex]] index through
    * the shared [[upsertVecStore]]: changed vectors re-encode,
    * `deletedIds` retire, and ONLY the id-hash buckets holding touched
    * ids are rewritten — O(changed buckets) whatever the corpus size.
    * Returns the rewritten bucket ids. */
  def upsertBinaryVectors(spark: SparkSession, path: String,
                          changed: DataFrame, deletedIds: Seq[Any] = Nil,
                          dims: Int = 64, newSeq: Long = -1L): Seq[Int] =
    upsertBinaryVectors(spark, path, vecDelta(changed, deletedIds), dims,
      newSeq)

  private[graft] def upsertBinaryVectors(spark: SparkSession, path: String,
                                         d: Delta, dims: Int,
                                         newSeq: Long): Seq[Int] =
    upsertVecStore(spark, path, d, newSeq)(binaryRows(dims))

  /** [[binaryTopK]] served from a [[buildBinaryIndex]] store: the
    * corpus side is the stored code words (longs only — no embedding
    * read, no re-encoding); queries encode on the fly. Same
    * [[rankHamming]] scorer as the scan path. */
  def binaryTopKIndexed(spark: SparkSession, path: String,
                        queries: DataFrame, k: Int,
                        dims: Int = 64): DataFrame =
    binaryIndexed(spark, path, queries, k, dims, identity)

  /** [[binaryTopKIndexed]] over the stored code rows `keep` retains. */
  private def binaryIndexed(spark: SparkSession, path: String,
                            queries: DataFrame, k: Int, dims: Int,
                            keep: DataFrame => DataFrame): DataFrame = {
    val words = (dims + 63) / 64
    rankHamming(keep(codeSide(storeRows(spark, path), "_id", "n", words)),
      codeSide(binaryCodes(queries, dims), "vec_id", "q", words), k, words)
  }

  // --------------------------------------------- shortlist-rerank cascade

  /** Shortlist-rerank CASCADE — the quantized serving shape composed
    * as ONE operator: a cheap integer-space shortlist of `shortlist`
    * candidates per query (binary hamming by default; `tier = "sq8"`
    * for the 8-bit middle tier, optionally under a frozen `sq8ModelDf`),
    * then an EXACT cosine rerank of ONLY those candidates, top-k out.
    * Output is schema- and value-identical to [[bruteForceTopK]]
    * (`q_id, rank, n_id, cos` — same scorer, same round, same id
    * tie-break) whenever the shortlist covers the true top-k; the
    * spec pins exact equality at a generous shortlist and a recall
    * floor at a tight one.
    *
    * Scale shape: the float corpus is read ONLY for the |queries|·k'
    * shortlisted rows — the candidate set broadcasts into a hash join
    * against the corpus, so a 100 TB rerank reads gigabytes, not the
    * corpus; the full scan happens once, over 1-bit (or 8-bit) codes
    * inside whole-stage codegen. */
  def cascadeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  shortlist: Int, dims: Int = 64,
                  tier: String = "binary",
                  sq8ModelDf: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cand = (tier match {
      case "binary" => binaryTopK(corpus, queries, shortlist, dims)
      case "sq8"    => sq8TopK(corpus, queries, shortlist, sq8ModelDf)
      case t => throw new IllegalArgumentException(
        s"unknown cascade tier: $t (binary|sq8)")
    }).select(col("q_id"), col("n_id"))
    rerankExact(corpus, queries, cand, k)
  }

  /** The cascade's exact-cosine rerank tail: score ONLY the `(q_id,
    * n_id)` candidate pairs against the raw float corpus (broadcast
    * candidate hash join — the float read is |candidates| rows) and
    * rank through [[rankTopK]], so the output is schema-, rounding-
    * and tie-break-identical to [[bruteForceTopK]]. */
  private def rerankExact(corpus: DataFrame, queries: DataFrame,
                          cand: DataFrame, k: Int): DataFrame = {
    val (c, q) = (vecRows(corpus, "n"), vecRows(queries, "q"))
    rankTopK(
      broadcast(cand).join(c, Seq("n_id")).join(broadcast(q), Seq("q_id"))
        .withColumn("cos", qnCos),
      k)
  }

  /** [[cascadeTopK]] served from a PERSISTED quantized tier: the
    * shortlist comes from STORED codes ([[sq8TopKIndexed]] /
    * [[binaryTopKIndexed]] / [[ivfSq8TopK]] with `tier = "ivfsq8"`,
    * and the 32×-compressed PQ tiers — [[graft.operators.Pq
    * .pqShortlistIndexed]] / [[graft.operators.Pq
    * .ivfPqShortlistIndexed]] for `"pq"` / `"ivfpq"` — no
    * re-encoding, no model retrain, and for the IVF tiers only the
    * probed lists are even read), then the exact-cosine rerank reads
    * the float corpus ONLY for the |q|·k' shortlisted rows. This is
    * the full 100 TB serving composition over EVERY stored tier:
    * quantized store scan/probe → tiny float read → exact order. */
  def cascadeTopKIndexed(spark: SparkSession, path: String,
                         corpus: DataFrame, queries: DataFrame, k: Int,
                         shortlist: Int, tier: String = "sq8",
                         dims: Int = 64, nProbe: Int = 4): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cand = (tier match {
      case "binary" => binaryTopKIndexed(spark, path, queries, shortlist,
        dims)
      case "sq8"    => sq8TopKIndexed(spark, path, queries, shortlist)
      case "ivfsq8" => ivfSq8TopK(spark, path, queries, shortlist, nProbe)
      case "pq"     => Pq.pqShortlistIndexed(spark, path, queries,
        shortlist)
      case "ivfpq"  => Pq.ivfPqShortlistIndexed(spark, path, queries,
        shortlist, nProbe)
      case "ivfpqr" => Pq.ivfPqResidualShortlistIndexed(spark, path,
        queries, shortlist, nProbe)
      case t => throw new IllegalArgumentException(
        s"unknown cascade tier: $t (binary|sq8|ivfsq8|pq|ivfpq|ivfpqr)")
    }).select(col("q_id"), col("n_id"))
    rerankExact(corpus, queries, cand, k)
  }

  /** Attribute-FILTERED cascade over a persisted quantized tier —
    * "top-k among the docs WHERE ..." (filtered ANN, the serving
    * composition behind every faceted vector search): the `allowed`
    * id set (one column, loud otherwise — the searchWhere contract)
    * restricts the STORED-code scan BEFORE the shortlist ranking (a
    * post-rank filter would under-return: k' shortlisted rows might
    * all be disallowed), so the shortlist is the top-k' OF THE
    * FILTERED SET; the exact rerank then reads floats for |q|·k'
    * allowed rows only. The tier serve runs with the semi join on its
    * stored codes — broadcast when the filter is small, shuffle
    * otherwise (AQE decides); supported tiers are the flat code scans
    * (`sq8` / `binary` — an IVF tier's probe set is computed from the
    * UNfiltered corpus geometry and can starve under a selective
    * filter, so it is rejected loudly rather than served with silent
    * recall loss). */
  def cascadeTopKIndexedWhere(spark: SparkSession, path: String,
                              corpus: DataFrame, queries: DataFrame,
                              k: Int, shortlist: Int, allowed: DataFrame,
                              tier: String = "sq8",
                              dims: Int = 64): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    require(allowed.columns.length == 1,
      s"allowed must be a single vec-id column; got " +
        s"[${allowed.columns.mkString(", ")}] — select the id column " +
        "explicitly")
    val ok = allowed.toDF("n_id")
    def keep(stored: DataFrame) = stored.join(ok, Seq("n_id"), "left_semi")
    val cand = (tier match {
      case "sq8" => sq8Indexed(spark, path, queries, shortlist, keep)
      case "binary" =>
        binaryIndexed(spark, path, queries, shortlist, dims, keep)
      case t => throw new IllegalArgumentException(
        s"filtered cascade serves the flat tiers only (sq8|binary), " +
          s"got: $t")
    }).select(col("q_id"), col("n_id"))
    rerankExact(corpus, queries, cand, k)
  }

  /** TOPIC-BALANCED SAMPLING — the cluster-proportional downsample a
    * pretraining pipeline runs to shrink a corpus WITHOUT skewing its
    * topical mix (the cluster-aware selection discipline SemDeDup's
    * clustering enables; cf. Abbas et al. 2023): every vector assigns
    * to its nearest FROZEN centroid (the deterministic lowest-id IVF
    * init — engine-replayable), then every cluster keeps EXACTLY
    * `floor(count·num/den)` rows chosen by the portable md5-of-id
    * order ([[graft.operators.Relational.stratifiedSampleExact]] —
    * ONE two-phase range-partitioned global rank, never a
    * per-cluster single-partition window). The realized sample holds
    * each topic's share to ±1 row, where Bernoulli sampling would
    * wobble exactly the small topics balance exists to protect.
    * Returns `(vec_id, cluster_id)` for the kept rows. */
  def clusterBalancedSample(emb: DataFrame, num: Int, den: Int,
                            nCentroids: Int = 16): DataFrame = {
    val cents = initCentroids(emb, nCentroids)
    val assigned = withVecNorm(emb).select(col("vec_id"),
        nearestCidCol(col("_v"), col("_nrm"), cents).as("cluster_id"))
    Relational.stratifiedSampleExact(assigned, col("cluster_id"),
      col("vec_id"), num, den)
  }

  /** Measurement-only seam for [[graft.ProbeOne]]: the bare IVF
    * corpus-assignment projection over the default 16-centroid
    * quantizer, so the literal vs broadcast assignment tiers can be
    * A/B-timed in isolation. Never part of a gate. */
  private[graft] def clusterAssignProbe(emb: DataFrame): DataFrame = {
    val cents = initCentroids(emb, 16)
    withVecNorm(emb).select(col("vec_id"),
        nearestCidCol(col("_v"), col("_nrm"), cents).as("cid"))
  }

  /** Exact near-duplicate pairs within a blocking key (e.g. a cluster
    * label or an LSH bucket): pairwise only inside blocks, never a full
    * cross product. */
  def blockedNearDupPairs(emb: DataFrame, block: Column, threshold: Double)
      : DataFrame = {
    val e = emb.select(block.as("blk"), col("vec_id"),
      asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = e.select(col("blk"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("blk"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round4(
        dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Deterministic seeded hyperplane matrix (driver-side constants,
    * broadcast as literals into the plan): plane p is a fixed
    * pseudo-random vector in [-0.5, 0.5)^dims. Exposed so the oracle
    * SQL can embed the same literal planes. */
  private[graft] def planeMatrix(planes: Int, dims: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(0x5eed)
    Array.fill(planes, dims)(rnd.nextDouble() - 0.5)
  }

  /** Random-hyperplane LSH signature: `planes` sign bits, each a native
    * codegen dot product against a literal plane vector. */
  def lshSignature(vec: Column, planes: Int, dims: Int = 64): Column = {
    val m = planeMatrix(planes, dims)
    val v = asDouble(vec)
    val bits = (0 until planes).map { p =>
      val proj = Bridge.column(DotProduct(
        Bridge.expression(v), Bridge.expression(lit(m(p)))))
      when(proj > 0, lit(1L)).otherwise(lit(0L)) * (1L << p)
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed approximate nearest neighbors with multi-probe: the
    * query probes its own bucket plus every bucket at hamming distance 1
    * (signature with one plane bit flipped) — the standard recall fix
    * without growing the corpus index. Candidate count ~
    * n·(planes+1)/2^planes per query instead of n. Approximate —
    * spec-gated against the brute-force baseline. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"),
      asDouble(col("embedding")).as("n_vec"),
      lshSignature(col("embedding"), planes).as("bucket"))
      .withColumn("n_nrm", sqrt(dot(col("n_vec"), col("n_vec"))))
    // distinct: a duplicated query row probes once (as [[probes]])
    val q = lshQueries(queries, planes)
    rankWithinBuckets(c, q.select(col("q_id"), col("q_vec"), col("q_nrm"),
      explode(col("probe")).as("bucket")).distinct(), k)
  }

  /** (q_id, q_vec, q_nrm, probe) query rows: `probe` holds each query's
    * own signature bucket plus every 1-bit-flipped bucket
    * (multi-probe). */
  private def lshQueries(queries: DataFrame, planes: Int): DataFrame = {
    val probe = (0 until planes).foldLeft(array(col("_sig"))) {
      (acc, p) => array_append(acc, col("_sig").bitwiseXOR(lit(1L << p)))
    }
    queries.select(col("vec_id").as("q_id"),
      asDouble(col("embedding")).as("q_vec"),
      lshSignature(col("embedding"), planes).as("_sig"))
      .withColumn("q_nrm", sqrt(dot(col("q_vec"), col("q_vec"))))
      .select(col("q_id"), col("q_vec"), col("q_nrm"), probe.as("probe"))
  }

  /** Bucket-join the distinct `(query, bucket)` probe rows `q` with
    * the stored rows `c` of the probed buckets and exact-cosine rank
    * via the bounded top-k aggregate. A stored vector lies in exactly
    * one bucket, so each (query, candidate) pair is joined once: no
    * distinct over the joined vector arrays, no array-keyed exchange.
    * The at most k × |queries| ranked rows merge into ONE partition,
    * sorted by `(q_id, rank)`: a caller's `orderBy("rank")` then sorts
    * locally with no range exchange (no sampling job, no sort job).
    * Whole-corpus rankings ([[knnGraph]]) keep [[rankTopK]]'s
    * hash-partitioned output. */
  private def rankWithinBuckets(c: DataFrame, q: DataFrame,
                                k: Int): DataFrame =
    rankTopK(
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("q_vec"), col("q_nrm"), col("n_id"),
          col("n_vec"), col("n_nrm"))
        .withColumn("cos", qnCos),
      k).coalesce(1).sortWithinPartitions(col("q_id"), col("rank"))

  /** Directory-group count of the persisted LSH layout: the 2^planes
    * signatures are stored as a SORTED `_sig` column inside
    * `SigGroups` partition directories (`_kb = _sig mod SigGroups`)
    * instead of one directory per signature. A constant granularity
    * factor, not a host tune: it bounds the per-build/per-upsert
    * directory count (the write-commit + swap-rename cost is per
    * DIRECTORY, and 2^planes dirs of near-empty files made every
    * maintenance batch pay 256 renames) while serve-side pruning
    * keeps both levels — directory pruning on `_kb`, then the pushed
    * `_sig IN (...)` probe filter prunes row groups within a file
    * because files are sorted by `_sig`. */
  private[operators] val SigGroups = 32

  /** Signature rows of a corpus batch in the persisted-index shape:
    * `(_id, n_vec, _sig, _kb, n_nrm)` where `_sig` is the signature
    * and `_kb` its directory group. */
  private def lshRows(corpus: DataFrame, planes: Int): DataFrame =
    corpus.select(col("vec_id").as("_id"),
      asDouble(col("embedding")).as("n_vec"),
      lshSignature(col("embedding"), planes).cast("int").as("_sig"))
      .withColumn("_kb", pmod(col("_sig"), lit(SigGroups)).cast("int"))
      .withColumn("n_nrm", sqrt(dot(col("n_vec"), col("n_vec"))))

  /** Persist the corpus LSH signature index on the shared vector store
    * ([[buildVecStore]]): `(_id, n_vec, _sig, n_nrm)` rows under their
    * signature-group directory, sorted by `_sig`, plus the by-id
    * sidecar for incremental maintenance ([[upsertLshVectors]]). The
    * 100 TB posture: signatures and norms are computed ONCE at build
    * time and amortized over every query — [[lshTopKIndexed]] reads
    * only the probed bucket directories instead of recomputing
    * signatures corpus-wide per query (the gap flagged in round 1). */
  def buildLshIndex(corpus: DataFrame, path: String,
                    planes: Int = 8, idBuckets: Int = 16,
                    seq: Long = 0L): Unit =
    buildVecStore(corpus, path, idBuckets, seq, sortCols = LshSort)(
      (c, _) => lshRows(c, planes))

  private val LshSort = Seq("_sig", "_id")

  /** Incremental maintenance of a [[buildLshIndex]] index — the same
    * by-id-sidecar merge as view indexes: changed vectors are re-signed
    * and ONLY the buckets holding their old or new rows are rewritten
    * (a re-embedded vector moves buckets; the sidecar finds the old
    * one). `deletedIds` retire vectors. O(changed buckets), never a
    * rebuild — embedding corpora get the same incremental story as
    * views. Returns the affected bucket ids. */
  def upsertLshVectors(spark: SparkSession, path: String,
                       changed: DataFrame, deletedIds: Seq[Any] = Nil,
                       planes: Int = 8, newSeq: Long = -1L): Seq[Int] =
    upsertLshVectors(spark, path, vecDelta(changed, deletedIds), planes,
      newSeq)

  private[graft] def upsertLshVectors(spark: SparkSession, path: String,
                                      d: Delta, planes: Int,
                                      newSeq: Long): Seq[Int] =
    upsertVecStore(spark, path, d, newSeq, LshSort)(
      (c, _) => lshRows(c, planes))

  /** ANN against a persisted [[buildLshIndex]] index. The probe
    * signatures (each query's own plus its 1-bit flips) are collected
    * driver-side by the shared [[probes]] side — O(|queries| ×
    * (planes+1)) ints for an interactive query set — and pushed as
    * literal partition filters, so the scan touches only the probed
    * bucket directories (partition pruning visible in the plan).
    * Results are identical to [[lshTopK]] over the same corpus. */
  def lshTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, planes: Int = 8): DataFrame = {
    val (q, sigs) = probes(lshQueries(queries, planes)
      .withColumn("probe", col("probe").cast("array<int>")))
    // two-level prune: signature-group directories first, then the
    // pushed `_sig IN` filter prunes row groups inside each file
    // (files are `_sig`-sorted by build and upsert)
    val groups = sigs.map(sg => math.floorMod(sg, SigGroups)).distinct
    val c = IndexStore.readBuckets(spark, path + "/data", "_kb", groups)
      .filter(col("_kb").isin(groups: _*))
      .filter(col("_sig").isin(sigs: _*))
      .select(col("_id").as("n_id"), col("n_vec"), col("n_nrm"),
        col("_sig").as("bucket"))
    rankWithinBuckets(c, q, k)
  }

  /** Per-centroid cosine scores as sortable (score, cid) structs; the
    * centroid norms are computed by the same native dot-product fold as
    * everything else, so scores are engine-reproducible. */
  private def centroidScores(v: Column, nrm: Column,
                             cents: Seq[(Int, Array[Double])]): Seq[Column] =
    cents.map { case (cid, cv) =>
      struct((dot(v, lit(cv)) / (nrm * sqrt(dot(lit(cv), lit(cv)))))
        .as("s"), lit(cid).as("cid"))
    }

  /** Top-`n` centroid ids by cosine, descending, ties → larger cid
    * (ascending struct sort, take the last n) — deterministic and
    * replayable in the oracle as ORDER BY score DESC, cid DESC. */
  private def topCentroids(v: Column, nrm: Column,
                           cents: Seq[(Int, Array[Double])],
                           n: Int): Column =
    slice(array_sort(array(centroidScores(v, nrm, cents): _*)),
      cents.length - n + 1, n)

  /** Largest centroid count embedded as per-centroid plan literals.
    * Below this, assignment is a pure codegen projection (zero joins,
    * zero shuffles, oracle-replayable expression tree). Above it the
    * literal form stops being viable — the plan carries k×dims doubles
    * and k sub-expressions, which breaks codegen well before the
    * 10k-100k centroids SemDeDup/large-IVF need — so assignment
    * switches to [[nearestCidCol]]'s broadcast path. `private[graft]`
    * var ONLY as a test seam (the equivalence spec forces both paths
    * over the same quantizer). */
  private[graft] var literalCentroidMax: Int = 64

  /** Spark's double total order (`nanSafeCompareDoubles`): -0.0 == 0.0,
    * NaN greater than everything — the order `array_sort` applies, so
    * the compiled-loop path ranks EXACTLY like the literal path. */
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0
    else if (x.isNaN) { if (y.isNaN) 0 else 1 }
    else if (y.isNaN) -1
    else if (x > y) 1 else -1

  /** Centroids prepped for the broadcast path: (cid, vec, norm) with
    * the norm computed as the same in-order left fold [[dot]] runs. */
  private def prepCents(cents: Seq[(Int, Array[Double])])
      : Array[(Int, Array[Double], Double)] =
    cents.map { case (cid, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      (cid, v, math.sqrt(s))
    }.toArray

  /** Nearest-centroid id as a Column, at ANY quantizer size.
    *
    * k ≤ [[literalCentroidMax]]: the literal/codegen projection
    * ([[topCentroids]]) — zero-shuffle, plan-embedded, byte-stable
    * with every round-6 gate.
    *
    * k above it: the centroid matrix moves OFF the plan into a
    * `SparkContext.broadcast` value scored by a compiled per-row
    * argmax loop (the MLlib-KMeans assignment pattern). Plan size is
    * O(1) in k; assignment stays a shuffle-free map over the corpus.
    * The join-the-centroids-table-and-groupBy-argmin alternative was
    * rejected deliberately: it re-shuffles the full corpus (or copies
    * the matrix into every joined row), which at 100 TB costs more
    * than the assignment compute itself. Ceiling: the broadcast must
    * fit executor memory — k×dims×8 bytes (50k × 768 ≈ 300 MB, the
    * FAISS coarse-quantizer regime; sharded quantizers are the step
    * beyond, out of scope). Scoring arithmetic is the same in-order
    * fold + division as [[dot]], and ranking uses [[cmpD]], so both
    * paths pick the identical centroid on identical doubles. */
  private[operators] def nearestCidCol(v: Column, nrm: Column,
                            cents: Seq[(Int, Array[Double])]): Column =
    if (cents.length <= literalCentroidMax)
      element_at(topCentroids(v, nrm, cents, 1), 1).getField("cid")
    else {
      val spark = SparkSession.active
      val bc = spark.sparkContext.broadcast(prepCents(cents))
      val f = udf((vec: Array[Double], vnrm: Double) =>
        if (vec == null) None
        else {
          val cs = bc.value
          var bestS = 0.0; var bestC = 0; var found = false
          var i = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            var s = 0.0; var j = 0
            val dims = math.min(vec.length, cv.length)
            while (j < dims) { s += vec(j) * cv(j); j += 1 }
            val score = s / (vnrm * cn)
            val c = if (found) cmpD(score, bestS) else 1
            if (c > 0 || (c == 0 && cid > bestC)) {
              bestS = score; bestC = cid; found = true
            }
            i += 1
          }
          if (found) Some(bestC) else None
        })
      f(v, nrm)
    }

  /** Top-`n` probe centroid ids (ascending (score, cid), best LAST —
    * the [[topCentroids]] slice order) at any quantizer size; same
    * dual-path contract as [[nearestCidCol]]. Runs on QUERY rows, so
    * the sort-all-scores simplicity of the large path is per-query
    * work over k, not corpus work. */
  private[operators] def probeCidsCol(v: Column, nrm: Column,
                           cents: Seq[(Int, Array[Double])],
                           n: Int): Column =
    if (cents.length <= literalCentroidMax)
      transform(topCentroids(v, nrm, cents, n), c => c.getField("cid"))
    else {
      val spark = SparkSession.active
      val bc = spark.sparkContext.broadcast(prepCents(cents))
      val f = udf((vec: Array[Double], vnrm: Double) =>
        if (vec == null) None
        else {
          val cs = bc.value
          val scored = new Array[(Double, Int)](cs.length)
          var i = 0
          while (i < cs.length) {
            val (cid, cv, cn) = cs(i)
            var s = 0.0; var j = 0
            val dims = math.min(vec.length, cv.length)
            while (j < dims) { s += vec(j) * cv(j); j += 1 }
            scored(i) = (s / (vnrm * cn), cid)
            i += 1
          }
          val sorted = scored.sortWith { (a, b) =>
            val c = cmpD(a._1, b._1); c < 0 || (c == 0 && a._2 < b._2)
          }
          Some(sorted.takeRight(n).map(_._2))
        })
      f(v, nrm)
    }

  /** Spherical-k-means (Lloyd) refinement of IVF centroids: assign
    * every vector to its nearest-by-cosine centroid, replace each
    * centroid with the NORMALIZED elementwise mean of its members
    * (direction only — cosine assignment is scale-invariant, and the
    * normalized-mean update is the monotone spherical k-means step).
    * Empty clusters keep their centroid. Deterministic: fixed init,
    * fixed iteration count, per-dimension means. The per-iteration
    * driver traffic is nCentroids × dims doubles — the same size as the
    * centroid literals the plan embeds anyway. */
  private[operators] def lloydRefine(vecs: DataFrame /* n_vec, n_nrm */,
                          cents0: Seq[(Int, Array[Double])],
                          iters: Int): Seq[(Int, Array[Double])] = {
    var cents = cents0
    for (_ <- 1 to iters) {
      val byDim = vecs
        .withColumn("cid", nearestCidCol(col("n_vec"), col("n_nrm"), cents))
        .select(col("cid"), posexplode(col("n_vec")).as(Seq("_d", "_x")))
        .groupBy(col("cid"), col("_d")).agg(avg(col("_x")).as("_m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val means = byDim.groupBy(_._1).map { case (cid, rows) =>
        val v = rows.sortBy(_._2).map(_._3)
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val nv = if (nrm > 0) v.map(_ / nrm) else v
        // Round at 1e-6: double summation order differs across engines
        // (and across partition counts) at ~1e-15 relative — far below
        // the grain — so the refined centroids, and everything assigned
        // against them, replay exactly in an oracle engine.
        cid -> nv.map(x => math.floor(x * 1e6 + 0.5) / 1e6)
      }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** `(_id, n_vec, n_nrm, _kb)` rows of a corpus batch assigned to
    * their nearest stored centroid. */
  private def ivfRows(corpus: DataFrame,
                      cents: Seq[(Int, Array[Double])]): DataFrame =
    corpus.select(col("vec_id").as("_id"),
      asDouble(col("embedding")).as("n_vec"))
      .withColumn("n_nrm", sqrt(dot(col("n_vec"), col("n_vec"))))
      .withColumn("_kb", nearestCidCol(col("n_vec"), col("n_nrm"), cents))

  /** The stored IVF quantizer of a build: [[initCentroids]], refined by
    * `refineIters` spherical k-means iterations ([[lloydRefine]]). */
  private[operators] def trainCentroids(corpus: DataFrame, nCentroids: Int,
                                        refineIters: Int)
      : Seq[(Int, Array[Double])] = {
    val init = initCentroids(corpus, nCentroids)
    if (refineIters <= 0) init
    else lloydRefine(vecRows(corpus, "n"), init, refineIters)
  }

  /** Row bound of a stored centroid table's driver-side read: a
    * coarse quantizer of up to 2^16 lists. */
  private val MaxCentroids = 1L << 16

  private[operators] def readCentroids(spark: SparkSession,
                            path: String): Seq[(Int, Array[Double])] =
    IndexStore.readSmall(spark, path + "/centroids", MaxCentroids)
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Deterministic centroid init: the `nCentroids` lowest vec_ids —
    * stable across runs and replayable in an oracle engine. */
  private[operators] def initCentroids(corpus: DataFrame,
                            nCentroids: Int): Seq[(Int, Array[Double])] =
    corpus.orderBy(col("vec_id").asc).limit(nCentroids)
      .select(col("vec_id").cast("int").as("cid"),
        asDouble(col("embedding")).as("cvec"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by embedding clustering. The corpus is clustered by
    * the IVF coarse quantizer (deterministic lowest-id init, optionally
    * Lloyd-refined), then WITHIN each cluster a vector is a semantic
    * duplicate when a SMALLER-id vector sits at cosine >= `tau`
    * (keep-lowest-id: deterministic and coordination-free, the same
    * winner rule as exact dedup). Pairwise work is cluster-local — the
    * quantizer grain bounds the join exactly like an LSH bucket; no
    * corpus cross product anywhere, so cost tracks the cluster size
    * distribution, not corpus². Returns (vec_id, cluster, keep). */
  def semDedup(corpus: DataFrame, tau: Double, nCentroids: Int = 16,
               refineIters: Int = 0): DataFrame = {
    val cents = trainCentroids(corpus, nCentroids, refineIters)
    val clustered = withVecNorm(corpus)
      .withColumn("cluster", nearestCidCol(col("_v"), col("_nrm"), cents))
      .drop("_v", "_nrm")
    val dups = blockedNearDupPairs(clustered, col("cluster"), tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("_dup", lit(true))
    clustered.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("_dup"), lit(false)) === lit(false) as "keep")
  }

  /** Cluster-local keep verdicts over index-shaped rows: a row is a
    * duplicate when a SMALLER-id row in the SAME cluster (`_kb`) sits
    * at round4(cosine) >= `tau` — the identical arithmetic + winner
    * rule as the scan-time [[semDedup]]/[[blockedNearDupPairs]], so
    * stored verdicts replay in the oracle. Pairwise only within `_kb`:
    * the caller controls the blast radius by passing only the touched
    * clusters' membership. Every join is keyed by `_kb`, so rows
    * placed by `_kb` (a merge's affected buckets) stay placed. */
  private def keepVerdicts(rows: DataFrame, tau: Double): DataFrame = {
    val a = rows.select(col("_kb"), col("_id").as("id_a"),
      col("n_vec").as("v_a"), col("n_nrm").as("nrm_a"))
    val b = rows.select(col("_kb"), col("_id").as("id_b"),
      col("n_vec").as("v_b"), col("n_nrm").as("nrm_b"))
    val dups = a.join(b, Seq("_kb")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round4(
        dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b"))))
      .filter(col("cos") >= tau)
      .select(col("_kb"), col("id_b").as("_id")).distinct()
      .withColumn("_dup", lit(true))
    rows.join(dups, Seq("_kb", "_id"), "left")
      .select(col("_id"), col("n_vec"), col("n_nrm"), col("_kb"),
        (coalesce(col("_dup"), lit(false)) === lit(false)).as("keep"))
  }

  /** Build the PERSISTED SemDeDup index — the round-6 gap: [[semDedup]]
    * was scan-only, so a crawl delta re-ran the whole pairwise stage.
    * Layout is the shared vector store ([[buildVecStore]]):
    * `centroids/` (the coarse quantizer, FROZEN between compactions
    * like any deployed IVF), `params/` (tau — persisted so maintenance
    * can never apply a mismatched threshold), `data/_kb=<cluster>/`
    * holding `(_id, n_vec, n_nrm, keep)` with the verdicts
    * MATERIALIZED, the by-id sidecar, and `_graft_meta`. Build-time
    * verdicts are byte-identical to
    * `semDedup(corpus, tau, nCentroids, refineIters)` (spec-pinned). */
  def buildSemDedupIndex(corpus: DataFrame, path: String, tau: Double,
                         nCentroids: Int = 16, refineIters: Int = 0,
                         idBuckets: Int = 16, seq: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, nCentroids, refineIters)
    buildVecStore(corpus, path, idBuckets, seq,
      Seq("centroids" -> centroidTable(spark, cents),
        "params" -> Seq(tau).toDF("tau")))(
      (c, _) => keepVerdicts(ivfRows(c, cents), tau))
  }

  /** Incremental maintenance of a [[buildSemDedupIndex]] index: changed
    * vectors are assigned against the STORED quantizer and merged
    * bucket-locally via the by-id sidecar, and the keep verdicts of
    * the touched clusters are RE-PAIRED inside the same merge (its
    * bucket-local finishing step) — their full membership lives
    * inside the affected `_kb` directories, so the pairwise cost of a
    * delta is Σ|touched cluster|², never the corpus (the C8
    * discipline; untouched buckets stay byte-identical, spec-pinned),
    * and the new verdicts commit in the merge's one swap. A vector
    * that moves clusters re-pairs both its old and new cluster;
    * `deletedIds` retire vectors and can resurrect cluster-mates their
    * presence had marked duplicate. Returns the affected cluster ids. */
  def upsertSemDedupVectors(spark: SparkSession, path: String,
                            changed: DataFrame, deletedIds: Seq[Any] = Nil,
                            newSeq: Long = -1L): Seq[Int] =
    upsertSemDedupVectors(spark, path, vecDelta(changed, deletedIds), newSeq)

  private[graft] def upsertSemDedupVectors(spark: SparkSession, path: String,
                                           d: Delta,
                                           newSeq: Long): Seq[Int] = {
    val tau = semDedupTau(spark, path)
    val cents = readCentroids(spark, path)
    upsertVecStore(spark, path, d, newSeq, finish = keepVerdicts(_, tau))(
      // a placeholder verdict: `finish` re-pairs the merged buckets
      (c, _) => ivfRows(c, cents).withColumn("keep", lit(true)))
  }

  /** The tau stamped into a SemDeDup store's `params/`. */
  private def semDedupTau(spark: SparkSession, path: String): Double =
    IndexStore.readSmall(spark, path + "/params", 1).head.getDouble(0)

  /** Serve the stored SemDeDup verdicts: `(vec_id, cluster, keep)` —
    * the same shape as [[semDedup]], read straight off the index (no
    * pairwise work at serve time; that is the point of persisting). */
  def semDedupVerdicts(spark: SparkSession, path: String): DataFrame =
    storeRows(spark, path)
      .select(col("_id").as("vec_id"), col("_kb").cast("int").as("cluster"),
        col("keep"))

  /** Build an IVF (inverted-file) ANN index on the shared vector store
    * ([[buildVecStore]]): a deterministic centroid init
    * ([[initCentroids]]), optionally refined with `refineIters`
    * spherical k-means iterations ([[lloydRefine]]), every corpus
    * vector assigned to its nearest-by-cosine centroid, inverted lists
    * `(_id, n_vec, n_nrm)` partitioned by centroid id under
    * `data/_kb=`, plus the by-id sidecar for incremental maintenance
    * ([[upsertIvfVectors]]). The coarse-quantizer alternative to
    * [[buildLshIndex]]: fewer, data-adaptive buckets. Queries read the
    * STORED centroids, so refinement is transparent to [[ivfTopK]]. */
  def buildIvfIndex(corpus: DataFrame, path: String,
                    nCentroids: Int = 16, refineIters: Int = 0,
                    idBuckets: Int = 16, seq: Long = 0L): Unit = {
    val cents = trainCentroids(corpus, nCentroids, refineIters)
    buildVecStore(corpus, path, idBuckets, seq,
      Seq("centroids" -> centroidTable(corpus.sparkSession, cents)))(
      (c, _) => ivfRows(c, cents))
  }

  /** Incremental maintenance of a [[buildIvfIndex]] index: changed
    * vectors are assigned against the STORED centroids (the quantizer
    * is fixed between compactions, as in any deployed IVF) and merged
    * bucket-locally via the by-id sidecar; `deletedIds` retire vectors.
    * Returns the affected list ids. */
  def upsertIvfVectors(spark: SparkSession, path: String,
                       changed: DataFrame, deletedIds: Seq[Any] = Nil,
                       newSeq: Long = -1L): Seq[Int] =
    upsertIvfVectors(spark, path, vecDelta(changed, deletedIds), newSeq)

  private[graft] def upsertIvfVectors(spark: SparkSession, path: String,
                                      d: Delta, newSeq: Long): Seq[Int] = {
    val cents = readCentroids(spark, path)
    upsertVecStore(spark, path, d, newSeq)((c, _) => ivfRows(c, cents))
  }

  /** ANN against a persisted [[buildIvfIndex]] index: each query scores
    * the (small, broadcast-literal) centroid table, probes its `nProbe`
    * nearest inverted lists — partition-pruned like [[lshTopKIndexed]] —
    * and ranks exactly within them. */
  def ivfTopK(spark: SparkSession, path: String, queries: DataFrame,
              k: Int, nProbe: Int = 4): DataFrame = {
    val (q, buckets) =
      probes(ivfQueries(readCentroids(spark, path), queries, nProbe))
    rankWithinBuckets(probedRows(spark, path, buckets), q, k)
  }

  /** `(q_id, q_vec, q_nrm, probe)` query rows of an IVF-family serve:
    * `probe` holds each query's `nProbe` nearest centroids of `cents`
    * (the [[probes]] input). */
  private[operators] def ivfQueries(cents: Seq[(Int, Array[Double])],
                                    queries: DataFrame,
                                    nProbe: Int): DataFrame =
    vecRows(queries, "q").withColumn("probe",
        probeCidsCol(col("q_vec"), col("q_nrm"), cents, nProbe))

  /** Attribute-FILTERED ANN from the IVF index — the vector-database
    * metadata-filter pattern (`lang = 'en' AND similar to q`): the
    * probed inverted lists are semi-joined to an allowed-id set (one
    * `vec_id` column) BETWEEN the pruned read and ranking, so the
    * top-k is the top-k OF THE FILTERED SET within the probed lists
    * (post-limit filtering would under-return, the same contract as
    * `TextSearch.searchWhere`). The scan stays pruned to the probe
    * buckets; the filter joins broadcast-or-shuffle as its size
    * dictates. Recall caveat is the IVF one, unchanged: candidates
    * come from `nProbe` lists — raise `nProbe` when the filter is
    * highly selective so enough allowed candidates survive. */
  def ivfTopKWhere(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int, allowed: DataFrame,
                   nProbe: Int = 4): DataFrame = {
    require(allowed.columns.length == 1,
      s"allowed must be a single vec-id column; got " +
        s"[${allowed.columns.mkString(", ")}]")
    val (q, buckets) =
      probes(ivfQueries(readCentroids(spark, path), queries, nProbe))
    rankWithinBuckets(probedRows(spark, path, buckets)
      .join(allowed.toDF("n_id").distinct(), Seq("n_id"), "left_semi"), q, k)
  }

  /** k-NN graph over the whole corpus — the neighborhood structure
    * SemDeDup-style clustering, graph-based dedup and diversity
    * sampling consume. Every vector gets its `k` nearest (by cosine)
    * CLUSTER-LOCAL neighbors: the corpus is clustered by the same
    * deterministic IVF coarse quantizer as [[semDedup]], pairwise work
    * stays inside clusters (the quantizer grain bounds the join — never
    * a corpus cross product), and per-vector top-k uses the bounded
    * [[graft.functions.TopKPairs]] partial aggregation, not a window
    * over all candidates. The `mutual` flag marks edges whose reverse
    * is also ranked — the mutual-kNN graph used for clustering.
    *
    * Contract: neighbors are exact within the vector's PROBED clusters
    * — its own at `nProbe = 1`, its `nProbe` nearest-centroid clusters
    * beyond (the IVF multi-probe recall knob: boundary vectors see the
    * adjacent cluster too, at `nProbe ×` pairwise cost — still bounded
    * by probes × cluster size, never corpus²); raise `nCentroids` to
    * shrink clusters, the broadcast quantizer keeps assignment cheap.
    * Returns `(src, rank, dst, cos, mutual)`. */
  def knnGraph(corpus: DataFrame, k: Int, nCentroids: Int = 16,
               nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, "knnGraph: nProbe >= 1")
    val cents = initCentroids(corpus, nCentroids)
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val b = e.withColumn("blk", nearestCidCol(col("v"), col("nrm"), cents))
      .select(col("blk"), col("vec_id").as("n_id"),
        col("v").as("n_vec"), col("nrm").as("n_nrm"))
    val a = (if (nProbe == 1)
        e.withColumn("blk", nearestCidCol(col("v"), col("nrm"), cents))
      else e.withColumn("blk",
        explode(probeCidsCol(col("v"), col("nrm"), cents, nProbe))))
      .select(col("blk"), col("vec_id").as("q_id"),
        col("v").as("q_vec"), col("nrm").as("q_nrm"))
    val edges = rankTopK(
      a.join(b, Seq("blk")).filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", qnCos),
      k)
    val rev = edges.select(col("q_id").as("n_id"), col("n_id").as("q_id"))
      .withColumn("_m", lit(true))
    edges.join(rev, Seq("q_id", "n_id"), "left")
      .select(col("q_id").as("src"), col("rank"), col("n_id").as("dst"),
        col("cos"), coalesce(col("_m"), lit(false)).as("mutual"))
  }
}
