package graft.view

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.collation.CollationCodec
import graft.gfunctions.collation_key

/** Built-in and custom reduce functions, mirroring the reference's
  * `_sum` / `_count` / `_stats` builtins plus user-defined reduces
  * (pouchdb/mapreduce builtin reduce surface). A custom reduce is a
  * Catalyst aggregate Column — it distributes via partial aggregation the
  * same way the builtins do, rather than a driver-side rereduce. */
sealed trait Reduce
object Reduce {
  case object Count extends Reduce
  case object Sum extends Reduce
  /** `{sum, count, min, max, sumsqr}` exactly as the reference's `_stats`. */
  case object Stats extends Reduce
  /** CouchDB 2.2's fourth builtin, `_approx_count_distinct`: a
    * HyperLogLog estimate of the number of distinct values per key.
    * The reduced `value` is a struct `{count, hll}` — the estimate
    * plus the Datasketches sketch bytes — so a materialized reduced
    * index REREDUCES by sketch union (group_level rollups and the
    * global estimate never touch raw rows), exactly the
    * filter-in-the-btree design of the reference builtin. */
  final case class ApproxCountDistinct(lgK: Int = 12) extends Reduce

  /** A user reduce. `merge` is the rereduce: how to combine already-
    * reduced values (CouchDB's `rereduce=true` contract) — required for
    * group_level/global queries against a materialized reduced index;
    * omitted, such queries must use the raw index. */
  final case class Custom(agg: Column => Column,
                          merge: Option[Column => Column] = None)
      extends Reduce

  /** The aggregation Column computing `rf` over raw `value` rows. */
  private[graft] def aggFor(rf: Reduce): Column = {
    import org.apache.spark.sql.functions._
    rf match {
      case Count => count(lit(1)).as("value")
      case Sum => sum(col("value")).as("value")
      case Stats =>
        struct(
          sum(col("value")).as("sum"),
          count(col("value")).as("count"),
          min(col("value")).as("min"),
          max(col("value")).as("max"),
          sum(col("value") * col("value")).as("sumsqr")).as("value")
      case ApproxCountDistinct(lgK) =>
        val sk = hll_sketch_agg(col("value"), lgK)
        struct(hll_sketch_estimate(sk).as("count"), sk.as("hll")).as("value")
      case Custom(f, _) => f(col("value")).as("value")
    }
  }
}

/** Index-freshness request — the reference's `stale` query option. */
sealed trait Stale
object Stale {
  /** Serve the index as-is; do not fold in pending changes first. */
  case object Ok extends Stale
  /** Serve the index as-is, then apply pending changes afterwards. */
  case object UpdateAfter extends Stale
}

/** Query options — the reference's `db.query(view, opts)` surface.
  * `resumeAfter` is internal: set via [[View.queryPage]]'s token, it
  * continues STRICTLY after a (collation key, doc id) cursor. */
final case class QueryOpts(
    startKey: Option[Any] = None,
    endKey: Option[Any] = None,
    inclusiveEnd: Boolean = true,
    startKeyDocId: Option[Any] = None,
    endKeyDocId: Option[Any] = None,
    key: Option[Any] = None,
    keys: Option[Seq[Any]] = None,
    descending: Boolean = false,
    limit: Option[Long] = None,
    skip: Long = 0L,
    reduce: Boolean = true,
    group: Boolean = false,
    groupLevel: Option[Int] = None,
    includeDocs: Boolean = false,
    /** With `includeDocs`: return full attachment payloads (reference
      * `attachments=true`). Default false returns stub entries —
      * metadata without the bytes (see [[Attachments]]). */
    attachments: Boolean = false,
    /** With `includeDocs`: attach each served doc's CONFLICT set (the
      * losing live revision ids, CouchDB's `conflicts=true` → doc
      * `_conflicts` array). Requires a view with attached revisions
      * ([[View.withConflicts]]); docs with no conflicts carry an empty
      * array, exactly as CouchDB omits-or-empties the field. */
    conflicts: Boolean = false,
    /** Reference `sorted=false`: map-only rows come back in ARBITRARY
      * order — drops the global collation sort (at scale, the one
      * all-to-one stage of a full-view read). Ignored for reduced
      * queries and when an option implies an order (keys=, skip,
      * descending). */
    sorted: Boolean = true,
    stale: Option[Stale] = None,
    resumeAfter: Option[(Array[Byte], Any)] = None)

/** Opaque keyset-pagination token ([[View.queryPage]]): pins the index
  * `update_seq` the page was served at plus the last row's (collation
  * key, doc id). Resuming filters STRICTLY after that cursor, so an
  * interleaved index update never shifts, skips, or duplicates the rows
  * ahead of the cursor — the failure mode of offset (`skip`)
  * pagination — and the seq tells the caller how fresh page N was. */
object ResumeToken {
  private val enc = java.util.Base64.getEncoder
  private val dec = java.util.Base64.getDecoder

  private[view] def encode(seq: Long, ck: Array[Byte], id: Any): String = {
    val idPart = id match {
      case l: Long => "L" + l
      case i: Int => "I" + i
      case d: Double => "D" + d
      case s: String => "S" + enc.encodeToString(s.getBytes("UTF-8"))
      case other => throw new IllegalArgumentException(
        s"unsupported doc id type for resume token: ${other.getClass}")
    }
    enc.encodeToString(
      s"$seq|${enc.encodeToString(ck)}|$idPart".getBytes("UTF-8"))
  }

  private[view] def decode(token: String): (Long, Array[Byte], Any) = {
    val Array(seq, ckB64, idPart) =
      new String(dec.decode(token), "UTF-8").split("\\|", 3)
    val id: Any = idPart.charAt(0) match {
      case 'L' => idPart.drop(1).toLong
      case 'I' => idPart.drop(1).toInt
      case 'D' => idPart.drop(1).toDouble
      case 'S' => new String(dec.decode(idPart.drop(1)), "UTF-8")
    }
    (seq.toLong, dec.decode(ckB64), id)
  }

  /** The index `update_seq` a token was issued at (for callers that
    * want to detect or bound staleness across pages). */
  def seqOf(token: String): Long = decode(token)._1
}

/** A pending change-feed batch: documents changed (or created) and ids
  * deleted since sequence `seq` — the input to the freshness contract of
  * [[View.queryWithChanges]] and to [[View.updateIndex]]. */
final case class ChangeSet(seq: Long, docs: org.apache.spark.sql.DataFrame,
                           deletedIds: Seq[Any] = Nil)

/** CouchDB's "high key" sentinel (`{}` in practice): sorts after every real
  * key, usable inside array keys for prefix ranges, e.g.
  * `endKey = Seq(2024, View.MaxKey)`. */
case object MaxKey

/** The reference's query-response envelope: rows + total_rows + offset,
  * plus the index's `update_seq` when served from a materialized index
  * (None for temporary/unmaterialized views) and, for paged queries
  * ([[View.queryPage]]), the opaque [[ResumeToken]] continuing after
  * the last served row (None once exhausted). */
final case class ViewQueryResult(rows: DataFrame, totalRows: Long,
                                 offset: Long,
                                 updateSeq: Option[Long] = None,
                                 nextToken: Option[String] = None)

/** A map/reduce view: the reference's `emit(key, value)` map phase declared
  * as Catalyst columns (so the whole view is one declarative plan — filter
  * pushdown, column pruning and partial aggregation are Catalyst's job, and
  * everything stays inside whole-stage codegen).
  *
  * View rows carry `_ck = collation_key(key)`: a binary column whose
  * unsigned-lexicographic order is CouchDB collation. Sorting, range
  * filtering (startkey/endkey), point lookups (key/keys) and index min/max
  * pruning all operate on `_ck`.
  */
final class View private (
    val docs: DataFrame,
    idCol: Column,
    mapPhase: DataFrame => DataFrame,
    reduceFn: Option[Reduce],
    indexRows: Option[DataFrame],
    isUnion: Boolean = false,
    indexMeta: Option[IndexMeta] = None,
    indexPath: Option[String] = None,
    locale: Boolean = false,
    conflictsRel: Option[DataFrame] = None) {

  /** The view index rows: `_id, key, value, _ck` (lazy plan, or the
    * materialized index when opened via [[fromIndex]]). */
  val rows: DataFrame = indexRows.getOrElse(mapPhase(docs))

  private def ck: Column = col("_ck")

  private def enc(k: Any): Column = lit(View.encodeKey(k, locale))

  /** Reference `total_rows`: number of rows in the view index.
    * Scale note: on an indexed view this is a parquet metadata-level
    * count; on an unmaterialized view the FIRST evaluation executes
    * the map phase once and the count is cached for the life of this
    * (immutable) View instance — repeated envelopes ([[queryResult]])
    * never re-run the map phase for `total_rows`. */
  lazy val totalRows: Long = rows.count()

  /** The change-feed sequence a materialized index is current through
    * (the reference's `update_seq`); None for temporary views. */
  def updateSeq: Option[Long] = indexMeta.map(_.updateSeq)

  /** Attach the document corpus's revision-tree LEAVES so
    * `conflicts=true` reads can serve each doc's conflict set inline
    * (CouchDB's `conflicts=true` → doc `_conflicts`). The conflict
    * relation is [[graft.operators.Revisions.summary]]'s losing-live
    * set, kept as a RELATION (one partial-aggregable groupBy over the
    * leaves — never driver state), joined to docs only on
    * conflict-requesting include_docs reads. */
  def withConflicts(leaves: DataFrame, id: Column, revPos: Column,
                    revHash: Column, deleted: Column): View = {
    val rel = graft.operators.Revisions
      .summary(leaves, id, revPos, revHash, deleted)
      .select(col("id").as("_confl_id"),
        when(col("n_conflicts") > 0, split(col("conflicts"), ","))
          .otherwise(array().cast("array<string>")).as("_conflicts"))
    new View(docs, idCol, mapPhase, reduceFn, indexRows, isUnion,
      indexMeta, indexPath, locale, Some(rel))
  }

  /** Run a query. Returns `(id, key, value)` rows in collation order for
    * map-only queries, `(key, value)` for reduced queries; `includeDocs`
    * appends a `doc` struct (following a linked document when the emitted
    * value is a struct with an `_id` field — the reference's linked-docs
    * behavior).
    *
    * Scale note: `skip` is inherently O(skip) (a global offset) — page
    * large result sets with `startKeyDocId` resume bounds instead, which
    * stay index-pruned (same guidance as the reference). */
  def query(opts: QueryOpts = QueryOpts()): DataFrame =
    queryKeepCk(opts).drop("_ck")

  /** The key/startkey/endkey bound predicate for `opts` as ONE Column
    * (None when unbounded) — the single source of truth for the range
    * semantics, applied per-query by [[queryKeepCk]] and OR-combined
    * across queries by the one-scan [[queryMany]] path.
    *
    * startkey_docid/endkey_docid refine the bound WITHIN duplicate keys
    * (the reference's resume-pagination options): rows strictly past the
    * bound key pass unconditionally; rows AT the bound key also compare
    * their doc id. Each OR refinement carries a REDUNDANT range
    * conjunct (`ck >= K` / `ck <= K`, implied by both branches):
    * parquet cannot derive row-group min/max pruning from the OR shape
    * itself, but the conjunct is a plain comparison it pushes down —
    * without it a docid-refined query would keep directory-level `_kb`
    * pruning yet scan every row group inside the surviving buckets.
    * When descending, CouchDB swaps the roles: startkey is the upper
    * bound; inclusive_end=false makes the (endkey, endkey_docid) bound
    * itself exclusive (strict id comparison at the bound key). */
  private def boundsCond(opts: QueryOpts): Option[Column] = {
    val id = col("_id")
    val cs = Seq.newBuilder[Column]
    opts.key.foreach(k => cs += (ck === enc(k)))
    if (!opts.descending) {
      opts.startKey.foreach { k =>
        cs += (opts.startKeyDocId match {
          case Some(d) => ck >= enc(k) && (ck > enc(k) ||
            (ck === enc(k) && id >= lit(d)))
          case None => ck >= enc(k)
        })
      }
      opts.endKey.foreach { k =>
        cs += ((opts.endKeyDocId, opts.inclusiveEnd) match {
          case (Some(d), true) => ck <= enc(k) && (ck < enc(k) ||
            (ck === enc(k) && id <= lit(d)))
          case (Some(d), false) => ck <= enc(k) && (ck < enc(k) ||
            (ck === enc(k) && id < lit(d)))
          case (None, true) => ck <= enc(k)
          case (None, false) => ck < enc(k)
        })
      }
    } else {
      opts.startKey.foreach { k =>
        cs += (opts.startKeyDocId match {
          case Some(d) => ck <= enc(k) && (ck < enc(k) ||
            (ck === enc(k) && id <= lit(d)))
          case None => ck <= enc(k)
        })
      }
      opts.endKey.foreach { k =>
        cs += ((opts.endKeyDocId, opts.inclusiveEnd) match {
          case (Some(d), true) => ck >= enc(k) && (ck > enc(k) ||
            (ck === enc(k) && id >= lit(d)))
          case (Some(d), false) => ck >= enc(k) && (ck > enc(k) ||
            (ck === enc(k) && id > lit(d)))
          case (None, true) => ck >= enc(k)
          case (None, false) => ck > enc(k)
        })
      }
    }
    val all = cs.result()
    if (all.isEmpty) None else Some(all.reduce(_ && _))
  }

  /** Materialized-index `_kb` bucket-range predicate for `opts`
    * (directory-level pruning via the stored bounds, on top of the
    * `_ck` binary range already pushed to parquet row-group min/max
    * stats — the two levels that turn a startkey/endkey query into an
    * index scan at 100 TB). None on unmaterialized views or unbounded
    * queries. */
  private def bucketCond(opts: QueryOpts): Option[Column] =
    indexMeta.filter(_.bounds.nonEmpty).flatMap { meta =>
      val kb = col("_kb")
      def bk(k: Any): Int =
        IndexStore.bucketOf(meta, View.encodeKey(k, locale))
      val cs = Seq.newBuilder[Column]
      opts.key.foreach(k => cs += (kb === bk(k)))
      val lowKey = if (opts.descending) opts.endKey else opts.startKey
      val highKey = if (opts.descending) opts.startKey else opts.endKey
      lowKey.foreach(k => cs += (kb >= bk(k)))
      highKey.foreach(k => cs += (kb <= bk(k)))
      val all = cs.result()
      if (all.isEmpty) None else Some(all.reduce(_ && _))
    }

  /** CouchDB's batched multi-query endpoint
    * (`POST /db/_design/{ddoc}/_view/{view}/queries`, same shape on
    * `_all_docs/queries`): answer N query objects against the SAME
    * view version in one call. Returns the map-row shape
    * `(id, key, value)` tagged with `q` = the ordinal of the query
    * each row answers (a row inside several requested ranges appears
    * once per matching query), rows ordered (q, then that query's own
    * key order — descending queries descend).
    *
    * Scale shape — the reason this beats a loop over [[query]]: all N
    * range reads are ONE scan. The scan filter is the OR of the
    * per-query `_ck` bounds ([[boundsCond]] — pushed to parquet
    * row-group min/max) and the OR of their `_kb` bucket ranges
    * ([[bucketCond]] — directory pruning keeps the union of bucket
    * ranges; applied only when EVERY query is bounded, since one
    * unbounded query must read everything anyway). The per-query tag
    * is a codegen'd explode over matching ordinals, and per-query
    * skip/limit/direction resolve in one window pass hashed on `q` —
    * a dashboard firing 50 range reads is one job, not 50. On an
    * UNMATERIALIZED view the shared scan also means the map phase
    * runs ONCE for all N queries.
    *
    * Queries the one-scan path cannot express — the reduce/group
    * family, keys= fetches, include_docs, resume cursors — dispatch
    * per-query through the full [[query]] machinery and union tagged:
    * same rows, N plans. Those require a HOMOGENEOUS batch (all
    * reduced or all map-row, all include_docs or none): CouchDB
    * returns N independent row arrays, but one DataFrame has one
    * schema. */
  def queryMany(optsSeq: Seq[QueryOpts]): DataFrame = {
    require(optsSeq.nonEmpty, "queryMany requires at least one query")
    val fast = optsSeq.forall(o =>
      !(o.reduce && reduceFn.isDefined) && o.keys.isEmpty &&
        !o.includeDocs && o.resumeAfter.isEmpty && !o.conflicts)
    if (!fast) {
      require(optsSeq.map(o => o.reduce && reduceFn.isDefined)
          .distinct.size == 1,
        "queryMany cannot mix reduced and map-row queries in one batch " +
          "(two row shapes); issue two batches")
      require(optsSeq.map(_.includeDocs).distinct.size == 1,
        "queryMany cannot mix include_docs and plain queries in one " +
          "batch (two row shapes); issue two batches")
      return optsSeq.zipWithIndex
        .map { case (o, i) => query(o).withColumn("q", lit(i)) }
        .reduce(_.unionByName(_))
    }
    val conds = optsSeq.map(o => boundsCond(o).getOrElse(lit(true)))
    var r = rows.filter(conds.reduce(_ || _))
    val kbConds = optsSeq.map(bucketCond)
    if (kbConds.forall(_.isDefined))
      r = r.filter(kbConds.flatten.reduce(_ || _))
    // tag each row with every query ordinal whose bounds admit it —
    // one array of codegen'd WHENs, exploded (null slots filtered out)
    val tags = filter(
      array(conds.zipWithIndex.map { case (c, i) => when(c, lit(i)) }: _*),
      x => x.isNotNull)
    val tagged = r.withColumn("q", explode(tags))
      .select(col("q"), col("_id").as("id"), col("key"), col("value"), ck)
    // per-query direction/skip/limit in ONE window pass hashed on q:
    // the ascending rank flips to the query's own direction via the
    // partition count, so one sort order serves both directions
    val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
    val rnAsc = row_number().over(wq.orderBy(ck.asc, col("id").asc))
    val cnt = count(lit(1)).over(wq)
    val qi = col("q") + 1 // element_at is 1-based
    val descQ = element_at(array(optsSeq.map(o =>
      lit(o.descending)): _*), qi)
    val skipQ = element_at(array(optsSeq.map(o =>
      lit(o.skip)): _*), qi)
    val limQ = element_at(array(optsSeq.map(o =>
      lit(o.limit.map(_.toLong).getOrElse(Int.MaxValue.toLong))): _*), qi)
    tagged
      .withColumn("_rn", when(descQ, cnt - rnAsc + 1L).otherwise(rnAsc))
      .filter(col("_rn") > skipQ && col("_rn") <= skipQ + limQ)
      .orderBy(col("q").asc, col("_rn").asc)
      .drop("_rn", "_ck")
  }

  private def queryKeepCk(opts: QueryOpts): DataFrame = {
    require(opts.skip <= Int.MaxValue && opts.limit.forall(_ <= Int.MaxValue),
      "skip/limit beyond Int.MaxValue: use startKeyDocId resume pagination")
    require(!(opts.includeDocs && isUnion),
      "includeDocs is undefined for union views (two doc spaces)")
    var r = rows
    // keys= returns row groups in REQUESTED order, honoring repeats (the
    // reference's multi-key fetch semantics): join against the request
    // list with its position, which both filters and duplicates.
    var keyOrder: Option[Column] = None
    var reducedKeys: Option[Seq[Any]] = None
    opts.keys.foreach { ks =>
      if (opts.reduce && reduceFn.isDefined) {
        // Reduced multi-key fetch (the reference requires group=true here;
        // we imply it): one reduced row PER REQUESTED KEY, in request
        // order, repeats honored — resolved after the per-key aggregation.
        reducedKeys = Some(ks)
        r = r.filter(ck.isin(ks.map(View.encodeKey(_, locale)).distinct: _*))
      } else {
        val spark = r.sparkSession
        import spark.implicits._
        val req = ks.map(View.encodeKey(_, locale)).zipWithIndex
          .toDF("_ck", "_req_idx")
        r = r.join(broadcast(req), Seq("_ck"))
        keyOrder = Some(col("_req_idx"))
      }
    }
    boundsCond(opts).foreach(c => r = r.filter(c))

    // Keyset-pagination cursor ([[queryPage]]): strictly after the last
    // served (collation key, doc id). For REDUCED grouped queries the
    // cursor addresses whole GROUPS — a raw-row filter here would let
    // the boundary key's remaining rows form a PARTIAL group on the
    // next page — so it applies post-aggregation in the reduce branch.
    val id = col("_id")
    if (!(opts.reduce && reduceFn.isDefined))
      opts.resumeAfter.foreach { case (ckB, lastId) =>
        // same redundant range conjunct as the docid-refined bounds
        // above: keeps parquet row-group pruning under the OR shape
        r =
          if (!opts.descending) r.filter(ck >= lit(ckB) && (ck > lit(ckB) ||
            (ck === lit(ckB) && id > lit(lastId))))
          else r.filter(ck <= lit(ckB) && (ck < lit(ckB) ||
            (ck === lit(ckB) && id < lit(lastId))))
      }

    // Materialized-index partition pruning: key bounds become a `_kb`
    // bucket range (directory-level pruning via the stored bounds) on
    // top of the `_ck` binary range already pushed to parquet row-group
    // min/max stats — the two levels that turn a startkey/endkey query
    // into an index scan at 100 TB.
    bucketCond(opts).foreach(c => r = r.filter(c))
    indexMeta.filter(_.bounds.nonEmpty).foreach { meta =>
      val kb = col("_kb")
      def bk(k: Any): Int = IndexStore.bucketOf(meta, View.encodeKey(k, locale))
      opts.keys.foreach(ks =>
        r = r.filter(kb.isin(ks.map(bk).distinct: _*)))
      // the resume cursor bounds the scan from the cursor side too
      opts.resumeAfter.foreach { case (ckB, _) =>
        val b = IndexStore.bucketOf(meta, ckB)
        r = if (!opts.descending) r.filter(kb >= b) else r.filter(kb <= b)
      }
    }

    val reduced = opts.reduce && reduceFn.isDefined
    var out =
      if (!reduced) {
        var m = r.select(col("_id").as("id"), col("key"), col("value"), ck)
        if (opts.includeDocs) {
          // Join before the final sort: the sort (+offset/limit) must be the
          // last thing that touches row order — CouchDB returns rows in key
          // order even with include_docs. A small limit still plans as
          // TakeOrderedAndProject over the join.
          val valueType = rows.schema("value").dataType
          val linkId = valueType match {
            case st: StructType if st.fieldNames.contains("_id") =>
              coalesce(col("value").getField("_id"), col("id"))
            case _ => col("id")
          }
          // conflicts=true: the doc gains a `_conflicts` field (losing
          // live revs, CouchDB's shape) from the attached revision
          // summary — one broadcast-or-hash left join keyed on id,
          // empty array when the doc resolves clean or has no leaves
          val docSrc =
            if (!opts.conflicts) docs
            else {
              val rel = conflictsRel.getOrElse(throw new IllegalStateException(
                "conflicts=true requires a view with attached revisions " +
                  "(View.withConflicts)"))
              docs.join(rel, idCol === rel("_confl_id"), "left")
                .withColumn("_conflicts", coalesce(col("_conflicts"),
                  array().cast("array<string>")))
                .drop("_confl_id")
            }
          // Attachments ship as stubs unless attachments=true (the
          // reference's default response shape — see [[Attachments]]).
          val docCols = docSrc.columns.map { c =>
            if (c == Attachments.ATT && !opts.attachments)
              Attachments.stubbed(col(c)).as(c)
            else col(c)
          }
          val docDf = docSrc.select(idCol.as("_doc_id"),
            struct(docCols.toIndexedSeq: _*).as("doc"))
          m = m.join(docDf, linkId === col("_doc_id"), "left").drop("_doc_id")
        }
        val sortCols = keyOrder match {
          // requested-key order first, then id within each key group
          case Some(kidx) =>
            if (opts.descending) Seq(kidx.asc, col("id").desc)
            else Seq(kidx.asc, col("id").asc)
          case None =>
            if (opts.descending) Seq(ck.desc, col("id").desc)
            else Seq(ck.asc, col("id").asc)
        }
        // sorted=false drops the global sort only when nothing else
        // depends on row order (no pagination offset, no requested-key
        // order). A resumeAfter cursor is a pure FILTER
        // (strictly-past-the-cursor), not an order dependency, so it
        // composes with sorted=false — the Mango index-paging path
        // relies on this to skip a wasted global sort of candidate
        // rows it re-sorts after the doc fetch. `descending` under
        // sorted=false only swaps the BOUND roles (startkey = upper),
        // never forces an order the caller declined.
        if (!opts.sorted && keyOrder.isEmpty && opts.skip == 0L) m
        else m.orderBy(sortCols: _*)
      } else {
        val aggCol = aggFor(reduceFn.get)
        val grouped: DataFrame =
          // group_level=0 IS the global reduce (null key) in the reference
          if (opts.group || opts.groupLevel.exists(_ > 0) ||
              reducedKeys.isDefined) {
            val keyCol = opts.groupLevel match {
              case Some(l) if reducedKeys.isEmpty &&
                  r.schema("key").dataType.isInstanceOf[ArrayType] =>
                slice(col("key"), 1, l)
              case _ => col("key")
            }
            val keyFn = if (locale) graft.gfunctions.collation_key_locale _
                        else collation_key _
            r.groupBy(keyCol.as("key")).agg(aggCol)
              .withColumn("_ck", keyFn(col("key")))
          } else {
            r.groupBy().agg(aggCol)
              .select(lit(null).as("key"), col("value"),
                lit(Array.emptyByteArray).as("_ck"))
          }
        // group-page cursor: strictly past the last served GROUP key
        // (the map-side raw-row cursor is skipped for reduced queries)
        val paged = opts.resumeAfter match {
          case Some((ckB, _)) if reducedKeys.isEmpty =>
            if (opts.descending) grouped.filter(col("_ck") < lit(ckB))
            else grouped.filter(col("_ck") > lit(ckB))
          case _ => grouped
        }
        reducedKeys match {
          case Some(ks) =>
            // Join the per-key aggregates back against the request list
            // with its position: filters (again, harmlessly), duplicates
            // repeated keys, and carries the requested order.
            val spark = paged.sparkSession
            import spark.implicits._
            val req = ks.map(View.encodeKey(_, locale)).zipWithIndex
              .toDF("_ck", "_req_idx")
            paged.join(broadcast(req), Seq("_ck"))
              .orderBy(col("_req_idx").asc)
          case None =>
            if (opts.descending) paged.orderBy(col("_ck").desc)
            else paged.orderBy(col("_ck").asc)
        }
      }

    if (opts.skip > 0) out = out.offset(opts.skip.toInt)
    opts.limit.foreach(l => out = out.limit(l.toInt))
    out.drop("_req_idx")
  }

  /** `keys=` fetch with CouchDB's `_all_docs` MISSING-KEY reporting:
    * one output row per REQUESTED key in request order (`pos`,
    * 1-based; repeats honored) — found keys carry their row(s), a key
    * with no row comes back as an explicit `error = 'not_found'` row,
    * the reference's `_all_docs?keys=` response shape. (Plain views
    * OMIT missing keys, which is what the ordinary `keys=` path does;
    * this surface belongs to the primary index but composes with any
    * view.) One LEFT join from the broadcast request list onto the
    * view rows — a million-key bulk-get is one join, and on a
    * materialized index the row side stays `_kb`/`_ck` pruned to the
    * requested keys' buckets. */
  def queryKeysReport(keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val spark = rows.sparkSession
    import spark.implicits._
    val req = keys.zipWithIndex.map { case (k, i) =>
      (View.encodeKey(k, locale), k.toString, i.toLong + 1)
    }.toDF("_ck", "_req_key", "pos")
    val r0 = indexMeta.filter(_.bounds.nonEmpty) match {
      case Some(meta) =>
        val bs = keys.map(k =>
          IndexStore.bucketOf(meta, View.encodeKey(k, locale))).distinct
        rows.filter(col("_kb").isin(bs: _*))
      case None => rows
    }
    val hit = r0.filter(col("_ck")
      .isin(keys.map(View.encodeKey(_, locale)).distinct: _*))
    broadcast(req).join(hit, Seq("_ck"), "left")
      .select(col("pos"), col("_req_key").as("key"),
        col("_id").as("id"), col("value"),
        when(col("_id").isNull, lit("not_found"))
          .otherwise(lit(null).cast("string")).as("error"))
      .orderBy(col("pos"), col("id"))
  }

  /** Keyset-paginated query — the scale-safe alternative to `skip`
    * (which is O(skip) however deep the page). Each page is `pageSize`
    * rows in collation order; `resume` continues strictly after the
    * previous page's last row via the envelope's opaque [[ResumeToken]]
    * (`nextToken` — None once exhausted). Map-only pages cursor on
    * (key, docid); REDUCED `group=true`/`group_level` pages cursor on
    * the group key alone (group keys are distinct), continuing strictly
    * past the last served group. Either cursor stays index-pruned at
    * any depth, and an index update between pages cannot shift, skip,
    * or duplicate the rows ahead of the cursor; the token's pinned
    * `update_seq` tells the caller which index version served each
    * page. */
  def queryPage(opts: QueryOpts = QueryOpts(), pageSize: Int = 1000,
                resume: Option[String] = None): ViewQueryResult = {
    require(pageSize > 0, "pageSize must be positive")
    val cursor = resume.map(ResumeToken.decode)
    // reduced GROUP rows page the same way — by (key collation) cursor;
    // the doc-id half of the token is unused (group keys are distinct)
    val groupedPage = opts.reduce && reduceFn.isDefined &&
      (opts.group || opts.groupLevel.exists(_ > 0))
    require(!groupedPage || opts.keys.isEmpty,
      "queryPage cannot page a keys= reduced fetch (request order, " +
        "not collation order) — page the keys list caller-side")
    val o =
      if (groupedPage) opts.copy(skip = 0, limit = Some(pageSize.toLong),
        resumeAfter = cursor.map(t => (t._2, t._3)))
      else opts.copy(reduce = false, skip = 0,
        limit = Some(pageSize.toLong),
        resumeAfter = cursor.map(t => (t._2, t._3)))
    val page = queryKeepCk(o)
    val rows = page.collect()
    val seq = updateSeq.getOrElse(0L)
    val next =
      if (rows.length < pageSize) None
      else {
        val last = rows.last
        Some(ResumeToken.encode(seq, last.getAs[Array[Byte]]("_ck"),
          if (groupedPage) 0L else last.getAs[Any]("id")))
      }
    val spark = page.sparkSession
    val ckIdx = page.schema.fieldIndex("_ck")
    val outSchema = org.apache.spark.sql.types.StructType(
      page.schema.fields.zipWithIndex.filter(_._2 != ckIdx).map(_._1))
    val stripped = rows.map { r =>
      org.apache.spark.sql.Row.fromSeq(
        r.toSeq.zipWithIndex.filter(_._2 != ckIdx).map(_._1))
    }
    ViewQueryResult(
      spark.createDataFrame(
        java.util.Arrays.asList(stripped: _*), outSchema),
      totalRows, 0L, updateSeq, next)
  }

  /** Persist the view index — the reference's persistent (design-doc)
    * view build. See [[IndexStore]] for the layout: range-bucketed
    * parquet sorted by collation key, a by-id sidecar for incremental
    * maintenance, and an update-seq stamp. `seq` records the change-feed
    * sequence the build is current through. */
  def materialize(path: String, numBuckets: Int = 0, seq: Long = 0L): Unit = {
    val spark = rows.sparkSession
    val n = if (numBuckets > 0) numBuckets
            else spark.sessionState.conf.numShufflePartitions
    IndexStore.create(spark, path, rows, n, seq)
  }

  /** Reopen a materialized index as a queryable view (startkey/endkey
    * queries prune to the bucket directories and row groups in range). */
  def fromIndex(spark: SparkSession, path: String): View = {
    val meta = IndexStore.readMeta(spark, path)
    new View(docs, idCol, mapPhase, reduceFn,
      Some(IndexStore.readStore(spark, path + "/data", "_kb")),
      indexMeta = Some(meta), indexPath = Some(path), locale = locale,
      conflictsRel = conflictsRel)
  }

  /** PARTITION SCOPE — CouchDB 3.x partitioned databases
    * (`/db/_partition/{partition}/...`): the same view restricted to
    * the documents whose id lives in `partition` (ids are
    * `"<partition>:<key>"`, see [[PartitionedStore]]). Every
    * [[QueryOpts]] feature composes unchanged — ranges, keys=, reduce/
    * group (partition-local aggregates, as CouchDB partitioned views
    * reduce), include_docs, pagination — and `totalRows` becomes the
    * partition's row count, matching the scoped envelope.
    *
    * Scale shape: on an UNMATERIALIZED view the id-prefix predicate
    * lands on the DOCS scan (a pushable `StartsWith` — prunes before
    * the map phase); on a view opened via [[fromPartitionedIndex]] the
    * scope is `_p` directory pruning. On a `_kb`-bucketed global index
    * ([[fromIndex]]) the prefix filters index rows — correct, but
    * partition cost there is O(index); build the partitioned layout
    * when partition queries are the workload. */
  def partitionScope(partition: String): View = {
    PartitionedStore.requireValidPartition(partition)
    val pfx = partition + PartitionedStore.Sep
    indexRows match {
      case Some(ir) =>
        new View(docs, idCol, mapPhase, reduceFn,
          Some(ir.filter(col("_id").cast("string").startsWith(pfx))),
          isUnion, indexMeta, indexPath, locale, conflictsRel)
      case None =>
        new View(docs.filter(idCol.cast("string").startsWith(pfx)), idCol,
          mapPhase, reduceFn, None, isUnion, indexMeta, indexPath, locale,
          conflictsRel)
    }
  }

  /** Persist this view in the PARTITIONED layout ([[PartitionedStore]]):
    * rows hive-partitioned by their id's partition key, `_ck`-sorted
    * within — the storage that makes a partition-scoped query
    * directory-pruned at any corpus size (CouchDB's partitioned-view
    * shard-locality promise, re-expressed as partition pruning). */
  def materializePartitioned(path: String, numTasks: Int = 0,
                             seq: Long = 0L): Unit = {
    val spark = rows.sparkSession
    val n = if (numTasks > 0) numTasks
            else spark.sessionState.conf.numShufflePartitions
    PartitionedStore.create(spark, path, rows, n, seq)
  }

  /** Reopen a [[materializePartitioned]] index scoped to ONE partition:
    * the `_p` filter prunes at the directory level (other partitions
    * are never listed), the `_ck` range then prunes row groups inside
    * the partition's sorted files. The full [[QueryOpts]] envelope
    * applies; `totalRows`/`update_seq` report the scoped count and the
    * stored stamp. */
  def fromPartitionedIndex(spark: SparkSession, path: String,
                           partition: String): View = {
    PartitionedStore.requireValidPartition(partition)
    val meta = IndexStore.readMeta(spark, path)
    val scoped = PartitionedStore.open(spark, path)
      .filter(col("_p") === partition).drop("_p")
    new View(docs, idCol, mapPhase, reduceFn, Some(scoped),
      indexMeta = Some(meta), indexPath = Some(path), locale = locale,
      conflictsRel = conflictsRel)
  }

  /** Incremental maintenance of a [[materializePartitioned]] index —
    * the [[updateIndex]] contract with partition-local cost: a changed
    * doc's partition is ARITHMETIC on its id (no by-id sidecar), so
    * only the `_p` directories holding changed docs are read and
    * rewritten, behind the same rename-swap discipline. O(changed
    * partitions) per batch. */
  def updatePartitionedIndex(spark: SparkSession, path: String,
                             changedDocs: DataFrame,
                             deletedIds: Seq[Any] = Nil,
                             newSeq: Long = -1L): Unit = {
    val meta = IndexStore.readMeta(spark, path)
    val d = IndexStore.Delta(changedDocs, idCol, deletedIds)
    val seq = if (newSeq >= 0) newSeq else meta.updateSeq + 1
    PartitionedStore.merge(spark, path, mapPhase(d.live), d.changedIds(idCol),
      seq)
  }

  /** Incremental index maintenance — the reference's change-feed driven
    * view update. Maps ONLY the changed docs, locates their old rows via
    * the by-id sidecar, and rewrites ONLY the affected key buckets —
    * O(changed buckets) per batch, not O(index). Batch formulation of
    * the same merge the streaming maintainer runs per micro-batch.
    * If a materialized reduced index exists alongside the raw one, its
    * affected buckets are re-aggregated in the same pass (a key's rows
    * never span buckets, so bucket-local re-aggregation is complete).
    * `newSeq` stamps the index's new update_seq (defaults to old+1).
    *
    * Conditional views: the map phase captures only the emit COLUMNS —
    * a view built over a pre-filtered docs DataFrame does not re-apply
    * that filter to `changedDocs`. For incremental maintenance of
    * conditional views, express the condition INSIDE the map phase
    * (CouchDB's "map function decides to emit"):
    * `View.multi(docs, id, when(cond, array(struct(…))).otherwise(array()))`
    * — a changed doc that stops matching then emits zero rows, so its
    * old rows are dropped and nothing replaces them. */
  def updateIndex(
      spark: SparkSession,
      path: String,
      changedDocs: DataFrame,
      deletedIds: Seq[Any] = Nil,
      newSeq: Long = -1L): Unit = {
    val meta = IndexStore.readMeta(spark, path)
    val d = IndexStore.Delta(changedDocs, idCol, deletedIds)
    val seq = if (newSeq >= 0) newSeq else meta.updateSeq + 1
    IndexStore.merge(spark, path, meta,
      mapPhase(d.live).withColumn("_kb", IndexStore.bucketCol(col("_ck"), meta)),
      d.changedIds(idCol), seq, reduce = reduceFn)
  }

  /** Catch this view's materialized index up to its document store's
    * `purge_seq` — CouchDB's view purge catch-up, the piece that makes
    * `_purge` a real GDPR eraser: without it a materialized index
    * keeps serving the erased doc forever. One delta-bounded
    * [[updateIndex]] merge does everything:
    * [[graft.operators.Replication.pendingPurges]] reads only the
    * store's purge-log directories past the index's recorded
    * purge_seq, fully-purged docs retire (deletedIds), docs whose
    * conflict branch was purged but survive RE-MAP from
    * `currentDocs` — their post-purge winner content (an alive id
    * absent from `currentDocs`, e.g. a now-deleted winner, retires
    * too). `update_seq` is preserved (a purge is not a change);
    * the index purge_seq advances to the store's, so a re-run is a
    * no-op. Cost: O(purged ids' buckets), never a rebuild. Returns
    * the store purge_seq the index is now current through. */
  def catchUpPurges(spark: SparkSession, path: String, storePath: String,
                    currentDocs: DataFrame): Long = {
    val meta = IndexStore.readMeta(spark, path)
    val p = graft.operators.Replication.pendingPurges(spark, storePath,
      meta.purgeSeq)
    if (p.purgeSeq <= meta.purgeSeq) return meta.purgeSeq
    val aliveDf =
      if (p.aliveIds.isEmpty) currentDocs.limit(0)
      else currentDocs.filter(idCol.isin(p.aliveIds: _*))
    // alive ids absent from currentDocs have no post-purge emit — they
    // retire like the gone ones (purge-request sized driver set)
    val present = aliveDf.select(idCol.as("_id")).distinct()
      .collect().map(_.get(0)).toSet
    val absent = p.aliveIds.filterNot(present.contains)
    updateIndex(spark, path, aliveDf, p.goneIds ++ absent,
      newSeq = meta.updateSeq)
    IndexStore.writeMeta(spark, path,
      IndexStore.readMeta(spark, path).copy(purgeSeq = p.purgeSeq))
    p.purgeSeq
  }

  /** Materialize the REDUCED index — CouchDB's reduce-btree role: the
    * per-key aggregates of a reduced view, stored sorted by collation
    * key in the SAME bucket layout as the raw index (so both prune and
    * maintain together). `group=true` queries and `group_level` rollups
    * then serve from precomputed aggregates via [[fromReducedIndex]]
    * instead of re-aggregating raw rows — the 100 TB answer for
    * reduce-heavy views. Kept in sync bucket-locally by [[updateIndex]];
    * dropped by [[IndexStore.compact]] (re-materialize after). */
  def materializeReduced(spark: SparkSession, path: String): Unit = {
    require(reduceFn.isDefined, "materializeReduced requires a reduce")
    IndexStore.writeReduced(spark, path, reduceFn.get)
  }

  /** Open the materialized reduced index for querying. */
  def fromReducedIndex(spark: SparkSession, path: String): ReducedView = {
    require(reduceFn.isDefined, "fromReducedIndex requires a reduce")
    new ReducedView(
      IndexStore.readStore(spark, IndexStore.reducedDir(path), "_kb"),
      IndexStore.readMeta(spark, path), reduceFn.get, locale)
  }

  /** Reference query-response metadata: the result rows plus
    * `total_rows` (size of the whole view index), `offset` (the skip
    * applied) and, for indexed views, the index `update_seq` —
    * CouchDB's response envelope.
    *
    * Scale note: on an UNMATERIALIZED view the first envelope costs
    * one extra map-phase pass for `total_rows`; the count is cached on
    * this View instance so later envelopes pay only for their rows
    * (see [[totalRows]]). On an indexed view the count is parquet
    * metadata, free. */
  def queryResult(opts: QueryOpts = QueryOpts()): ViewQueryResult =
    ViewQueryResult(query(opts), totalRows, opts.skip, updateSeq)

  /** CouchDB's index-freshness contract for a materialized view given
    * the pending [[ChangeSet]]:
    *  - default (stale=None): fold pending changes into the index
    *    FIRST, then answer — the reference's fresh-by-default behavior;
    *  - `stale=Ok`: answer from the index as-is (updateSeq in the
    *    envelope tells the caller how stale);
    *  - `stale=UpdateAfter`: answer from the current index, then apply
    *    the update. The served rows are pinned (persist + force) before
    *    the on-disk swap so the snapshot survives it. */
  def queryWithChanges(opts: QueryOpts, changes: ChangeSet): ViewQueryResult = {
    val path = indexPath.getOrElse(throw new IllegalStateException(
      "queryWithChanges requires a view opened via fromIndex"))
    val spark = rows.sparkSession
    val cur = indexMeta.map(_.updateSeq).getOrElse(0L)
    val pending = changes.seq > cur
    opts.stale match {
      case Some(Stale.Ok) => queryResult(opts)
      case Some(Stale.UpdateAfter) =>
        val r = queryResult(opts)
        if (pending) {
          r.rows.persist(); r.rows.count()
          updateIndex(spark, path, changes.docs, changes.deletedIds,
            changes.seq)
        }
        r
      case None =>
        if (pending) {
          updateIndex(spark, path, changes.docs, changes.deletedIds,
            changes.seq)
          fromIndex(spark, path).queryResult(opts)
        } else queryResult(opts)
    }
  }

  /** Reference `viewCleanup`/`destroy`: drop a materialized index. */
  def cleanup(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def aggFor(rf: Reduce): Column = Reduce.aggFor(rf)
}

object View {

  private[view] def encodeKey(k: Any, locale: Boolean = false): Array[Byte] =
    k match {
      case MaxKey => CollationCodec.MaxKey
      case s: Seq[_] if s.contains(MaxKey) =>
        // Encode the array prefix then the high sentinel: an upper bound for
        // every array extending that prefix (CouchDB's `[x, {}]` idiom).
        val out = new java.io.ByteArrayOutputStream()
        out.write(CollationCodec.TArr.toInt)
        s.takeWhile(_ != MaxKey).foreach { e =>
          val b = CollationCodec.encodeScala(e, locale)
          out.write(b, 0, b.length)
        }
        out.write(0xFF)
        out.toByteArray
      case other => CollationCodec.encodeScala(other, locale)
    }

  /** Define a view with a single emit per document (the common case).
    * `locale = true` switches string key ordering from UTF-8 code-point
    * order to locale-aware collator order (the CouchDB/ICU-style mode,
    * see [[graft.gfunctions.collation_key_locale]]). */
  def apply(docs: DataFrame, id: Column, key: Column, value: Column,
            reduce: Option[Reduce] = None, locale: Boolean = false): View = {
    val keyFn = if (locale) graft.gfunctions.collation_key_locale _
                else collation_key _
    val phase = (d: DataFrame) =>
      d.select(id.as("_id"), key.as("key"), value.as("value"))
        .withColumn("_ck", keyFn(col("key")))
    new View(docs, id, phase, reduce, None, locale = locale)
  }

  /** The PRIMARY index — the reference ecosystem's `_all_docs`: every
    * document as one row with `key = value = id`, in id collation
    * order. Not a separate code path but the same [[View]] machinery,
    * so the FULL [[QueryOpts]] envelope applies unchanged: ranges
    * (`startkey`/`endkey`/`inclusive_end`), `key=`/`keys=` (bulk-get),
    * `descending`, `skip`/`limit`, keyset pagination, `total_rows`/
    * `offset`, and `include_docs` (trivially the row's own document).
    * CouchDB's `_all_docs` value carries `{rev}`; revision resolution
    * lives in [[graft.operators.Revisions]] in this engine, so the
    * value here is the id itself.
    *
    * CouchDB fidelity: `_local/`-namespaced documents do NOT appear
    * (they are non-replicating node-local state with their own
    * endpoint, [[localDocs]]); `_design/` documents DO. The namespace
    * predicate is a `StartsWith` that pushes into the scan; a NULL id
    * cannot be `_local/`-namespaced, so the coalesce keeps null-id
    * rows surfacing exactly as they did before the exclusion. */
  def allDocs(docs: DataFrame, id: Column): View =
    apply(docs.filter(
        !coalesce(id.cast("string").startsWith("_local/"), lit(false))),
      id, id, id)

  /** `GET /db/_design_docs` — the primary index restricted to the
    * `_design/` id namespace (CouchDB's design-doc listing endpoint,
    * an `_all_docs` over just that prefix). Same [[View]] machinery,
    * full [[QueryOpts]] envelope; the prefix is a pushed `StartsWith`,
    * so on a partitioned store the scan touches only row groups whose
    * id range can hold `_design/` ids. */
  def designDocs(docs: DataFrame, id: Column): View =
    apply(docs.filter(id.cast("string").startsWith("_design/")),
      id, id, id)

  /** `GET /db/_local_docs` — the `_local/` namespace listing: the only
    * read surface for non-replicating local documents (checkpoint
    * state and peers), which [[allDocs]] deliberately excludes. */
  def localDocs(docs: DataFrame, id: Column): View =
    apply(docs.filter(id.cast("string").startsWith("_local/")),
      id, id, id)

  /** Union two views into one mixed-key view: CouchDB keys are dynamic
    * JSON, Spark columns are monomorphic — the collation byte encoding
    * bridges the gap. Keys (and values) are carried as their canonical
    * JSON text; ordering, range filters and lookups all operate on the
    * precomputed `_ck` bytes, so cross-type collation (numbers before
    * strings before arrays) is preserved exactly. */
  def union(a: View, b: View): View = {
    def norm(v: View): DataFrame = v.rows.select(
      col("_id"),
      to_json(struct(col("key"))).as("key"),
      to_json(struct(col("value"))).as("value"),
      col("_ck"))
    val rows = norm(a).unionByName(norm(b))
    new View(a.docs, col("_id"), _ => rows, None, Some(rows),
      isUnion = true)
  }

  /** Define a view whose collation key bytes are computed by the CALLER.
    *
    * Needed when the logical key is a heterogeneous array — e.g. a Mango
    * index over `["o_orderstatus", "o_orderdate"]` (string + timestamp):
    * Spark's `array()` requires one element type, but the collation
    * encoding of an array is just `TArr ++ concat(element encodings) ++
    * 0x00`, so the caller can assemble `_ck` from per-field
    * `collation_key` bytes and carry any display form in `key`. Ordering,
    * range pruning and index bucketing all operate on `_ck` only, so
    * every [[View]] query/materialize/update path works unchanged. */
  def computedKey(docs: DataFrame, id: Column, key: Column, value: Column,
                  ck: Column, reduce: Option[Reduce] = None): View = {
    val phase = (d: DataFrame) =>
      d.select(id.as("_id"), key.as("key"), value.as("value"), ck.as("_ck"))
    new View(docs, id, phase, reduce, None)
  }

  /** Define a view emitting zero-or-more rows per document:
    * `emits` is an `array<struct<key:…, value:…>>` column; nulls and empty
    * arrays emit nothing — the reference's multi-`emit` map functions,
    * expressed as an explode that stays inside codegen. */
  def multi(docs: DataFrame, id: Column, emits: Column,
            reduce: Option[Reduce] = None, locale: Boolean = false): View = {
    val keyFn = if (locale) graft.gfunctions.collation_key_locale _
                else collation_key _
    val phase = (d: DataFrame) => d
      .select(id.as("_id"), explode(coalesce(emits, array())).as("_e"))
      .select(col("_id"), col("_e.key").as("key"), col("_e.value").as("value"))
      .withColumn("_ck", keyFn(col("key")))
    new View(docs, id, phase, reduce, None, locale = locale)
  }
}
