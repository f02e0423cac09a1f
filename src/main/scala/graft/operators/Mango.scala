package graft.operators

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.collation.CollationCodec
import graft.view.{IndexStore, MaxKey, QueryOpts, View}

/** CouchDB Mango (`_find` / pouchdb-find) declarative queries, compiled
  * to Catalyst predicates.
  *
  * The reference ecosystem pairs the map/reduce view engine with a
  * declarative JSON selector API (CouchDB `/db/_find`; the public Mango
  * spec: `$eq $ne $lt $lte $gt $gte $in $nin $exists $type $mod $regex
  * $size $all $elemMatch $allMatch` plus `$and $or $not $nor`, with
  * `fields`, `sort`, `limit`, `skip`, and JSON indexes selected by
  * field-prefix match). This module re-expresses that surface over
  * columnar tables:
  *
  *  - a selector compiles to ONE `Column` predicate — so Catalyst pushes
  *    it into the parquet scan (`PushedFilters`) and the whole match
  *    stays inside whole-stage codegen; nothing is interpreted per row;
  *  - dotted paths (`"a.b"`) address struct subfields;
  *  - a *missing* field (not in the schema, or SQL NULL) matches only
  *    `$exists: false` — condition operators on it match nothing, the
  *    documented Mango behavior for absent fields;
  *  - JSON indexes are persisted [[View]] indexes whose key is the
  *    indexed-fields array: heterogeneous field types concatenate their
  *    collation encodings into the array-key encoding
  *    ([[View.computedKey]]), so index range pruning (`_kb` directory +
  *    `_ck` row-group min/max) is exactly the A8/A8b machinery.
  *
  * Divergences from the document-store original, chosen deliberately for
  * a columnar engine and documented here: comparisons use the COLUMN's
  * native type order (a column is monomorphic; cross-type collation
  * ranges cannot arise), `$regex` is Java regex (Spark `RLIKE`) rather
  * than PCRE, and results are made deterministic by always appending the
  * doc id as the final sort key (CouchDB leaves equal-key order
  * unspecified).
  */
object Mango {

  // ------------------------------------------------------------ selector AST

  sealed trait Sel
  final case class Cmp(path: String, op: String, v: Any) extends Sel
  final case class In(path: String, vs: Seq[Any], negate: Boolean) extends Sel
  final case class Exists(path: String, expected: Boolean) extends Sel
  final case class TypeIs(path: String, t: String) extends Sel
  final case class Mod(path: String, divisor: Long, rem: Long) extends Sel
  final case class Regex(path: String, pattern: String) extends Sel
  final case class SizeIs(path: String, n: Int) extends Sel
  final case class AllOf(path: String, vs: Seq[Any]) extends Sel
  final case class ElemMatch(path: String, sel: Sel, forAll: Boolean) extends Sel
  final case class KeyMapMatch(path: String, sel: Sel) extends Sel
  final case class BeginsWith(path: String, prefix: String) extends Sel
  /** CouchDB `$text` (the text-index selector). A PLAIN query string
    * (bare whitespace terms) matches docs whose ANALYZED indexed text
    * contains every term — conjunctive, exactly index-servable. A
    * string using Lucene syntax ([[TextQuery.isLucene]]) parses the
    * CouchDB text-search grammar: `field:term`, quoted phrases,
    * AND/OR/NOT grouping, `[a TO b]` ranges — served by postings
    * probes + an exact residual ([[luceneCandidates]]). One
    * deliberate, documented divergence from Lucene's default-OR
    * parser either way: adjacent clauses conjoin (write `OR` for a
    * union). Only servable FROM a text index
    * ([[findText]]/[[findAuto]]), as in CouchDB, where `$text`
    * without a text index is an error. */
  final case class TextMatch(q: String) extends Sel
  final case class And(ss: Seq[Sel]) extends Sel
  final case class Or(ss: Seq[Sel]) extends Sel
  final case class Not(s: Sel) extends Sel
  final case class Nor(ss: Seq[Sel]) extends Sel

  /** A parsed `_find` request body. `conflicts: true` asks each
    * returned doc to carry its `_conflicts` array (CouchDB's find
    * option) — servable only over a [[withConflicts]]-decorated doc
    * relation, since the conflict set lives in the revision trees,
    * not the doc columns. */
  final case class FindReq(selector: Sel, fields: Seq[String],
                           sort: Seq[(String, Boolean)],
                           limit: Option[Long], skip: Long,
                           useIndex: Option[String] = None,
                           conflicts: Boolean = false)

  private val mapper = new ObjectMapper()

  private def jsonValue(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isTextual) n.asText()
    else if (n.isArray) n.elements().asScala.map(jsonValue).toSeq
    else throw new IllegalArgumentException(
      s"mango: unsupported literal ${n.getNodeType}")

  private def fieldsOf(n: JsonNode): Seq[(String, JsonNode)] =
    n.propertyStream().iterator().asScala
      .map(e => e.getKey -> e.getValue).toSeq

  /** Parse a bare selector document. */
  def parseSelector(json: String): Sel = parseSel(mapper.readTree(json))

  private val condOps = Set("$eq", "$ne", "$lt", "$lte", "$gt", "$gte",
    "$in", "$nin", "$exists", "$type", "$mod", "$regex", "$size", "$all",
    "$elemMatch", "$allMatch", "$keyMapMatch", "$beginsWith")

  private def parseSel(n: JsonNode): Sel = {
    require(n.isObject, s"mango: selector must be an object, got $n")
    val fs = fieldsOf(n)
    if (fs.nonEmpty && fs.forall(f => condOps(f._1))) {
      // an op-object with no field name — `{"$gt": 5}` — is legal inside
      // $elemMatch/$allMatch bodies: conditions on the element itself
      val ops = fs.map { case (op, arg) => parseOp("", op, arg) }
      return if (ops.size == 1) ops.head else And(ops)
    }
    val parts = fs.map {
      case ("$and", v) => And(v.elements().asScala.map(parseSel).toSeq)
      case ("$or", v) => Or(v.elements().asScala.map(parseSel).toSeq)
      case ("$nor", v) => Nor(v.elements().asScala.map(parseSel).toSeq)
      case ("$not", v) => Not(parseSel(v))
      case ("$text", v) => TextMatch(v.asText())
      case (op, _) if op.startsWith("$") =>
        throw new IllegalArgumentException(s"mango: unknown combinator $op")
      case (path, v) => parseField(path, v)
    }
    if (parts.size == 1) parts.head else And(parts)
  }

  /** A field's condition: either a bare literal (implicit `$eq`) or an
    * object of `$op` entries (implicitly ANDed, per the spec). */
  private def parseField(path: String, v: JsonNode): Sel =
    if (v.isObject && fieldsOf(v).forall(_._1.startsWith("$"))) {
      val ops = fieldsOf(v).map { case (op, arg) => parseOp(path, op, arg) }
      if (ops.size == 1) ops.head else And(ops)
    } else Cmp(path, "$eq", jsonValue(v))

  private def parseOp(path: String, op: String, arg: JsonNode): Sel = op match {
    case "$eq" | "$ne" | "$lt" | "$lte" | "$gt" | "$gte" =>
      Cmp(path, op, jsonValue(arg))
    case "$in" => In(path, jsonValue(arg).asInstanceOf[Seq[Any]], negate = false)
    case "$nin" => In(path, jsonValue(arg).asInstanceOf[Seq[Any]], negate = true)
    case "$exists" => Exists(path, arg.asBoolean())
    case "$type" => TypeIs(path, arg.asText())
    case "$mod" =>
      val both = arg.elements().asScala.map(_.asLong()).toSeq
      Mod(path, both.head, both(1))
    case "$regex" => Regex(path, arg.asText())
    case "$size" => SizeIs(path, arg.asInt())
    case "$all" => AllOf(path, jsonValue(arg).asInstanceOf[Seq[Any]])
    case "$elemMatch" => ElemMatch(path, parseSel(arg), forAll = false)
    case "$allMatch" => ElemMatch(path, parseSel(arg), forAll = true)
    case "$keyMapMatch" => KeyMapMatch(path, parseSel(arg))
    case "$beginsWith" => BeginsWith(path, arg.asText())
    case other =>
      throw new IllegalArgumentException(s"mango: unknown operator $other")
  }

  /** Parse a full `_find` request: `{"selector": …, "fields": …,
    * "sort": …, "limit": …, "skip": …}`. Default limit is 25 (the
    * CouchDB default — an unbounded find is an anti-query at scale). */
  def parseFind(json: String): FindReq = {
    val n = mapper.readTree(json)
    val sel = parseSel(n.get("selector"))
    val fields = Option(n.get("fields")).map(
      _.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val sort = Option(n.get("sort")).map(_.elements().asScala.map { e =>
      if (e.isTextual) e.asText() -> true
      else {
        val (f, dir) = fieldsOf(e).head
        f -> (dir.asText() != "desc")
      }
    }.toSeq).getOrElse(Nil)
    val limit = Option(n.get("limit")).map(_.asLong()).orElse(Some(25L))
    val skip = Option(n.get("skip")).map(_.asLong()).getOrElse(0L)
    // CouchDB's use_index: a string index name, or a [ddoc, name]
    // array — the index name is the last element either way
    val useIndex = Option(n.get("use_index")).map { u =>
      if (u.isArray) u.elements().asScala.toSeq.last.asText() else u.asText()
    }
    val conflicts = Option(n.get("conflicts")).exists(_.asBoolean())
    FindReq(sel, fields, sort, limit, skip, useIndex, conflicts)
  }

  // ------------------------------------------------------- compile to Column

  /** Resolve a dotted path against a schema: the column (and its type),
    * or None when the path does not exist — which is Mango's "missing
    * field" case, not an error. */
  private def resolve(schema: StructType, path: String): Option[(Column, DataType)] = {
    val parts = path.split('.')
    schema.find(_.name == parts.head).flatMap { f0 =>
      parts.tail.foldLeft(Option(col(parts.head) -> f0.dataType)) {
        case (Some((c, st: StructType)), p) =>
          st.find(_.name == p).map(f => c.getField(p) -> f.dataType)
        case _ => None
      }
    }
  }

  /** Coerce a JSON literal toward the column's type, so selector
    * comparisons are typed the way the scan is: ISO-8601 strings against
    * timestamp columns become timestamp literals (pushdown-able), and
    * integral JSON numbers against integral columns stay integral. */
  private def coerce(v: Any, dt: DataType): Column = (v, dt) match {
    case (s: String, TimestampType | TimestampNTZType) =>
      lit(java.time.Instant.parse(s))
    case (s: String, DateType) => lit(java.time.LocalDate.parse(s))
    case (x, _) => lit(x)
  }

  /** Compile a selector to one boolean Column over `schema`. */
  def compile(sel: Sel, schema: StructType): Column = {
    // A condition on a missing field matches nothing (Mango semantics) —
    // including a field that is SQL NULL in this row: coalesce collapses
    // three-valued NULL to false so negators ($not/$nor) behave as set
    // complement, not SQL's null-propagating NOT.
    def on(path: String)(f: (Column, DataType) => Column): Column =
      resolve(schema, path).map { case (c, dt) => coalesce(f(c, dt), lit(false)) }
        .getOrElse(lit(false))
    sel match {
      case Cmp(p, "$eq", null) => on(p)((c, _) => c.isNull)
      case Cmp(p, "$ne", null) => on(p)((c, _) => c.isNotNull)
      case Cmp(p, "$eq", v) => on(p)((c, dt) => c === coerce(v, dt))
      case Cmp(p, "$ne", v) =>
        // only documents that HAVE the field with a different value match
        on(p)((c, dt) => c.isNotNull && c =!= coerce(v, dt))
      case Cmp(p, "$lt", v) => on(p)((c, dt) => c < coerce(v, dt))
      case Cmp(p, "$lte", v) => on(p)((c, dt) => c <= coerce(v, dt))
      case Cmp(p, "$gt", v) => on(p)((c, dt) => c > coerce(v, dt))
      case Cmp(p, "$gte", v) => on(p)((c, dt) => c >= coerce(v, dt))
      case Cmp(_, op, _) =>
        throw new IllegalArgumentException(s"mango: unknown comparison $op")
      case In(_, Nil, false) => lit(false) // $in []: nothing matches
      case In(p, Nil, true) => // $nin []: any doc with the field matches
        on(p)((c, _) => c.isNotNull)
      case In(p, vs, false) =>
        on(p)((c, dt) => vs.map(v => c === coerce(v, dt)).reduce(_ || _))
      case In(p, vs, true) =>
        on(p)((c, dt) => c.isNotNull && vs.map(v => c =!= coerce(v, dt)).reduce(_ && _))
      case Exists(p, expected) =>
        resolve(schema, p) match {
          case Some((c, _)) => if (expected) c.isNotNull else c.isNull
          case None => lit(!expected)
        }
      case TypeIs(p, t) =>
        resolve(schema, p) match {
          case None => lit(false)
          case Some((c, _)) if t == "null" => c.isNull
          case Some((c, dt)) =>
            val matches = (t, dt) match {
              case ("boolean", BooleanType) => true
              case ("number", _: NumericType) => true
              case ("string", StringType) => true
              case ("array", _: ArrayType) => true
              case ("object", _: StructType | _: MapType) => true
              case _ => false
            }
            if (matches) c.isNotNull else lit(false)
        }
      case Mod(p, d, r) =>
        on(p)((c, _) => c.isNotNull && pmod(c.cast(LongType), lit(d)) === lit(
          ((r % d) + d) % d))
      case Regex(p, re) => on(p)((c, _) => c.rlike(re))
      case SizeIs(p, n) => on(p)((c, _) => size(c) === lit(n))
      case AllOf(p, Nil) => // $all []: vacuously true for any array field
        on(p)((c, _) => c.isNotNull)
      case AllOf(p, vs) =>
        on(p)((c, _) => vs.map(v => array_contains(c, v)).reduce(_ && _))
      case ElemMatch(p, inner, forAll) =>
        on(p) { (c, dt) =>
          val et = dt.asInstanceOf[ArrayType].elementType
          val pred = (x: Column) => compileElem(inner, x, et)
          if (forAll) c.isNotNull && forall(c, pred)
          else exists(c, pred)
        }
      // CouchDB ≥2.2: at least one KEY of a map field matches the
      // inner condition — $elemMatch over map_keys. A non-map field
      // matches nothing (the CouchDB type rule, same as $beginsWith).
      case KeyMapMatch(p, inner) =>
        on(p) { (c, dt) =>
          dt match {
            case mt: MapType =>
              exists(map_keys(c), x => compileElem(inner, x, mt.keyType))
            case _ => lit(false)
          }
        }
      // CouchDB ≥3.4: string prefix — compiles to StartsWith, which
      // parquet pushes down as StringStartsWith; non-string fields
      // match nothing (the CouchDB type rule)
      case BeginsWith(p, pre) => on(p)((c, dt) => dt match {
        case StringType => c.startsWith(lit(pre))
        case _ => lit(false)
      })
      case And(ss) => ss.map(compile(_, schema)).reduceOption(_ && _).getOrElse(lit(true))
      case Or(ss) => ss.map(compile(_, schema)).reduceOption(_ || _).getOrElse(lit(false))
      case Nor(ss) => !ss.map(compile(_, schema)).reduceOption(_ || _).getOrElse(lit(false))
      case Not(s) => !compile(s, schema)
      case TextMatch(_) => throw new IllegalArgumentException(
        "$text requires a text index — serve the find through " +
          "findText/findAuto with a MangoTextIndex (CouchDB likewise " +
          "rejects $text without one)")
    }
  }

  /** Compile an `$elemMatch`/`$allMatch` body against one array element:
    * `$op`-only selectors apply to the element itself; field paths
    * address struct-element subfields. */
  private def compileElem(sel: Sel, x: Column, et: DataType): Column = {
    def sub(path: String): Option[(Column, DataType)] = et match {
      case st: StructType =>
        val parts = path.split('.')
        st.find(_.name == parts.head).flatMap { f0 =>
          parts.tail.foldLeft(Option(x.getField(parts.head) -> f0.dataType)) {
            case (Some((c, s: StructType)), p) =>
              s.find(_.name == p).map(f => c.getField(p) -> f.dataType)
            case _ => None
          }
        }
      case _ => None
    }
    def self(path: String): Option[(Column, DataType)] =
      if (path.isEmpty) Some(x -> et) else sub(path)
    def on(path: String)(f: (Column, DataType) => Column): Column =
      self(path).map { case (c, dt) => coalesce(f(c, dt), lit(false)) }
        .getOrElse(lit(false))
    sel match {
      case Cmp(p, "$eq", v) => on(p)((c, dt) => c === coerce(v, dt))
      case Cmp(p, "$ne", v) => on(p)((c, dt) => c.isNotNull && c =!= coerce(v, dt))
      case Cmp(p, "$lt", v) => on(p)((c, dt) => c < coerce(v, dt))
      case Cmp(p, "$lte", v) => on(p)((c, dt) => c <= coerce(v, dt))
      case Cmp(p, "$gt", v) => on(p)((c, dt) => c > coerce(v, dt))
      case Cmp(p, "$gte", v) => on(p)((c, dt) => c >= coerce(v, dt))
      case Regex(p, re) => on(p)((c, _) => c.rlike(re))
      case And(ss) => ss.map(compileElem(_, x, et)).reduce(_ && _)
      case Or(ss) => ss.map(compileElem(_, x, et)).reduce(_ || _)
      case Not(s) => !compileElem(s, x, et)
      case other => throw new IllegalArgumentException(
        s"mango: unsupported inside $$elemMatch: $other")
    }
  }

  // --------------------------------------------------------------- find

  /** Run a `_find` request against a table. `idCol` names the document
    * id column — appended as the last sort key so ties are deterministic
    * (CouchDB leaves them unspecified; a distributed engine must not).
    *
    * The returned plan is scan → pushed filter → (global sort) → limit →
    * project: at 100 TB the selector reaches the parquet reader as
    * `PushedFilters` and the top-k sort is Spark's `TakeOrderedAndProject`
    * when a limit is present (no full global sort is materialized). */
  def find(docs: DataFrame, idCol: String, findJson: String): DataFrame = {
    val req = parseFind(findJson)
    val d = applyConflicts(docs, req)
    val filtered = d.filter(compile(req.selector, d.schema))
    finish(filtered, req, idCol)
  }

  /** The column `conflicts: true` surfaces on each returned doc. */
  val CONFLICTS = "_conflicts"

  /** Decorate a doc relation so `conflicts: true` finds can serve: each
    * doc gains its `_conflicts` array (the LOSING live revisions —
    * CouchDB's shape; empty when the doc resolves clean), derived from
    * the corpus's revision-tree LEAVES exactly as the view surface does
    * (A33, [[graft.view.View.withConflicts]]): one partial-aggregable
    * [[Revisions.summary]] over the leaves + one id-keyed left join —
    * never driver state. Decorate once, run any number of finds; a
    * find WITHOUT `conflicts: true` drops the column from its output
    * ([[applyConflicts]]), so the decorated relation serves both
    * modes. */
  def withConflicts(docs: DataFrame, idCol: String, leaves: DataFrame,
                    id: Column, revPos: Column, revHash: Column,
                    deleted: Column): DataFrame = {
    val rel = Revisions.summary(leaves, id, revPos, revHash, deleted)
      .select(col("id").as("_confl_id"),
        when(col("n_conflicts") > 0, split(col("conflicts"), ","))
          .otherwise(array().cast("array<string>")).as(CONFLICTS))
    docs.join(rel, docs(idCol) === rel("_confl_id"), "left")
      .withColumn(CONFLICTS,
        coalesce(col(CONFLICTS), array().cast("array<string>")))
      .drop("_confl_id")
  }

  /** Enforce the request's `conflicts` flag against the doc relation:
    * `true` REQUIRES a [[withConflicts]]-decorated relation (loud —
    * serving without the column would silently drop the promised
    * field); `false` drops the decoration from the output, CouchDB's
    * default response shape. */
  private def applyConflicts(docs: DataFrame, req: FindReq): DataFrame =
    if (req.conflicts) {
      require(docs.columns.contains(CONFLICTS),
        "conflicts=true requires a doc relation decorated with " +
          "Mango.withConflicts (the conflict set lives in the revision " +
          "trees, not the doc columns)")
      docs
    } else if (docs.columns.contains(CONFLICTS)) docs.drop(CONFLICTS)
    else docs

  /** The shared find tail: deterministic (sort…, id) order, skip,
    * limit, projection. */
  private def finish(filtered: DataFrame, req: FindReq,
                     idCol: String): DataFrame = {
    val sortCols = req.sort.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc
    } :+ col(idCol).asc
    val sorted = filtered.orderBy(sortCols: _*)
    val paged = req.limit match {
      case Some(n) => sorted.offset(req.skip.toInt).limit(n.toInt)
      case None if req.skip > 0 => sorted.offset(req.skip.toInt)
      case None => sorted
    }
    if (req.fields.nonEmpty) paged.select(req.fields.map(col): _*) else paged
  }

  /** Bookmark pagination — CouchDB's `_find` paging contract: the
    * request's `limit` is the page size, and the response carries an
    * OPAQUE `bookmark` that resumes STRICTLY AFTER the last served
    * row. Unlike `skip` (which rescans and re-sorts the skipped
    * prefix, and shifts under concurrent writes), the bookmark pins
    * the last row's `(sort values…, doc id)` and page N+1 filters
    * `> cursor` lexicographically — pruning-friendly, stable at any
    * depth, the [[graft.view.View.queryPage]] discipline on the Mango
    * surface.
    *
    * Returns `(page, Some(bookmark))`, or `None` when no rows remain
    * past the served page. ONE Spark job per call: the page plan runs
    * once with `limit(pageSize+1)` — the overflow row answers
    * "has more", the last served row's typed `(sort values…, doc id)`
    * becomes the cursor, and the served rows come back as a local
    * relation (no re-execution when the caller consumes them). The
    * bookmark is base64 of a typed-JSON cursor (opaque to callers,
    * exactly as CouchDB documents theirs; JVM-version-stable, no Java
    * serialization). Sort fields must be non-null for cursor
    * comparisons to be total (CouchDB indexes enforce the same by
    * construction); the doc id tiebreak makes the order total. `skip`
    * applies only to the FIRST page (offset into the full result),
    * matching CouchDB. */
  def findPage(docs: DataFrame, idCol: String, findJson: String,
               bookmark: Option[String] = None)
      : (DataFrame, Option[String]) = {
    val (fetch, cursorCols, outCols, pageSize) =
      pagePlan(docs, idCol, findJson, bookmark)
    runPage(fetch, cursorCols, outCols, pageSize)
  }

  /** The LAZY single-job page plan behind [[findPage]] — exposed
    * within the package so specs can assert on the exact physical plan
    * the page executes. Returns (fetch plan sorted and offset but NOT
    * yet limited, cursor column names, output column names,
    * pageSize). */
  private[graft] def pagePlan(docs: DataFrame, idCol: String,
                              findJson: String, bookmark: Option[String])
      : (DataFrame, Seq[String], Seq[String], Int) = {
    val req = parseFind(findJson)
    val d = applyConflicts(docs, req)
    val filtered = d.filter(compile(req.selector, d.schema))
    pagePlanFrom(filtered, d.columns.toSeq, req, idCol, bookmark)
  }

  /** The strictly-after lexicographic cursor predicate: OR over
    * "equal on the first i sort keys, strictly past on key i"
    * branches, direction-aware per key. Shared by the scan/text pager
    * and the descending index pager, which is what keeps their
    * bookmarks interchangeable. */
  private def cursorAfter(dirs: Seq[(String, Boolean)],
                          vals: Seq[Any]): Column =
    dirs.zipWithIndex.map { case ((f, asc), i) =>
      val eqPrefix = dirs.take(i).zip(vals.take(i))
        .map { case ((pf, _), pv) => col(pf) <=> lit(pv) }
        .reduceOption(_ && _).getOrElse(lit(true))
      val v = lit(vals(i))
      eqPrefix && (if (asc) col(f) > v else col(f) < v)
    }.reduce(_ || _)

  /** The generic cursor-page tail over an ALREADY-FILTERED candidate
    * relation: bookmark resume (strictly-after lexicographic cursor),
    * sort, first-page skip, output/cursor column fetch. Shared by the
    * scan pager ([[pagePlan]]) and the text pager ([[findTextPage]]),
    * which produce their candidates differently but page identically —
    * that shared tail is what makes their bookmarks interchangeable. */
  private def pagePlanFrom(filtered: DataFrame, allCols: Seq[String],
                           req: FindReq, idCol: String,
                           bookmark: Option[String])
      : (DataFrame, Seq[String], Seq[String], Int) = {
    val pageSize = req.limit.getOrElse(25L).toInt
    val dirs = req.sort :+ (idCol -> true)
    val resumed = bookmark match {
      case None => filtered
      case Some(b) =>
        val vals = decodeBookmark(b)
        require(vals.length == dirs.length,
          s"bookmark carries ${vals.length} cursor values; this find " +
            s"sorts on ${dirs.length}")
        filtered.filter(cursorAfter(dirs, vals))
    }
    val sortCols = dirs.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc }
    val outCols: Seq[String] =
      if (req.fields.nonEmpty) req.fields else allCols
    // fetch output AND cursor columns in the one job
    val need = (outCols ++ dirs.map(_._1)).distinct
    val skipOff = if (bookmark.isEmpty) req.skip.toInt else 0
    val fetch = resumed.select(need.map(col): _*).orderBy(sortCols: _*)
      .offset(skipOff)
    (fetch, dirs.map(_._1), outCols, pageSize)
  }

  /** Execute one page: a single `limit(pageSize+1)` collect (a
    * TakeOrderedAndProject — top-k, no global sort materialization),
    * then carve the served page, the has-more bit, and the cursor out
    * of the collected rows. */
  private def runPage(fetch: DataFrame, cursorCols: Seq[String],
                      outCols: Seq[String], pageSize: Int)
      : (DataFrame, Option[String]) = {
    require(pageSize > 0, "page size (the request limit) must be positive")
    val fetched = fetch.limit(pageSize + 1).collect()
    val served = fetched.take(pageSize)
    val hasMore = fetched.length > pageSize
    val schema = fetch.schema
    val next =
      if (!hasMore) None
      else Some(encodeBookmark(cursorCols.map(served.last.getAs[Any])))
    val outIdx = outCols.map(schema.fieldIndex)
    val outSchema = StructType(outIdx.map(schema.fields))
    val rows = served.map(r =>
      org.apache.spark.sql.Row.fromSeq(outIdx.map(r.get)))
    val out = fetch.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), outSchema)
    (out, next)
  }

  // --------------------------------------------- typed-JSON bookmarks

  /** Encode the cursor values as base64(JSON array of {t, v} tagged
    * scalars) — gadget-safe (no object deserialization of caller
    * input) and stable across JVM versions, unlike serialized objects.
    * Timestamps carry epoch MICROS (the engine's collation grain). */
  private[graft] def encodeBookmark(vals: Seq[Any]): String = {
    val root = mapper.createArrayNode()
    vals.foreach { v =>
      val o = root.addObject()
      v match {
        case null => o.put("t", "null")
        case s: String => o.put("t", "s"); o.put("v", s)
        case b: java.lang.Boolean => o.put("t", "b"); o.put("v", b.booleanValue)
        case n: java.lang.Long => o.put("t", "l"); o.put("v", n.longValue)
        case n: java.lang.Integer => o.put("t", "i"); o.put("v", n.intValue)
        case n: java.lang.Short => o.put("t", "i"); o.put("v", n.intValue)
        case n: java.lang.Byte => o.put("t", "i"); o.put("v", n.intValue)
        case n: java.lang.Double => o.put("t", "d"); o.put("v", n.doubleValue)
        case n: java.lang.Float => o.put("t", "f"); o.put("v", n.floatValue)
        case n: java.math.BigDecimal => o.put("t", "dec"); o.put("v", n.toPlainString)
        case t: java.sql.Timestamp =>
          o.put("t", "ts")
          o.put("v", t.getTime * 1000L + (t.getNanos / 1000) % 1000L)
        case t: java.time.Instant =>
          o.put("t", "ts")
          o.put("v", t.getEpochSecond * 1000000L + t.getNano / 1000L)
        case t: java.time.LocalDateTime =>
          // TIMESTAMP_NTZ cursor: wall-clock micros (no zone to carry)
          o.put("t", "tsn")
          o.put("v", t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000L)
        case d: java.sql.Date => o.put("t", "date"); o.put("v", d.toString)
        case d: java.time.LocalDate =>
          o.put("t", "date"); o.put("v", d.toString)
        case other => throw new IllegalArgumentException(
          s"mango bookmark: unsupported cursor type ${other.getClass.getName}")
      }
    }
    java.util.Base64.getUrlEncoder.encodeToString(
      mapper.writeValueAsString(root).getBytes("UTF-8"))
  }

  /** Decode a caller-supplied bookmark. Anything that is not this
    * engine's typed-JSON cursor — including legacy Java-serialized
    * bookmarks — is rejected loudly rather than interpreted. */
  private[graft] def decodeBookmark(b: String): Seq[Any] = {
    def bad(why: String): Nothing = throw new IllegalArgumentException(
      s"unrecognized mango bookmark ($why); bookmarks are opaque " +
        "typed-JSON cursors issued by findPage")
    val json =
      try new String(java.util.Base64.getUrlDecoder.decode(b), "UTF-8")
      catch { case _: IllegalArgumentException => bad("not base64url") }
    val node =
      try mapper.readTree(json)
      catch { case _: com.fasterxml.jackson.core.JacksonException =>
        bad("not JSON") }
    if (node == null || !node.isArray) bad("not a JSON array")
    node.elements().asScala.map { e =>
      if (!e.isObject || e.get("t") == null) bad("element is not a tagged value")
      val v = e.get("v")
      (e.get("t").asText(), v) match {
        case ("null", _) => null
        case ("s", x) if x != null && x.isTextual => x.asText()
        case ("b", x) if x != null && x.isBoolean => x.asBoolean()
        case ("l", x) if x != null && x.canConvertToLong => x.asLong()
        case ("i", x) if x != null && x.canConvertToInt => x.asInt()
        case ("d", x) if x != null && x.isNumber => x.asDouble()
        case ("f", x) if x != null && x.isNumber => x.asDouble().toFloat
        case ("dec", x) if x != null && x.isTextual =>
          new java.math.BigDecimal(x.asText())
        case ("ts", x) if x != null && x.canConvertToLong =>
          val us = x.asLong()
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
        case ("tsn", x) if x != null && x.canConvertToLong =>
          val us = x.asLong()
          java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        case ("date", x) if x != null && x.isTextual =>
          java.sql.Date.valueOf(x.asText())
        case (t, _) => bad(s"unknown tag $t")
      }
    }.toSeq
  }

  /** Bookmark pagination SERVED FROM A JSON INDEX — the piece that
    * makes deep paging scale: page N's cursor becomes a
    * (collation key, doc id) resume on the index read (the A8b
    * `startkey_docid` machinery), so EVERY page prunes `_kb` bucket
    * directories and `_ck` row groups below the cursor instead of
    * rescanning the corpus; one `limit(pageSize+1)` job per page.
    *
    * Index order must MATCH the requested order for an index-resumed
    * cursor to be correct, so this path requires `sort` to name
    * exactly the index's fields, all one direction (CouchDB's own
    * rule that the sort must match the index; a descending sort reads
    * the SAME index in reverse — "newest first" deep paging needs no
    * second index). Ascending pages resume via the A8b
    * `startkey_docid` machinery; descending pages tighten the index
    * read's UPPER bound to the cursor key and apply the exact
    * scan-pager cursor on the decoded rows (the id tiebreak stays
    * ascending on both paths, so pages concatenate to the unpaged
    * find and bookmarks stay interchangeable). Anything else — mixed
    * directions, partial indexes the selector does not imply,
    * selectors that leave the index's first field unconstrained, or
    * dotted index fields — falls back to the scan-paging [[findPage]],
    * which stays correct at every depth, just unpruned. */
  def findPageIndexed(spark: SparkSession, docs: DataFrame, idCol: String,
                      index: MangoIndex, findJson: String,
                      bookmark: Option[String] = None)
      : (DataFrame, Option[String]) =
    pagePlanIndexed(spark, docs, idCol, index, findJson, bookmark) match {
      case None => findPage(docs, idCol, findJson, bookmark)
      case Some((fetch, cursorCols, outCols, pageSize)) =>
        runPage(fetch, cursorCols, outCols, pageSize)
    }

  /** The lazy index-served page plan behind [[findPageIndexed]], or
    * None when the request is not index-pageable (→ scan paging). */
  private[graft] def pagePlanIndexed(spark: SparkSession, docs: DataFrame,
                                     idCol: String, index: MangoIndex,
                                     findJson: String,
                                     bookmark: Option[String])
      : Option[(DataFrame, Seq[String], Seq[String], Int)] = {
    require(!index.partitioned,
      "global bookmark paging cannot serve from a partitioned index " +
        "(use findPartitionPage)")
    pagePlanIndexedCore(spark, docs, idCol, index, findJson, bookmark,
      partition = None)
  }

  /** The lazy partition-scoped page plan behind [[findPartitionPage]],
    * or None when the request is not index-pageable (→ scan paging of
    * the partition). Test hook mirroring [[pagePlanIndexed]]. */
  private[graft] def pagePlanPartition(spark: SparkSession, docs: DataFrame,
                                       idCol: String, partition: String,
                                       index: MangoIndex, findJson: String,
                                       bookmark: Option[String])
      : Option[(DataFrame, Seq[String], Seq[String], Int)] = {
    graft.view.PartitionedStore.requireValidPartition(partition)
    require(index.partitioned,
      "findPartitionPage requires a partitioned index " +
        "(createIndexPartitioned)")
    pagePlanIndexedCore(spark, docs, idCol, index, findJson, bookmark,
      Some(partition))
  }

  /** The shared index-page plan: global ([[pagePlanIndexed]]) or
    * partition-scoped (`partition = Some(p)` — one `_p` directory read,
    * fetch corpus id-prefix-scoped). */
  private def pagePlanIndexedCore(spark: SparkSession, docs: DataFrame,
                                  idCol: String, index: MangoIndex,
                                  findJson: String,
                                  bookmark: Option[String],
                                  partition: Option[String])
      : Option[(DataFrame, Seq[String], Seq[String], Int)] = {
    val req = parseFind(findJson)
    val corpus = applyConflicts(partition match {
      case Some(p) => docs.filter(col(idCol).cast("string")
        .startsWith(p + graft.view.PartitionedStore.Sep))
      case None => docs
    }, req)
    val allDesc = req.sort.nonEmpty && req.sort.forall(!_._2)
    val sortMatchesIndex = req.sort.nonEmpty &&
      (req.sort.forall(_._2) || allDesc) &&
      req.sort.map(_._1) == index.fields &&
      index.fields.forall(!_.contains('.'))
    val eligible = sortMatchesIndex &&
      index.partial.forall(pf => implies(req.selector, parseSelector(pf)))
    if (!eligible) return None
    indexBounds(req.selector, index.fields, docs.schema).map {
      case (startK, endK, incl) =>
        val pageSize = req.limit.getOrElse(25L).toInt
        val cursor = bookmark.map { b =>
          val vals = decodeBookmark(b)
          require(vals.length == index.fields.length + 1,
            s"bookmark carries ${vals.length} cursor values; this index " +
              s"pages on ${index.fields.length + 1}")
          vals
        }
        val v0 = indexView(docs, idCol, index.fields)
        val v = partition match {
          case Some(p) => v0.fromPartitionedIndex(spark, index.path, p)
          case None => v0.fromIndex(spark, index.path)
        }
        val idxRows =
          if (!allDesc) {
            // the index `_ck` is the collation encoding of the fields
            // array — encodeScala(Seq) builds the identical bytes
            // driver-side, so the cursor resumes exactly at the stored
            // key (strictly after, the A8b machinery)
            val resume = cursor.map(vals =>
              (CollationCodec.encodeScala(vals.init), vals.last))
            v.query(QueryOpts(startKey = Some(startK),
              endKey = Some(endK), inclusiveEnd = incl, reduce = false,
              sorted = false, resumeAfter = resume))
          } else {
            // descending: bound roles swap (startkey is the UPPER end).
            // The cursor key replaces the upper bound INCLUSIVELY — the
            // boundary key's not-yet-served ids still belong to the next
            // page; the exact lexicographic cursor below drops the rest.
            // Bounds stay a SUPERSET throughout (an exclusive selector
            // bound rides inclusively); the full selector re-runs on
            // every row, so over-read is pruning slack, never wrong rows.
            v.query(QueryOpts(startKey = Some(cursor.map(_.init).getOrElse(endK)),
              endKey = Some(startK), inclusiveEnd = true, reduce = false,
              sorted = false, descending = true))
          }
        val touched = selectorPaths(req.selector) ++
          req.sort.map(_._1) ++ req.fields
        val coverable = !req.conflicts &&
          touched.subsetOf(index.fields.toSet + idCol) &&
          touched.forall(!_.contains('.'))
        val (rows, schema) =
          if (coverable) {
            val keySchema = StructType(index.fields.map(f =>
              StructField(f, resolve(docs.schema, f).get._2)))
            val idType = docs.schema(idCol).dataType
            val rest = index.fields.filterNot(_ == idCol)
            val decoded = idxRows
              .select(col("id").cast(idType).as(idCol),
                from_json(col("key"), keySchema).as("_k"))
              .select(col(idCol) +: rest.map(f => col(s"_k.$f").as(f)): _*)
            (decoded, StructType(StructField(idCol, idType) +:
              keySchema.fields.toSeq.filterNot(_.name == idCol)))
          } else {
            // no distinct: a LEFT SEMI join never multiplies its left
            // side, so deduplicating the candidate ids first was one
            // redundant exchange PER PAGE (guide §2.4 — an accidental
            // shuffle on data that is already effectively unique)
            val ids = idxRows.select(col("id").as(idCol))
            (corpus.join(ids, Seq(idCol), "left_semi"), corpus.schema)
          }
        val residual = rows.filter(compile(req.selector, schema))
        // (fields…, id-asc) — the scan pager's order exactly, both
        // directions, so pages concatenate to the unpaged find and
        // bookmarks stay interchangeable. The collation encoding is
        // order-preserving per (monomorphic) column, so ascending pages
        // ride the (_ck, id) index order; descending pages apply the
        // exact direction-aware cursor here (the index read above only
        // BOUNDED the scan at the cursor key).
        val dirs = req.sort :+ (idCol -> true)
        val filtered = (cursor, allDesc) match {
          case (Some(vals), true) => residual.filter(cursorAfter(dirs, vals))
          case _ => residual
        }
        val sortCols = dirs.map { case (f, asc) =>
          if (asc) col(f).asc else col(f).desc }
        val outCols: Seq[String] =
          if (req.fields.nonEmpty) req.fields else schema.fieldNames.toSeq
        val need = (outCols ++ index.fields :+ idCol).distinct
        val skipOff = if (bookmark.isEmpty) req.skip.toInt else 0
        val fetch = filtered.select(need.map(col): _*)
          .orderBy(sortCols: _*).offset(skipOff)
        (fetch, index.fields :+ idCol, outCols, pageSize)
    }
  }

  /** Bookmark pagination with automatic index selection: the page is
    * served from the best index whose order IS the requested order
    * ([[findPageIndexed]]'s contract), falling back to scan paging
    * when none qualifies. */
  def findPageAuto(spark: SparkSession, docs: DataFrame, idCol: String,
                   indexes: Seq[MangoIndex], findJson: String,
                   bookmark: Option[String] = None)
      : (DataFrame, Option[String]) = {
    val req = parseFind(findJson)
    val oneDirection = req.sort.nonEmpty &&
      (req.sort.forall(_._2) || req.sort.forall(!_._2))
    val sortable = indexes.filter(ix => oneDirection && !ix.partitioned &&
      req.sort.map(_._1) == ix.fields && ix.fields.forall(!_.contains('.')))
    pickIndex(req.selector, sortable, docs.schema, req.useIndex) match {
      case Some(ix) => findPageIndexed(spark, docs, idCol, ix, findJson,
        bookmark)
      case None => findPage(docs, idCol, findJson, bookmark)
    }
  }

  // ------------------------------------------------------- write validation

  /** CouchDB's `validate_doc_update` gatekeeper, declaratively: each
    * rule is a NAMED requirement selector a document must match to be
    * accepted (the design-doc JS function's `throw({forbidden: …})`
    * re-expressed as data — the selector language already spans
    * existence, type, range, regex, and array shape checks). Returns
    * the input with two appended columns: `_valid`, and `_reasons` —
    * the comma-joined names of every rule the doc fails, in rule
    * order, `""` when accepted (ALL failures are reported, not just
    * the first: a rejected write should come back fixable in one
    * round trip).
    *
    * Scale shape: every rule compiles to one codegen'd predicate on
    * the scan — no UDF, no shuffle, no per-rule pass; validating a
    * 100 TB ingest batch is the same map-only scan that reads it. */
  def validateDocs(docs: DataFrame,
                   rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "validateDocs: at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "validateDocs: rule names must be unique")
    val preds = rules.map { case (name, sel) =>
      name -> compile(parseSelector(sel), docs.schema)
    }
    val failed = preds.map { case (name, p) => when(!p, lit(name)) }
    docs
      .withColumn("_valid", preds.map(_._2).reduce(_ && _))
      // concat_ws drops the nulls `when` leaves for passing rules
      .withColumn("_reasons", concat_ws(",", failed: _*))
  }

  /** The accepted/rejected split of [[validateDocs]] — the two
    * relations a validated bulk write routes to storage vs back to the
    * caller. One validation, two filters; Spark reuses the scan. */
  def partitionValid(docs: DataFrame, rules: Seq[(String, String)])
      : (DataFrame, DataFrame) = {
    val v = validateDocs(docs, rules)
    (v.filter(col("_valid")).drop("_valid", "_reasons"),
      v.filter(!col("_valid")).drop("_valid"))
  }

  // ------------------------------------------------------------ JSON indexes

  /** A Mango JSON index: a persisted [[View]] index whose key is the
    * indexed-fields array. `partial` carries the index's
    * `partial_filter_selector` JSON when it was built over a filtered
    * subset — queries can use it ONLY when their selector implies the
    * filter. */
  final case class MangoIndex(path: String, fields: Seq[String],
                              partial: Option[String] = None,
                              /** CouchDB 3.x partitioned-database
                                * index (`"partitioned": true`): built
                                * in the [[graft.view.PartitionedStore]]
                                * layout, served partition-scoped by
                                * [[findPartition]]. */
                              partitioned: Boolean = false) {
    /** The index's name for `use_index` addressing: the last path
      * segment (CouchDB's index name; the full path also matches). */
    def name: String = path.stripSuffix("/").split('/').last
  }

  /** A selector's top-level conjunction, flattened. */
  private def conjuncts(s: Sel): Seq[Sel] = s match {
    case And(ss) => ss.flatMap(conjuncts)
    case other => Seq(other)
  }

  /** Conservative implication: `query` implies `partial` when every one
    * of the partial filter's conjuncts appears VERBATIM (structural
    * equality) in the query's conjunction — CouchDB's own contract is
    * stricter still (the query must repeat the filter). Sound by
    * construction: never claims implication that doesn't hold; deeper
    * entailment (e.g. `$gt 10` implying `$gt 5`) is deliberately out of
    * scope, costing only index eligibility, never correctness. */
  private[operators] def implies(query: Sel, partial: Sel): Boolean =
    conjuncts(partial).forall(conjuncts(query).contains)

  private def indexView(docs: DataFrame, idCol: String,
                        fields: Seq[String]): View = {
    val resolved = fields.map { f =>
      f -> resolve(docs.schema, f).getOrElse(
        throw new IllegalArgumentException(s"mango index: no such field $f"))._1
    }
    // the collation encoding of an array is TArr ++ elements ++ 0x00, so
    // per-field collation_key bytes concatenate into exactly the
    // array-key encoding — heterogeneous field types included
    val ck = concat(
      lit(Array(CollationCodec.TArr)) +:
        resolved.map(r => graft.gfunctions.collation_key(r._2)) :+
        lit(Array(0x00.toByte)): _*)
    View.computedKey(docs, col(idCol),
      to_json(struct(resolved.map { case (f, c) =>
        c.as(f.replace('.', '_')) }: _*)),
      lit(null), ck)
  }

  /** Build (or rebuild) a JSON index over `fields` at `path`. With
    * `partialFilter` (a selector JSON — CouchDB's
    * `partial_filter_selector`) only matching docs are indexed: the
    * index is smaller and cheaper to maintain, and [[findIndexed]] /
    * [[pickIndex]] only serve queries whose selector implies the
    * filter. */
  def createIndex(spark: SparkSession, docs: DataFrame, idCol: String,
                  fields: Seq[String], path: String,
                  numBuckets: Int = 0,
                  partialFilter: Option[String] = None): MangoIndex = {
    val base = partialFilter match {
      case Some(pf) => docs.filter(compile(parseSelector(pf), docs.schema))
      case None => docs
    }
    indexView(base, idCol, fields).materialize(path, numBuckets)
    val out = IndexStore.fsFor(spark, path)
      .create(new Path(path, "_mango_fields"), true)
    out.write((fields.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    partialFilter.foreach { pf =>
      val po = IndexStore.fsFor(spark, path)
        .create(new Path(path, "_mango_partial"), true)
      po.write(pf.getBytes("UTF-8"))
      po.close()
    }
    MangoIndex(path, fields, partialFilter)
  }

  /** Open a previously built index (fields + partial filter come from
    * the stamps). */
  def openIndex(spark: SparkSession, path: String): MangoIndex = {
    val fs = IndexStore.fsFor(spark, path)
    val in = fs.open(new Path(path, "_mango_fields"))
    val fields = scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    in.close()
    val ppath = new Path(path, "_mango_partial")
    val partial = if (fs.exists(ppath)) {
      val pin = fs.open(ppath)
      val pf = new String(pin.readAllBytes(), "UTF-8")
      pin.close()
      Some(pf)
    } else None
    MangoIndex(path, fields, partial,
      partitioned = fs.exists(new Path(path, "_mango_partitioned")))
  }

  /** Coerce a driver-side selector literal toward the indexed column's
    * type, mirroring [[coerce]]: the index `_ck` encodes a timestamp
    * column as its numeric epoch-micros, so the BOUND must too — an
    * un-coerced ISO string would encode as a collation STRING, which
    * sorts after every number and would turn the bound into an
    * empty (not superset!) range. */
  private def coerceScala(v: Any, dt: DataType): Any = (v, dt) match {
    case (s: String, TimestampType | TimestampNTZType) =>
      java.time.Instant.parse(s)
    case (s: String, DateType) => java.time.LocalDate.parse(s)
    case (x, _) => x
  }

  /** The planner's index-prefix extraction (CouchDB's JSON-index
    * selection rule): walk the index fields in order; `$eq` extends both
    * bounds, the first range (`$gt/$gte/$lt/$lte`) closes them, anything
    * else stops. Returns the usable (startKey, endKey, inclusiveEnd), or
    * None when the index's FIRST field is unconstrained (the index
    * cannot prune; CouchDB rejects it as a candidate).
    *
    * Bounds only need to be a SUPERSET of matches — the full selector is
    * re-applied to the fetched documents — so this never affects
    * correctness, only how much of the index is read. */
  def indexBounds(sel: Sel, fields: Seq[String], schema: StructType)
      : Option[(Any, Any, Boolean)] = {
    def typed(f: String, v: Any): Any =
      resolve(schema, f).map { case (_, dt) => coerceScala(v, dt) }.getOrElse(v)
    // flatten the top-level conjunction into per-field conditions
    def conj(s: Sel): Seq[Sel] = s match {
      case And(ss) => ss.flatMap(conj)
      case other => Seq(other)
    }
    val conds = conj(sel)
    def eqOf(f: String): Option[Any] = conds.collectFirst {
      case Cmp(`f`, "$eq", v) => typed(f, v)
    }
    def rangeOf(f: String): (Option[(Any, Boolean)], Option[(Any, Boolean)]) = {
      // $beginsWith IS a range: [prefix, prefix-successor) — the
      // successor increments the last non-max char (superset-safe in
      // code-point order; a prefix whose chars are all ￿, or
      // whose bump would land in the surrogate range, keeps only the
      // lower bound — still a valid pruning superset)
      val bw = conds.collectFirst { case BeginsWith(`f`, p) => p }
      def prefixSuccessor(s: String): Option[String] = {
        var i = s.length - 1
        while (i >= 0 && (s.charAt(i) == Char.MaxValue ||
          s.charAt(i) >= 0xD7FF.toChar)) i -= 1
        if (i < 0) None
        else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
      }
      val lo = conds.collectFirst {
        case Cmp(`f`, "$gt", v) => (typed(f, v), false)
        case Cmp(`f`, "$gte", v) => (typed(f, v), true)
      }.orElse(bw.map(p => (p: Any, true)))
      val hi = conds.collectFirst {
        case Cmp(`f`, "$lt", v) => (typed(f, v), false)
        case Cmp(`f`, "$lte", v) => (typed(f, v), true)
      }.orElse(bw.flatMap(prefixSuccessor).map(s => (s: Any, false)))
      (lo, hi)
    }
    val eqPrefix = fields.map(eqOf).takeWhile(_.isDefined).flatten
    val nextField = fields.drop(eqPrefix.length).headOption
    val range = nextField.map(rangeOf).getOrElse((None, None))
    if (eqPrefix.isEmpty && range._1.isEmpty && range._2.isEmpty) None
    else {
      val (lo, hi) = range
      // start at [eqs, lo] (or the bare prefix, which collates before
      // every extension); end at [eqs, hi, MaxKey] when hi is inclusive,
      // exclusive at [eqs, hi] when strict (rows with deeper index
      // fields extend [eqs, hi] and so stay OUT of a strict bound).
      // With a strict $gt the bare [eqs, lo] start still admits rows
      // equal to the bound — superset semantics; the residual filter
      // re-applies the exact selector, so bounds only govern pruning.
      val start: Any = lo match {
        case Some((v, _)) => eqPrefix :+ v
        case None => eqPrefix
      }
      val (end: Any, incl: Boolean) = hi match {
        case Some((v, true)) => (eqPrefix ++ Seq(v, MaxKey), false)
        case Some((v, false)) => (eqPrefix :+ v, false)
        case None => (eqPrefix :+ MaxKey, false)
      }
      Some((start, end, incl))
    }
  }

  /** Every field path a selector mentions. */
  private def selectorPaths(sel: Sel): Set[String] = sel match {
    case Cmp(p, _, _) => Set(p)
    case In(p, _, _) => Set(p)
    case Exists(p, _) => Set(p)
    case TypeIs(p, _) => Set(p)
    case Mod(p, _, _) => Set(p)
    case Regex(p, _) => Set(p)
    case SizeIs(p, _) => Set(p)
    case AllOf(p, _) => Set(p)
    case ElemMatch(p, _, _) => Set(p)
    case KeyMapMatch(p, _) => Set(p)
    case BeginsWith(p, _) => Set(p)
    case And(ss) => ss.flatMap(selectorPaths).toSet
    case Or(ss) => ss.flatMap(selectorPaths).toSet
    case Nor(ss) => ss.flatMap(selectorPaths).toSet
    case Not(s) => selectorPaths(s)
    case TextMatch(_) => Set.empty
  }

  /** Serve a `_find` from a JSON index: bounds come from the PRUNED
    * index range (`_kb` directory pruning + `_ck` row-group min/max —
    * the A8 machinery). Two serve shapes:
    *
    *  - **covered**: when every field the request touches (selector,
    *    sort, projection) is an indexed field or the doc id, the find
    *    is answered from the index ALONE — the stored key struct is
    *    decoded (`from_json` against the docs schema), the FULL
    *    selector runs on it, and the documents table is never read
    *    (plan-asserted in the spec). The covering path handles
    *    top-level fields (dotted paths fall back to the fetch path).
    *  - **fetch**: otherwise candidate ids semi-join the documents
    *    table (the by-id fetch) and the FULL selector re-runs as a
    *    residual, so index bounds only ever affect how much index is
    *    read.
    *
    * Falls back to the full-scan [[find]] when the index's first field
    * is unconstrained. */
  def findIndexed(spark: SparkSession, docs: DataFrame, idCol: String,
                  index: MangoIndex, findJson: String): DataFrame = {
    val req = parseFind(findJson)
    // a partial index only holds docs matching its filter: serving a
    // query that doesn't imply the filter would silently DROP rows, so
    // ineligible queries take the full scan instead
    if (index.partial.exists(pf =>
        !implies(req.selector, parseSelector(pf))))
      return find(docs, idCol, findJson)
    indexBounds(req.selector, index.fields, docs.schema) match {
      case None => find(docs, idCol, findJson)
      case Some((startK, endK, incl)) =>
        val v = indexView(docs, idCol, index.fields)
          .fromIndex(spark, index.path)
        val idxRows = v.query(QueryOpts(startKey = Some(startK),
          endKey = Some(endK), inclusiveEnd = incl, reduce = false,
          sorted = false))
        serveIndexRows(applyConflicts(docs, req), idCol, index, req,
          idxRows)
    }
  }

  /** The index-serve tail shared by [[findIndexed]] and
    * [[findPartition]]: covered-vs-fetch decision, residual selector,
    * sort, page, projection. `docs` is the fetch corpus (already
    * partition-scoped on the partitioned path). */
  private def serveIndexRows(docs: DataFrame, idCol: String,
                             index: MangoIndex, req: FindReq,
                             idxRows: DataFrame): DataFrame = {
    // conflicts=true forces the doc fetch: the index cannot decode a
    // _conflicts array out of its key
    val coverable = !req.conflicts && isCovered(req, index, idCol)
    val (rows, schema) =
      if (coverable) {
        // decode the stored key struct; the find then never touches
        // the documents table
        val keySchema = StructType(index.fields.map(f =>
          StructField(f, resolve(docs.schema, f).get._2)))
        val idType = docs.schema(idCol).dataType
        // the id may itself be an indexed field — it already comes
        // from the index's `id` column, so decode only the REST
        // (selecting it twice makes every later reference ambiguous)
        val rest = index.fields.filterNot(_ == idCol)
        val decoded = idxRows
          .select(col("id").cast(idType).as(idCol),
            from_json(col("key"), keySchema).as("_k"))
          .select(col(idCol) +: rest.map(f =>
            col(s"_k.$f").as(f)): _*)
        (decoded, StructType(StructField(idCol, idType) +:
          keySchema.fields.toSeq.filterNot(_.name == idCol)))
      } else {
        // no distinct before a LEFT SEMI join (see the pager note)
        val ids = idxRows.select(col("id").as(idCol))
        (docs.join(ids, Seq(idCol), "left_semi"), docs.schema)
      }
    val filtered = rows.filter(compile(req.selector, schema))
    val sortCols = req.sort.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc
    } :+ col(idCol).asc
    val sorted = filtered.orderBy(sortCols: _*)
    val paged = req.limit match {
      case Some(n) => sorted.offset(req.skip.toInt).limit(n.toInt)
      case None if req.skip > 0 => sorted.offset(req.skip.toInt)
      case None => sorted
    }
    if (req.fields.nonEmpty) paged.select(req.fields.map(col): _*)
    else paged
  }

  /** The covered-serve decision shared by [[serveIndexRows]] and
    * [[executionStats]]: every field the find touches (selector paths,
    * sort keys, projection) must live in the index (or be the id), and
    * none may be a nested path. */
  private[operators] def isCovered(req: FindReq, index: MangoIndex,
                                   idCol: String): Boolean = {
    val touched = selectorPaths(req.selector) ++
      req.sort.map(_._1) ++ req.fields
    val covered = index.fields.toSet + idCol
    touched.subsetOf(covered) && touched.forall(!_.contains('.'))
  }

  /** `execution_stats` — CouchDB's `"execution_stats": true` find
    * companion, reported for the EXACT plan [[findAuto]] would run:
    * which index served (`_all_docs` = full scan, CouchDB's name for
    * the primary), whether the serve was covered,
    * `total_keys_examined` (index rows the serve READS — CouchDB walks
    * the index in key order and STOPS once `skip + limit` rows have
    * passed the residual selector, so a limited find examines only the
    * prefix up to that cut; the cut is modeled exactly with one
    * running-count window over the bound when the requested sort
    * follows the index order, and falls back to the full bound count
    * when a non-index sort forces the serve to see every bound row),
    * `total_docs_examined` (fetched candidate documents among the
    * examined keys; 0 on a covered serve; the corpus row count on a
    * scan) and `results_returned`. Routing, partial-eligibility, and
    * bounds all come from the planner's own code ([[pickIndex]] /
    * [[indexBounds]] / [[isCovered]]), so the report can never diverge
    * from the serve path.
    *
    * Cost note: a diagnostic endpoint served by ONE counting job per
    * route — every counter (keys examined, docs examined, pass count)
    * folds into a single aggregation over the pruned bound (or the
    * corpus, on a scan), and `results_returned` is DERIVED from the
    * pass count (`min(limit, max(0, passed - skip))` — paging clamps
    * a count, it never changes membership), so the find itself is
    * never re-run. ~1× one find, set-at-a-time, never per-doc
    * callbacks. */
  def executionStats(spark: SparkSession, docs: DataFrame, idCol: String,
                     indexes: Seq[MangoIndex], findJson: String)
      : DataFrame = {
    import spark.implicits._
    val req = parseFind(findJson)
    // the serve's row count from the selector-pass count within the
    // examined set: skip drops from the front, limit cuts the back
    def clamp(passed: Long): Long = {
      val afterSkip = math.max(0L, passed - req.skip)
      req.limit.fold(afterSkip)(l => math.min(l, afterSkip))
    }
    def scanRow = {
      val a = docs.agg(count(lit(1)).as("n"),
        sum(when(compile(req.selector, docs.schema), 1L).otherwise(0L))
          .as("p")).head()
      val passed = if (a.isNullAt(1)) 0L else a.getLong(1)
      ("_all_docs", false, 0L, a.getLong(0), clamp(passed))
    }
    val row = pickIndex(req.selector, indexes, docs.schema,
        req.useIndex) match {
      case Some(ix) =>
        indexBounds(req.selector, ix.fields, docs.schema) match {
          case Some((startK, endK, incl)) =>
            val idxRows = indexView(docs, idCol, ix.fields)
              .fromIndex(spark, ix.path)
              .query(QueryOpts(startKey = Some(startK),
                endKey = Some(endK), inclusiveEnd = incl,
                reduce = false, sorted = false))
            val cov = isCovered(req, ix, idCol)
            // the walk can stop early only when the serve emits rows
            // in index order: no requested sort, or an ascending
            // prefix of the index's fields
            val indexOrdered = req.sort.isEmpty ||
              (req.sort.forall(_._2) &&
                req.sort.map(_._1) == ix.fields.take(req.sort.size))
            val flagged = passFlags(docs, idCol, ix, req, idxRows)
            val examined = req.limit match {
              case Some(lim) if indexOrdered =>
                walkCut(docs, idCol, ix, flagged, req.skip + lim)
              case _ => flagged
            }
            val a = examined.agg(count(lit(1)).as("k"),
              sum(when(col("_pass"), 1L).otherwise(0L)).as("p"),
              countDistinct(col("_wid")).as("d")).head()
            val keys = a.getLong(0)
            val passed = if (a.isNullAt(1)) 0L else a.getLong(1)
            val docsEx = if (cov) 0L else a.getLong(2)
            (ix.name, cov, keys, docsEx, clamp(passed))
          case None => scanRow
        }
      case None => scanRow
    }
    Seq(row).toDF("index_used", "covered", "total_keys_examined",
      "total_docs_examined", "results_returned")
  }

  /** Pass-flag projection over the pruned bound: each index row with a
    * `_pass` flag — does its doc pass the residual selector? Evaluated
    * on decoded keys when the selector is index-evaluable, else on the
    * by-id fetched doc. Columns: `_wid` (stored id), the TYPED index
    * fields + id (the walk order), `_pass`. */
  private def passFlags(docs: DataFrame, idCol: String,
                        ix: MangoIndex, req: FindReq,
                        idxRows: DataFrame): DataFrame = {
    val keySchema = StructType(ix.fields.map(f =>
      StructField(f, resolve(docs.schema, f).get._2)))
    val idType = docs.schema(idCol).dataType
    // decode the stored key struct to TYPED columns — the walk order
    // is field-by-field typed order then id, which within one Spark
    // type per field is exactly the index's collation order
    val kjson = from_json(col("key"), keySchema)
    val rest = ix.fields.filterNot(_ == idCol)
    val decoded = idxRows.select(
      Seq(col("id").as("_wid"), col("id").cast(idType).as(idCol)) ++
        rest.map(f => kjson.getField(f).as(f)): _*)
    val paths = selectorPaths(req.selector)
    val selOnIndex = paths.subsetOf(ix.fields.toSet + idCol) &&
      paths.forall(!_.contains('.'))
    if (selOnIndex) {
      // the residual evaluates on the decoded key columns alone
      val evalSchema = StructType(StructField(idCol, idType) +:
        keySchema.fields.toSeq.filterNot(_.name == idCol))
      decoded.withColumn("_pass", compile(req.selector, evalSchema))
    } else {
      val matched = docs.filter(compile(req.selector, docs.schema))
        .select(col(idCol).cast("string").as("_mid"))
      decoded.join(matched, col("_wid") === col("_mid"), "left")
        .withColumn("_pass", col("_mid").isNotNull)
    }
  }

  /** The index-walk cut: CouchDB walks the index in key order and
    * STOPS once `need` (= skip + limit) rows have passed the residual
    * selector — keep everything up to and including the row where the
    * running pass count reaches `need` (the whole bound if it never
    * does). One running-count window over the already-pruned bound,
    * and only for this diagnostic endpoint. */
  private def walkCut(docs: DataFrame, idCol: String, ix: MangoIndex,
                      flagged: DataFrame, need: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // index field order, ties broken on the TYPED doc id (replayable
    // by the oracle; the decoded idCol column is typed even when the
    // id is not indexed)
    val order = ix.fields.map(col) :+ col(idCol)
    val w = Window.orderBy(order: _*)
    flagged
      .withColumn("_cum",
        sum(when(col("_pass"), 1L).otherwise(0L)).over(w))
      .filter(col("_cum") < lit(need) ||
        (col("_cum") === lit(need) && col("_pass")))
  }

  /** Build a PARTITIONED JSON index — CouchDB 3.x's default index
    * family in a partitioned database (`"partitioned": true`): the
    * same key layout as [[createIndex]] but stored in the
    * [[graft.view.PartitionedStore]] layout (hive-partitioned by each
    * id's partition key, `_ck`-sorted within), so a partition-scoped
    * find reads ONE `_p` directory + the pushed key range. */
  def createIndexPartitioned(spark: SparkSession, docs: DataFrame,
                             idCol: String, fields: Seq[String],
                             path: String, numTasks: Int = 0,
                             partialFilter: Option[String] = None)
      : MangoIndex = {
    val base = partialFilter match {
      case Some(pf) => docs.filter(compile(parseSelector(pf), docs.schema))
      case None => docs
    }
    indexView(base, idCol, fields).materializePartitioned(path, numTasks)
    val fs = IndexStore.fsFor(spark, path)
    val out = fs.create(new Path(path, "_mango_fields"), true)
    out.write((fields.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    partialFilter.foreach { pf =>
      val po = fs.create(new Path(path, "_mango_partial"), true)
      po.write(pf.getBytes("UTF-8"))
      po.close()
    }
    fs.create(new Path(path, "_mango_partitioned"), true).close()
    MangoIndex(path, fields, partialFilter, partitioned = true)
  }

  /** Partition-scoped `_find` — CouchDB's
    * `/db/_partition/{partition}/_find`: served from a PARTITIONED
    * index ([[createIndexPartitioned]]) when the selector constrains
    * the index's first field — `_p` directory pruning (one partition's
    * index read) + `_ck` row-group pruning within + the usual
    * covered-or-fetch tail, where the fetch corpus is itself
    * id-prefix-scoped (a pushable `StartsWith` on the docs scan).
    * When the index cannot serve (unconstrained first field, partial
    * filter not implied), the fallback is CouchDB's too: a scan OF THE
    * PARTITION (the prefix-scoped docs), never the corpus. */
  def findPartition(spark: SparkSession, docs: DataFrame, idCol: String,
                    partition: String, index: MangoIndex,
                    findJson: String): DataFrame = {
    graft.view.PartitionedStore.requireValidPartition(partition)
    require(index.partitioned,
      "findPartition requires a partitioned index " +
        "(createIndexPartitioned); global indexes cannot serve " +
        "partition-scoped finds partition-locally")
    val req = parseFind(findJson)
    val pfx = partition + graft.view.PartitionedStore.Sep
    val scoped = applyConflicts(
      docs.filter(col(idCol).cast("string").startsWith(pfx)), req)
    if (index.partial.exists(pf =>
        !implies(req.selector, parseSelector(pf))))
      return find(scoped, idCol, findJson)
    indexBounds(req.selector, index.fields, docs.schema) match {
      case None => find(scoped, idCol, findJson)
      case Some((startK, endK, incl)) =>
        val v = indexView(docs, idCol, index.fields)
          .fromPartitionedIndex(spark, index.path, partition)
        val idxRows = v.query(QueryOpts(startKey = Some(startK),
          endKey = Some(endK), inclusiveEnd = incl, reduce = false,
          sorted = false))
        serveIndexRows(scoped, idCol, index, req, idxRows)
    }
  }

  /** Incrementally maintain a PARTITIONED JSON index: new key rows from
    * the changed docs (partial indexes re-apply their filter — a doc
    * that STOPS matching contributes no new rows but its id still
    * routes the rewrite, so its old rows drop), merged partition-
    * locally ([[graft.view.PartitionedStore.merge]]: only the `_p`
    * directories holding changed ids are rewritten). */
  def upsertIndexPartitioned(spark: SparkSession, docs: DataFrame,
                             idCol: String, index: MangoIndex,
                             changedDocs: DataFrame,
                             deletedIds: Seq[Any] = Nil,
                             newSeq: Long = -1L): Unit = {
    require(index.partitioned,
      "upsertIndexPartitioned requires a partitioned index")
    val d = IndexStore.Delta(changedDocs, col(idCol), deletedIds)
    val matching = index.partial match {
      case Some(pf) =>
        d.live.filter(compile(parseSelector(pf), d.live.schema))
      case None => d.live
    }
    val newRows = indexView(matching, idCol, index.fields).rows
    val seq =
      if (newSeq >= 0) newSeq
      else IndexStore.readMeta(spark, index.path).updateSeq + 1
    graft.view.PartitionedStore.merge(spark, index.path, newRows,
      d.changedIds(col(idCol)), seq)
  }

  /** Catch a JSON index up to its document store's `purge_seq` —
    * CouchDB's Mango-index purge catch-up (the view-index rule of
    * [[graft.view.View.catchUpPurges]], through this index's field
    * view and partial filter): fully-purged doc ids retire via a
    * delete-only bucket-local merge; still-alive ids (a conflict
    * branch was purged) re-index from their CURRENT row in `docs` —
    * re-applying the partial filter, so an alive doc that no longer
    * matches retires too. `update_seq` is preserved, the index
    * purge_seq advances to the store's (re-runs are no-ops). Cost:
    * O(purged ids' buckets), never a rebuild. Returns the store
    * purge_seq the index is now current through. */
  def catchUpPurges(spark: SparkSession, docs: DataFrame, idCol: String,
                    index: MangoIndex, storePath: String): Long = {
    val meta = IndexStore.readMeta(spark, index.path)
    val p = Replication.pendingPurges(spark, storePath, meta.purgeSeq)
    if (p.purgeSeq <= meta.purgeSeq) return meta.purgeSeq
    val aliveDf0 =
      if (p.aliveIds.isEmpty) docs.limit(0)
      else docs.filter(col(idCol).isin(p.aliveIds: _*))
    val aliveDf = index.partial match {
      case Some(pf) => aliveDf0.filter(compile(parseSelector(pf),
        aliveDf0.schema))
      case None => aliveDf0
    }
    // alive ids with no surviving (matching) row retire with the gone
    // ones — purge-request sized driver set
    val present = aliveDf.select(col(idCol)).distinct()
      .collect().map(_.get(0)).toSet
    val absent = p.aliveIds.filterNot(present.contains)
    indexView(aliveDf, idCol, index.fields)
      .updateIndex(spark, index.path, aliveDf, p.goneIds ++ absent,
        newSeq = meta.updateSeq)
    IndexStore.writeMeta(spark, index.path,
      IndexStore.readMeta(spark, index.path).copy(purgeSeq = p.purgeSeq))
    p.purgeSeq
  }

  /** Partition-scoped `_find` with automatic index selection —
    * CouchDB's planner inside `/db/_partition/{p}/_find`:
    * [[pickIndexPartition]] over the PARTITIONED index family
    * (`use_index` honored when usable), [[findPartition]] through the
    * winner, and CouchDB's fallback when none qualifies — a scan OF
    * THE PARTITION (id-prefix-scoped docs, a pushable `StartsWith`),
    * never the corpus. */
  def findPartitionAuto(spark: SparkSession, docs: DataFrame,
                        idCol: String, partition: String,
                        indexes: Seq[MangoIndex], findJson: String)
      : DataFrame = {
    val req = parseFind(findJson)
    pickIndexPartition(req.selector, indexes, docs.schema,
        req.useIndex) match {
      case Some(ix) =>
        findPartition(spark, docs, idCol, partition, ix, findJson)
      case None =>
        graft.view.PartitionedStore.requireValidPartition(partition)
        val pfx = partition + graft.view.PartitionedStore.Sep
        find(docs.filter(col(idCol).cast("string").startsWith(pfx)),
          idCol, findJson)
    }
  }

  /** Bookmark pagination for a partition-scoped `_find` — CouchDB's
    * `/db/_partition/{p}/_find` with a bookmark: [[findPageIndexed]]'s
    * cursor machinery (both directions, interchangeable typed-JSON
    * bookmarks) over ONE `_p` directory of a PARTITIONED index, with
    * the fetch corpus id-prefix-scoped. Requests the index cannot page
    * (sort mismatch, unimplied partial, unconstrained first field)
    * fall back to scan paging OF THE PARTITION — correct at every
    * depth, never a corpus scan. */
  def findPartitionPage(spark: SparkSession, docs: DataFrame,
                        idCol: String, partition: String,
                        index: MangoIndex, findJson: String,
                        bookmark: Option[String] = None)
      : (DataFrame, Option[String]) = {
    pagePlanPartition(spark, docs, idCol, partition, index, findJson,
        bookmark) match {
      case Some((fetch, cursorCols, outCols, pageSize)) =>
        runPage(fetch, cursorCols, outCols, pageSize)
      case None =>
        val pfx = partition + graft.view.PartitionedStore.Sep
        findPage(docs.filter(col(idCol).cast("string").startsWith(pfx)),
          idCol, findJson, bookmark)
    }
  }

  /** `_explain` for a partition-scoped find: the exact decision
    * [[findPartitionAuto]] would take — the winning PARTITIONED index
    * ([[pickIndexPartition]]; global indexes never appear), the `_ck`
    * pruning bounds within the one `_p` directory, and the covered
    * test — without running the query. The no-index report says what
    * the fallback really is: a scan of the partition, not the
    * corpus. */
  def explainPartition(findJson: String, indexes: Seq[MangoIndex],
                       idCol: String, schema: StructType,
                       partition: String): MangoExplain = {
    val req = parseFind(findJson)
    pickIndexPartition(req.selector, indexes, schema,
        req.useIndex) match {
      case None =>
        MangoExplain(None, s"partition scan of '$partition': no usable " +
          "partitioned index (global indexes cannot serve " +
          "partition-scoped finds)", covered = false, None)
      case Some(ix) =>
        indexBounds(req.selector, ix.fields, schema) match {
          case None =>
            MangoExplain(None, s"partition scan of '$partition': the " +
              "selected index's first field is unconstrained",
              covered = false, None)
          case b @ Some(_) =>
            val touched = selectorPaths(req.selector) ++
              req.sort.map(_._1) ++ req.fields
            val cov = touched.subsetOf(ix.fields.toSet + idCol) &&
              touched.forall(!_.contains('.'))
            MangoExplain(Some(ix),
              if (cov) s"covered: one _p directory ('$partition'), " +
                "answered from the index alone"
              else s"index fetch: one _p directory ('$partition') " +
                "pruned + residual filter + id-prefix-scoped document " +
                "fetch", covered = cov, b)
        }
    }
  }

  /** CouchDB's index SELECTION among all available JSON indexes: the
    * candidate whose usable bound covers the longest field prefix wins
    * (eq fields count 2, a closing range 1 — equality prunes tighter),
    * ties to the fewer-fields index (less index read per row). Returns
    * None when no index can serve (first field unconstrained
    * everywhere) — the caller then full-scans, as `_find` does. */
  def pickIndex(sel: Sel, indexes: Seq[MangoIndex],
                schema: StructType): Option[MangoIndex] =
    pickIndex(sel, indexes, schema, useIndex = None)

  /** [[pickIndex]] honoring the request's `use_index`: when it names a
    * USABLE candidate (by name or full path), that index wins
    * outright; an unusable or unknown name falls back to the planner,
    * which is CouchDB's documented behavior (the response carries a
    * warning; serving a wrong index would drop rows). */
  def pickIndex(sel: Sel, indexes: Seq[MangoIndex], schema: StructType,
                useIndex: Option[String]): Option[MangoIndex] =
    // a PARTITIONED index serves only partition-scoped finds
    // ([[findPartition]]) — CouchDB excludes them from global
    // planning the same way
    pickIn(sel, indexes.filterNot(_.partitioned), useIndex)

  /** The PARTITIONED-family planner: [[pickIndex]]'s scoring over the
    * partitioned indexes only — the family a
    * `/db/_partition/{p}/_find` plans with (global indexes are
    * excluded symmetrically to [[pickIndex]] excluding partitioned
    * ones; CouchDB keeps the two families apart in both directions). */
  def pickIndexPartition(sel: Sel, indexes: Seq[MangoIndex],
                         schema: StructType,
                         useIndex: Option[String] = None)
      : Option[MangoIndex] =
    pickIn(sel, indexes.filter(_.partitioned), useIndex)

  /** Family-agnostic index selection: longest usable prefix wins (eq
    * fields count 2, a closing range 1), `use_index` overrides when
    * usable, eligible partial indexes outrank equal-score full ones. */
  private def pickIn(sel: Sel, indexes: Seq[MangoIndex],
                     useIndex: Option[String]): Option[MangoIndex] = {
    val conds = conjuncts(sel)
    def score(ix: MangoIndex): Int = {
      val eqs = ix.fields.takeWhile(f =>
        conds.exists { case Cmp(`f`, "$eq", _) => true; case _ => false })
      val rangeNext = ix.fields.drop(eqs.length).headOption.exists(f =>
        conds.exists {
          case Cmp(`f`, op, _) =>
            op == "$gt" || op == "$gte" || op == "$lt" || op == "$lte"
          // $beginsWith closes a range too ([prefix, successor))
          case BeginsWith(`f`, _) => true
          case _ => false
        })
      eqs.length * 2 + (if (rangeNext) 1 else 0)
    }
    val usable = indexes
      // a partial index is a candidate only when the selector implies
      // its filter (serving it otherwise would drop rows)
      .filter(_.partial.forall(pf => implies(sel, parseSelector(pf))))
      .map(ix => (ix, score(ix)))
      .filter(_._2 > 0)
    useIndex.flatMap(u =>
      usable.map(_._1).find(ix => ix.name == u || ix.path == u))
      .orElse(usable
        // an eligible partial index outranks an equal-score full one —
        // fewer rows to read for the same bounds
        .sortBy { case (ix, sc) =>
          (-sc, if (ix.partial.isDefined) 0 else 1, ix.fields.length) }
        .headOption.map(_._1))
  }

  /** The planning report of [[explain]] — CouchDB's `_explain`
    * response, reduced to what this engine decides: the winning index
    * (None = full scan), a human-readable reason, whether the serve
    * is COVERED (answered from the index alone), and the pruning
    * bounds the index range read would use. */
  final case class MangoExplain(index: Option[MangoIndex], reason: String,
                                covered: Boolean,
                                bounds: Option[(Any, Any, Boolean)],
                                textIndex: Option[MangoTextIndex] = None)

  /** CouchDB's `_explain`: report HOW a `_find` would be served —
    * [[pickIndex]]'s winner, [[indexBounds]]'s pruning range, and the
    * covered-projection test — WITHOUT running the query. The report
    * states exactly the decision [[findAuto]]/[[findIndexed]] would
    * take, so "why is this find slow" is answerable before paying for
    * it (the production use of `_explain`). */
  def explain(findJson: String, indexes: Seq[MangoIndex], idCol: String,
              schema: StructType): MangoExplain = {
    val req = parseFind(findJson)
    pickIndex(req.selector, indexes, schema, req.useIndex) match {
      case None =>
        MangoExplain(None, "full scan: no usable index " +
          "(no index's first field is constrained)", covered = false, None)
      case Some(ix) =>
        indexBounds(req.selector, ix.fields, schema) match {
          case None =>
            MangoExplain(None, "full scan: the selected index's first " +
              "field is unconstrained", covered = false, None)
          case b @ Some(_) =>
            val touched = selectorPaths(req.selector) ++
              req.sort.map(_._1) ++ req.fields
            val cov = touched.subsetOf(ix.fields.toSet + idCol) &&
              touched.forall(!_.contains('.'))
            MangoExplain(Some(ix),
              if (cov) "covered: answered from the index alone"
              else "index fetch: pruned candidates, residual filter, " +
                "by-id document fetch",
              covered = cov, b)
        }
    }
  }

  /** `_find` with automatic index selection: [[pickIndex]] over the
    * available indexes, [[findIndexed]] through the winner, full scan
    * when none qualifies. */
  def findAuto(spark: SparkSession, docs: DataFrame, idCol: String,
               indexes: Seq[MangoIndex], findJson: String): DataFrame = {
    val req = parseFind(findJson)
    pickIndex(req.selector, indexes, docs.schema, req.useIndex) match {
      case Some(ix) => findIndexed(spark, docs, idCol, ix, findJson)
      case None => find(docs, idCol, findJson)
    }
  }

  // ------------------------------------------------------------ text indexes

  /** A Mango TEXT index (CouchDB's `"type": "text"` index family,
    * powering the `$text` selector): a persisted
    * [[TextSearch.buildTextIndex]] positional inverted index over one
    * or more text fields (CouchDB text indexes cover a chosen field
    * set; the `$text` "default field" matches a term appearing in ANY
    * of them), with the analyzer identity stamped in the index stats
    * (so queries can never tokenize differently from the build) and
    * the field names stamped alongside. */
  final case class MangoTextIndex(path: String, fields: Seq[String]) {
    /** The index's name for `use_index` addressing: the last path
      * segment (the full path also matches). */
    def name: String = path.stripSuffix("/").split('/').last
  }

  private val TEXT_STAMP = "_mango_text"

  /** Build (or rebuild) a text index over `textFields`. The underlying
    * artifact is the E7b inverted index — term-bucketed postings with
    * positions, by-doc sidecar, incrementally maintainable via
    * [[TextSearch.upsertTextDocs]] — built over the space-joined
    * concatenation of the fields (CouchDB's default field: one term
    * space per doc; `$text` is presence-only, so cross-field position
    * adjacency is irrelevant — phrase/proximity queries against a
    * multi-field index should use the E7 API on a per-field index). */
  def createTextIndex(spark: SparkSession, docs: DataFrame, idCol: String,
                      textFields: Seq[String], path: String, nBuckets: Int,
                      analyzer: TextSearch.Analyzer)
      : MangoTextIndex = {
    require(textFields.nonEmpty, "mango text index: no fields")
    textFields.foreach(f =>
      require(resolve(docs.schema, f).exists(_._2 == StringType),
        s"mango text index: $f is not a string field"))
    val text =
      if (textFields.size == 1) col(textFields.head)
      else concat_ws(" ", textFields.map(f => coalesce(col(f), lit(""))): _*)
    TextSearch.buildTextIndex(docs, col(idCol), text, path,
      nBuckets, analyzer = analyzer)
    val out = IndexStore.fsFor(spark, path)
      .create(new Path(path, TEXT_STAMP), true)
    out.write((textFields.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    MangoTextIndex(path, textFields)
  }

  /** Single-field convenience (and the pre-multi-field signature). */
  def createTextIndex(spark: SparkSession, docs: DataFrame, idCol: String,
                      textField: String, path: String, nBuckets: Int = 64,
                      analyzer: TextSearch.Analyzer = TextSearch.Analyzer())
      : MangoTextIndex =
    createTextIndex(spark, docs, idCol, Seq(textField), path, nBuckets,
      analyzer)

  /** Open a previously built text index (the fields come from the
    * stamp; the analyzer lives in the index stats). */
  def openTextIndex(spark: SparkSession, path: String): MangoTextIndex = {
    val in = IndexStore.fsFor(spark, path).open(new Path(path, TEXT_STAMP))
    val fields = new String(in.readAllBytes(), "UTF-8")
      .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
    in.close()
    MangoTextIndex(path, fields)
  }

  // ------------------------------------------------------ index administration

  /** `GET /db/_index` — enumerate every Mango index under a database's
    * index root: one row per index directory with its `name`, `type`
    * (`json` | `text` | `special`), ordered `fields`, the
    * `partial_filter` selector (null when none) and the `partitioned`
    * flag — read from the SAME stamps [[createIndex]] /
    * [[createIndexPartitioned]] / [[createTextIndex]] persist, so the
    * listing can never drift from what the planner serves. The
    * built-in primary index is reported as the `special` `_all_docs`
    * row over `_id`, exactly as CouchDB's endpoint does. Directory
    * metadata only — O(#indexes), no index data read. */
  def listIndexes(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = IndexStore.fsFor(spark, root)
    val rootPath = new Path(root)
    val dirs: Seq[Path] =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).filter(_.isDirectory)
        .map(_.getPath).toSeq
    val rows = dirs.flatMap { p =>
      if (fs.exists(new Path(p, TEXT_STAMP))) {
        val ix = openTextIndex(spark, p.toString)
        Some((p.getName, "text", ix.fields, Option.empty[String], false))
      } else if (fs.exists(new Path(p, "_mango_fields"))) {
        val ix = openIndex(spark, p.toString)
        Some((p.getName, "json", ix.fields, ix.partial, ix.partitioned))
      } else None // not a stamped Mango index; never guess
    }
    (("_all_docs", "special", Seq("_id"), Option.empty[String], false)
        +: rows.sortBy(_._1))
      .toDF("name", "type", "fields", "partial_filter", "partitioned")
  }

  /** `DELETE /db/_index/...` — drop ONE Mango index by name under the
    * root. Per-item errors, never silence: deleting a missing name, or
    * a directory that carries no Mango stamp (somebody else's data),
    * is LOUD, and the special `_all_docs` primary index cannot be
    * dropped (CouchDB returns 400 for it). */
  def deleteIndex(spark: SparkSession, root: String, name: String): Unit = {
    require(name != "_all_docs",
      "the special _all_docs index cannot be deleted")
    // names are single path segments — anything with a separator (or
    // a dot-segment) could resolve OUTSIDE the index root and delete
    // another database's stamped index
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\')
        && name != "." && name != "..",
      s"invalid index name: '$name'")
    val fs = IndexStore.fsFor(spark, root)
    val p = new Path(root, name)
    require(fs.exists(p), s"no such index: $name")
    require(fs.exists(new Path(p, "_mango_fields")) ||
        fs.exists(new Path(p, TEXT_STAMP)),
      s"'$name' exists under the index root but carries no Mango " +
        "stamp; refusing to delete foreign data")
    if (!fs.delete(p, true))
      throw new java.io.IOException(s"failed to delete index '$name'")
  }

  /** TEXT-index SELECTION for a `$text` find: `use_index` (by name or
    * full path) wins and MUST name a known text index; otherwise the
    * route is unambiguous only when every available text index stamps
    * the same field set (they serve identical matches). Distinct field
    * sets without `use_index` is an error — each index matches against
    * different text, so a silent pick would silently change results. */
  def pickTextIndex(textIndexes: Seq[MangoTextIndex],
                    useIndex: Option[String]): MangoTextIndex = {
    require(textIndexes.nonEmpty,
      "selector uses $text but no text index is available")
    useIndex match {
      case Some(u) =>
        textIndexes.find(ix => ix.name == u || ix.path == u).getOrElse(
          throw new IllegalArgumentException(
            s"use_index '$u' names no available text index " +
              s"(have: ${textIndexes.map(_.name).mkString(", ")})"))
      case None =>
        require(textIndexes.map(_.fields.toSet).distinct.size == 1,
          "ambiguous $text routing: multiple text indexes over " +
            "different field sets (" +
            textIndexes.map(ix => s"${ix.name}=${ix.fields.mkString("+")}")
              .mkString(", ") + "); pass use_index to choose")
        textIndexes.head
    }
  }

  /** Does the selector use `$text` anywhere? (Routing test for
    * [[findAuto]]; `$text` below the top-level conjunction is
    * rejected by [[findText]].) */
  private[graft] def containsText(s: Sel): Boolean = s match {
    case TextMatch(_) => true
    case And(ss) => ss.exists(containsText)
    case Or(ss) => ss.exists(containsText)
    case Nor(ss) => ss.exists(containsText)
    case Not(x) => containsText(x)
    case ElemMatch(_, i, _) => containsText(i)
    case KeyMapMatch(_, i) => containsText(i)
    case _ => false
  }

  /** Split a selector into its top-level `$text` query strings and the
    * non-text residual. `$text` under `$or`/`$not`/`$nor` has no
    * index-servable plan (the complement of a text match is not a
    * postings read) and is rejected, as CouchDB's text planner does. */
  private[graft] def splitTextSelector(sel: Sel): (Seq[String], Option[Sel]) = {
    val (txt, rest) = conjuncts(sel).partition(_.isInstanceOf[TextMatch])
    require(rest.forall(!containsText(_)),
      "$text must be a top-level conjunct of the selector")
    (txt.map(_.asInstanceOf[TextMatch].q),
      rest.size match {
        case 0 => None
        case 1 => Some(rest.head)
        case _ => Some(And(rest))
      })
  }

  /** Serve a `_find` whose selector carries `$text` from a text index:
    * the query string tokenizes on whitespace and analyzes with the
    * INDEX's stamped analyzer; candidates are the docs whose postings
    * contain every analyzed term ([[TextSearch.idsMatchingAll]] —
    * probed term buckets only, never a corpus scan); the non-text
    * residual re-applies on the by-id fetched docs (the A25
    * superset-safe discipline — the text conjunct itself is answered
    * BY the index, which is the definition of `$text`). Ordering,
    * skip/limit and projection are the standard find tail. */
  def findText(spark: SparkSession, docs: DataFrame, idCol: String,
               index: MangoTextIndex, findJson: String): DataFrame = {
    val req = parseFind(findJson)
    val (filtered, _) = textCandidates(spark, applyConflicts(docs, req),
      idCol, index, req)
    finish(filtered, req, idCol)
  }

  /** The `$text` candidate relation shared by [[findText]] and
    * [[findTextPage]]: postings-probed ids, semi-joined to docs, with
    * the non-text residual re-applied — EXCEPT when the find is
    * id-COVERED (no residual, projection and sort touch only the doc
    * id): then the postings probe's distinct ids ARE the result
    * relation and the doc corpus is never scanned (the index-only
    * serve — at corpus scale an id-list text search costs |terms|
    * postings buckets, zero doc I/O). Returns (relation, its column
    * names). */
  private def textCandidates(spark: SparkSession, docs: DataFrame,
                             idCol: String, index: MangoTextIndex,
                             req: FindReq): (DataFrame, Seq[String]) = {
    val (textQs, residual) = splitTextSelector(req.selector)
    require(textQs.nonEmpty, "findText requires a $text conjunct")
    if (textQs.exists(TextQuery.isLucene))
      return luceneCandidates(spark, docs, idCol, index, textQs, residual)
    val rawTerms = textQs.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
    val idType = docs.schema(idCol).dataType
    val ids = TextSearch.idsMatchingAll(spark, index.path, rawTerms)
      .select(col("doc_id").cast(idType).as(idCol))
    val idCovered = residual.isEmpty &&
      req.fields.nonEmpty && req.fields.forall(_ == idCol) &&
      req.sort.forall(_._1 == idCol)
    if (idCovered) (ids, Seq(idCol))
    else {
      val cand = docs.join(ids, Seq(idCol), "left_semi")
      val filtered = residual match {
        case Some(r) => cand.filter(compile(r, docs.schema))
        case None => cand
      }
      (filtered, docs.columns.toSeq)
    }
  }

  // ----------------------------------- Lucene-syntax `$text` execution

  import TextQuery.{TQ, TTerm, TPhrase, TRange, TAnd, TOr, TNot}

  /** Serve a Lucene-syntax `$text` find ([[TextQuery]] grammar —
    * fielded terms, phrases, AND/OR/NOT grouping, `[a TO b]` ranges)
    * from the text index, exactly: (1) every POSITIVE term/phrase
    * probes the postings ([[TextSearch.idsMatchingAll]] /
    * [[TextSearch.idsMatchingPhrase]] — |terms| bucket directories,
    * never a corpus scan), composed AND→intersect / OR→union into one
    * candidate id SUPERSET (fielded clauses probe the default-field
    * postings, a superset because the default field concatenates every
    * stamped field); (2) the WHOLE parsed query re-evaluates as one
    * compiled predicate on the fetched candidates (the A25
    * superset-safe discipline), alongside the non-text Mango residual.
    * What the index cannot BOUND is rejected loudly, never served by
    * a corpus scan: a query whose every conjunct is a NOT or a range,
    * or an OR with an un-probed branch ([[probeIds]]); fielded
    * terms/phrases must name a STAMPED field ([[compileTq]] — a term
    * in an unindexed field is absent from the postings, so candidates
    * would silently miss matches). */
  private def luceneCandidates(spark: SparkSession, docs: DataFrame,
                               idCol: String, index: MangoTextIndex,
                               textQs: Seq[String], residual: Option[Sel])
      : (DataFrame, Seq[String]) = {
    val analyzer = TextSearch.analyzerOf(spark, index.path)
    val stop = analyzer.sortedStop.toSet
    val parsed = textQs.map { s =>
      normalizeTq(TextQuery.parse(s), analyzer, stop).getOrElse(
        throw new IllegalArgumentException(
          s"$$text: no query terms remain after analysis in: $s"))
    }
    val tq = if (parsed.size == 1) parsed.head else TAnd(parsed)
    val probe = probeIds(spark, index.path, tq, stop).getOrElse(
      throw new IllegalArgumentException(
        "$text: the text index cannot bound this query — every OR " +
          "branch needs a positive term or phrase (NOT clauses and " +
          "ranges only restrict candidates)"))
    val idType = docs.schema(idCol).dataType
    // no distinct before a LEFT SEMI join (see the pager note)
    val ids = probe.select(col("doc_id").cast(idType).as(idCol))
    val cand = docs.join(ids, Seq(idCol), "left_semi")
      .filter(compileTq(tq, docs, index.fields, analyzer))
    val filtered = residual match {
      case Some(r) => cand.filter(compile(r, docs.schema))
      case None => cand
    }
    (filtered, docs.columns.toSeq)
  }

  /** Analyzer-normalize a parsed query: terms normalize
    * ([[TextSearch.Analyzer.queryTerm]]) and STOPWORD terms drop —
    * the standard analyzed-query behavior (`fox AND the` = `fox`; a
    * `NOT the` clause drops whole) — while PHRASE tokens normalize in
    * place and keep stopwords (a phrase containing one matches
    * nothing, the engine's documented positional-index stance).
    * Returns None when nothing remains. */
  private[operators] def normalizeTq(tq: TQ,
                                     analyzer: TextSearch.Analyzer,
                                     stop: Set[String]): Option[TQ] =
    tq match {
      case TTerm(f, t) =>
        val n = analyzer.queryTerm(t)
        if (stop.contains(n)) None else Some(TTerm(f, n))
      case TPhrase(f, ts) => Some(TPhrase(f, ts.map(analyzer.queryTerm)))
      case r: TRange => Some(r)
      case TAnd(qs) =>
        val ns = qs.flatMap(normalizeTq(_, analyzer, stop))
        ns.size match {
          case 0 => None
          case 1 => Some(ns.head)
          case _ => Some(TAnd(ns))
        }
      case TOr(qs) =>
        val ns = qs.flatMap(normalizeTq(_, analyzer, stop))
        ns.size match {
          case 0 => None
          case 1 => Some(ns.head)
          case _ => Some(TOr(ns))
        }
      case TNot(q) => normalizeTq(q, analyzer, stop).map(TNot(_))
    }

  /** The candidate-id SUPERSET a normalized query probes from the
    * postings: Some(ids) when the index can bound the clause, None
    * when it cannot (NOT, range). AND intersects its probed children
    * (un-probed children only shrink the match — still a superset);
    * OR needs EVERY branch probed. Fielded clauses probe the
    * default-field postings (superset — see [[luceneCandidates]]);
    * an all-stopword fielded phrase probes nothing and matches
    * nothing. */
  private def probeIds(spark: SparkSession, path: String, tq: TQ,
                       stop: Set[String]): Option[DataFrame] = tq match {
    case TTerm(_, t) =>
      Some(TextSearch.idsMatchingAll(spark, path, Seq(t)))
    case TPhrase(None, ts) =>
      Some(TextSearch.idsMatchingPhrase(spark, path, ts))
    case TPhrase(Some(_), ts) =>
      val nonStop = ts.filterNot(stop.contains)
      if (nonStop.isEmpty) // all-stopword phrase: empty candidate set
        Some(spark.range(0).select(col("id").as("doc_id")))
      else Some(TextSearch.idsMatchingAll(spark, path, nonStop))
    case _: TRange => None
    case TNot(_) => None
    case TAnd(qs) =>
      val ps = qs.flatMap(probeIds(spark, path, _, stop))
      if (ps.isEmpty) None
      else Some(ps.reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi")))
    case TOr(qs) =>
      val ps = qs.map(probeIds(spark, path, _, stop))
      if (ps.exists(_.isEmpty)) None
      else Some(ps.flatten.reduce(_ unionByName _))
  }

  /** Compile a normalized query to ONE boolean predicate over the doc
    * relation — the exact residual the candidate superset filters
    * through. Terms/phrases evaluate against the ANALYZED tokens of
    * their field (or of the stamped default-field concatenation —
    * derived exactly as [[createTextIndex]] derives the indexed
    * text); ranges compare the raw doc column (numeric when the
    * column is numeric, else string order). Every leaf coalesces to
    * false so NOT stays two-valued over missing/null fields. */
  private def compileTq(tq: TQ, docs: DataFrame, fields: Seq[String],
                        analyzer: TextSearch.Analyzer): Column = {
    val defaultText =
      if (fields.size == 1) col(fields.head)
      else concat_ws(" ", fields.map(f => coalesce(col(f), lit(""))): _*)
    def toks(field: Option[String]): Column = field match {
      case None => analyzer.tokens(defaultText)
      case Some(f) =>
        require(fields.contains(f),
          s"$$text: field '$f' is not in the text index " +
            s"(stamped fields: ${fields.mkString(", ")}) — a term in " +
            "an unindexed field cannot be served from the postings")
        analyzer.tokens(col(f))
    }
    def go(q: TQ): Column = q match {
      case TTerm(f, t) =>
        coalesce(array_contains(toks(f), lit(t)), lit(false))
      case TPhrase(f, ts) =>
        val tk = toks(f)
        val n = ts.size
        // window starts 1..size-n+1; guard the degenerate case (Spark
        // sequence(1, 0) would DESCEND, not empty)
        val hit = exists(sequence(lit(1), size(tk) - lit(n - 1)),
          i => ts.zipWithIndex.map { case (t, j) =>
            element_at(tk, (i + lit(j)).cast("int")) === lit(t)
          }.reduce(_ && _))
        coalesce(when(size(tk) >= n, hit).otherwise(lit(false)),
          lit(false))
      case TRange(f, lo, hi, loInc, hiInc) =>
        val (c, dt) = resolve(docs.schema, f).getOrElse(
          throw new IllegalArgumentException(
            s"$$text: range field '$f' does not exist in the document " +
              "schema"))
        def bound(s: String): Column = dt match {
          case _: org.apache.spark.sql.types.NumericType =>
            val d = try s.toDouble catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"$$text: range bound '$s' is not numeric but " +
                    s"'$f' is a ${dt.simpleString} column")
            }
            lit(d).cast(dt)
          case StringType => lit(s)
          case other => throw new IllegalArgumentException(
            s"$$text: range over unsupported ${other.simpleString} " +
              s"field '$f'")
        }
        val lower = if (loInc) c >= bound(lo) else c > bound(lo)
        val upper = if (hiInc) c <= bound(hi) else c < bound(hi)
        coalesce(lower && upper, lit(false))
      case TAnd(qs) => qs.map(go).reduce(_ && _)
      case TOr(qs) => qs.map(go).reduce(_ || _)
      case TNot(x) => !go(x)
    }
    go(tq)
  }

  /** Incrementally maintain a Mango text index — the E7b
    * [[TextSearch.upsertTextDocs]] contract (changed docs re-post
    * against the STORED analyzer, tombstoned ids retire, only touched
    * term buckets rewrite) with the text derived from the index's
    * STAMPED field set, so a multi-field index's default-field
    * concatenation can never drift from what the build indexed.
    * Returns the touched bucket ids. */
  def upsertTextIndex(spark: SparkSession, index: MangoTextIndex,
                      changedDocs: DataFrame, idCol: String,
                      deletedIds: Seq[Long] = Nil): Seq[Int] = {
    val text =
      if (index.fields.size == 1) col(index.fields.head)
      else concat_ws(" ",
        index.fields.map(f => coalesce(col(f), lit(""))): _*)
    TextSearch.upsertTextDocs(spark, index.path, changedDocs, col(idCol),
      text, deletedIds)
  }

  /** `_find` with automatic index selection over BOTH index families:
    * a `$text` selector routes through [[pickTextIndex]] (`use_index`
    * honored, ambiguity rejected; an index is required — CouchDB
    * rejects `$text` without one); anything else goes through the
    * JSON-index planner. */
  def findAuto(spark: SparkSession, docs: DataFrame, idCol: String,
               indexes: Seq[MangoIndex], textIndexes: Seq[MangoTextIndex],
               findJson: String): DataFrame = {
    val req = parseFind(findJson)
    if (containsText(req.selector))
      findText(spark, docs, idCol, pickTextIndex(textIndexes, req.useIndex),
        findJson)
    else findAuto(spark, docs, idCol, indexes, findJson)
  }

  /** [[explain]] over BOTH index families — states exactly the
    * decision the two-family [[findAuto]] would take: a `$text`
    * selector reports the [[pickTextIndex]] winner (same `use_index`
    * and ambiguity rules, so explain can throw exactly where findAuto
    * would), anything else defers to the JSON-index explain. */
  def explain(findJson: String, indexes: Seq[MangoIndex],
              textIndexes: Seq[MangoTextIndex], idCol: String,
              schema: StructType): MangoExplain = {
    val req = parseFind(findJson)
    if (containsText(req.selector)) {
      val tix = pickTextIndex(textIndexes, req.useIndex)
      MangoExplain(None,
        "text index: $text terms probe the postings buckets, non-text " +
          "residual re-applies on the by-id fetched docs",
        covered = false, bounds = None, textIndex = Some(tix))
    } else explain(findJson, indexes, idCol, schema)
  }

  /** Bookmark pagination for `$text` finds: the candidate set is the
    * text index's conjunctive postings probe (exactly [[findText]]'s
    * — |terms| bucket directories read, never a corpus scan), the
    * residual re-applies on the fetched docs, and paging is the
    * [[findPage]] typed-JSON cursor over `(sort values…, doc id)` —
    * ONE `limit(pageSize+1)` job per page, so page N of a deep text
    * match costs O(candidates) postings probe + top-k, not a re-sort
    * of the full match prefix. Bookmarks are interchangeable with the
    * scan path's (same typed cursor values). */
  def findTextPage(spark: SparkSession, docs: DataFrame, idCol: String,
                   index: MangoTextIndex, findJson: String,
                   bookmark: Option[String] = None)
      : (DataFrame, Option[String]) = {
    val req = parseFind(findJson)
    val (filtered, allCols) = textCandidates(spark,
      applyConflicts(docs, req), idCol, index, req)
    val (fetch, cursorCols, outCols, pageSize) =
      pagePlanFrom(filtered, allCols, req, idCol, bookmark)
    runPage(fetch, cursorCols, outCols, pageSize)
  }

  /** Bookmark pagination with automatic selection over BOTH index
    * families: `$text` pages from the routed text index
    * ([[findTextPage]]), anything else from the JSON-index pager. */
  def findPageAuto(spark: SparkSession, docs: DataFrame, idCol: String,
                   indexes: Seq[MangoIndex],
                   textIndexes: Seq[MangoTextIndex], findJson: String,
                   bookmark: Option[String])
      : (DataFrame, Option[String]) = {
    val req = parseFind(findJson)
    if (containsText(req.selector))
      findTextPage(spark, docs, idCol,
        pickTextIndex(textIndexes, req.useIndex), findJson, bookmark)
    else findPageAuto(spark, docs, idCol, indexes, findJson, bookmark)
  }
}
