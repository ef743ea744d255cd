package graft.ops

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** CouchDB Mango selectors: a document-side evaluator and a Catalyst
  * `Column` compiler.
  *
  * The reference pushes the `--query` Mango JSON into the `_changes` request
  * as a server-side `selector` (reference `index.js:102-104`,
  * `bin/couchwarehouse.bin.js:14`), so it runs before a change reaches the
  * warehouse. Here [[evalDoc]] runs it in that position: inside the
  * `couch-changes` reader, over each parsed doc, with CouchDB's type-strict
  * comparisons and dotted names addressing subfields — the only place a
  * selector runs over raw docs. [[compile]] turns the same JSON into a
  * `Column` predicate over typed columns (a flattened table), which
  * Catalyst can push down to the scan (PushedFilters).
  *
  * Supported operators (the CouchDB Mango set): implicit equality,
  * `$eq $ne $gt $gte $lt $lte $in $nin $exists $regex $and $or $not $nor
  * $beginsWith`, plus the array/type/object operators
  * `$size $all $elemMatch $allMatch $keyMapMatch $mod $type`.
  * Array-valued operators act on the warehouse's array storage form —
  * JSON-string columns (§1.2: arrays are stored stringified); `$elemMatch`
  * supports both scalar-element conditions (`{"$gt": 5}`) and
  * object-element sub-selectors (`{"qty": {"$gte": 2}}`), all conditions
  * holding on the same element, in BOTH the Column compiler and the
  * document-side evaluator.
  *
  * Invalid selector JSON and a nested `{"selector": …}` wrapper are rejected
  * (reference `index.js:202-214` validates the same way and exits).
  */
object Mango {

  final case class MangoException(msg: String) extends IllegalArgumentException(msg)

  private val mapper = new ObjectMapper()

  /** Field resolver: how a selector key becomes a Column. The second
    * argument is a sample comparison value, used to pick a cast when the
    * underlying storage is untyped (raw JSON text).
    */
  private type FieldResolver = (String, JsonNode) => Column

  /** Resolve against real DataFrame columns (flattened warehouse table). */
  private val columnResolver: FieldResolver = (field, _) => col(field)

  /** Compile a Mango selector JSON string, validated by [[parse]], to a
    * Spark Column predicate over flattened columns.
    */
  def compile(selectorJson: String): Column = compileObject(parse(selectorJson), columnResolver)

  /** Resolve against a JSON object element of `$elemMatch`/`$allMatch`:
    * `get_json_object` + a cast chosen from the comparison literal.
    */
  private def jsonResolver(doc: Column): FieldResolver = (field, v) => {
    val raw = get_json_object(doc, "$." + field)
    if (v != null && v.isNumber) raw.cast("double")
    else if (v != null && v.isBoolean) raw.cast("boolean")
    else raw
  }

  /** An object combines its entries with AND (Mango semantics). */
  private def compileObject(node: JsonNode, resolve: FieldResolver): Column =
    node.properties().asScala.map { e => compileEntry(e.getKey, e.getValue, resolve) }
      .reduceOption(_ && _)
      .getOrElse(lit(true))

  /** Mango is two-valued: a predicate on a missing/NULL field is FALSE,
    * never UNKNOWN — so `$nor`/`$not` over it must select the document.
    * Wrapping every leaf predicate in `coalesce(p, false)` collapses SQL's
    * three-valued logic to CouchDB's semantics before any negation sees it
    * (found by the Mango property test: `{"$nor":[{"f":{"$eq":x}}]}` on a
    * doc without `f`).
    */
  private def nullSafe(p: Column): Column = coalesce(p, lit(false))

  private def compileEntry(key: String, value: JsonNode, resolve: FieldResolver): Column = key match {
    case "$and" => value.elements().asScala.map(compileObject(_, resolve)).reduceOption(_ && _).getOrElse(lit(true))
    case "$or"  => value.elements().asScala.map(compileObject(_, resolve)).reduceOption(_ || _).getOrElse(lit(false))
    case "$nor" => !value.elements().asScala.map(compileObject(_, resolve)).reduceOption(_ || _).getOrElse(lit(false))
    case "$not" => !compileObject(value, resolve)
    case op if op.startsWith("$") => throw MangoException(s"unsupported top-level operator $op")
    case field if value.isObject && value.fieldNames().asScala.forall(_.startsWith("$")) =>
      value.properties().asScala.map { e =>
        nullSafe(compileOp(resolve(field, sampleValue(e.getValue)), e.getKey, e.getValue))
      }.reduceOption(_ && _).getOrElse(lit(true))
    case field => nullSafe(resolve(field, value) === literal(value)) // implicit $eq
  }

  /** A representative literal for cast selection ($in/$nin look inside the
    * array; $exists has no literal).
    */
  private def sampleValue(v: JsonNode): JsonNode =
    if (v.isArray && v.size() > 0) v.get(0) else v

  private val Combinators = Set("$and", "$or", "$nor", "$not")

  /** An `$elemMatch` argument whose keys are all VALUE operators applies
    * to a scalar element directly; anything else (field conditions or
    * combinators) is a sub-selector over an object element.
    */
  private def scalarElemMatch(v: JsonNode): Boolean =
    v.fieldNames().asScala.forall(k => k.startsWith("$") && !Combinators(k))

  private def compileOp(c: Column, op: String, v: JsonNode): Column = op match {
    case "$eq"     => c === literal(v)
    case "$ne"     => c =!= literal(v)
    case "$gt"     => c > literal(v)
    case "$gte"    => c >= literal(v)
    case "$lt"     => c < literal(v)
    case "$lte"    => c <= literal(v)
    case "$in"     => c.isin(v.elements().asScala.map(literalValue).toSeq: _*)
    case "$nin"    => !c.isin(v.elements().asScala.map(literalValue).toSeq: _*)
    case "$exists" => if (v.asBoolean) c.isNotNull else c.isNull
    case "$regex"  => c.rlike(v.asText)
    // Known edge: CouchDB (and evalDoc below) only matches STRING values;
    // in Column position over raw JSON the value arrives pre-stringified
    // (get_json_object returns "42" for 42), so a non-string field whose
    // text form starts with the prefix is leniently matched here. Typed
    // string columns (the flattened warehouse form) agree exactly.
    case "$beginsWith" => c.startsWith(v.asText)
    case "$size"   => json_array_length(c) === lit(v.asInt)
    case "$mod" =>
      val (d, r) = (v.get(0).asLong, v.get(1).asLong)
      c.try_cast("long") % d === r
    case "$all" =>
      val arr = from_json(c, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
      v.elements().asScala.map(e => array_contains(arr, e.asText))
        .reduceOption(_ && _).getOrElse(lit(true))
    case "$elemMatch" =>
      // ANY element satisfies the condition
      exists(jsonArray(c), elementPredicate(v))
    case "$allMatch" =>
      // EVERY element satisfies the condition (vacuously true on [], like
      // CouchDB's lists:all; from_json yields NULL for a non-array, which
      // nullSafe collapses to no-match)
      forall(jsonArray(c), elementPredicate(v))
    case "$keyMapMatch" =>
      // ANY KEY of the object field satisfies the condition (keys are
      // strings, so conditions compile in scalar position)
      exists(json_object_keys(c), k =>
        v.properties().asScala.map(f => compileOp(k, f.getKey, f.getValue))
          .reduceOption(_ && _).getOrElse(lit(true)))
    case "$type" =>
      val t = v.asText
      // NOT functions.typeof: its 4.1.2 codegen emits the type name
      // unquoted, failing Janino and dropping the predicate to interpreted
      // mode (see graft.functions.SparkTypeOf)
      val tf = graft.functions.SparkTypeOf(c)
      t match {
        case "string"  => tf === "string"
        case "boolean" => tf === "boolean"
        case "number"  => tf.isin("double", "float", "int", "bigint", "smallint", "tinyint", "decimal")
        case "array"   => tf.startsWith("array") || (tf === "string" && c.startsWith("["))
        case "object"  => tf.startsWith("struct") || tf.startsWith("map")
        case "null"    => c.isNull
        case other     => throw MangoException(s"unsupported $$type: $other")
      }
    // negate the CONJUNCTION of every condition in the argument (the
    // document-side evaluator's semantics) — negating only the first
    // entry would silently drop the rest of a multi-condition $not
    case "$not"    => !v.properties().asScala
      .map(f => compileOp(c, f.getKey, f.getValue))
      .reduceOption(_ && _).getOrElse(lit(true))
    case other     => throw MangoException(s"unsupported operator $other")
  }

  /** Warehouse storage form: arrays are JSON-string columns (§1.2).
    * from_json to array<string> keeps object elements as their raw JSON
    * text, so both element shapes compile over one parse.
    */
  private def jsonArray(c: Column): Column =
    from_json(c, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))

  /** Per-element condition shared by `$elemMatch`/`$allMatch`.
    *
    * Scalar-element conditions (`{"$gt": 5}`) apply to the element value;
    * `try_cast` turns non-numeric elements into NULL so they fail the
    * comparison instead of raising under ANSI mode. Object-element
    * conditions are a full sub-selector over the element — ALL conditions
    * must hold on the SAME element (CouchDB semantics, mirrored from the
    * document-side evaluator below); fields resolve via get_json_object on
    * the element's JSON text, and non-object elements never match
    * (evalDoc's `e.isObject` guard — matters under negation, where a
    * sub-$nor would otherwise select them).
    */
  private def elementPredicate(v: JsonNode): Column => Column =
    if (scalarElemMatch(v))
      e => v.properties().asScala.map { f =>
        val cast = if (sampleValue(f.getValue).isNumber) e.try_cast("double") else e
        compileOp(cast, f.getKey, f.getValue)
      }.reduceOption(_ && _).getOrElse(lit(true))
    else
      e => e.startsWith("{") && compileObject(v, jsonResolver(e))

  private def literal(v: JsonNode): Column = lit(literalValue(v))

  private def literalValue(v: JsonNode): Any =
    if (v.isBoolean) v.asBoolean
    else if (v.isIntegralNumber) v.asLong
    else if (v.isNumber) v.asDouble
    else if (v.isNull) null
    // array/object literals compare against their compact JSON text —
    // the warehouse's §1.2 storage form for arrays (Jackson's asText
    // would silently yield "" for containers and match empty strings);
    // the document-side evaluator compares the parsed nodes deeply, so
    // the two agree up to JSON formatting of the stored value
    else if (v.isContainerNode) v.toString
    else v.asText

  // ------------------------------------------------------------------
  // Document-side evaluator: the same selector semantics applied to a
  // parsed JSON document — used by the DSv2 couch-changes source to filter
  // documents INSIDE the reader (the position CouchDB itself evaluates
  // selectors in, reference index.js:102-104). Shares the operator set
  // with the Column compiler above.
  // ------------------------------------------------------------------

  /** Parse a selector once for repeated evaluation. */
  def parse(selectorJson: String): JsonNode = {
    val root =
      try mapper.readTree(selectorJson)
      catch { case e: Exception => throw MangoException(s"invalid selector JSON: ${e.getMessage}") }
    if (root == null || !root.isObject)
      throw MangoException("selector must be a JSON object")
    if (root.has("selector"))
      throw MangoException("selector should not contain a nested 'selector' key")
    root
  }

  /** Evaluate a parsed selector against a document. Missing fields fail
    * every comparison except `$exists: false` (CouchDB semantics).
    */
  def evalDoc(selector: JsonNode, doc: JsonNode): Boolean =
    selector.properties().asScala.forall { e => evalEntry(e.getKey, e.getValue, doc) }

  private def evalEntry(key: String, value: JsonNode, doc: JsonNode): Boolean = key match {
    case "$and" => value.elements().asScala.forall(evalDoc(_, doc))
    case "$or"  => value.elements().asScala.exists(evalDoc(_, doc))
    case "$nor" => !value.elements().asScala.exists(evalDoc(_, doc))
    case "$not" => !evalDoc(value, doc)
    case op if op.startsWith("$") => throw MangoException(s"unsupported top-level operator $op")
    case field if value.isObject && value.fieldNames().asScala.forall(_.startsWith("$")) =>
      val fv = subfield(doc, field)
      value.properties().asScala.forall { e => evalOp(fv, e.getKey, e.getValue) }
    case field => subfield(doc, field).exists(fv => cmp(fv, value).contains(0))
  }

  /** A field's value in `doc`, CouchDB's field syntax: a dotted name
    * addresses a subfield (`address.city`), and `\.` is a literal dot.
    */
  private def subfield(doc: JsonNode, field: String): Option[JsonNode] =
    if (field.indexOf('.') < 0) Option(doc.get(field))
    else field.split("""(?<!\\)\.""").foldLeft(Option(doc)) { (n, k) =>
      n.flatMap(d => Option(d.get(k.replace("\\.", "."))))
    }

  private def evalOp(fv: Option[JsonNode], op: String, v: JsonNode): Boolean = op match {
    case "$exists" => fv.isDefined == v.asBoolean
    case _ if fv.isEmpty => false
    case "$eq"  => cmp(fv.get, v).contains(0)
    case "$ne"  => !cmp(fv.get, v).contains(0)
    case "$gt"  => cmp(fv.get, v).exists(_ > 0)
    case "$gte" => cmp(fv.get, v).exists(_ >= 0)
    case "$lt"  => cmp(fv.get, v).exists(_ < 0)
    case "$lte" => cmp(fv.get, v).exists(_ <= 0)
    case "$in"  => v.elements().asScala.exists(e => cmp(fv.get, e).contains(0))
    case "$nin" => !v.elements().asScala.exists(e => cmp(fv.get, e).contains(0))
    case "$regex" => fv.get.isTextual && v.asText.r.findFirstIn(fv.get.asText).isDefined
    case "$beginsWith" => fv.get.isTextual && fv.get.asText.startsWith(v.asText)
    case "$size" => fv.get.isArray && fv.get.size() == v.asInt
    case "$mod" =>
      fv.get.isNumber && fv.get.asLong % v.get(0).asLong == v.get(1).asLong
    case "$all" =>
      fv.get.isArray && v.elements().asScala.forall(want =>
        fv.get.elements().asScala.exists(e => cmp(e, want).contains(0)))
    case "$elemMatch" =>
      fv.get.isArray && fv.get.elements().asScala.exists(evalElement(v, _))
    case "$allMatch" =>
      fv.get.isArray && fv.get.elements().asScala.forall(evalElement(v, _))
    case "$keyMapMatch" =>
      fv.get.isObject && fv.get.fieldNames().asScala.exists { k =>
        val kn = mapper.getNodeFactory.textNode(k)
        v.properties().asScala.forall(f => evalOp(Some(kn), f.getKey, f.getValue))
      }
    case "$type" =>
      val n = fv.get
      v.asText match {
        case "string"  => n.isTextual
        case "boolean" => n.isBoolean
        case "number"  => n.isNumber
        case "array"   => n.isArray
        case "object"  => n.isObject
        case "null"    => n.isNull
        case other     => throw MangoException(s"unsupported $$type: $other")
      }
    case "$not" => !v.properties().asScala.forall(e => evalOp(fv, e.getKey, e.getValue))
    case other => throw MangoException(s"unsupported operator $other")
  }

  /** Per-element condition shared by document-side `$elemMatch`/`$allMatch`
    * — same scalar/object branching as [[elementPredicate]].
    */
  private def evalElement(v: JsonNode, e: JsonNode): Boolean = {
    if (scalarElemMatch(v))
      v.properties().asScala.forall(f => evalOp(Some(e), f.getKey, f.getValue))
    else e.isObject && evalDoc(v, e)
  }

  /** Same-type comparison; cross-type comparisons are undefined (None) and
    * fail every relational test.
    */
  private def cmp(a: JsonNode, b: JsonNode): Option[Int] =
    if (a.isNumber && b.isNumber) Some(java.lang.Double.compare(a.asDouble, b.asDouble))
    else if (a.isTextual && b.isTextual) Some(a.asText.compareTo(b.asText))
    else if (a.isBoolean && b.isBoolean) Some(java.lang.Boolean.compare(a.asBoolean, b.asBoolean))
    // container equality is deep (Jackson node equals); ordering between
    // containers stays undefined, so only $eq/$ne/$in can match them
    else if ((a.isArray && b.isArray) || (a.isObject && b.isObject))
      if (a == b) Some(0) else None
    else None
}
