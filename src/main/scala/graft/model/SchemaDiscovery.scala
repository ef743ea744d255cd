package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** First-document-wins schema inference (reference `lib/schema.js:4-14`,
  * `index.js:55-68`, README.md:228-273).
  *
  * Reference semantics reproduced exactly:
  *   - the schema is inferred from the FIRST non-design, non-deleted document
  *     of each docType and then frozen — later documents are projected onto
  *     it (extra fields dropped, missing fields → NULL);
  *   - three logical types only, from JS `typeof`: string / number / boolean;
  *   - nested objects dissolve into underscore-joined columns
  *     (`address.location.lat` → `address_location_lat`);
  *   - arrays (of anything) are typed `string` and stored as their JSON
  *     text (`lib/flatten.js:45`);
  *   - a `null` leaf in the first-seen document is silently dropped from the
  *     schema (`lib/flatten.js:38-42` — flatten recurses into null and
  *     assigns nothing);
  *   - top-level `_id`/`_rev` are renamed `id`/`rev` and ordered after the
  *     top-level scalars, before flattened nested fields (golden column
  *     order in `test/samplequery.json`).
  *
  * This is deliberately NOT `spark.read.json` inference (which unions
  * schemas across all rows and sorts fields alphabetically); parity requires
  * pinning the first doc's shape and key order.
  */
object SchemaDiscovery {

  /** One discovered leaf column. `path` is the JSON path segments from the
    * document root (e.g. Seq("address","location","lat")); `name` the
    * flattened column name; `isArray` marks JSON-stringified array leaves.
    */
  final case class Leaf(path: Seq[String], name: String, dataType: DataType, isArray: Boolean)

  /** A frozen per-docType schema: ordered leaves + the nested Spark schema
    * used to parse raw doc JSON (`from_json`) ahead of flattening.
    */
  final case class DocSchema(leaves: Seq[Leaf]) {
    /** Flat output StructType in reference column order. */
    def flatSchema: StructType =
      StructType(leaves.map(l => StructField(l.name, l.dataType, nullable = true)))

    /** Nested StructType for a single `from_json` over the raw document text,
      * covering all *scalar* leaves (one JSON parse per row, codegen'd).
      * Array leaves are excluded — they are extracted with
      * `get_json_object`, whose raw-JSON-substring result reproduces the
      * reference's `JSON.stringify` form exactly (`lib/flatten.js:45`),
      * including integer-vs-float formatting inside arrays.
      */
    def parseSchema: StructType = {
      def build(leafGroup: Seq[(Seq[String], Leaf)]): StructType = {
        val fields = scala.collection.mutable.LinkedHashMap
          .empty[String, Either[Leaf, scala.collection.mutable.ArrayBuffer[(Seq[String], Leaf)]]]
        leafGroup.foreach { case (path, leaf) =>
          path match {
            case Seq(single) => fields(single) = Left(leaf)
            case head +: tail =>
              fields.getOrElseUpdate(head, Right(scala.collection.mutable.ArrayBuffer.empty)) match {
                case Right(buf) => buf += ((tail, leaf))
                case Left(_)    => // scalar/object name collision: first wins
              }
            case _ => ()
          }
        }
        StructType(fields.map {
          case (name, Left(leaf))      => StructField(name, leaf.dataType, nullable = true)
          case (name, Right(children)) => StructField(name, build(children.toSeq), nullable = true)
        }.toSeq)
      }
      build(leaves.filterNot(_.isArray).map(l => (l.path, l)))
    }
  }

  private val mapper = new ObjectMapper()

  /** Discover the frozen schema from the first document's JSON text.
    *
    * Walks the document in key order (Jackson preserves insertion order),
    * mirroring the reference's flatten-then-`typeof` pass
    * (`lib/schema.js:4-14`).
    */
  def discover(docJson: String): DocSchema = {
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Leaf]
    def walk(node: JsonNode, path: Seq[String]): Unit =
      node.properties().asScala.foreach { e =>
        val (key, v) = (e.getKey, e.getValue)
        val p = path :+ key
        if (path.isEmpty && (key == "_id" || key == "_rev"))
          leaves += Leaf(p, key.tail, StringType, isArray = false)
        else if (v.isNull) {
          // null leaf in first doc → dropped from schema (lib/flatten.js:38-42)
        } else if (v.isObject) walk(v, p)
        else {
          // an array is typed string: its JSON text (lib/flatten.js:45)
          val dt: DataType =
            if (v.isBoolean) BooleanType
            else if (v.isNumber) DoubleType
            else StringType
          leaves += Leaf(p, p.mkString("_"), dt, isArray = v.isArray)
        }
      }
    walk(mapper.readTree(docJson), Nil)
    // the golden order (test/samplequery.json): [top scalars..., id, rev,
    // flattened nested...]
    val (top, nested) = leaves.toSeq.partition(_.path.size == 1)
    val (scalars, meta) = top.partition(l => l.name == l.path.head)
    DocSchema(scalars ++ meta.sortBy(_.name) ++ nested)
  }

  /** The reference's `typeof`-style logical schema map, for tests
    * (`test/schema.js:26-41`): flattened column name → "string" | "number" |
    * "boolean".
    */
  def logicalTypes(s: DocSchema): Map[String, String] =
    s.leaves.map { l =>
      l.name -> (l.dataType match {
        case BooleanType => "boolean"
        case DoubleType  => "number"
        case _           => "string"
      })
    }.toMap
}
