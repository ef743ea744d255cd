package graft.ops

import graft.model.SchemaDiscovery.DocSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document flattening (reference `lib/flatten.js:25-50`, README.md:228-281).
  *
  * The reference walks each JS object imperatively; the Spark-native form is
  * a single declarative `select` derived from the frozen [[DocSchema]]:
  *
  *   - one `from_json` parses all scalar leaves in one pass (codegen'd,
  *     whole-stage), then each leaf is projected out with its
  *     underscore-joined alias (`address.location.lat` →
  *     `address_location_lat`);
  *   - array leaves are extracted with `get_json_object`, which returns the
  *     raw JSON substring — byte-for-byte the reference's
  *     `JSON.stringify(arr)` behavior (`lib/flatten.js:45`);
  *   - top-level `_id`/`_rev` → `id`/`rev` (`lib/flatten.js:27-33`);
  *   - documents missing a schema field yield NULL; extra fields are simply
  *     never projected (frozen-schema semantics, `lib/sqlite.js:89-91`).
  *
  * Catalyst prunes the JSON parse to the referenced fields and the whole
  * projection stays inside one WholeStageCodegen span — there is no
  * per-document interpreter as in the reference.
  */
object Flatten {

  private def quote(field: String): String = s"`$field`"

  /** One projected Column per schema leaf, reading from a parsed struct
    * column `_parsed` (scalars) or the raw doc text (arrays); the `_id`
    * leaf from the column `idCol` instead, when given.
    */
  private def leafColumns(schema: DocSchema, docCol: String, idCol: Option[String]): Seq[Column] =
    schema.leaves.map { l =>
      if (l.isArray)
        get_json_object(col(docCol), "$." + l.path.mkString(".")).as(l.name)
      else if (l.path == Seq("_id") && idCol.nonEmpty)
        col(idCol.get).as(l.name)
      else
        col("_parsed." + l.path.map(quote).mkString(".")).cast(l.dataType).as(l.name)
    }

  /** Flatten `docCol` (raw JSON document text) of `df` into one column per
    * schema leaf, keeping the listed metadata columns (e.g. seqNum/deleted)
    * after the leaves. With `idCol`, the `id` leaf is that column of `df`
    * (a change id equal to the doc's `_id`): a plain column, so a filter
    * on it runs below the parse.
    */
  def apply(df: DataFrame, schema: DocSchema, docCol: String = "doc",
            keep: Seq[String] = Seq.empty, idCol: Option[String] = None): DataFrame =
    df.withColumn("_parsed", from_json(col(docCol), schema.parseSchema))
      .select(leafColumns(schema, docCol, idCol) ++ keep.map(col): _*)
}
