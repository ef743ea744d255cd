package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Type-splitting and identifier sanitization.
  *
  * With `--split <field>` the reference routes each document to a table
  * `{db}_{doc[field]}` with one frozen schema per type (reference
  * `index.js:52`, `lib/sqlite.js:72,81`, README.md:205-217). Table names
  * strip `-` (`util.js:1-11`: `"month-54" → "month54"`).
  *
  * Spark-native: docType is a column (`get_json_object` on the raw doc).
  * The batch build and the monitor route by it under [[Compact]]'s rules
  * (last writer wins per `(id, docType)`; the types are those with a schema
  * donor); [[discoverTypes]] and [[ofType]] are standalone per-type forms.
  */
object Split {

  val DefaultType = "_default"

  /** `-`-stripping of the reference's `filter()` (`util.js:1-3`). */
  def sanitize(name: String): String = name.replace("-", "")

  /** Table/view name for (db, docType) — `util.js:5-11`. */
  def tableName(db: String, docType: Option[String]): String =
    docType match {
      case Some(t) => sanitize(db) + "_" + sanitize(t)
      case None    => sanitize(db)
    }

  /** The docType column for a raw-doc changes DataFrame: `doc[splitField]`,
    * `_default` when absent (reference `index.js:52`).
    */
  def docType(splitField: String, docCol: Column): Column =
    coalesce(get_json_object(docCol, "$." + splitField), lit(DefaultType))

  /** Distinct non-deleted docTypes present in a changes batch (drives
    * per-type schema discovery). Small result — collected to the driver as
    * the reference collects its in-memory schema map.
    */
  def discoverTypes(changes: DataFrame, splitField: String): Seq[String] =
    changes
      .where(!col("deleted") && !col("id").startsWith("_design"))
      .select(docType(splitField, col("doc")).as("t"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .sorted
      .toSeq

  /** Rows of one docType. */
  def ofType(changes: DataFrame, splitField: String, t: String): DataFrame =
    changes.where(col("deleted") || docType(splitField, col("doc")) === t)
}
