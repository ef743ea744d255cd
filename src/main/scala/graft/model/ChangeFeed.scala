package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The CouchDB `_changes` feed as a Spark source (batch form).
  *
  * Reference semantics: the feed is an ordered stream of
  * `{seq, id, changes:[{rev}], deleted?, doc}` events — inserts, updates and
  * deletions interleaved (reference `index.js:87-105` spool,
  * `index.js:143-170` monitor; fixture rows `test/samplechanges.txt:2`).
  *
  * Spark-first design: the feed becomes a DataFrame
  * `[seq: string, seqNum: long, id: string, rev: string, deleted: boolean,
  * doc: string(json)]`. The raw doc is kept as a JSON *string* column so that
  * schema discovery stays first-doc-wins (reference `index.js:55-68`) instead
  * of Spark's union-style JSON inference — see
  * [[graft.model.SchemaDiscovery]].
  *
  * `seqNum` is the integer prefix of the sequence token
  * (`"47-1abc" → 47`, reference `index.js:30-32`) and provides the total
  * order used by last-writer-wins compaction ([[graft.ops.Compact]]).
  */
object ChangeFeed {

  /** Column-level seq-token parse (reference A14, `index.js:30-32`). */
  def seqNum(seq: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(seq, "^(\\d+)", 1).cast("long")

  /** Read a CouchDB `_changes` response body (the reference's on-disk fixture
    * format: a JSON envelope `{"results":[\n{change},\n...\n],\n"last_seq":…}`
    * with one change object per line — `test/samplechanges.txt`).
    *
    * Implemented as a line-wise text scan + JSON field extraction so the doc
    * payload survives as a raw string. Fully distributed: each executor
    * parses its own slice of lines; no driver-side JSON work.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    fromLines(lines, "value")
  }

  /** Parse a DataFrame of raw change-feed lines (column `colName`) into the
    * canonical change schema. Lines that are not change objects (the
    * envelope's `{"results":[`, `],`, `"last_seq":…` lines) are dropped;
    * trailing commas are stripped.
    */
  def fromLines(lines: DataFrame, colName: String): DataFrame = {
    val line = trim(col(colName))
    val json = regexp_replace(line, ",$", "")
    lines
      .where(line.startsWith("{\"seq\""))
      .select(json.as("raw"))
      .select(
        get_json_object(col("raw"), "$.seq").as("seq"),
        get_json_object(col("raw"), "$.id").as("id"),
        get_json_object(col("raw"), "$.changes[0].rev").as("rev"),
        coalesce(get_json_object(col("raw"), "$.deleted").cast("boolean"), lit(false)).as("deleted"),
        get_json_object(col("raw"), "$.doc").as("doc")
      )
      .withColumn("seqNum", seqNum(col("seq")))
  }
}
