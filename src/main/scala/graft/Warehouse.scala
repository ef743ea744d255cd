package graft

import graft.model.{ChangeFeed, SchemaDiscovery}
import graft.model.SchemaDiscovery.DocSchema
import graft.ops.{Caching, Compact, Flatten, Mango, Split, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end warehouse build: the Spark-native `couchwarehouse.start()`.
  *
  * Orchestration parity with reference `index.js:181-255`, in one pass over
  * the feed:
  *   1. read the changes feed (spool → here a batch DataFrame; streaming
  *      form in [[graft.streaming.StreamIngest]]);
  *   2. optional Mango selector filter (source pushdown, A4);
  *   3. optional user transform (A5);
  *   4. ONE shuffle on `id` compacts every docType at once under
  *      [[graft.ops.Compact]]'s rules, the monitor's too: per
  *      `(id, docType)` the latest live row survives unless a tombstone of
  *      that id carries a higher seq (last-writer-wins, delete application,
  *      design-doc drop — A9/A10/A11). The compacted frame also carries each
  *      `(id, docType)`'s first doc and its latest seq, so ONE metadata
  *      aggregation over it yields each type's schema donor — its first
  *      live doc by seq (A6) — and with it the type set, the types with a
  *      donor, plus the checkpoint seq, design docs and tombstones
  *      included. That frame is materialized once per
  *      [[ingest]]: the metadata job is the only job that reads the feed,
  *      and every table view, export, sink and query reads the
  *      materialization instead;
  *   5. register each table — flatten (A7) of its type's survivors — as a
  *      temp view; `query(sql)` = `spark.sql` (A16 — the half the
  *      reference delegates to SQLite/PG/MySQL/ES and we answer natively
  *      with Catalyst).
  *
  * The materialization belongs to this warehouse, not to the session: the
  * next [[ingest]] releases it, and one left behind with an abandoned
  * warehouse is unpersisted by Spark's `ContextCleaner` once no plan —
  * table frame or temp view — refers to it any more
  * ([[graft.ops.Caching.materialized]]).
  *
  * Driver state is exactly what the reference keeps on its single node: the
  * per-type schema map and checkpoint token. All row work is distributed.
  */
final case class WarehouseOptions(
    database: String = "db",
    split: Option[String] = None,
    mangoSelector: Option[String] = None,
    transform: Transform.Hook = Transform.identity)

final class Warehouse(spark: SparkSession, opts: WarehouseOptions) {

  /** Frozen per-docType schemas — the reference's in-memory `theSchema` map
    * (`index.js:62`). Populated by [[ingest]]; first live doc of each type
    * by seq wins.
    */
  private val schemas = scala.collection.mutable.LinkedHashMap.empty[String, DocSchema]

  /** Last applied sequence number, the batch-mode checkpoint (A13). */
  @volatile private var lastSeq: Long = 0L

  private val tables = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  /** All changes ingested so far (batch-mode accumulation): repeated
    * [[ingest]] calls merge like the reference's repeated `insertBulk`
    * batches — compaction resolves updates/deletes/replays across
    * batches. (Continuous ingestion with persisted state lives in
    * [[graft.streaming.StreamIngest]].)
    */
  private var allChanges: Option[DataFrame] = None

  /** The materialized compaction of [[allChanges]] every table reads. */
  private var compacted: Option[DataFrame] = None

  def discoveredSchemas: Map[String, DocSchema] = schemas.toMap
  def checkpoint: Long = lastSeq
  def tableNames: Seq[String] = tables.keys.toSeq

  /** Ingest a batch of changes (canonical columns from [[ChangeFeed]]) and
    * (re)register the warehouse views. Returns the per-table DataFrames.
    */
  def ingest(changes0: DataFrame): Map[String, DataFrame] = {
    val selected = opts.mangoSelector match {
      case Some(sel) => applyMangoOnDoc(changes0, sel)
      case None      => changes0
    }
    val batch = opts.transform(selected)
    val transformed = allChanges match {
      case Some(prev) => prev.unionByName(batch, allowMissingColumns = true)
      case None       => batch
    }
    allChanges = Some(transformed)

    compacted.foreach(Caching.release(_))
    // per `(id, t)` group: its latest seq; its surviving doc; its `first`
    // donor, left null where that is the surviving row, so a doc written
    // once is cached once
    val mat = Caching.materialized(Compact.byType(
      transformed.select(col("id"), col("seqNum"), col("deleted"), col("doc")),
      opts.split.fold(lit(Split.DefaultType))(f => Split.docType(f, col("doc"))))
      .select(col("t"), col("seqNum"), col("live"), when(col("live"), col("doc")).as("doc"),
        when(col("t").isNotNull && !(col("live") && col("first.seqNum") === col("seqNum")),
          col("first")).as("first")))
    compacted = Some(mat)

    // the one metadata job; it also fills the materialization. The null
    // group holds the ids without a live doc (tombstones, design docs).
    val meta = mat.groupBy("t")
      .agg(max(col("seqNum")), min(coalesce(col("first"), Compact.donor)))
      .collect()
    meta.flatMap(r => Option(r.get(1))).map(_.asInstanceOf[Long]).maxOption
      .foreach(s => lastSeq = s)
    // a donor, once found, is frozen; the type set is the types with one
    meta.collect { case r if !r.isNullAt(0) && !r.isNullAt(2) => r.getString(0) -> r.getStruct(2).getString(1) }
      .sortBy(_._1).foreach { case (t, d) =>
        if (!schemas.contains(t)) schemas(t) = SchemaDiscovery.discover(d)
      }
    schemas.foreach { case (t, schema) =>
      if (schema.leaves.nonEmpty) {
        val flat = Flatten(mat.where(col("live") && col("t") === t), schema)
        val name = Split.tableName(opts.database, opts.split.map(_ => t))
        flat.createOrReplaceTempView(name)
        tables(name) = flat
      }
    }
    registerCheckpointView()
    tables.toMap
  }

  /** The `couchwarehouse_checkpoints` side table (A13,
    * `lib/sqlite.js:138-170`) as a queryable view: one row per table with
    * its last applied sequence.
    */
  private def registerCheckpointView(): Unit = {
    import spark.implicits._
    tables.keys.toSeq.map(t => (t, lastSeq)).toDF("tablename", "seq")
      .createOrReplaceTempView("couchwarehouse_checkpoints")
  }

  /** Mango selector evaluated against the document body: flatten-lite via
    * get_json_object so `{"age":{"$gt":30}}` addresses doc fields directly.
    */
  private def applyMangoOnDoc(changes: DataFrame, selectorJson: String): DataFrame = {
    val pred = Mango.compileOnJson(selectorJson, col("doc"))
    changes.where(col("deleted") || pred)
  }

  /** The delegated-query surface, answered natively (A16). */
  def query(sql: String): DataFrame = spark.sql(sql)

  /** The warehouse's OWN outbound change feed — the CouchDB `_changes`
    * contract re-exposed so downstream consumers can sync incrementally
    * from this warehouse exactly as it syncs from CouchDB: one row per id
    * whose LATEST change has `seqNum > since` (last-writer-wins, design
    * docs dropped), tombstones included so deletes propagate. Resume
    * token = `max(seqNum)` of what you consumed ([[checkpoint]] for "all
    * of it"). One shuffle on id, same shape as compaction.
    */
  def changesSince(since: Long): DataFrame = {
    val all = allChanges.getOrElse(
      throw new IllegalStateException("changesSince before any ingest"))
    Compact.latestChanges(all)
      .where(col("seqNum") > since)
      .select("id", "seqNum", "deleted", "doc")
  }

  /** Export a warehouse table for external consumers — the stand-in for
    * the reference's SQLite/PostgreSQL/MySQL/Elasticsearch targets
    * (`/root/reference/index.js:12-27`) in an environment with no
    * database endpoints: `parquet` (columnar, default), `csv` (header,
    * RFC-4180 quoting) or `json` (JSONL, the ES `_bulk`-friendly shape).
    * On a cluster this is the same `df.write` a JDBC/ES sink would hang
    * off; only the format token differs.
    */
  def export(table: String, path: String, format: String = "parquet"): Unit = {
    require(Set("parquet", "csv", "json", "orc")(format), s"unsupported export format $format")
    val w = spark.table(table).write.mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w).format(format).save(path)
  }

  /** Export a warehouse table into a SQL database via executor-parallel
    * transactional upserts, then advance its checkpoint row — the
    * reference's SQLite/PostgreSQL/MySQL targets proper
    * (`/root/reference/lib/sqlite.js:55-121`), completing [[export]]'s
    * file formats with a real JDBC sink ([[graft.sinks.JdbcUpsertSink]]).
    */
  def exportJdbc(table: String, url: String, jdbcTable: String,
                 keyCol: String = "id",
                 connProps: Map[String, String] = Map.empty): Unit = {
    graft.sinks.JdbcUpsertSink.upsert(spark.table(table), url, jdbcTable, keyCol,
      connProps = connProps)
    graft.sinks.JdbcUpsertSink.writeCheckpoint(url, jdbcTable, lastSeq, connProps)
  }

  /** Export a warehouse table into Elasticsearch via executor-parallel
    * `_bulk` requests, then advance its checkpoint doc — the reference's
    * ES target (`/root/reference/lib/elasticsearch.js`), completing the
    * sink family ([[graft.sinks.ElasticsearchSink]]).
    */
  def exportElasticsearch(table: String, esUrl: String, index: String,
                          keyCol: String = "id"): Unit = {
    graft.sinks.ElasticsearchSink.bulkUpsert(spark.table(table), esUrl, index, keyCol)
    // checkpoint doc is keyed by the TABLE name (the sink contract and the
    // reference's writeCheckpoint(tablename, seq)), not the target index —
    // two tables exported into one index keep separate checkpoints
    graft.sinks.ElasticsearchSink.writeCheckpoint(esUrl, table, lastSeq)
  }

  /** Persist a warehouse table hash-bucketed (and sorted) on `keys` — the
    * 100 TB join/aggregation layout: two tables bucketed the same way
    * equi-join with NO shuffle at read time (Catalyst sees the bucketing
    * output partitioning), and per-bucket sort makes the merge join
    * sort-free too. `numBuckets` sizes one bucket to a comfortable task
    * read (table_bytes / buckets ≲ a few hundred MB at target scale).
    *
    * Uses the session catalog (`saveAsTable` — bucket metadata only lives
    * in catalog tables, not plain parquet paths).
    */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String],
                   numBuckets: Int = 64): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}

object Warehouse {

  /** Build a warehouse from a changes-feed file in one call — the batch
    * analog of `couchwarehouse.start(opts)`.
    */
  def start(spark: SparkSession, path: String, opts: WarehouseOptions): Warehouse = {
    val w = new Warehouse(spark, opts)
    w.ingest(ChangeFeed.read(spark, path))
    w
  }
}
