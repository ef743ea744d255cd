package graft.streaming

import graft.model.SchemaDiscovery
import graft.model.SchemaDiscovery.DocSchema
import graft.ops.{Compact, Flatten, Split}
import graft.WarehouseOptions
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** Continuous ingestion: the Spark Structured Streaming form of the
  * reference's monitor mode (`index.js:143-170` — longpoll loop, per-batch
  * insert, checkpoint).
  *
  * Source: a stream of change-feed lines (file source here; a CouchDB
  * `_changes` MicroBatchStream source can be swapped in without touching
  * the batch logic). Each micro-batch is the direct analog of the
  * reference's `batch` event handler (`foreachBatch` → [[applyBatch]]):
  *
  *   1. ONE job — one select, analyzed once, plus a limit — collects the
  *      batch when it is small (at most [[StreamIngest.SmallBatchRows]]
  *      rows), else its first rows only; each row's `_bucket` and `_type`
  *      (its docType) are computed there, and what the batch touches —
  *      `_bucket`s, highest seq, each docType's first live doc — comes from
  *      those rows, or from ONE aggregation over the cached large batch. A
  *      docType's first doc is its schema donor if the state has none yet,
  *      and joins the batch's commit;
  *   2. a small batch whose every seq is above the state's `maxSeq` is
  *      collapsed on the driver into the pending DELTA, which the manifest
  *      commit carries: no state read, no shuffle, no bucket write. Any
  *      other batch — large, replayed or older-seq — or a delta past one
  *      average bucket of the base's rows ([[StreamIngest.deltaFits]])
  *      takes the bucketed [[merge]], which folds the pending delta in.
  *      Both apply [[Compact]]'s rules, as the batch build does: last
  *      writer wins per `(id, docType)`, each id's latest tombstone
  *      retained so deletes win over late replays;
  *   3. re-register the flattened temp view of each docType with a donor
  *      over the state the commit just named: its plan, analyzed once per
  *      docType, with the commit's file relation and delta put in by a tree
  *      transform and stored in the session catalog as it stands.
  *
  * The warehouse checkpoint (A13) is the manifest's `maxSeq`, committed
  * with the state; Spark's `checkpointLocation` holds source offsets.
  *
  * State layout ([[StreamIngest.ManifestDir]]): data files written once
  * under per-batch directories, each a run of hash buckets sized by scan
  * split, and a versioned manifest naming every live file plus the delta's
  * rows and each docType's schema donor, so one manifest commit is all the
  * state an instance persists. Every state read is one parquet scan over
  * the files it names, listing nothing, with the delta resolved at plan
  * time: the base rows no delta row hides, plus the delta as a local
  * relation. So a small sync costs one Spark job and one SQL execution
  * (its collect) and analyzes no view; [[publish]] after a batch is a
  * no-op: the views stay current until the next batch.
  *
  * A view's `id` is the state's `id` column (the change id, which CouchDB
  * keeps equal to the doc's `_id`; the `couch-changes` reader refuses a
  * change whose doc says otherwise), and its type filter reads the stored
  * `_type`; with `!deleted`, both are plain columns, so a point read on
  * `id` filters in the scan and parses only the docs it returns. The
  * manifest records the bucket count and the split field the `_type`s
  * were computed under; an instance opened with others fails at
  * construction ([[verifyLayout]]).
  *
  * At-least-once delivery + idempotent merge (replayed changes collapse in
  * the LWW window) reproduces the reference's REPLACE-by-PK semantics
  * exactly (`lib/sqlite.js:82`, SURVEY §4 "Idempotent re-delivery").
  *
  * Scale: a small sync is O(batch) — the couchwarehouse model of one
  * upsert per change; a merge is one shuffle and one file per group. The
  * driver holds the manifest — a line per bucket of each file, a delta of
  * at most one average bucket (not the table), the seq counter and each
  * docType's donor, whose types are the type set — like the reference's
  * single node held `theSchema`. All
  * state plumbing drives the Hadoop `FileSystem` resolved from
  * `warehouseDir`, so the warehouse can live on cluster storage, object
  * stores included ([[StateFs]] has the atomicity boundary).
  */
final class StreamIngest(
    spark: SparkSession,
    opts: WarehouseOptions,
    warehouseDir: String) {
  import StreamIngest.{BatchMeta, DeltaRow, ManifestVersion, StateFile}

  private val fs = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Number of hash buckets the state table is partitioned into
    * (`graft.state.buckets` session conf, default 64). A batch only ever
    * rewrites the files holding a bucket with a changed id, so merge cost
    * is O(touched buckets), not O(table) — the property that keeps
    * per-batch work bounded when the warehouse is 100 TB and a micro-batch
    * is megabytes. A file holds a run of buckets up to one scan split
    * (`spark.sql.files.maxPartitionBytes`), so a small state is one file;
    * size so one bucket ≈ a comfortable task read (table_bytes / buckets ≲
    * a few hundred MB at target scale), and each file is one bucket.
    * Checked before the constructor reads or writes anything: a zero count
    * would fail the first batch mid-task (remainder by zero).
    */
  private val stateBuckets: Int = {
    val v = spark.conf.getOption("graft.state.buckets").getOrElse("64")
    val n = v.toIntOption.getOrElse(0)
    require(n > 0, s"graft.state.buckets must be a positive integer, got '$v'")
    n
  }

  private val versRoot = new Path(s"$warehouseDir/_state_v")
  private val stateManifest = new StreamIngest.ManifestDir(fs, versRoot)

  /** The manifest this instance last read or committed (None before any
    * commit): its donors are the type set and [[discoveredSchemas]].
    */
  @volatile private var last: Option[ManifestVersion] = None

  /** The live manifest, read now and kept as [[last]]. */
  private def live(): Option[ManifestVersion] = { last = stateManifest.live(); last }

  live().foreach(verifyLayout)

  /** The state before its first commit, under this instance's layout. */
  private val noState = ManifestVersion(-1L, -1L, stateBuckets, opts.split, Nil, Nil, Map.empty)

  /** Each docType's frozen schema, parsed from its donor in [[last]]: a
    * restarted stream keeps first-doc-wins semantics (§1.4) and every
    * type's view.
    */
  def discoveredSchemas: Map[String, DocSchema] =
    last.fold(Map.empty[String, String])(_.donors).view.mapValues(SchemaDiscovery.discover).toMap

  /** Tail a directory of spool-chunk files through the DSv2 couch-changes
    * MicroBatchStream (one micro-batch per new chunk; Mango selector and
    * parsing happen inside the reader).
    */
  def start(inputDir: String, sparkCheckpointDir: String): StreamingQuery = {
    val reader = spark.readStream.format("couch-changes")
    val changes = opts.mangoSelector
      .foldLeft(reader)((r, sel) => r.option("selector", sel))
      .load(inputDir)
    changes.writeStream
      .option("checkpointLocation", sparkCheckpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => applyBatch(batch, batchId) }
      .start()
  }

  /** Fail construction on a manifest written under another layout than
    * this instance's, before any read or write:
    *   - another bucket count would hash an update for id X into a bucket
    *     its current row does not live in — the touched-bucket merge would
    *     never read the old row, and BOTH versions would survive as silent
    *     duplicates;
    *   - another split field would show rows under the docTypes of the
    *     stored `_type` column, which the manifest's donors also name.
    */
  private def verifyLayout(m: ManifestVersion): Unit = {
    if (m.buckets != stateBuckets)
      throw new IllegalStateException(s"state was bucketed with ${m.buckets} buckets but " +
        s"graft.state.buckets=$stateBuckets — a different count strands existing rows in " +
        "buckets the merge never probes (silent duplicate ids). Restore the original " +
        "setting or rebuild the warehouse (CLI --reset).")
    def field(s: Option[String]) = s.fold("no --split")(f => s"--split '$f'")
    if (m.split != opts.split)
      throw new IllegalStateException(s"state under $versRoot was typed with " +
        s"${field(m.split)}, but this instance has ${field(opts.split)}: its stored _type " +
        "column and schema donors name the docTypes of the former. Reopen with " +
        s"${field(m.split)} or rebuild the warehouse from its feed (CLI --reset).")
  }

  private def bucketCol = pmod(crc32(col("id")), lit(stateBuckets)).cast("int")

  /** The docType of a view-visible row (null for any other, and for every
    * row without `--split`): what the stored `_type` column holds.
    */
  private def liveType: Column = opts.split.fold(lit(null).cast("string"))(f =>
    when(Compact.liveDoc, Split.docType(f, col("doc"))))

  /** One micro-batch application; also callable directly for batch replay
    * tests. A replay of the last applied batch is skipped ([[replayed]]).
    *
    * The batch is read as ONE select — the state columns, `_type`,
    * `_bucket` and whether the row is a live doc ([[Compact.liveDoc]])
    * computed once here — plus a limit. A small batch above the state's
    * `maxSeq` joins the pending delta ([[withDelta]]); any other batch
    * takes the bucketed [[merge]]. Either commit carries the batch's donors
    * of the types the state has none for, so every type of a committed
    * state has its donor and a batch that fails before its commit leaves
    * none. The views are then published over the manifest just committed,
    * with no second read of it.
    */
  def applyBatch(batch0: DataFrame, batchId: Long): Unit = {
    published = None
    val batch = opts.transform(batch0).select(col("id"), col("seqNum"), col("deleted"),
      col("doc"), liveType.as("_type"), bucketCol.as("_bucket"), Compact.liveDoc.as("_live"))
    val head = batch.limit(StreamIngest.SmallBatchRows + 1).collect().toSeq
    val small = Option.when(head.size <= StreamIngest.SmallBatchRows)(head)
    lazy val input = small.fold(batch.cache())(rows =>
      StreamIngest.frame(spark, rows.map(r => Row.fromSeq(r.toSeq.init))))
    try {
      val meta = small.fold(batchMeta(input))(BatchMeta.of)
      val state = live()
      val now = if (replayed(batchId, meta.maxSeq, state)) state else {
        val m = state.getOrElse(noState)
        val next = m.copy(batchId = batchId, maxSeq = (m.maxSeq +: meta.maxSeq.toSeq).max,
          donors = meta.donors ++ m.donors)
        stateManifest.sweepUnreferenced(m.files)
        Some(small.flatMap(withDelta(m, _)) match {
          case Some(delta) => stateManifest.commit(next.copy(delta = delta))
          case None        => merge(next, input, meta)
        })
      }
      last = now
      publishWith(now)
    } finally if (small.isEmpty) input.unpersist()
  }

  /** What a large micro-batch touches, read in ONE aggregation over the
    * cached batch (which is also the job that fills the cache), grouped by
    * the docType of its live rows: its `_bucket`s, its highest seq, each
    * docType's first live doc ([[Compact.donor]]) and its chars.
    */
  private def batchMeta(batch: DataFrame): BatchMeta = {
    val rs = batch.groupBy(when(col("_live"), coalesce(col("_type"), lit(Split.DefaultType))))
      .agg(collect_set(col("_bucket")), max(col("seqNum")), min(Compact.donor),
        sum(length(concat_ws("", col("id"), col("doc"))))).collect().toSeq
    def longs(i: Int) = rs.flatMap(r => Option(r.get(i))).map(_.asInstanceOf[Long])
    BatchMeta(rs.flatMap(_.getSeq[Int](1)).toSet, longs(2).maxOption,
      rs.collect { case r if !r.isNullAt(0) && !r.isNullAt(3) => r.getString(0) -> r.getStruct(3).getString(1) }.toMap,
      longs(4).sum)
  }

  /** The pending delta of `m` with a small batch's `rows` applied under
    * [[Compact.latestByType]] (`_design/` docs dropped) — None when the
    * batch must take the bucketed merge instead: a row with no seq or one
    * at or below the state's `maxSeq` (a replay's or an older change: only
    * a merge orders it against the base, while readers hide base rows
    * behind every delta row unseen), or a delta past
    * [[StreamIngest.deltaFits]].
    */
  private def withDelta(m: ManifestVersion,
                        rows: Seq[Row]): Option[Seq[DeltaRow]] =
    Option.when(rows.forall(r => !r.isNullAt(1) && r.getLong(1) > m.maxSeq && !r.isNullAt(2))) {
      Compact.latestByType(m.delta ++ rows.flatMap(DeltaRow.of))
    }.filter(StreamIngest.deltaFits(m, _))

  /** The bucketed merge of `input` into the state of `m` — the manifest
    * to commit, still naming the files and delta before the batch —
    * folding its delta in, written ONCE under a fresh per-batch directory
    * and committed with no delta. It reads every live file naming a bucket
    * that `input` or the delta touch and rewrites the union of their
    * buckets as G groups of consecutive buckets, G = estimated bytes over
    * one scan split (`spark.sql.files.maxPartitionBytes`), between 1 and
    * one per bucket.
    * ONE exchange on the group serves both [[Compact.byType]]'s windows and
    * the write: each group is one task's one file, holding the survivors
    * and each id's latest tombstone. Every row it writes carries its
    * `_type`: the batch's from its select, the state's as stored. The
    * other files' lines carry forward. A crash before the commit leaves an
    * orphan directory, swept on the next attempt.
    */
  private def merge(m: ManifestVersion, input: DataFrame, meta: BatchMeta): ManifestVersion = {
    val touched = meta.buckets ++ m.delta.map(_.bucket)
    val readRels = m.files.filter(f => touched(f.bucket)).map(_.rel).toSet
    val (read, kept) = m.files.partition(f => readRels(f.rel))
    val buckets = (touched ++ read.map(_.bucket)).toIndexedSeq.sorted
    val bytes = read.distinctBy(_.rel).map(_.length).sum + m.delta.map(_.size).sum + meta.bytes
    val split = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val g = math.max(1L, math.min(buckets.size.toLong, (bytes + split - 1) / split)).toInt
    val groupOf = buckets.zipWithIndex.map { case (b, i) => b -> i * g / buckets.size }.toMap
    val parts = scan(read).map(_.withColumn("_bucket", bucketCol)).toSeq :+
      StreamIngest.frame(spark, m.delta.map(_.row)) :+
      input.select(StreamIngest.StateSchema.fieldNames.toSeq.map(col): _*)
    // a null id has no bucket, and no row of it is kept
    val grouped = parts.reduce(_ unionByName _).where(col("id").isNotNull).withColumn("_group",
      typedLit(Seq.tabulate(stateBuckets)(groupOf.getOrElse(_, 0))).getItem(col("_bucket")))
    val dirName = s"b${m.batchId}-${System.nanoTime()}"
    Compact.byType(grouped.repartitionById(g, col("_group")),
        coalesce(col("_type"), lit(Split.DefaultType)), col("_group"))
      .where(col("live") || Compact.tombstone)
      .select(StreamIngest.DataSchema.fieldNames.toSeq.map(col): _*)
      .write.mode("overwrite").option(StreamIngest.SuccessMarker, "false")
      .parquet(stateManifest.dataPath(dirName).toString)
    val groups = (0 until g).map(k => buckets.filter(groupOf(_) == k))
    stateManifest.commit(m.copy(files = kept ++ stateManifest.landed(dirName, groups), delta = Nil))
  }

  /** The warehouse's OWN outbound change feed from persisted state — the
    * CouchDB `_changes` contract re-exposed for downstream incremental
    * consumers, as [[graft.Warehouse.changesSince]] gives it: latest change
    * per id with `seqNum > since`, tombstones included so deletes propagate
    * ([[Compact.latestChanges]] over the state: one shuffle on id). Resume
    * token = `max(seqNum)` consumed ([[checkpoint]] for all).
    */
  def changesSince(since: Long): DataFrame =
    Compact.latestChanges(state(live())
      .getOrElse(throw new IllegalStateException(
        "changesSince before any ingested state")))
      .where(col("seqNum") > since)
      .select("id", "seqNum", "deleted", "doc")

  /** True when `batchId` re-delivers the batch the `live` manifest
    * absorbed last (a crash between the manifest commit and the stream's
    * offset commit): it is skipped, since re-committing would re-point
    * the manifest readers are on for no new content. Any lower id, or the
    * same id carrying a seq past the highest the state absorbed, comes
    * from a RESET streaming checkpoint whose low ids carry NEW changes
    * that a skip would silently drop, so it fails loudly. Spark's
    * synchronous progress tracking — the one `foreachBatch` under an
    * `AvailableNow` trigger ([[start]]) allows — re-delivers at most that
    * one batch.
    */
  private def replayed(batchId: Long, maxSeq: Option[Long],
                       live: Option[ManifestVersion]): Boolean =
    live.exists { m =>
      def backwards(got: String, held: String) = new IllegalStateException(
        s"state batchId went backwards: got $batchId$got, but batch ${m.batchId} is already " +
          s"applied$held. The streaming checkpoint was likely reset against an existing " +
          s"warehouse. Delete $versRoot to rebuild from the stream, or restore the original " +
          "checkpointLocation.")
      if (batchId < m.batchId) throw backwards("", "")
      maxSeq.filter(s => batchId == m.batchId && s > m.maxSeq).foreach { s =>
        throw backwards(s" with seq $s", s" and the state holds seqs only up to ${m.maxSeq}")
      }
      batchId == m.batchId
    }

  /** The persisted state table as `m` names it — None before any state:
    * the scan of its files, plus the delta rows as a local relation (no
    * broadcast, no second scan). The scan's empty `NOT id IN ()`, which the
    * optimizer folds, is where [[rebind]] puts the ids a view's delta
    * hides, so one analyzed view plan fits every commit. A state with a
    * delta always has files ([[StreamIngest.deltaFits]]).
    */
  private def state(m: Option[ManifestVersion]): Option[DataFrame] =
    m.filter(_.files.nonEmpty).map { v =>
      scan(v.files).get.where(!col("id").isin())
        .unionByName(StreamIngest.frame(spark, v.delta.map(_.row)).drop("_bucket"))
    }

  /** The ids whose base rows the delta of `m` hides from the view of the
    * stored `_type` `stored`: a delta row hides the base row of its
    * `(id, _type)`, a delta tombstone every base row of its id — no more,
    * as [[Compact.latestByType]] keeps a doc in each type it was live in.
    */
  private def hidden(m: ManifestVersion, stored: Option[String]): Seq[String] =
    m.delta.filter(d => d.deleted || Option(d.docType) == stored).map(_.id).distinct

  /** ONE parquet relation (`id`, `seqNum`, `deleted`, `doc`, `_type`) over
    * exactly `files`, each read once however many buckets it names (None
    * when there are none). A row's bucket is a function of its id
    * ([[bucketCol]]).
    */
  private def scan(files: Seq[StateFile]): Option[DataFrame] =
    Option.when(files.nonEmpty)(spark.baseRelationToDataFrame(relation(files)))

  /** The file relation of [[scan]], every status taken from the manifest:
    * Spark lists nothing and infers neither a schema nor partitions.
    */
  private def relation(files: Seq[StateFile]): HadoopFsRelation = {
    val byDir = files.distinctBy(_.rel).map(f => new FileStatus(f.length, false, 0, 0, 0,
      fs.makeQualified(stateManifest.dataPath(f.rel)))).groupBy(_.getPath.getParent)
    val listed = new FileStatusCache {
      override def getLeafFiles(dir: Path): Option[Array[FileStatus]] = byDir.get(dir).map(_.toArray)
      def putLeafFiles(dir: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, byDir.keys.toSeq.sortBy(_.toString), Map.empty,
      None, listed, Some(PartitionSpec(new StructType(), Nil)))
    HadoopFsRelation(index, new StructType(), StreamIngest.DataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
  }

  /** The views the last publish registered, each with the catalog entry it
    * got; None from the start of an [[applyBatch]] until it publishes.
    */
  @volatile private var published: Option[Map[String, AnyRef]] = None

  /** Each view's analyzed plan, built once per docType — its donor is
    * frozen — and re-pointed at each commit's state by [[rebind]]; no sync
    * analyzes a view. None for a donor of no columns, which has no view.
    */
  private val viewPlans = scala.collection.mutable.Map.empty[String, Option[LogicalPlan]]

  /** Re-register the flattened view of each type with a donor in the live
    * manifest (another writer's commit may have brought new ones) over its
    * live rows: a type whose last doc is deleted keeps its (now empty) view.
    *
    * A no-op (no job, no listing) when the views are current: every
    * [[applyBatch]] publishes before it returns, and this instance is the
    * warehouse's single writer ([[StateFs]]), so the views stay current
    * until the next batch — unless one of them was dropped or replaced in
    * the session catalog, which re-publishes them all.
    */
  def publish(): Unit =
    if (!published.exists(_.forall { case (name, entry) =>
          GraftSqlBridge.tempView(spark, name).exists(_ eq entry) }))
      publishWith(live())

  /** Each view is its type's analyzed plan ([[viewPlans]]) with `m`'s file
    * relation, delta rows and hidden ids put in, stored in the session
    * catalog as it stands: no analysis, no SQL execution, no job.
    */
  private def publishWith(m: Option[ManifestVersion]): Unit = {
    val views = m.filter(_.files.nonEmpty).toSeq.flatMap { v =>
      val rel = relation(v.files)
      v.donors.toSeq.sortBy(_._1).flatMap { case (t, donor) =>
        val stored = opts.split.map(_ => t)
        val plan = viewPlans.getOrElseUpdate(t, {
          val schema = SchemaDiscovery.discover(donor)
          Option.when(schema.leaves.nonEmpty) {
            val live = state(Some(v)).get.where(!col("deleted"))
            Flatten(stored.fold(live)(s => live.where(col("_type") === s)), schema,
              idCol = Some("id")).queryExecution.analyzed
          }
        })
        plan.map { plan =>
          val name = Split.tableName(opts.database, stored)
          name -> GraftSqlBridge.replaceTempView(spark, name, rebind(plan, v, rel, hidden(v, stored)))
        }
      }
    }
    published = Some(views.toMap)
  }

  /** `plan`, a view over [[state]], re-pointed at the state of `m` by tree
    * transform: its file relation swapped for `rel`, its local relation's
    * rows for `m`'s delta and its `NOT id IN (…)` list for `hidden`. Every
    * attribute id stays, so the plan needs no analysis.
    */
  private def rebind(plan: LogicalPlan, m: ManifestVersion, rel: HadoopFsRelation,
                     hidden: Seq[String]): LogicalPlan = {
    val ids = hidden.map(Literal.create(_, StringType))
    plan.transformUp {
      case l: LogicalRelation => l.copy(relation = rel)
      case l: LocalRelation => l.copy(data = LocalRelation.fromExternalRows(l.output, m.delta.map(_.row)).data)
    }.transformAllExpressions { case in: In => in.copy(list = ids) }
  }

  /** The highest seq the state has absorbed (A13), 0 before any: the live
    * manifest's `maxSeq`, committed atomically with the state.
    */
  def checkpoint: Long = live().fold(0L)(m => math.max(0L, m.maxSeq))

}

object StreamIngest {
  /** Columns of the persisted state files, given to every state read so
    * none infers them from parquet footers: the change, and `_type`, the
    * docType a view of it filters on (null unless the row is live and
    * `--split` is set). In-flight state rows also carry their `_bucket`.
    */
  private val DataSchema = StructType(Seq(
    StructField("id", StringType), StructField("seqNum", LongType),
    StructField("deleted", BooleanType), StructField("doc", StringType),
    StructField("_type", StringType)))
  private val StateSchema = DataSchema.add("_bucket", IntegerType)

  /** The Hadoop write option that, off, spares a merge's directory the
    * `_SUCCESS` file: the manifest commit is what makes it live.
    */
  private val SuccessMarker = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** The most rows a batch may have to be collected to the driver and
    * join the delta; a larger one takes the bucketed merge.
    */
  private[graft] val SmallBatchRows = 1000

  /** The driver-memory cap on the pending delta (its [[DeltaRow.size]]s),
    * whatever the size of the base.
    */
  private val MaxDeltaBytes: Long = 1L << 20

  /** Whether `delta` may stay pending over the base of `m` rather than
    * fold into it: at most one average bucket of the base's rows (the
    * row counts of its distinct files over the buckets they name), so
    * merge-on-read never carries more than about one bucket's worth of
    * rows, and at most [[MaxDeltaBytes]]. A state with no files has no
    * delta: its first batch writes the base.
    */
  private def deltaFits(m: ManifestVersion, delta: Seq[DeltaRow]): Boolean = {
    val buckets = m.files.map(_.bucket).distinct.size
    if (buckets == 0) delta.isEmpty
    else delta.map(_.size).sum <= MaxDeltaBytes &&
      delta.size.toLong * buckets <= m.files.distinctBy(_.rel).map(_.rows).sum
  }

  /** The weight of a state row: the chars of its id and doc. */
  private def chars(id: String, doc: String): Long =
    Option(id).fold(0)(_.length) + Option(doc).fold(0)(_.length)

  /** A state frame of `rows` (`StateSchema`): a local relation, which
    * the plan carries, so reading it runs no job of its own.
    */
  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StateSchema)

  /** A micro-batch's touched buckets, highest seq, each docType's first
    * live doc ([[Compact.donor]]) and its [[chars]].
    */
  private final case class BatchMeta(buckets: Set[Int], maxSeq: Option[Long],
                                     donors: Map[String, String], bytes: Long)

  private object BatchMeta {
    /** The meta of a collected batch: rows of `StateSchema` (and whether
      * each is a live doc), as `batchMeta` aggregates it.
      */
    def of(rows: Seq[Row]): BatchMeta = BatchMeta(
      rows.filterNot(_.isNullAt(5)).map(_.getInt(5)).toSet,
      rows.filterNot(_.isNullAt(1)).map(_.getLong(1)).maxOption,
      Compact.firstDocs(rows.filter(_.get(6) == true).map(r => (Option(r.getString(4))
        .getOrElse(Split.DefaultType), Option.when(!r.isNullAt(1))(r.getLong(1)), r.getString(3)))),
      rows.map(r => chars(r.getString(0), r.getString(3))).sum)
  }

  /** A row of the pending delta, newer than every base row: a change that
    * [[Compact.latestByType]] keeps, with its `_type` `docType`, in
    * `_bucket` `bucket` once folded.
    */
  private[graft] final case class DeltaRow(id: String, seqNum: Long, deleted: Boolean,
                                           doc: String, docType: String, bucket: Int)
      extends Compact.Change {
    def row: Row = Row(id, seqNum, deleted, doc, docType, bucket)

    /** Its weight against [[deltaFits]]' byte caps. */
    def size: Long = chars(id, doc)
  }

  private[graft] object DeltaRow {
    /** A collected batch row (`StateSchema` order, seq and deleted set)
      * as a delta row; None for the rows the LWW merge drops: no id, or a
      * `_design/` doc.
      */
    def of(r: Row): Option[DeltaRow] =
      Option(r.getString(0)).filterNot(_.startsWith("_design")).map(id =>
        DeltaRow(id, r.getLong(1), r.getBoolean(2), r.getString(3), r.getString(4), r.getInt(5)))
  }

  /** A live state file as the manifest names it, once per bucket it
    * holds: the `_bucket`, its path relative to the manifest root, its
    * byte length (the one status field a parquet scan needs that the path
    * does not carry) and its row count.
    */
  private[graft] final case class StateFile(bucket: Int, rel: String, length: Long, rows: Long) {
    def dir: String = rel.substring(0, rel.lastIndexOf('/'))
  }

  /** A committed manifest: its version (the last applied batchId), the
    * highest seq the state has absorbed (-1 before any), the bucket count
    * its rows were hashed with, the split field its `_type`s were computed
    * under, the live files, the pending delta and each docType's schema
    * donor (its first live doc's JSON), whose types are the type set.
    */
  private[graft] final case class ManifestVersion(batchId: Long, maxSeq: Long, buckets: Int,
                                                  split: Option[String],
                                                  files: Seq[StateFile], delta: Seq[DeltaRow],
                                                  donors: Map[String, String])

  /** The layout of the state, safe on object stores ([[StateFs]]'s
    * atomicity boundary): each merge writes ONCE, never moved, one
    * `<root>/b<batchId>-<nanos>/part-NNNNN-*` file per group of buckets,
    * and a versioned MANIFEST — a `maxSeq⇥N⇥buckets⇥split⇥donors` header
    * (the bucket count the rows were hashed with, the split field the
    * `_type`s were computed under, the number of donor lines), one
    * `bucket⇥path⇥length⇥rows` line per bucket of each live file, one
    * `delta⇥bucket⇥seq⇥deleted⇥id⇥doc⇥type` line per pending delta row,
    * one `donor⇥type⇥doc` line per docType (strings escaped) — is the file
    * index, the delta and the type set, and the one state file besides the
    * data. The commit is the manifest landing via
    * [[StateFs.writeVersioned]]: a dst-absent rename of ONE SMALL FILE,
    * atomic on HDFS/POSIX and a single-object copy-PUT on S3A/GCS; no
    * DIRECTORY is ever renamed. The manifest's version IS
    * the exactly-once batch marker; a crash before the commit leaves only
    * an unreferenced data directory, swept by [[sweepUnreferenced]] at the
    * next write (single writer).
    */
  private[graft] final class ManifestDir(fs: FileSystem, val root: Path) {
    private val Prefix = "manifest"
    private val Suffix = ".tsv"
    private val Header = "maxSeq"
    private val Delta = "delta"
    private val Donor = "donor"

    /** The live manifest. Any other form — each earlier format of this
      * layout included — fails loudly with the manifest named, rather than
      * reading the state wrong.
      */
    def live(): Option[ManifestVersion] =
      StateFs.readVersioned(fs, root, Prefix, Suffix).map { case (id, bytes) =>
        val lines = new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
        def unreadable(line: String) = new IllegalStateException(
          s"state manifest ${new Path(root, s"$Prefix-$id$Suffix")} holds " +
            s"'$line', not a $Header header with a bucket count and a donor " +
            "count, and file, delta or donor entries of the current format: an " +
            "earlier state layout that is no longer read. Rebuild the warehouse " +
            "from its feed (CLI --reset).")
        val header = lines.headOption.getOrElse("")
        val (maxSeq, buckets, split, types) = header.split("\t", -1) match {
          case Array(Header, n, b, f, d) if n.toLongOption.nonEmpty &&
              b.toIntOption.exists(_ > 0) && d.toIntOption.nonEmpty =>
            (n.toLong, b.toInt, Option(unescape(f)), d.toInt)
          case _ => throw unreadable(header)
        }
        val files = Seq.newBuilder[StateFile]
        val delta = Seq.newBuilder[DeltaRow]
        val donors = Map.newBuilder[String, String]
        lines.tail.foreach { line =>
          line.split("\t", -1) match {
            case Array(b, rel, len, rows) if b.toIntOption.nonEmpty &&
                len.toLongOption.nonEmpty && rows.toLongOption.nonEmpty =>
              files += StateFile(b.toInt, rel, len.toLong, rows.toLong)
            case Array(Delta, b, seq, del, i, doc, t) if b.toIntOption.nonEmpty &&
                seq.toLongOption.nonEmpty && del.toBooleanOption.nonEmpty =>
              delta += DeltaRow(unescape(i), seq.toLong, del.toBoolean, unescape(doc), unescape(t), b.toInt)
            case Array(Donor, t, doc) => donors += unescape(t) -> unescape(doc)
            case _ => throw unreadable(line)
          }
        }
        val m = ManifestVersion(id, maxSeq, buckets, split, files.result(), delta.result(), donors.result())
        if (m.donors.size != types) throw unreadable(header)
        m
      }

    /** A field of a delta or donor line: `\`, tab and newline
      * backslash-escaped, null as `\N`.
      */
    private def escape(s: String): String =
      if (s == null) "\\N"
      else s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

    private def unescape(s: String): String =
      if (s == "\\N") null
      else {
        val b = new StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < s.length) {
            b += (s.charAt(i + 1) match { case 't' => '\t'; case 'n' => '\n'; case o => o })
            i += 2
          } else { b += c; i += 1 }
        }
        b.toString
      }

    /** Absolute path of a data directory or file under the root. */
    def dataPath(rel: String): Path = new Path(root, rel)

    /** The parquet files a merge landed under `dirName`, each once per
      * bucket of its group (`groups`, by index), read by one `listStatus`
      * right after the write, with the row count of its parquet footer. A
      * file's group is the write task's partition, which Spark's committer
      * puts in its `part-NNNNN-` name. Hidden and `_`-prefixed names
      * (checksums, `_SUCCESS`) are not data.
      */
    def landed(dirName: String, groups: IndexedSeq[Seq[Int]]): Seq[StateFile] =
      for {
        f <- fs.listStatus(dataPath(dirName)).toSeq
        name = f.getPath.getName if !name.startsWith("_") && !name.startsWith(".")
        buckets = name match {
          case PartFile(p) if p.toInt < groups.size => groups(p.toInt)
          case _ => throw new IllegalStateException(s"${f.getPath}: not a part-NNNNN- file of a group")
        }
        rows <- Option.when(buckets.nonEmpty)(rowCount(f)).toSeq
        b <- buckets
      } yield StateFile(b, s"$dirName/$name", f.getLen, rows)

    private def rowCount(f: FileStatus): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, fs.getConf))
      try reader.getRecordCount finally reader.close()
    }

    private val PartFile = """part-(\d+)-.*""".r

    /** Commit `m` as the batch-`m.batchId` manifest (see the class doc
      * for why this single small-file commit is the portable one), returned
      * as readers see it.
      */
    def commit(m: ManifestVersion): ManifestVersion = {
      val text = new StringBuilder(
        s"$Header\t${m.maxSeq}\t${m.buckets}\t${escape(m.split.orNull)}\t${m.donors.size}\n")
      m.files.sortBy(f => (f.rel, f.bucket)).foreach { f =>
        require(!f.rel.contains('\t') && !f.rel.contains('\n'),
          s"manifest path contains a tab/newline: ${f.rel}")
        text ++= s"${f.bucket}\t${f.rel}\t${f.length}\t${f.rows}\n"
      }
      m.delta.sortBy(_.id).foreach { d =>
        text ++= s"$Delta\t${d.bucket}\t${d.seqNum}\t${d.deleted}\t${escape(d.id)}\t" +
          s"${escape(d.doc)}\t${escape(d.docType)}\n"
      }
      m.donors.toSeq.sorted.foreach { case (t, doc) => text ++= s"$Donor\t${escape(t)}\t${escape(doc)}\n" }
      StateFs.writeVersioned(fs, root, Prefix, Suffix, m.batchId, text.toString.getBytes("UTF-8"))
      m
    }

    /** Delete data no manifest references any more — crash orphans (data
      * written, commit never landed) and data retired by later commits. A
      * batch directory that is PARTIALLY referenced (some of its files
      * still live) keeps exactly what `referenced` names; its retired files
      * are dropped. Call BEFORE a batch writes its data dir or commits
      * (single writer), never after the commit: a reader still scanning the
      * just-retired state must not lose its files.
      */
    def sweepUnreferenced(referenced: Seq[StateFile]): Unit = {
      val live = referenced.flatMap(f => Seq(f.rel, f.dir)).toSet
      StateFs.listNames(fs, root).foreach { n =>
        if (!n.startsWith(s"$Prefix-") && !n.startsWith(".")) {
          if (!live.contains(n)) StateFs.deleteRecursively(fs, new Path(root, n))
          else StateFs.listNames(fs, new Path(root, n)).foreach { s =>
            if (!s.startsWith(".") && !live.contains(s"$n/$s"))
              StateFs.deleteRecursively(fs, new Path(root, s"$n/$s"))
          }
        }
      }
    }
  }

  /** Recursive delete over LOCAL java.nio paths (no-op when absent) —
    * only the CLI `--reset` still uses it (its target is the launching
    * user's local spool/warehouse dirs by construction); the state itself
    * is driven through the Hadoop `FileSystem` ([[StateFs]]).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
}
