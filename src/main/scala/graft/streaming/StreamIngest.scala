package graft.streaming

import graft.model.SchemaDiscovery
import graft.model.SchemaDiscovery.DocSchema
import graft.ops.{Compact, Flatten, Split}
import graft.WarehouseOptions
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path

/** Continuous ingestion: the Spark Structured Streaming form of the
  * reference's monitor mode (`index.js:143-170` — longpoll loop, per-batch
  * insert, checkpoint).
  *
  * Source: a stream of change-feed lines (file source here; a CouchDB
  * `_changes` MicroBatchStream source can be swapped in without touching
  * the batch logic). Each micro-batch runs the same distributed pipeline as
  * batch ingestion — the `foreachBatch` body is the direct analog of the
  * reference's `batch` event handler:
  *
  *   1. read what the batch touches — its `_bucket`s, highest seq and
  *      live docTypes — in ONE aggregation, the job that also caches it;
  *   2. merge the batch into the per-id latest-change STATE table
  *      (last-writer-wins by seqNum, tombstones retained so deletes win
  *      over late replays — one shuffle on id per batch), reading back
  *      only the touched buckets' directories;
  *   3. re-register each docType's flattened temp view over the state;
  *   4. advance the warehouse checkpoint side-file (A13) — Spark's own
  *      `checkpointLocation` handles source offsets, the side-file is the
  *      queryable `couchwarehouse_checkpoints` analog.
  *
  * So a small batch costs a fixed handful of Spark jobs: the metadata
  * aggregation, the merge's shuffle and bucket write, and one listing of
  * the state's bucket directories for the views. Every state read is
  * typed ([[StreamIngest.StateSchema]]), so none infers a schema from
  * parquet footers, and [[publish]] after a batch is a no-op: the batch
  * already published, and the views stay current until the next one.
  *
  * At-least-once delivery + idempotent merge (replayed changes collapse in
  * the LWW window) reproduces the reference's REPLACE-by-PK semantics
  * exactly (`lib/sqlite.js:82`, SURVEY §4 "Idempotent re-delivery").
  *
  * Scale: state merge is a single hash shuffle on doc id and a
  * partitioned parquet write of the touched buckets. Nothing driver-side
  * grows with data — the driver holds only frozen schemas and the seq
  * counter, like the reference's single node held `theSchema`. All state
  * plumbing (checkpoint side-file, schema donors, bucket swaps)
  * drives the Hadoop `FileSystem` resolved from `warehouseDir`, so the
  * warehouse can live on cluster storage — the swaps are dst-absent
  * renames, atomic on HDFS/POSIX; see [[StateFs]] for the object-store
  * boundary.
  */
final class StreamIngest(
    spark: SparkSession,
    opts: WarehouseOptions,
    warehouseDir: String) {

  private val stateDir = s"$warehouseDir/_state"
  private val fs = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val checkpointFile = new Path(s"$warehouseDir/_checkpoints.json")
  private val schemaDir = new Path(s"$warehouseDir/_schemas")

  /** Directory-commit protocol (`graft.state.protocol` session conf):
    * `rename` (default) swaps staged directories into place with
    * dst-absent renames — atomic on HDFS/POSIX, the right choice
    * wherever rename is a metadata op; `manifest` never renames a
    * directory at all — data lands once under per-batch names and a
    * versioned manifest file names the live content
    * ([[StateFs.ManifestDir]]) — the object-store posture. The choice is
    * persisted and guarded like the bucket count: reading rename-layout
    * state through manifest eyes (or vice versa) would see an EMPTY
    * warehouse and silently fork it, the exact failure the replay-margin
    * guards exist to make loud.
    */
  private val protocol: String = {
    val p = spark.conf.getOption("graft.state.protocol").getOrElse("rename")
    require(p == "rename" || p == "manifest",
      s"graft.state.protocol must be 'rename' or 'manifest', got '$p'")
    p
  }
  private def manifestMode = protocol == "manifest"

  /** Number of hash buckets the state table is partitioned into
    * (`graft.state.buckets` session conf, default 64). A batch only ever
    * rewrites the buckets that contain a changed id, so merge cost is
    * O(touched buckets), not O(table) — the property that keeps per-batch
    * work bounded when the warehouse is 100 TB and a micro-batch is
    * megabytes. Size so one bucket ≈ a comfortable task read
    * (table_bytes / buckets ≲ a few hundred MB at target scale). Checked
    * here, before the constructor reads or writes anything: a zero count
    * would fail the first batch mid-task (remainder by zero).
    */
  private val stateBuckets: Int = {
    val v = spark.conf.getOption("graft.state.buckets").getOrElse("64")
    val n = v.toIntOption.getOrElse(0)
    require(n > 0, s"graft.state.buckets must be a positive integer, got '$v'")
    n
  }

  private val versRoot = new Path(s"$warehouseDir/_state_v")
  private lazy val stateManifest = new StateFs.ManifestDir(fs, versRoot)

  private def verifyProtocol(): Unit = {
    // the rename protocol's whole contract rests on directory rename
    // being an atomic metadata op; object-store "rename" is a
    // copy+delete that REPORTS SUCCESS, so refuse up front (r13 review)
    if (!manifestMode)
      StateFs.requireAtomicDirRename(fs, "the 'rename' state protocol",
        "Set graft.state.protocol=manifest (the object-store commit " +
          "path) for this warehouse.")
    val marker = new Path(s"$warehouseDir/_state_protocol")
    if (fs.exists(marker)) {
      val persisted = StateFs.readString(fs, marker).trim
      if (persisted != protocol)
        throw new IllegalStateException(
          s"warehouse state at $warehouseDir was committed under the " +
            s"'$persisted' protocol but graft.state.protocol=$protocol — " +
            "each protocol is blind to the other's layout, so switching " +
            "would read the warehouse as EMPTY and fork it. Restore the " +
            "original setting or rebuild the warehouse.")
    } else {
      // pre-marker warehouses are rename-layout by construction
      if (protocol != "rename" &&
          StateFs.listNames(fs, new Path(stateDir)).exists(_.startsWith("_bucket=")))
        throw new IllegalStateException(
          s"warehouse state at $warehouseDir predates the protocol marker " +
            "and is rename-layout; it cannot be read under " +
            "graft.state.protocol=manifest. Unset the protocol or rebuild " +
            "the warehouse.")
      // staged: a torn marker would match NEITHER protocol and fail
      // every later start
      StateFs.commitString(fs, marker, protocol)
    }
  }

  /** Frozen per-docType schemas, persisted as the donor document JSON so a
    * restarted stream keeps first-doc-wins semantics (§1.4).
    */
  private val schemas = scala.collection.mutable.LinkedHashMap.empty[String, DocSchema]
  loadSchemas()
  verifyProtocol()
  recoverState()
  verifyBucketCount()

  def discoveredSchemas: Map[String, DocSchema] = schemas.toMap

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

  /** The bucket count the persisted state was written with. Changing
    * `graft.state.buckets` against existing state would hash an update
    * for id X into a bucket its current row does not live in — the
    * touched-bucket merge would never read the old row, and BOTH
    * versions would survive as silent duplicates. Guarded like the
    * protocol marker: fail loudly at construction.
    */
  // def, not val: the constructor-body guard runs before later vals init
  private def bucketMeta = new Path(s"$warehouseDir/_state_buckets")

  private def verifyBucketCount(): Unit =
    if (fs.exists(bucketMeta)) {
      val persisted = StateFs.readString(fs, bucketMeta).trim.toInt
      if (persisted != stateBuckets)
        throw new IllegalStateException(
          s"state was bucketed with $persisted buckets but " +
            s"graft.state.buckets=$stateBuckets — a different count strands " +
            "existing rows in buckets the merge never probes (silent " +
            "duplicate ids). Restore the original setting or rebuild the " +
            "warehouse.")
    }

  /** Persist the bucket count with the first bucket write, staged like the
    * protocol marker: [[verifyBucketCount]] parses it on every start, so a
    * torn write would fail every later construction.
    */
  private def commitBucketMeta(): Unit =
    if (!fs.exists(bucketMeta))
      StateFs.commitString(fs, bucketMeta, stateBuckets.toString)

  private def bucketCol = pmod(crc32(col("id")), lit(stateBuckets)).cast("int")

  /** One micro-batch application; also callable directly for batch replay
    * tests. Idempotent: applying the same batch twice is a no-op.
    *
    * Bucketed merge: ids hash to a `_bucket` partition; only partitions
    * present in the batch are read back, merged (last-writer-wins), and
    * atomically swapped in from a staging write ([[writeBuckets]]).
    * Untouched buckets are never read or rewritten.
    */
  def applyBatch(batch0: DataFrame, batchId: Long): Unit = {
    published = None
    val batch = opts.transform(batch0)
      .select(col("id"), col("seqNum"), col("deleted"), col("doc"))
      .withColumn("_bucket", bucketCol)
      .cache()
    try {
      val meta = batchMeta(batch)
      val merged = existingState(Some(meta.buckets)) match {
        case Some(st) => st.unionByName(batch)
        case None     => batch
      }
      // LWW per id, tombstones RETAINED (deletes survive replays; a doc
      // re-created after deletion wins via its higher seq) — the exact
      // semantic of the shared CDC compaction
      writeBuckets(Compact.latestChanges(merged), batchId)
      publishWith(meta.types)
      advanceCheckpoint(meta.maxSeq)
    } finally batch.unpersist()
  }

  /** What a micro-batch touches, read in ONE aggregation over the cached
    * batch (which is also the job that fills the cache): its `_bucket`s,
    * its highest seq, and the docTypes of its live non-design rows — the
    * set [[Split.discoverTypes]] would return.
    */
  private def batchMeta(batch: DataFrame): StreamIngest.BatchMeta = {
    val liveType = opts.split.fold(lit(null).cast("string"))(f =>
      when(!col("deleted") && !col("id").startsWith("_design"),
        Split.docType(f, col("doc"))))
    val r = batch.agg(collect_set(col("_bucket")), max(col("seqNum")),
      collect_set(liveType)).head()
    StreamIngest.BatchMeta(r.getSeq[Int](0).toSet, Option(r.get(1)).map(_.asInstanceOf[Long]),
      r.getSeq[String](2).toSet)
  }

  /** The warehouse's OWN outbound change feed from persisted state — the
    * CouchDB `_changes` contract re-exposed for downstream incremental
    * consumers: latest change per id with `seqNum > since`, tombstones
    * included so deletes propagate (the state table already holds exactly
    * that — this is a filter over the bucketed parquet, no shuffle).
    * Resume token = `max(seqNum)` consumed ([[checkpoint]] for all).
    */
  def changesSince(since: Long): DataFrame =
    existingState()
      .getOrElse(throw new IllegalStateException(
        "changesSince before any ingested state"))
      .where(col("seqNum") > since)
      .select("id", "seqNum", "deleted", "doc")

  /** Publish the merged (touched-bucket-only) state via a staging write +
    * per-bucket atomic renames, instead of dynamically overwriting the
    * directory a task may still be reading from. A reader never observes a
    * partially written bucket: the swap is rename-only. A crash between
    * two bucket swaps can leave a bucket retired but not yet replaced —
    * [[recoverState]] restores it on the next start, and the LWW merge is
    * replay-idempotent on top of that.
    */
  private def writeBuckets(state: DataFrame, batchId: Long): Unit =
    if (manifestMode) {
      val live = stateManifest.live()
      // a REPLAYED batch (at-least-once delivery after a crash between
      // the manifest commit and the stream's offset commit) finds its
      // own version already live: the committed state ALREADY reflects
      // it (the LWW merge is deterministic), so skip. Re-committing would
      // delete and re-point the one manifest readers are on for no new
      // content. A batchId further back than the replay margin is a RESET
      // streaming checkpoint whose low ids carry genuinely NEW changes —
      // skipping those would silently drop data, so it fails loudly.
      if (!StateFs.alreadyApplied(spark, batchId, live.map(_._1).getOrElse(-1L),
          "state", "The streaming checkpoint was likely reset against an " +
            s"existing warehouse. Delete $versRoot to rebuild from the " +
            "stream, or restore the original checkpointLocation.")) {
        // data lands ONCE under a fresh per-batch name — never a name a
        // manifest has referenced — then the versioned manifest names
        // the live buckets: untouched entries carry forward, touched
        // ones point into the new batch dir. Crash before the commit:
        // the orphan dir is swept here on the next attempt. No
        // directory is ever renamed.
        val liveMap = live.map(_._2).getOrElse(Map.empty)
        stateManifest.sweepUnreferenced(liveMap)
        val dirName = s"b$batchId-${System.nanoTime()}"
        state.write.mode("overwrite").partitionBy("_bucket")
          .parquet(stateManifest.dataPath(dirName).toString)
        commitBucketMeta()
        val touchedKeys = StateFs.listNames(fs, stateManifest.dataPath(dirName))
          .filter(_.startsWith("_bucket="))
          .map(n => n.stripPrefix("_bucket=") -> s"$dirName/$n")
        stateManifest.commit(batchId, liveMap ++ touchedKeys)
      }
    } else {
      val root = new Path(stateDir)
      val staging = new Path(s"$warehouseDir/_state_staging")
      deleteRecursively(staging)
      state.write.mode("overwrite").partitionBy("_bucket").parquet(staging.toString)
      fs.mkdirs(root)
      commitBucketMeta()
      StateFs.listNames(fs, staging).foreach { name =>
        if (name.startsWith("_bucket=")) {
          // the retired name starts with '.', so Spark's file listing never
          // picks it up even if a crash strands it
          val target = new Path(root, name)
          val retired = new Path(root, s".$name.old")
          deleteRecursively(retired)
          if (fs.exists(target))
            StateFs.renameInto(fs, target, retired)
          StateFs.renameInto(fs, new Path(staging, name), target)
          deleteRecursively(retired)
        }
      }
      deleteRecursively(staging)
    }

  /** Crash recovery for [[writeBuckets]]: a retired bucket whose
    * replacement never landed is moved back; leftover retired/staging
    * directories from completed swaps are dropped.
    */
  private def recoverState(): Unit = {
    val root = new Path(stateDir)
    StateFs.listNames(fs, root).foreach { name =>
      if (name.startsWith("._bucket=") && name.endsWith(".old")) {
        val p = new Path(root, name)
        val target = new Path(root, name.stripPrefix(".").stripSuffix(".old"))
        if (fs.exists(target)) deleteRecursively(p)
        else StateFs.renameInto(fs, p, target)
      }
    }
    deleteRecursively(new Path(s"$warehouseDir/_state_staging"))
  }

  private def deleteRecursively(p: Path): Unit =
    StateFs.deleteRecursively(fs, p)

  /** The persisted state table — or, given `touched`, the rows of those
    * buckets only — when at least one such bucket has landed. The bucket
    * check (not a bare directory-exists) keeps an all-filtered first
    * batch — which creates the state root but moves no buckets — from
    * poisoning every later read with an unreadable empty directory. With
    * `touched`, both protocols open ONLY those buckets' directories: a
    * handful of paths Spark lists on the driver, with no listing job and
    * no post-scan filter.
    */
  private def existingState(touched: Option[Set[Int]] = None): Option[DataFrame] =
    if (manifestMode) readManifestBuckets(touched) else readRenameBuckets(touched)

  /** The one state reader of both protocols: a multi-path parquet read of
    * `_bucket=N` directories under `base`, typed by [[StreamIngest.StateSchema]]
    * (no footer-inference job) with `basePath` partition inference
    * restoring `_bucket`.
    */
  private def readBuckets(base: Path, dirs: Seq[Path]): DataFrame =
    spark.read.schema(StreamIngest.StateSchema)
      .option("basePath", base.toString)
      .parquet(dirs.map(_.toString).sorted: _*)

  /** Rename protocol: the landed `_bucket=N` directories of the state
    * root, all of them or those in `touched`.
    */
  private def readRenameBuckets(touched: Option[Set[Int]]): Option[DataFrame] = {
    val root = new Path(stateDir)
    val dirs = StateFs.listNames(fs, root)
      .filter(n => n.startsWith("_bucket=") &&
        touched.forall(_.contains(n.stripPrefix("_bucket=").toInt)))
    if (dirs.isEmpty) None else Some(readBuckets(root, dirs.map(new Path(root, _))))
  }

  /** Manifest protocol: the live manifest names each bucket's directory.
    * Plan shape: ONE parquet relation per referenced BATCH DIRECTORY
    * (all of a dir's live buckets ride one [[readBuckets]] scan), so the
    * union width is the number of batch dirs the manifest still
    * references — the recent-batch handful under any touch pattern with
    * locality, and at worst `graft.state.buckets` when every bucket's
    * last touch was a different batch. Size bucket counts with that worst case in mind
    * (the default 64 is a 64-way union; thousands are fine, hundreds of
    * thousands are not — at which point a periodic full-touch batch, a
    * backfill re-writing every id, collapses the manifest to one dir).
    */
  private def readManifestBuckets(touched: Option[Set[Int]]): Option[DataFrame] = {
    val parts = stateManifest.live().map(_._2).getOrElse(Map.empty)
      .toSeq.map { case (k, rel) => k.toInt -> rel }
      .filter { case (b, _) => touched.forall(_.contains(b)) }
    if (parts.isEmpty) None
    else {
      val byDir = parts.groupBy(_._2.split("/", 2)(0))
      Some(byDir.toSeq.sortBy(_._1).map { case (dirName, entries) =>
        readBuckets(stateManifest.dataPath(dirName),
          entries.map(e => stateManifest.dataPath(e._2)))
      }.reduce(_ unionByName _))
    }
  }

  /** docTypes ever published, cached so the per-batch path never rescans
    * the full state (None until the first publish seeds it — from state
    * on restart, from the batch alone on a fresh warehouse).
    */
  private var knownTypes: Option[Set[String]] = None

  private def typesOf(live: DataFrame, splitField: String): Set[String] =
    live.select(Split.docType(splitField, col("doc")).as("t")).distinct()
      .collect().map(_.getString(0)).toSet

  /** The views the last publish registered, each with the catalog entry it
    * got; None from the start of an [[applyBatch]] until it publishes.
    */
  @volatile private var published: Option[Map[String, AnyRef]] = None

  /** Re-register flattened per-type views over the live rows. The
    * external form scans state for the type set once and caches it;
    * [[applyBatch]] extends the cache from the batch's own type set
    * instead — per-batch publish cost stays O(touched types), never a
    * full-state scan per trigger. A type whose last doc is deleted keeps
    * its (now empty) view — known types never un-publish.
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
      publishWith(Set.empty)

  private def publishWith(batchTypes: Set[String]): Unit = {
    val views = existingState().toSeq.flatMap { st =>
      val live = st.where(!col("deleted"))
      val types = opts.split match {
        case Some(f) =>
          val all = knownTypes.getOrElse(typesOf(live, f)) ++ batchTypes
          knownTypes = Some(all)
          all.toSeq.sorted
        case None => Seq(Split.DefaultType)
      }
      types.flatMap { t =>
        val slice = opts.split match {
          case Some(f) => live.where(Split.docType(f, col("doc")) === t)
          case None    => live
        }
        schemaOf(slice, t).filter(_.leaves.nonEmpty).map { schema =>
          val name = Split.tableName(opts.database, opts.split.map(_ => t))
          Flatten(slice, schema).createOrReplaceTempView(name)
          name -> GraftSqlBridge.tempView(spark, name).get
        }
      }
    }
    published = Some(views.toMap)
  }

  /** The frozen schema of `docType`, discovered from its first live doc
    * (and persisted) on first sight. A type with no live row yet — every
    * doc of it deleted, or none landed — has no schema: nothing is
    * memoized, so its first real doc still becomes the donor.
    */
  private def schemaOf(slice: DataFrame, docType: String): Option[DocSchema] =
    schemas.get(docType).orElse {
      slice.orderBy(col("seqNum")).select("doc").limit(1).collect().headOption.map { r =>
        val s = SchemaDiscovery.discover(r.getString(0))
        persistSchema(docType, r.getString(0))
        schemas(docType) = s
        s
      }
    }

  private def persistSchema(docType: String, donorDoc: String): Unit = {
    fs.mkdirs(schemaDir)
    StateFs.writeString(fs, new Path(schemaDir, s"$docType.json"), donorDoc)
  }

  private def loadSchemas(): Unit =
    StateFs.listNames(fs, schemaDir).foreach { n =>
      val t = n.stripSuffix(".json")
      schemas(t) = SchemaDiscovery.discover(
        StateFs.readString(fs, new Path(schemaDir, n)))
    }

  def checkpoint: Long =
    if (fs.exists(checkpointFile))
      StateFs.readString(fs, checkpointFile).trim.toLong
    else 0L

  private def advanceCheckpoint(maxSeq: Option[Long]): Unit =
    maxSeq.filter(_ > checkpoint).foreach { s =>
      // advisory side-file (re-derived from state on the next batch):
      // a torn overwrite is tolerated — see StateFs.writeString
      StateFs.writeString(fs, checkpointFile, s.toString)
    }

}

object StreamIngest {
  /** Schema of the persisted state table, given to every state read so
    * none infers it from parquet footers.
    */
  private val StateSchema = StructType(Seq(
    StructField("id", StringType), StructField("seqNum", LongType),
    StructField("deleted", BooleanType), StructField("doc", StringType),
    StructField("_bucket", IntegerType)))

  /** A micro-batch's touched buckets, highest seq and live docTypes. */
  private final case class BatchMeta(buckets: Set[Int], maxSeq: Option[Long],
                                     types: Set[String])

  /** Recursive delete over LOCAL java.nio paths (no-op when absent) —
    * only the CLI `--reset` still uses it (its target is the launching
    * user's local spool/warehouse dirs by construction); every state
    * owner, [[graft.ops.Maintenance]] included, drives the Hadoop
    * `FileSystem` ([[StateFs]]).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
}
