package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{Warehouse, WarehouseOptions}
import graft.model.SchemaDiscovery
import graft.ops.{Compact, Flatten, Split}
import graft.streaming.StreamIngest
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed op: an ingest build or a sync. `changes` is what it applied. */
final case class OpRec(op: Int, t0Ms: Long, t1Ms: Long, wallS: Double, cpuS: Double,
                       changes: Long, error: Option[String], traced: Boolean)

/** What a traced sync leaves behind for the streaming and statefs layers. */
final case class SyncRec(op: Int, t0Ms: Long, t1Ms: Long, runIds: Set[String],
                         streamMs: Long, publishMs: Long, viewReadMs: Long, landedBytes: Long,
                         bucketsRewritten: Int, filesWritten: Int)

/** What a traced build leaves behind for the warehouse and sinks layers. */
final case class BuildRec(op: Int, ingestMs: (Long, Long), exportMs: (Long, Long), exportBytes: Long)

/** The JVM half of the benchmark: builds the starting state, runs the timed
  * ops in a closed loop with one caller, checks every op's output against
  * the generator's bookkeeping, and (traced run) measures each layer.
  *
  * graft is driven only through the entry points its CLI uses:
  * `spark.read.format("couch-changes")`, `Warehouse.ingest`/`export` and
  * `StreamIngest.start`/`publish`. The traced run's staged probes also call
  * the public `Split`, `Compact`, `Flatten` and `SchemaDiscovery` objects.
  *
  * Usage: `Harness <config.json> <result.json>` (written by `run.py`).
  */
object Harness {
  private val mapper = new ObjectMapper()
  private val Database = "bench"
  private val SplitField = "type"
  private val Types = Seq("order", "product", "user")

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new java.io.File(args(0)))
    val work = cfg.get("work").asText
    val cpus = cfg.get("cpus").asInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = mapper.createObjectNode()
    try new Harness(spark, cfg, out).run()
    finally {
      out.put("session_s", sessionS)
      out.put("spark_version", spark.version)
      out.put("peak_rss_mb", peakRssMb())
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(args(1)), out)
      spark.stop()
    }
  }

  /** VmHWM of this process, the benchmark's peak resident memory. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used: every task, driver, GC and JIT
    * thread. The host's stolen time is not in it.
    */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = StreamIngest.deleteRecursively(p)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Copy a chunk in under a dot-name, then rename: the reader never lists
    * a half-written chunk (the spooler's own landing rule).
    */
  def land(src: Path, dir: Path): Long = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + src.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    Files.size(src)
  }

  def lwwChecksum: org.apache.spark.sql.Column =
    sum(crc32(concat(col("id"), lit(":"), col("v").cast("long").cast("string"))))

  def viewName(t: String): String = Split.tableName(Database, Some(t))
}

final class Harness(spark: SparkSession, cfg: JsonNode, out: ObjectNode) {
  import Harness._

  private val workload = cfg.get("workload").asText
  private val runSeconds = cfg.get("seconds").asDouble
  private val rounds = cfg.get("setup_rounds").asInt
  private val work = Paths.get(cfg.get("work").asText)
  private val tracer = if (cfg.get("trace").asBoolean) Some(new Tracer(spark)) else None
  private val opts = WarehouseOptions(database = Database, split = Some(SplitField))
  private val ops = ArrayBuffer.empty[OpRec]
  private val syncRecs = ArrayBuffer.empty[SyncRec]
  private val buildRecs = ArrayBuffer.empty[BuildRec]
  private val ProbeOp = -1
  /** Untimed ops after set-up: later ops sit further down the JIT warm-up
    * curve, and the timed median varies less from run to run.
    */
  private val WarmUps = 2

  private def traced = tracer.exists(_.attached)
  private def span[T](name: String, op: Int)(body: => T): T =
    tracer.fold(body)(_.span(name, op, "op")(body))

  def run(): Unit = {
    val bench: Workload = workload match {
      case "ingest_batch"               => new IngestBatch(cfg.get("ingest"))
      case "sync_trickle" | "sync_bulk" => new Sync(cfg.get("sync"))
      case w                            => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val setup = (1 to rounds).map(r => seconds(bench.setupRound(r))._2)
    out.set("setup_rounds_s", mapper.valueToTree(setup.toArray))
    out.put("warmup_s", seconds(bench.warmUp())._2)

    // closed loop, one caller; in the traced run half the ops run with the
    // listeners detached, in the order T U U T so that a warm-up trend does
    // not bias the traced-vs-untraced overhead
    val start = System.nanoTime()
    var i = 0
    while (bench.hasNext && (i < bench.minOps || (System.nanoTime() - start) / 1e9 < runSeconds)) {
      tracer.foreach(t => if (i % 4 == 0 || i % 4 == 3) t.attach() else t.detach())
      val t0Ms = System.currentTimeMillis()
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      val (changes, err) =
        try { val c = tracer.fold(bench.op(i))(_.span("op", i)(bench.op(i))); (c, None) }
        catch { case e: Exception => (0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuS() - cpu0
      val t1Ms = System.currentTimeMillis()
      val checked = err.orElse(
        try bench.check(i)
        catch { case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
      ops += OpRec(i, t0Ms, t1Ms, wall, cpu, changes, checked, traced)
      i += 1
    }
    tracer.foreach(_.detach())
    out.put("measured_s", (System.nanoTime() - start) / 1e9)
    val opsNode = out.putArray("ops")
    ops.foreach { o =>
      val n = opsNode.addObject()
      n.put("wall_s", o.wallS); n.put("cpu_s", o.cpuS); n.put("changes", o.changes)
      n.put("traced", o.traced)
      o.error.foreach(n.put("error", _))
    }
    val finalErr =
      try bench.finalCheck()
      catch { case e: Exception => Some(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    out.put("final_ok", finalErr.isEmpty)
    finalErr.foreach(out.put("final_error", _))
    out.set("sizes", bench.sizes)
    tracer.foreach { t =>
      val cacheBytes = t.peakCachedBytes
      t.attach()
      val layers = out.putObject("layers")
      bench.probes(layers)
      t.drain()
      t.detach()
      opLayers(t, layers)
      layers.put("cache.bytes_stored", cacheBytes.toDouble)
      out.set("progress_durations_ms", mapper.valueToTree(t.progress.map(_.durations.asJava).asJava))
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(work.resolve("spans.json").toFile, t.spans.toArray.map(s =>
          Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs).asJava))
    }
  }

  /** Layers measured on the workload's own traced ops, per op. */
  private def opLayers(t: Tracer, l: ObjectNode): Unit = {
    val traced = ops.filter(o => o.traced && o.error.isEmpty).toSeq
    val untraced = ops.filter(o => !o.traced && o.error.isEmpty).toSeq
    val n = math.max(1, traced.size).toDouble
    def per(f: OpRec => Double): Double = traced.map(f).sum / n
    def tasksOf(o: OpRec) = t.tasksIn(o.t0Ms, o.t1Ms)
    def taskSum(f: TaskRec => Long)(o: OpRec) = tasksOf(o).map(f).sum.toDouble
    l.put("catalyst.planning_s", per(o => t.planningMsIn(o.t0Ms, o.t1Ms) / 1000.0))
    l.put("scheduler.jobs", per(o => t.jobsIn(o.t0Ms, o.t1Ms).size))
    l.put("scheduler.stages", per(o => t.stagesIn(o.t0Ms, o.t1Ms).size))
    l.put("scheduler.tasks", per(o => tasksOf(o).size))
    l.put("driver.gap_s", per(o => t.gapMs(o.t0Ms, o.t1Ms) / 1000.0))
    l.put("driver.result_bytes", per(taskSum(_.resultBytes)))
    l.put("tasks.run_s", per(taskSum(_.runMs)) / 1000.0)
    l.put("tasks.cpu_s", per(taskSum(_.cpuNs)) / 1e9)
    l.put("tasks.gc_s", per(taskSum(_.gcMs)) / 1000.0)
    val skews = traced.flatMap(o => t.stagesIn(o.t0Ms, o.t1Ms)).filter(_.taskMs.size >= 2)
      .map(s => s.taskMs.max / math.max(1.0, median(s.taskMs.map(_.toDouble))))
    l.put("tasks.stage_skew_p90", percentile(skews, 0.9))
    l.put("shuffle.write_bytes", per(taskSum(_.shuffleWrite)))
    l.put("shuffle.read_bytes", per(taskSum(_.shuffleRead)))
    l.put("shuffle.spill_bytes", per(taskSum(_.spill)))
    l.put("sources.read_amp", per(o => taskSum(_.recordsIn)(o) / math.max(1L, o.changes)))
    l.put("trace.overhead_pct",
      if (untraced.isEmpty) 0.0
      else (median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1) * 100)

    // the build-side and sync-side layers, from whichever ran traced here:
    // the workload's own ops, or the probe of the other path
    val b = math.max(1, buildRecs.size).toDouble
    def bsum(f: BuildRec => Double) = buildRecs.map(f).sum / b
    l.put("warehouse.ingest_s", bsum(r => (r.ingestMs._2 - r.ingestMs._1) / 1000.0))
    l.put("warehouse.jobs", bsum(r => t.jobsIn(r.ingestMs._1, r.ingestMs._2).size))
    l.put("sinks.export_s", bsum(r => (r.exportMs._2 - r.exportMs._1) / 1000.0))
    l.put("sinks.bytes_written", bsum(_.exportBytes.toDouble))

    val s = math.max(1, syncRecs.size).toDouble
    def ssum(f: SyncRec => Double) = syncRecs.map(f).sum / s
    def dur(r: SyncRec, keys: String*) =
      t.progressOf(r.runIds).map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum / 1000.0
    l.put("streaming.trigger_s", ssum(dur(_, "triggerExecution")))
    l.put("streaming.add_batch_s", ssum(dur(_, "addBatch")))
    l.put("streaming.offset_commit_s", ssum(dur(_, "walCommit", "commitOffsets")))
    l.put("streaming.lifecycle_s", ssum(r => r.streamMs / 1000.0 - dur(r, "triggerExecution")))
    l.put("streaming.publish_s", ssum(_.publishMs / 1000.0))
    l.put("streaming.view_read_s", ssum(_.viewReadMs / 1000.0))
    l.put("streaming.jobs_per_sync", ssum(r => t.jobsIn(r.t0Ms, r.t1Ms).size))
    l.put("sources.offsets_s", ssum(dur(_, "latestOffset", "getBatch")))
    l.put("statefs.buckets_rewritten", ssum(_.bucketsRewritten))
    l.put("statefs.files_written_per_sync", ssum(_.filesWritten))
    def io(r: SyncRec, f: TaskRec => Long) = t.tasksIn(r.t0Ms, r.t1Ms).map(f).sum.toDouble
    l.put("statefs.bytes_read_per_sync", ssum(io(_, _.bytesIn)))
    l.put("statefs.bytes_written_per_sync", ssum(io(_, _.bytesOut)))
    l.put("statefs.write_amp", ssum(r => io(r, _.bytesOut) / math.max(1L, r.landedBytes)))
  }

  // ---------------------------------------------------------------- ops

  /** The CLI's batch path: DSv2 scan → `Warehouse.ingest` → export of every
    * table to parquet. Returns the warehouse.
    */
  private def build(op: Int, spool: String, outDir: Path): Warehouse = {
    val changes = spark.read.format("couch-changes").load(spool)
    val w = new Warehouse(spark, opts)
    val i0 = System.currentTimeMillis()
    span("warehouse.ingest", op)(w.ingest(changes))
    val e0 = System.currentTimeMillis()
    span("sinks.export", op)(w.tableNames.foreach(t => w.export(t, outDir.resolve(t).toString)))
    val e1 = System.currentTimeMillis()
    if (traced) buildRecs += BuildRec(op, (i0, e0), (e0, e1), treeBytes(outDir))
    w
  }

  /** A warehouse the monitor loop syncs into: its chunk directory, state
    * directory and streaming checkpoint.
    */
  private final class Wh(dir: Path) {
    val in: Path = dir.resolve("in")
    val whDir: Path = dir.resolve("wh")
    Files.createDirectories(in)
    val ingest = new StreamIngest(spark, opts, whDir.toString)

    def bucketFiles(): Map[String, Set[String]] = {
      val st = whDir.resolve("_state")
      if (!Files.isDirectory(st)) Map.empty
      else Files.list(st).iterator().asScala.filter(_.getFileName.toString.startsWith("_bucket="))
        .map(b => b.getFileName.toString -> Files.list(b).iterator().asScala
          .map(_.getFileName.toString).toSet).toMap
    }

    /** The monitor step the CLI runs: land chunks, start → awaitTermination
      * → publish, then read the change back through its view. Timed from
      * the landed chunk to the read-back.
      */
    def sync(op: Int, landChunks: => Long, readBack: => Unit): (Long, Double) = {
      val before = if (traced) bucketFiles() else Map.empty[String, Set[String]]
      val bytes = landChunks
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (q, streamS) = seconds(span("streaming.run", op) {
        val q = ingest.start(in.toString, whDir.resolve("_spark_checkpoint").toString)
        q.awaitTermination()
        q
      })
      q.exception.foreach(e => throw e)
      val (_, pubS) = seconds(span("streaming.publish", op)(ingest.publish()))
      val (_, readS) = seconds(span("streaming.view_read", op)(readBack))
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        val after = bucketFiles()
        val rewritten = after.count { case (b, fs) => before.get(b) != Some(fs) }
        val written = after.map { case (b, fs) => (fs -- before.getOrElse(b, Set.empty)).size }.sum
        syncRecs += SyncRec(op, t0Ms, System.currentTimeMillis(), Set(q.runId.toString),
          (streamS * 1000).toLong, (pubS * 1000).toLong, (readS * 1000).toLong, bytes,
          rewritten, written)
      }
      (bytes, wall)
    }
  }

  private def lookup(t: String, id: String): Seq[Double] =
    spark.table(viewName(t)).where(col("id") === id).select("v").collect()
      .map(_.getDouble(0)).toSeq

  /** Per-type row count, LWW checksum and absence of `bad` and design ids,
    * in one job over all tables, against the generator's bookkeeping.
    */
  private def checkTables(tables: Seq[(String, DataFrame)], expect: JsonNode, bad: Seq[String],
                          lateField: String): Option[String] =
    tables.collectFirst { case (t, df) if df.columns.contains(lateField) =>
      s"$t: late field $lateField became a column"
    }.orElse {
      val got = tables.map { case (t, df) => df.select(lit(t).as("t"), col("id"), col("v")) }
        .reduce(_ unionByName _)
        .groupBy("t")
        .agg(count(lit(1)), lwwChecksum,
          sum(when(col("id").startsWith("_design") || col("id").isin(bad: _*), 1).otherwise(0)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      tables.map(_._1).iterator.map { t =>
        val (en, es) = (expect.get("counts").get(t).asLong, expect.get("sums").get(t).asLong)
        got.get(t) match {
          case None                        => Some(s"$t: no rows, expected $en")
          case Some((n, _, _)) if n != en  => Some(s"$t: $n rows, expected $en")
          case Some((_, v, _)) if v != es  => Some(s"$t: LWW checksum $v, expected $es")
          case Some((_, _, b)) if b != 0   => Some(s"$t: $b deleted or design ids present")
          case _                           => None
        }
      }.collectFirst { case Some(e) => e }
    }

  // ----------------------------------------------------------- workloads

  private trait Workload {
    def minOps: Int = if (tracer.isDefined) 4 else 3
    /** Build the starting state in a fresh directory; the last round's
      * state is the one the timed ops use.
      */
    def setupRound(r: Int): Unit
    /** Untimed ops on the final state, after the rounds. */
    def warmUp(): Unit
    def hasNext: Boolean
    /** Run op `i` and return the number of changes it applied. */
    def op(i: Int): Long
    def check(i: Int): Option[String]
    def finalCheck(): Option[String]
    def probes(l: ObjectNode): Unit
    def sizes: ObjectNode
  }

  /** Staged per-layer probes over one input: the DSv2 scan on its own,
    * then scan → Compact and scan → Compact → Flatten over the cached
    * scan (as `Warehouse.ingest` caches it), per type. Medians of three.
    */
  private def stagedProbes(input: String, l: ObjectNode): Unit = {
    def med3(body: => Unit) = median((1 to 3).map(_ => seconds(body)._2))
    def scan = spark.read.format("couch-changes").load(input)
    l.put("sources.scan_s", med3(noop(scan)))
    l.put("split.discover_types_s", med3(Split.discoverTypes(scan, SplitField)))
    val cached = scan.cache()
    cached.count()
    val types = Split.discoverTypes(cached, SplitField)
    val donors = types.map { t =>
      cached.where(!col("deleted") && Split.docType(SplitField, col("doc")) === t)
        .orderBy("seqNum").select("doc").limit(1).collect()(0).getString(0)
    }
    val schemas = donors.map(SchemaDiscovery.discover)
    l.put("model.schema_discover_s",
      median((1 to 21).map(_ => seconds(donors.foreach(SchemaDiscovery.discover))._2)))
    def compacted(t: String) =
      Compact(Split.ofType(cached, SplitField, t).select("id", "seqNum", "deleted", "doc"))
    val tracerNow = tracer.get
    val c0 = System.currentTimeMillis()
    val compactS = med3(types.foreach(t => noop(compacted(t))))
    tracerNow.drain()
    l.put("compact.self_s", compactS)
    l.put("compact.shuffle_write_bytes",
      tracerNow.tasksIn(c0, System.currentTimeMillis()).map(_.shuffleWrite).sum / 3.0)
    val flattenS = med3(types.zip(schemas).foreach { case (t, s) => noop(Flatten(compacted(t), s)) })
    l.put("flatten.self_s", flattenS - compactS)
    cached.unpersist(blocking = true)
  }

  private final class IngestBatch(c: JsonNode) extends Workload {
    private val spool = c.get("spool").asText
    private val expect = c.get("expect")
    private val outDir = work.resolve("export")
    private var last: Warehouse = _

    def setupRound(r: Int): Unit = {
      val dir = work.resolve(s"setup-export-$r")
      build(-r, spool, dir)
      deleteTree(dir)
    }
    def warmUp(): Unit = (1 to WarmUps).foreach(k => build(-10 - k, spool, outDir))
    def hasNext = true
    def op(i: Int): Long = { last = build(i, spool, outDir); c.get("changes").asLong }

    def check(i: Int): Option[String] = {
      val tables = Types.map(viewName)
      if (last.tableNames.sorted != tables) return Some(s"tables ${last.tableNames}, expected $tables")
      if (last.checkpoint != expect.get("last_seq").asLong)
        return Some(s"checkpoint ${last.checkpoint}, expected ${expect.get("last_seq")}")
      checkTables(Types.map(t => t -> spark.read.parquet(outDir.resolve(viewName(t)).toString)),
        expect, c.get("deleted_sample").asScala.map(_.asText).toSeq, c.get("late_field").asText)
    }
    def finalCheck(): Option[String] = None

    /** Staged probes over the spool, plus the sync path over its first
      * chunk: one `StreamIngest` monitor step into a fresh warehouse.
      */
    def probes(l: ObjectNode): Unit = {
      stagedProbes(spool, l)
      val wh = new Wh(work.resolve("probe-sync"))
      val probe = c.get("probe")
      val first = Files.list(Paths.get(spool)).iterator().asScala.toSeq.min
      wh.sync(ProbeOp, land(first, wh.in),
        lookup(probe.get("type").asText, probe.get("id").asText))
      l.put("statefs.state_bytes", treeBytes(wh.whDir.resolve("_state")).toDouble)
    }

    def sizes: ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("changes", c.get("changes").asLong); n.put("chunk", c.get("chunk").asLong)
      n.put("spool_bytes", c.get("spool_bytes").asLong)
      n
    }
  }

  private final class Sync(c: JsonNode) extends Workload {
    private val chunks = c.get("chunks").asScala.toIndexedSeq
    private val syncDir = Paths.get(c.get("sync_dir").asText)
    private val lateField = c.get("late_field").asText
    private var wh: Wh = _
    private var next = WarmUps // chunks before it are the warm-up syncs
    private var lastApplied = 0

    private def syncChunk(w: Wh, op: Int, k: Int): Long = {
      val ch = chunks(k)
      val (bytes, _) = w.sync(op, land(syncDir.resolve(ch.get("file").asText), w.in), {
        val got = lookup(ch.get("created_type").asText, ch.get("created").asText)
        if (got != Seq(ch.get("created_v").asDouble))
          throw new IllegalStateException(s"created ${ch.get("created").asText} read back as $got")
      })
      bytes
    }

    /** The base warehouse, loaded through the monitor path. */
    def setupRound(r: Int): Unit = {
      if (r > 1) deleteTree(work.resolve(s"setup-${r - 1}"))
      val w = new Wh(work.resolve(s"setup-$r"))
      val base = Files.list(Paths.get(c.get("base").asText)).iterator().asScala.toSeq.sorted
      w.sync(-r, base.map(land(_, w.in)).sum, ())
      wh = w
    }
    def warmUp(): Unit = (0 until WarmUps).foreach(k => syncChunk(wh, -10 - k, k))

    def hasNext: Boolean = next < chunks.size
    def op(i: Int): Long = {
      val k = next
      next += 1
      syncChunk(wh, i, k)
      lastApplied = k
      chunks(k).get("changes").asLong
    }

    def check(i: Int): Option[String] = {
      val ch = chunks(lastApplied)
      val (t, id) = (ch.get("deleted_type").asText, ch.get("deleted").asText)
      val left = lookup(t, id)
      if (left.nonEmpty) Some(s"deleted $id still visible in ${viewName(t)}") else None
    }

    def finalCheck(): Option[String] = {
      val expect = chunks(lastApplied).get("expect")
      if (wh.ingest.checkpoint != expect.get("last_seq").asLong)
        return Some(s"checkpoint ${wh.ingest.checkpoint}, expected ${expect.get("last_seq")}")
      checkTables(Types.map(t => t -> spark.table(viewName(t))), expect, Seq.empty, lateField)
    }

    /** Staged probes and the batch path (`Warehouse.ingest` + export) over
      * the chunks this run's timed syncs landed.
      */
    def probes(l: ObjectNode): Unit = {
      val landed = work.resolve("probe-spool")
      (WarmUps to lastApplied).foreach(k => land(syncDir.resolve(chunks(k).get("file").asText), landed))
      stagedProbes(landed.toString, l)
      build(ProbeOp, landed.toString, work.resolve("probe-export"))
      l.put("statefs.state_bytes", treeBytes(wh.whDir.resolve("_state")).toDouble)
    }

    def sizes: ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("base_docs", c.get("base_docs").asLong)
      n.put("changes_per_sync", chunks(0).get("changes").asLong)
      n.put("timed_syncs_generated", chunks.size - WarmUps)
      n
    }
  }
}
