package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ops.Mango
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 implementation of the CouchDB `_changes` feed (batch form,
  * file-backed): `spark.read.format("couch-changes").load(path)`.
  *
  * The one reader of a changes feed (`Warehouse.start`, the CLI, the
  * monitor through [[CouchChangesMicroBatch]]). Each change line becomes
  * `[seq, id, rev, deleted, doc (JSON text), seqNum]`; `seqNum` is the
  * integer prefix of the seq token (`"47-1abc" → 47`, reference A14).
  *
  * This is the reference's spool step (A1, `index.js:75-140`) as a real
  * Spark source with SOURCE-SIDE pushdown, mirroring how the reference
  * pushes work to CouchDB:
  *
  *   - **Mango selector pushdown (A4)**: `.option("selector", mangoJson)`
  *     evaluates the selector against each document inside the reader
  *     ([[graft.ops.Mango.evalDoc]]: type-strict comparisons, dotted names
  *     address subfields) — the exact position CouchDB evaluates
  *     `params.selector` (`index.js:102-104`), and the only place a
  *     selector runs over raw docs. Rows are dropped before they ever
  *     become Spark rows; tombstones always pass.
  *   - **Catalyst filter pushdown**: predicates on the feed columns
  *     (`id`, `seq`, `seqNum`, `deleted`, `rev`) are accepted via
  *     `SupportsPushDownFilters` and applied during the line scan — e.g.
  *     a `since`-style resume is `col("seqNum") > lastSeq` and prunes at
  *     parse time.
  *   - **Column pruning**: `SupportsPushDownRequiredColumns` — a query
  *     touching only `id`/`seqNum` never materializes document bodies.
  *
  * Partitioning: one input partition per file (a spooled feed is chunked
  * into files; each executor parses its own chunk — the distributed analog
  * of the reference's single long HTTP read). At cluster scale, point it
  * at a directory of spool chunks.
  */
class CouchChangesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "couch-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CouchChangesSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new CouchChangesTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("couch-changes: missing .load(path)")),
      Option(properties.get("selector")),
      CouchChangesSource.maxChunksPerTrigger(new CaseInsensitiveStringMap(properties)))
}

object CouchChangesSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", StringType),
    StructField("id", StringType),
    StructField("rev", StringType),
    StructField("deleted", BooleanType, nullable = false),
    StructField("doc", StringType),
    StructField("seqNum", LongType)))

  /** The `maxChunksPerTrigger` option: a positive number of chunk files
    * per micro-batch. Zero or a negative cap would admit no chunk, and the
    * query would end having read nothing, so those are rejected with the
    * non-numeric values (as Spark rejects a bad `maxFilesPerTrigger`).
    */
  def maxChunksPerTrigger(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("maxChunksPerTrigger")).map { v =>
      val n = v.toIntOption.getOrElse(0)
      require(n > 0, s"couch-changes: maxChunksPerTrigger must be a positive integer, got '$v'")
      n
    }

  /** The chunk files of a feed path in name order: the file itself, or the
    * files of a directory minus dot-files — a spooler's staged `.tmp`
    * chunk must not be read half-written, nor shift the stream's
    * positional offsets. A missing path fails here, at planning.
    */
  def chunkFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    val listed = f.listFiles() // null unless a directory
    if (listed != null)
      listed.filter(x => x.isFile && !x.getName.startsWith("."))
        .map(_.getAbsolutePath).sorted.toSeq
    else if (f.isFile) Seq(f.getAbsolutePath)
    else throw new java.io.FileNotFoundException(
      s"couch-changes: no changes feed file or directory at $path")
  }
}

final class CouchChangesTable(path: String, selector: Option[String],
                              maxChunksPerTrigger: Option[Int])
    extends Table with SupportsRead {
  // fail fast at planning time, not in a task (reference index.js:202-214
  // validates the selector up front and exits)
  selector.foreach(Mango.parse)

  override def name(): String = s"couch-changes(`$path`)"
  override def schema(): StructType = CouchChangesSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangesScanBuilder(path, selector.orElse(Option(options.get("selector"))),
      maxChunksPerTrigger)
}

final class ChangesScanBuilder(path: String, selector: Option[String],
                               maxChunksPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = CouchChangesSource.schema

  /** Feed-column predicates we evaluate during the scan; everything else
    * stays in Spark's own Filter node.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo(a, _)            => pushable(a)
      case GreaterThan(a, _)        => pushable(a)
      case GreaterThanOrEqual(a, _) => pushable(a)
      case LessThan(a, _)           => pushable(a)
      case LessThanOrEqual(a, _)    => pushable(a)
      case StringStartsWith(a, _)   => pushable(a)
      case IsNotNull(a)             => pushable(a)
      case _                        => false
    }
    pushed = supported
    rest
  }
  private def pushable(attr: String): Boolean =
    Seq("seq", "id", "rev", "deleted", "seqNum").contains(attr)

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new CouchChangesMicroBatch(path, selector, required, maxChunksPerTrigger)
    override def description(): String =
      s"couch-changes $path selector=${selector.isDefined} pushed=${pushed.mkString(",")}"

    override def planInputPartitions(): Array[InputPartition] =
      CouchChangesSource.chunkFiles(path).map(p => ChangesPartition(p): InputPartition).toArray

    override def createReaderFactory(): PartitionReaderFactory =
      new ChangesReaderFactory(required, pushed, selector)
  }
}

final case class ChangesPartition(file: String) extends InputPartition

final class ChangesReaderFactory(required: StructType, pushed: Array[Filter],
                                 selector: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangesReader(partition.asInstanceOf[ChangesPartition].file, required,
      pushed, selector)
}

/** Executor-side reader: streams the file line by line, parses change
  * objects with Jackson, applies pushed filters + the Mango selector, and
  * emits only the pruned columns.
  */
final class ChangesReader(file: String, required: StructType,
                          pushed: Array[Filter], selector: Option[String])
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val sel = selector.map(Mango.parse)
  private val lines = java.nio.file.Files.lines(java.nio.file.Paths.get(file))
  private val it = lines.iterator().asScala
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (it.hasNext) {
      val line0 = it.next().trim
      if (line0.startsWith("{\"seq\"")) {
        val line = if (line0.endsWith(",")) line0.dropRight(1) else line0
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        if (node != null && accept(node)) {
          current = toRow(node)
          return true
        }
      }
    }
    false
  }

  private def accept(n: JsonNode): Boolean = {
    val deleted = Option(n.get("deleted")).exists(_.asBoolean(false))
    // tombstones always pass the selector (they carry no real doc), same as
    // the reference applying deletes regardless of the Mango query
    val selOk = deleted || sel.forall { s =>
      Option(n.get("doc")).exists(d => Mango.evalDoc(s, d))
    }
    selOk && pushed.forall(f => evalFilter(f, n, deleted))
  }

  private def field(n: JsonNode, attr: String, deleted: Boolean): Any = attr match {
    case "seq"     => Option(n.get("seq")).map(_.asText).orNull
    case "id"      => Option(n.get("id")).map(_.asText).orNull
    case "rev"     => rev(n)
    case "deleted" => deleted
    case "seqNum"  => seqNum(n)
    case _         => null
  }

  private def rev(n: JsonNode): String =
    Option(n.get("changes")).flatMap(c => Option(c.get(0)))
      .flatMap(c => Option(c.get("rev"))).map(_.asText).orNull

  private def seqNum(n: JsonNode): java.lang.Long =
    Option(n.get("seq")).map(_.asText).flatMap { s =>
      val digits = s.takeWhile(_.isDigit)
      if (digits.nonEmpty) Some(java.lang.Long.valueOf(digits)) else None
    }.orNull

  private def evalFilter(f: Filter, n: JsonNode, deleted: Boolean): Boolean = f match {
    case EqualTo(a, v)            => Option(field(n, a, deleted)).contains(v) ||
                                     cmpNum(field(n, a, deleted), v).contains(0)
    case GreaterThan(a, v)        => cmpNum(field(n, a, deleted), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmpNum(field(n, a, deleted), v).exists(_ >= 0)
    case LessThan(a, v)           => cmpNum(field(n, a, deleted), v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmpNum(field(n, a, deleted), v).exists(_ <= 0)
    case StringStartsWith(a, p)   => Option(field(n, a, deleted))
                                       .exists(_.toString.startsWith(p))
    case IsNotNull(a)             => field(n, a, deleted) != null
    case _                        => true
  }

  private def cmpNum(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: java.lang.Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  private def toRow(n: JsonNode): InternalRow = {
    val deleted = Option(n.get("deleted")).exists(_.asBoolean(false))
    val values = required.fields.map { f =>
      f.name match {
        case "doc" => Option(n.get("doc")).map(d => UTF8String.fromString(d.toString)).orNull
        case "seq" | "id" | "rev" =>
          Option(field(n, f.name, deleted)).map(v => UTF8String.fromString(v.toString)).orNull
        case "deleted" => deleted
        case "seqNum"  => seqNum(n) match { case null => null; case l => l.longValue() }
        case _ => null
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
