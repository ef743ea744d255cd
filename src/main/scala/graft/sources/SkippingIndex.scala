package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** File-level data skipping: a persisted per-file min/max manifest and a
  * reader that prunes the file list BEFORE Spark plans the scan — the
  * Delta/Iceberg file-statistics pattern, self-contained over a plain
  * parquet directory. This is the read-side completion of
  * [[graft.ops.Maintenance]]'s layout work: compaction sizes the files,
  * Z-ordering localizes multi-column ranges into few files, and the
  * manifest is what turns that locality into files never opened.
  *
  * Scale shape:
  *   - [[build]] reads parquet FOOTERS only — a few KB per file, never
  *     data pages — distributed over the executors (`mapPartitions` on
  *     the file list), so manifesting a 100 TB table moves megabytes.
  *     The manifest itself is `files × columns` rows of fixed width,
  *     persisted under `<dir>/_skipping` (the underscore prefix keeps it
  *     invisible to Spark's own directory scans).
  *   - [[read]] filters the manifest (a pushdown-friendly scan of a tiny
  *     table) and hands Spark the surviving paths, then applies the SAME
  *     range as a residual filter — pruning is purely an optimization
  *     and can never change results. The surviving-path collect is
  *     driver-bounded by manifest selectivity; a deployment whose
  *     manifests outgrow that would drive a DSv2 scan from the same
  *     manifest join instead.
  *
  * Honest limits (all conservative — fallback is "keep the file"):
  * numeric stats are held as doubles, so integer keys are exact up to
  * 2^53; boolean/decimal/int96 columns and non-UTF8 binary get no stats
  * and never prune; timestamps prune on their RAW stored int64
  * (micros/millis/nanos as written — callers pass bounds in the same
  * unit). Stats validity is per row group: a file prunes only when
  * every row group carrying non-null values has usable statistics.
  */
object SkippingIndex {

  /** Per-(file, column) statistics row. `has_stats` false means the file
    * must always be kept for this column; an all-null file (`n_nulls ==
    * n_rows`) is skippable by any range predicate (SQL ranges never
    * match NULL).
    */
  final case class ColStats(
      file: String, column: String, n_rows: Long, n_nulls: Long,
      has_stats: Boolean,
      min_num: Option[Double], max_num: Option[Double],
      min_str: Option[String], max_str: Option[String])

  def manifestDir(dir: String): String = s"$dir/_skipping"

  /** Hadoop `Configuration` is `Writable`, not `Serializable`; this
    * carries it to executors via its own wire format.
    */
  private final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Data files of a plain parquet directory (hidden `_`/`.` entries
    * excluded, matching Spark's own listing).
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(_.isFile)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString)
      .sorted
  }

  /** Build and persist the manifest for `cols` over the parquet dir:
    * footer-only reads, one task per file batch, `files × cols` rows
    * out. Returns the persisted manifest. Re-run after any layout change
    * ([[graft.ops.Maintenance.zOrderWrite]] / rewrites / appends) — the
    * manifest describes exactly the files present at build time.
    */
  def build(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "build requires at least one column")
    import spark.implicits._
    val files = dataFiles(spark, dir)
    require(files.nonEmpty, s"no parquet data files under $dir")
    val conf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val wanted = cols.toVector
    val parallelism = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    val stats = spark.createDataset(files)
      .repartition(parallelism)
      .mapPartitions { paths =>
        val c = conf.value
        paths.flatMap(p => fileStats(p, c, wanted))
      }
    // the manifest is files × cols rows of fixed width — metadata, not
    // data: land it as ONE file (footer reads stay parallel above; a
    // 32-way write of a KB-scale table costs task+file overhead every
    // read pays back)
    stats.coalesce(1).write.mode("overwrite").parquet(manifestDir(dir))
    manifest(spark, dir)
  }

  /** The persisted manifest ([[ColStats]] schema). The underscore prefix
    * that hides `_skipping` from Spark's directory scans also makes Spark
    * ignore it as a READ root (with an "All paths were ignored" warning),
    * so the manifest is read by its explicit part files instead.
    */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(manifestDir(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).toSeq
      .filter(_.isFile)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString)
      .sorted
    require(parts.nonEmpty, s"no manifest files under ${manifestDir(dir)}")
    spark.read.parquet(parts: _*)
  }

  /** Footer scan of one file → one [[ColStats]] per requested column. */
  private def fileStats(path: String, conf: Configuration,
                        cols: Seq[String]): Seq[ColStats] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val fileRows = blocks.map(_.getRowCount).sum
      cols.map { colName =>
        var nulls = 0L
        var ok = true
        var minN, maxN = Option.empty[Double]
        var minS, maxS = Option.empty[String]
        blocks.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == colName) match {
            case None => ok = false // column absent from this file's schema
            case Some(chunk) =>
              val st = chunk.getStatistics
              if (st == null || st.isEmpty) ok = false
              else {
                nulls += math.max(st.getNumNulls, 0L)
                if (st.getNumNulls < 0) ok = false // null count unknown
                if (st.hasNonNullValue) {
                  value(st, chunk.getPrimitiveType.getLogicalTypeAnnotation) match {
                    case Some(Left((lo, hi))) =>
                      minN = Some(minN.fold(lo)(math.min(_, lo)))
                      maxN = Some(maxN.fold(hi)(math.max(_, hi)))
                    case Some(Right((lo, hi))) =>
                      minS = Some(minS.fold(lo)(o => if (o <= lo) o else lo))
                      maxS = Some(maxS.fold(hi)(o => if (o >= hi) o else hi))
                    case None => ok = false // unprunable type
                  }
                }
              }
          }
        }
        ColStats(path, colName, fileRows, nulls, ok, minN, maxN, minS, maxS)
      }
    } finally reader.close()
  }

  /** Min/max of one row-group chunk as either a numeric or string range;
    * None for types where cross-engine ordering is not trustworthy
    * (boolean, int96, decimals, non-UTF8 binary).
    */
  private def value(st: Statistics[_], logical: LogicalTypeAnnotation)
      : Option[Either[(Double, Double), (String, String)]] = {
    if (logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])
      return None
    (st.genericGetMin, st.genericGetMax) match {
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        Some(Left((a.toDouble, b.toDouble)))
      case (a: java.lang.Long, b: java.lang.Long) =>
        Some(Left((a.toDouble, b.toDouble)))
      case (a: java.lang.Float, b: java.lang.Float) =>
        Some(Left((a.toDouble, b.toDouble)))
      case (a: java.lang.Double, b: java.lang.Double) =>
        Some(Left((a.doubleValue, b.doubleValue)))
      case (a: Binary, b: Binary)
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(Right((a.toStringUsingUTF8, b.toStringUsingUTF8)))
      case _ => None
    }
  }

  /** Files that can contain a row with `column` in `[lower, upper]`
    * (either bound open when None). Numeric bounds prune numeric stats;
    * string bounds prune string stats; a bound of the wrong family for
    * the column's stats keeps the file (conservative).
    */
  def prunedFiles(spark: SparkSession, dir: String, column: String,
                  lower: Option[Any], upper: Option[Any]): Seq[String] = {
    import spark.implicits._
    val m = manifest(spark, dir).where(col("column") === column)
      .as[ColStats].collect().toSeq
    val all = dataFiles(spark, dir)
    val byFile = m.groupBy(_.file).view.mapValues(_.head).toMap
    all.filter { f =>
      byFile.get(f) match {
        case None => true // file appeared after build — must be kept
        case Some(s) => keep(s, lower, upper)
      }
    }
  }

  private def num(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue)
    case _ => None
  }

  private[sources] def keep(s: ColStats, lower: Option[Any],
                            upper: Option[Any]): Boolean = {
    if (!s.has_stats) return true
    if (s.n_rows > 0 && s.n_nulls == s.n_rows) return false // all-null file
    val loOk = lower.forall { lo =>
      (num(lo), lo) match {
        case (Some(l), _) => s.max_num.forall(_ >= l)
        case (None, str: String) => s.max_str.forall(_ >= str)
        case _ => true
      }
    }
    val hiOk = upper.forall { hi =>
      (num(hi), hi) match {
        case (Some(h), _) => s.min_num.forall(_ <= h)
        case (None, str: String) => s.min_str.forall(_ <= str)
        case _ => true
      }
    }
    loOk && hiOk
  }

  /** Range read with file skipping: prune the file list by manifest,
    * scan only survivors, and re-apply the range as a residual filter so
    * the result is identical to an unpruned `read.parquet(dir).where(…)`
    * whatever the manifest says.
    */
  def read(spark: SparkSession, dir: String, column: String,
           lower: Option[Any], upper: Option[Any]): DataFrame = {
    val kept = prunedFiles(spark, dir, column, lower, upper)
    val base =
      if (kept.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.parquet(kept: _*)
    val residual = (lower.map(l => col(column) >= lit(l)) ++
      upper.map(u => col(column) <= lit(u)))
      .reduceOption(_ && _).getOrElse(lit(true))
    base.where(residual)
  }
}
