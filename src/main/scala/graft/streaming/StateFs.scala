package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side state-file plumbing for [[StreamIngest]]'s state,
  * [[StreamScd2]]'s dimension and [[graft.ops.Maintenance]]'s file
  * compaction: tiny marker/manifest files and compaction's directory swap,
  * driven through the Hadoop `FileSystem` API so the state lives
  * WHEREVER the data lives — markers and data on one filesystem, as
  * [[graft.sources.IndexFreshness]] does too.
  *
  * Atomicity boundary (documented once, here):
  *
  *   - '''HDFS and POSIX local paths''': `rename` onto an ABSENT
  *     destination is atomic (one NameNode metadata op / `rename(2)`),
  *     and creating a file makes its NAME visible atomically. Every
  *     swap in this module renames onto a destination it just cleared,
  *     and every commit point is either such a rename or the creation
  *     of a marker whose NAME (not content) carries the commitment —
  *     so a crash at any instruction leaves either the old state or
  *     the new, never a torn one.
  *   - '''Object stores (S3A/GCS)''': `rename` is COPY+DELETE — not
  *     atomic, O(data), and a crash mid-rename can leave both halves.
  *     The portable commit there is a CONDITIONAL PUT of a new manifest
  *     key (S3 `If-None-Match` / GCS `ifGenerationMatch=0` — the
  *     primitive log-structured table formats build their commit
  *     protocols on), which [[StreamIngest.ManifestDir]] — the one
  *     layout of the ingest state — approximates: it commits by creating
  *     a NEW, never-overwritten manifest object and renames no directory,
  *     so it degrades gracefully where only the sweep of retired
  *     directories loses atomicity (stale data is re-swept, never
  *     resurrected). The one directory swap left,
  *     [[graft.ops.Maintenance.compactFiles]], targets rename-capable
  *     filesystems: it refuses copy-rename schemes up front
  *     ([[requireAtomicDirRename]]), and a rename returning false throws
  *     rather than corrupting silently.
  */
private[graft] object StateFs {

  /** Read a small state file fully (the `InputStream` contract allows
    * short reads — see [[graft.sources.IndexFreshness.isFresh]]).
    */
  def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream(256)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** [[readBytes]] decoded as UTF-8. */
  def readString(fs: FileSystem, p: Path): String =
    new String(readBytes(fs, p), "UTF-8")

  /** Overwrite-write a small state file. NOT atomic w.r.t. content on
    * any filesystem (an overwrite truncates before it writes) — callers
    * that cannot tolerate a torn file write into a STAGING name and
    * commit via [[renameInto]].
    */
  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Commit a small marker file whole or not at all: the content goes to
    * a hidden `.<name>.tmp` sibling, then [[renameInto]] makes it
    * visible under the absent `p`. For markers every start parses, where
    * a torn [[writeString]] would fail every later start.
    */
  def commitString(fs: FileSystem, p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    writeString(fs, tmp, s)
    renameInto(fs, tmp, p)
  }

  /** Schemes whose `FileSystem.rename` is a COPY+DELETE emulation that
    * RETURNS TRUE (the object-store boundary in the class doc): a crash
    * mid-"rename" leaves both halves and no error ever surfaced, so a
    * directory swap must refuse these outright rather than corrupt
    * silently. ADLS Gen2 (`abfs`) is deliberately absent — its
    * directory rename is an atomic metadata op, like HDFS.
    */
  private val CopyRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Fail loudly when `fs` cannot rename directories atomically —
    * called by [[graft.ops.Maintenance.compactFiles]], the one directory
    * swap, before it touches the table (Hadoop exposes no path capability
    * for rename atomicity, so this is a scheme judgment; `remedy` names
    * the caller's escape hatch).
    */
  def requireAtomicDirRename(fs: FileSystem, what: String,
                             remedy: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (CopyRenameSchemes(scheme))
      throw new IllegalArgumentException(
        s"$what swaps directories by rename, which on '$scheme' is a " +
          "non-atomic copy+delete that reports success — a crash " +
          s"mid-swap would lose data silently. $remedy")
  }

  /** Rename `src` onto an absent `dst` — the atomic commit op on
    * rename-capable filesystems (see the object doc). The dst-absent
    * precondition is CHECKED, not assumed: HDFS `rename` returns false
    * on an existing destination, but the local filesystem delegates to
    * `File.renameTo`, which on Linux silently REPLACES an existing file
    * — a protocol bug (renaming onto live state) would clobber it
    * without a trace. Failure (either signal) throws with the pair
    * named; a silent false would let a swap half-complete and the next
    * read see retired state.
    */
  def renameInto(fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.exists(dst) || !fs.rename(src, dst))
      throw new IllegalStateException(
        s"state rename failed: $src -> $dst (destination present, source " +
          "missing, or a cross-filesystem move)")

  /** Recursive delete, no-op when absent. */
  def deleteRecursively(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) { fs.delete(p, true); () }

  /** Child names of `dir` (empty when the directory is absent). */
  def listNames(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  // ---- the replay guard of the exactly-once state ----

  private val ReplayMarginKey = "graft.agg.replayMargin"

  /** How far a replayed batchId may legitimately lag an owner's applied
    * marker (`graft.agg.replayMargin` session conf, default 0). Zero:
    * with synchronous progress tracking the only legitimate re-delivery
    * is the marker batch itself (the crash window between an owner's
    * commit and the stream's offset commit), so any batchId strictly
    * below the marker is a reset checkpoint. A deployment that enables
    * `spark.sql.streaming.asyncProgressTracking` (which can re-deliver
    * several batches whose effects were already absorbed) widens it to
    * its async checkpointing interval in batches. A negative margin
    * would refuse even the marker replay and wedge every owner on
    * restart, so it is rejected with the non-numeric values.
    */
  def replayMargin(spark: SparkSession): Long = {
    val v = spark.conf.getOption(ReplayMarginKey).getOrElse("0")
    val margin = v.toLongOption.getOrElse(-1L)
    require(margin >= 0,
      s"$ReplayMarginKey must be a non-negative number of batches, got '$v'")
    margin
  }

  /** The replay policy of state whose commit must not be repeated (the
    * manifest state of [[StreamIngest]], the dimension of
    * [[StreamScd2]]): true when `batchId` re-delivers a batch the state
    * committed at `applied` already absorbed — the caller skips it; false
    * for a new batch. A batchId further behind than [[replayMargin]]
    * means the streaming checkpoint was reset against existing state — its
    * low ids carry genuinely new data that skipping would silently drop —
    * so it throws, naming the owner (`what`) and how to recover (`remedy`).
    */
  def alreadyApplied(spark: SparkSession, batchId: Long, applied: Long,
                     what: String, remedy: String): Boolean = {
    val margin = replayMargin(spark)
    if (applied - batchId > margin)
      throw new IllegalStateException(
        s"$what batchId went backwards: got $batchId but $applied is " +
          s"already applied (more than the replay margin of $margin). $remedy")
    batchId <= applied
  }

  // ---- versioned small-state files (the state manifest) ----
  //
  // The manifest is one small state blob whose commit must be atomic
  // WITH its batch id, from two portable ops:
  // content goes to a HIDDEN staging name, then a dst-absent rename
  // commits it as `<prefix>-<batchId><suffix>` — the NAME carries the
  // id. Readers take the highest committed id; a crash mid-write
  // leaves only hidden staging garbage (overwritten next commit), a
  // crash between commit and sweep leaves two committed versions of
  // which the newer wins and the next commit sweeps the older.

  private def versionOf(name: String, prefix: String,
                        suffix: String): Option[Long] = {
    val p = s"$prefix-"
    if (name.startsWith(p) && name.endsWith(suffix) &&
        name.length > p.length + suffix.length)
      name.substring(p.length, name.length - suffix.length).toLongOption
    else None
  }

  /** Commit `bytes` as version `batchId` of the `<prefix>*<suffix>`
    * state file in `dir`, then sweep retired versions.
    */
  def writeVersioned(fs: FileSystem, dir: Path, prefix: String,
                     suffix: String, batchId: Long,
                     bytes: Array[Byte]): Unit = {
    fs.mkdirs(dir)
    val name = s"$prefix-$batchId$suffix"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    // a same-id file can only be a REPLAY's re-commit (at-least-once
    // delivery re-running a batch whose commit already landed): its
    // content is identical by the exactly-once contract, so KEEP the
    // committed copy and drop the staging. The previous delete-then-
    // rename form opened a crash window in which NO version existed —
    // with the retired versions already swept, a crash between the
    // delete and the rename read the entire state as EMPTY (the silent
    // loss every guard here exists to prevent).
    if (fs.exists(new Path(dir, name))) deleteRecursively(fs, tmp)
    else renameInto(fs, tmp, new Path(dir, name))
    listNames(fs, dir).foreach { n =>
      if (versionOf(n, prefix, suffix).exists(_ != batchId))
        deleteRecursively(fs, new Path(dir, n))
    }
  }

  /** `(batchId, bytes)` of the highest committed version, None before
    * any commit.
    */
  def readVersioned(fs: FileSystem, dir: Path, prefix: String,
                    suffix: String): Option[(Long, Array[Byte])] = {
    val ids = listNames(fs, dir).flatMap(versionOf(_, prefix, suffix))
    if (ids.isEmpty) None
    else {
      val id = ids.max
      Some((id, readBytes(fs, new Path(dir, s"$prefix-$id$suffix"))))
    }
  }
}
