package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Driver-side state-file plumbing for [[StreamIngest]]: its versioned
  * manifest, the one small file every start parses, driven through the
  * Hadoop `FileSystem` API so the state lives WHEREVER the data lives —
  * as [[graft.sources.IndexFreshness]] does too.
  *
  * Atomicity boundary (documented once, here):
  *
  *   - '''HDFS and POSIX local paths''': `rename` onto an ABSENT
  *     destination is atomic (one NameNode metadata op / `rename(2)`),
  *     and every commit here stages its content under a hidden name and
  *     renames it onto a name that does not exist yet — so a crash at any
  *     instruction leaves either the old state or the new, never a torn
  *     one.
  *   - '''Object stores (S3A/GCS)''': `rename` is COPY+DELETE — not
  *     atomic, O(data), and a crash mid-rename can leave both halves.
  *     The portable commit there is a CONDITIONAL PUT of a new key (S3
  *     `If-None-Match` / GCS `ifGenerationMatch=0` — the primitive
  *     log-structured table formats build their commit protocols on),
  *     which [[StreamIngest.ManifestDir]] approximates: it commits by
  *     renaming ONE SMALL FILE onto a new, never-overwritten manifest name
  *     (a single-object copy-PUT) and renames no directory, so only the
  *     sweep of retired files loses atomicity there (stale data is
  *     re-swept, never resurrected).
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

  /** Rename `src` onto an absent `dst` — the atomic commit op on
    * rename-capable filesystems (see the object doc). The dst-absent
    * precondition is CHECKED, not assumed: HDFS `rename` returns false
    * on an existing destination, but the local filesystem delegates to
    * `File.renameTo`, which on Linux silently REPLACES an existing file
    * — a protocol bug (renaming onto live state) would clobber it
    * without a trace. Failure (either signal) throws with the pair
    * named.
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
