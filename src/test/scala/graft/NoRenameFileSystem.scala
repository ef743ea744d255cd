package graft

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

/** The local filesystem under another scheme. Its listings return plain
  * statuses: RawLocalFileSystem's own load their permissions through a
  * `java.io.File` of the path's URI, which rejects any scheme but `file`,
  * so `listFiles` (which reads each status's permission) would fail.
  */
abstract class LocalFileSystemAs(scheme: String) extends RawLocalFileSystem {
  override def getScheme: String = scheme
  override def getUri: URI = URI.create(s"$scheme:///")
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
}

/** A local filesystem that REFUSES directory renames — the object-store
  * simulation ManifestProtocolSpec runs the ingest against. S3A/GCS
  * "rename" is copy+delete: not atomic, O(data), torn on a crash; a
  * commit protocol is object-store-safe exactly when it never needs
  * one. Small-FILE renames stay allowed (a single-object copy-PUT whose
  * destination appears atomically — the op `StateFs.writeVersioned`'s
  * manifest commit rides), and anything under Spark's own `_temporary`
  * task-commit tree is exempt: the task-output committer is the
  * deployment's pluggable choice (object stores pair a manifest layout
  * with a direct/"magic" committer), not the protocol under test here.
  */
class NoRenameFileSystem extends LocalFileSystemAs("norename") {

  override def rename(src: Path, dst: Path): Boolean = {
    val exempt = src.toString.contains("_temporary") ||
      dst.toString.contains("_temporary")
    val isDir =
      try getFileStatus(src).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (isDir && !exempt)
      throw new java.io.IOException(
        s"directory rename refused (object-store simulation): $src -> $dst")
    super.rename(src, dst)
  }
}

/** A local filesystem that, once armed, tears the next `create` of a file
  * directly under a `_state_v` directory — the state manifest's hidden
  * staging name (data files land in subdirectories): the file is created
  * (an overwrite truncates it) and the write then fails before a byte
  * lands — a crash in the middle of the commit's small-file write. Arming
  * is one-shot, so the restart after the simulated crash writes normally.
  */
class TornWriteFileSystem extends LocalFileSystemAs("tornwrite") {

  // the overload `FileSystem.create(path, overwrite)` reaches here
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.getParent.getName == "_state_v" && TornWriteFileSystem.armed.getAndSet(false)) {
      out.close()
      throw new java.io.IOException(s"torn write (crash simulation): $f")
    }
    out
  }
}

object TornWriteFileSystem {
  val armed = new AtomicBoolean(false)
}
