package graft

import graft.streaming.StateFs
import org.apache.hadoop.fs.Path

/** Crash-window contracts of the shared streaming-state plumbing: every
  * guarantee the streaming state leans on, pinned at the StateFs level so a
  * refactor that weakens one fails here with the mechanism named.
  */
class StateFsSpec extends SparkSpec {

  private def freshDir(tag: String): Path =
    new Path(java.nio.file.Files.createTempDirectory(tag).toString)

  private val fs = new Path(System.getProperty("java.io.tmpdir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("versioned state: roundtrip, newest wins, commit sweeps retired versions") {
    val dir = freshDir("statefs-v")
    assert(StateFs.readVersioned(fs, dir, "st", ".bin").isEmpty)
    StateFs.writeVersioned(fs, dir, "st", ".bin", 0L, Array[Byte](1, 2, 3))
    assert(StateFs.readVersioned(fs, dir, "st", ".bin")
      .map { case (id, b) => (id, b.toSeq) }.contains((0L, Seq[Byte](1, 2, 3))))
    // a crash between commit and sweep leaves TWO committed versions:
    // simulate by planting an older one next to a newer commit
    StateFs.writeVersioned(fs, dir, "st", ".bin", 5L, Array[Byte](9))
    val planted = new Path(dir, "st-3.bin")
    val out = fs.create(planted, true); out.write(Array[Byte](7)); out.close()
    assert(StateFs.readVersioned(fs, dir, "st", ".bin")
      .map { case (id, b) => (id, b.toSeq) }.contains((5L, Seq[Byte](9))),
      "the highest committed version must win over a crash leftover")
    // the next commit sweeps every retired version
    StateFs.writeVersioned(fs, dir, "st", ".bin", 6L, Array[Byte](8))
    val names = StateFs.listNames(fs, dir).filter(_.startsWith("st-"))
    assert(names == Seq("st-6.bin"), s"retired versions must sweep: $names")
  }

  test("versioned state: a same-id re-commit keeps the committed copy (r13 review)") {
    val dir = freshDir("statefs-replay")
    StateFs.writeVersioned(fs, dir, "st", ".bin", 3L, Array[Byte](1, 2))
    // a replay re-commits the same id (identical content by contract;
    // different bytes here to make the keep observable). The previous
    // delete-then-rename form had a crash window in which NO version
    // existed — the sweep had already retired the older ones — so a
    // crash there read the whole state as EMPTY.
    StateFs.writeVersioned(fs, dir, "st", ".bin", 3L, Array[Byte](9, 9))
    assert(StateFs.readVersioned(fs, dir, "st", ".bin")
      .map { case (id, b) => (id, b.toSeq) }.contains((3L, Seq[Byte](1, 2))),
      "the committed version must never be deleted for a same-id re-commit")
    assert(!fs.exists(new Path(dir, ".st-3.bin.tmp")),
      "the staging file is dropped")
    assert(fs.exists(new Path(dir, "st-3.bin")), "the committed file stays")
  }

  test("versioned state: a stranded staging file is invisible to readers") {
    val dir = freshDir("statefs-tmp")
    StateFs.writeVersioned(fs, dir, "st", ".bin", 1L, Array[Byte](4))
    // simulate a crash mid-write of version 2: only the hidden staging
    // name exists
    val tmp = new Path(dir, ".st-2.bin.tmp")
    val out = fs.create(tmp, true); out.write(Array[Byte](0)); out.close()
    assert(StateFs.readVersioned(fs, dir, "st", ".bin").map(_._1).contains(1L),
      "a torn staging write must never be read as committed")
    // and the interrupted commit can be retried over it
    StateFs.writeVersioned(fs, dir, "st", ".bin", 2L, Array[Byte](5))
    assert(StateFs.readVersioned(fs, dir, "st", ".bin").map(_._1).contains(2L))
  }

  test("versioned state: non-matching and unparsable names are ignored") {
    val dir = freshDir("statefs-noise")
    StateFs.writeVersioned(fs, dir, "st", ".bin", 2L, Array[Byte](1))
    for (noise <- Seq("other-9.bin", "st-9.txt", "st-x.bin", "st-.bin"))
      fs.create(new Path(dir, noise), true).close()
    assert(StateFs.readVersioned(fs, dir, "st", ".bin").map(_._1).contains(2L))
  }

  test("renameInto refuses to clobber and names the pair") {
    val dir = freshDir("statefs-rn")
    val a = new Path(dir, "a"); val b = new Path(dir, "b")
    fs.create(a, true).close(); fs.create(b, true).close()
    val e = intercept[IllegalStateException] { StateFs.renameInto(fs, a, b) }
    assert(e.getMessage.contains("a") && e.getMessage.contains("b"))
  }

  test("readBytes reads to EOF") {
    val dir = freshDir("statefs-bytes")
    val p = new Path(dir, "s")
    val big = Array.tabulate[Byte](100000)(_.toByte) // larger than any single read() return
    val out = fs.create(p, true)
    try out.write(big) finally out.close()
    assert(StateFs.readBytes(fs, p).sameElements(big))
  }
}
