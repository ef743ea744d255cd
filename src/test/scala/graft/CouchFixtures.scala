package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The CouchDB `_changes` fixtures under `src/test/resources/couch/`:
  * the person feed `samplechanges.txt` with its golden rows
  * `samplequery.json`, the typed feed `samplechanges2.txt` and the
  * schema-evolution feed `samplechanges3.txt`. Written by
  * `tools/make_couch_fixtures.py`; shapes and invariants in FIXTURES.md.
  */
object CouchFixtures {

  /** Filesystem path of `couch/<name>` on the test classpath. */
  def path(name: String): String = {
    val url = getClass.getResource(s"/couch/$name")
    require(url != null, s"couch/$name is not on the test classpath")
    java.nio.file.Paths.get(url.toURI).toString
  }

  /** The person feed's `results` array: the changes [[FakeHttp.FakeCouch]] serves. */
  def results: Seq[JsonNode] =
    new ObjectMapper().readTree(new java.io.File(path("samplechanges.txt")))
      .get("results").elements().asScala.toSeq

  /** A changes feed of `lines` (change objects, one a line) as production
    * reads one: written to a temp file, deleted when the JVM exits, and
    * read through the `couch-changes` source, with `selector` as its Mango
    * selector.
    */
  def feed(spark: SparkSession, lines: Seq[String], selector: Option[String] = None): DataFrame = {
    val file = Files.createTempFile(feedDir, "feed", ".json")
    file.toFile.deleteOnExit()
    Files.write(file, lines.asJava)
    spark.read.format("couch-changes").options(selector.map("selector" -> _).toMap)
      .load(file.toString)
  }

  private lazy val feedDir: Path = {
    val d = Files.createTempDirectory("feeds")
    d.toFile.deleteOnExit() // after its files: exit deletes in reverse order
    d
  }
}
