package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
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
}
