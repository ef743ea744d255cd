package graft

import graft.ops.Compact
import org.apache.spark.sql.functions._

class CompactSpec extends SparkSpec {
  import spark.implicits._

  def changes(rows: (String, Long, Boolean, String)*) =
    rows.toDF("id", "seqNum", "deleted", "doc")

  test("last writer wins per id; tombstones and design docs drop") {
    val out = Compact(changes(
      ("a", 1L, false, """{"v":1}"""),
      ("a", 5L, false, """{"v":2}"""),
      ("b", 2L, false, """{"v":3}"""),
      ("b", 6L, true, null),
      ("_design/x", 3L, false, """{}""")
    )).collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out == Map("a" -> """{"v":2}"""))
  }

  test("doc recreated after deletion survives (higher seq wins)") {
    val out = Compact(changes(
      ("x", 1L, false, """{"v":1}"""),
      ("x", 2L, true, null),
      ("x", 3L, false, """{"v":9}""")
    )).collect().map(r => (r.getString(0), r.getString(3)))
    assert(out.toSeq == Seq(("x", """{"v":9}""")))
  }
}
