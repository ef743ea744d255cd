package graft

import org.apache.spark.sql.functions._

class CouchSourceSpec extends SparkSpec {

  val feed = CouchFixtures.path("samplechanges.txt")

  def read = spark.read.format("couch-changes").load(feed)

  test("reads the full changes feed with canonical schema") {
    assert(read.columns.toSeq == Seq("seq", "id", "rev", "deleted", "doc", "seqNum"))
    assert(read.count() == 100)
    assert(read.where(col("deleted")).count() == 1)
  }

  test("mango selector option filters inside the reader (A4)") {
    val filtered = spark.read.format("couch-changes")
      .option("selector", """{"age":{"$gt":50}}""")
      .load(feed)
    val n = filtered.where(!col("deleted")).count()
    assert(n > 0 && n < 100)
    // every surviving doc satisfies the predicate
    val ages = filtered.where(!col("deleted"))
      .select(get_json_object(col("doc"), "$.age").cast("double")).collect()
    assert(ages.forall(_.getDouble(0) > 50))
    // tombstones pass regardless
    assert(filtered.where(col("deleted")).count() == 1)
  }

  test("catalyst filters are pushed into the scan") {
    val df = read.where(col("seqNum") > 100)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("pushed=") && scan.contains("GreaterThan(seqNum,100)"), scan)
    assert(df.count() == 3)
  }

  test("column pruning reaches the reader") {
    val df = read.select("id", "seqNum")
    val scan = df.queryExecution.optimizedPlan.schema.fieldNames.toSeq
    assert(scan == Seq("id", "seqNum"))
    assert(df.count() == 100)
  }

  test("feeds the warehouse pipeline end-to-end") {
    val changes = read
    val w = new Warehouse(spark, WarehouseOptions(database = "dsv2db"))
    w.ingest(changes)
    assert(w.query("SELECT COUNT(*) x FROM dsv2db").collect()(0).getLong(0) == 99L)
  }

  test("directory of spool chunks = one partition per file") {
    val dir = java.nio.file.Files.createTempDirectory("chunks")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(feed)).asScalaList
    val changes = lines.filter(_.trim.startsWith("{\"seq\""))
    val (a, b) = changes.splitAt(changes.length / 2)
    java.nio.file.Files.write(dir.resolve("part1.txt"), String.join("\n", a: _*).getBytes)
    java.nio.file.Files.write(dir.resolve("part2.txt"), String.join("\n", b: _*).getBytes)
    val df = spark.read.format("couch-changes").load(dir.toString)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 100)
  }

  implicit class JavaListOps(l: java.util.List[String]) {
    def asScalaList: List[String] = {
      val b = List.newBuilder[String]
      l.forEach(x => b += x)
      b.result()
    }
  }
}
