package graft

import graft.streaming.DriftMaintenance
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DriftMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val b1 = Seq(
    (1L, "alpha beta gamma delta", "wiki"),
    (2L, "spam click buy now", "web")
  ).toDF("doc_id", "text", "source")
  private val b2 = Seq(
    (3L, "alpha beta epsilon zeta", "wiki"),
    (4L, "alpha spam beta click", "web")
  ).toDF("doc_id", "text", "source")

  test("maintained drift equals the batch operator on the union; replays skip; resets fail") {
    val dir = Files.createTempDirectory("drift-maint").toString
    val dm = new DriftMaintenance(dir, buckets = 64)
    assert(dm.drift().isEmpty)

    dm.applyBatch(b1, 0L)
    dm.applyBatch(b2, 1L)

    // exact parity with the batch operator over everything ingested
    val batch = TrainingQueries.sourceDrift(b1.unionByName(b2), buckets = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dm.drift() == batch)

    // replay of an applied batch is a no-op (exactly-once)
    dm.applyBatch(b2, 1L)
    assert(dm.drift() == batch)

    // a batchId far behind the marker (reset checkpoint) fails loudly
    intercept[IllegalStateException] { dm.applyBatch(b1, -5L) }

    // state survives a new instance (restart)
    assert(new DriftMaintenance(dir, buckets = 64).drift() == batch)
  }

  test("rejects unpersistable source values") {
    val dir = Files.createTempDirectory("drift-maint-bad").toString
    val dm = new DriftMaintenance(dir, buckets = 16)
    val bad = Seq((1L, "x y", "tab\there")).toDF("doc_id", "text", "source")
    intercept[IllegalArgumentException] { dm.applyBatch(bad, 0L) }
  }

  test("null-source docs are outside monitoring, matching the batch twin") {
    val dir = Files.createTempDirectory("drift-maint-null").toString
    val dm = new DriftMaintenance(dir, buckets = 64)
    val withNull = b1.unionByName(
      Seq((9L, "orphan words here", null.asInstanceOf[String]))
        .toDF("doc_id", "text", "source"))
    dm.applyBatch(withNull, 0L) // must not NPE or wedge
    val batch = TrainingQueries.sourceDrift(withNull, buckets = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dm.drift() == batch)
    assert(!dm.drift().keySet.contains(null))
  }

  test("restarting with a different bucket count fails loudly") {
    val dir = Files.createTempDirectory("drift-maint-buckets").toString
    new DriftMaintenance(dir, buckets = 64).applyBatch(b1, 0L)
    val e = intercept[IllegalStateException] {
      new DriftMaintenance(dir, buckets = 32).drift()
    }
    assert(e.getMessage.contains("buckets"))
  }
}
