package graft

import graft.ops.Caching
import graft.tools.{Probe, ScaleProbe}

/** The measurement harness the tools share: the timer's reading, scoped
  * session conf, the state drop, and ScaleProbe's mode check. Data comes
  * from `spark.range`.
  */
class ProbeSpec extends SparkSpec {

  test("measure reports the fastest timed sample's max task, never the warm-up's") {
    val p = new Probe(spark)
    try {
      var calls = 0
      val (wall, maxTask) = p.measure(samples = 2) {
        calls += 1
        val ms = if (calls == 1) 800L else 200L
        spark.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(ms))
      }
      assert(calls == 3, "one warm-up and two samples")
      assert(maxTask >= 0.2 && maxTask < 0.6, s"maxTask=$maxTask")
      assert(wall >= 0.2 && wall < 0.8, s"wall=$wall")
      assert(p.stages.map(_._2.tasks).sum == 2, s"stages=${p.stages}")
    } finally p.close()
  }

  test("withConf restores a set key and unsets an unset key, also when the body throws") {
    val p = new Probe(spark)
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    try {
      val seen = p.withConf(set -> "7", unset -> "false") {
        (spark.conf.get(set), spark.conf.get(unset))
      }
      assert(seen == ("7", "false"))
      assert(spark.conf.get(set) == prior && !spark.conf.getAll.contains(unset))
      intercept[IllegalStateException] {
        p.withConf(set -> "9", unset -> "false")(throw new IllegalStateException("boom"))
      }
      assert(spark.conf.get(set) == prior && !spark.conf.getAll.contains(unset))
    } finally p.close()
  }

  test("Caching.releaseAll drops cache() buffers and localCheckpoint blocks") {
    val sc = spark.sparkContext
    val cached = spark.range(1000).selectExpr("id * 2 as v").cache()
    assert(cached.count() == 1000)
    val checkpointed = spark.range(1000).selectExpr("id + 1 as v").localCheckpoint()
    assert(checkpointed.count() == 1000)
    assert(sc.getPersistentRDDs.size >= 2 && sc.getRDDStorageInfo.nonEmpty)
    Caching.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
  }

  test("ScaleProbe rejects an unknown mode with the usage line") {
    val e = intercept[IllegalArgumentException](ScaleProbe.main(Array("markPin")))
    assert(e.getMessage.contains("unknown mode 'markPin'"), e.getMessage)
    assert(e.getMessage.contains(s"usage: ScaleProbe [${ScaleProbe.modes.mkString("|")}]"))
    assert(ScaleProbe.modes.contains("markpin") && ScaleProbe.modes.contains("prof"))
  }
}
