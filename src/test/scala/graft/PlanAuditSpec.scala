package graft

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Sort}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-quality gate over EVERY scored query: the physical plans must keep
  * the shapes that survive a 100 TB scale-up. Complements `tools/PlanDump`
  * (interactive audit) by failing the build on regressions.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val plans: Map[String, String] = SparkEntry.queries.map {
    case (name, fn) =>
      name -> fn(spark, "/root/testdata/sf0.001")
        .queryExecution.explainString(FormattedMode)
  }

  test("no scored plan collects a limit on the driver") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CollectLimit") => n
    }
    assert(offenders.isEmpty, s"driver-side limit in: $offenders")
  }

  test("no scored plan contains a non-broadcast cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian product in: $offenders")
  }

  test("no scored plan carries a global sort that no limit bounds") {
    // A global Sort is a full range exchange of its input; at 100 TB it is
    // only acceptable when a limit immediately bounds it (top-k becomes
    // TakeOrderedAndProject). Window/partial sorts (global=false) and
    // GlobalLimit(LocalLimit(Sort)) chains are fine; anything else is a
    // gratuitous cluster-wide sort in the hot path.
    // underLimit survives LocalLimit and Project: the planner compiles
    // Limit(Project(Sort)) and Limit(Sort) alike to TakeOrderedAndProject.
    def unbounded(p: LogicalPlan, underLimit: Boolean): Seq[Sort] = p match {
      case l: GlobalLimit => l.children.flatMap(unbounded(_, underLimit = true))
      case l: LocalLimit  => l.children.flatMap(unbounded(_, underLimit))
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        pr.children.flatMap(unbounded(_, underLimit))
      case s: Sort if s.global && !underLimit =>
        s +: s.children.flatMap(unbounded(_, underLimit = false))
      case other => other.children.flatMap(unbounded(_, underLimit = false))
    }
    val offenders = SparkEntry.queries.collect {
      case (name, fn)
        if unbounded(
          fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan,
          underLimit = false).nonEmpty => name
    }
    assert(offenders.isEmpty, s"unbounded global sort in: $offenders")
  }

  test("every scored plan reads parquet with a pruned schema, never SELECT *") {
    // every scan must carry an explicit ReadSchema (vectorized parquet
    // batch scan); presence alone is asserted — pruning specifics are
    // query-dependent and audited via tools/PlanDump. Iterative operators
    // whose final job reads its own localCheckpoint (ExistingRDD) and
    // bounded-result operators whose final table is built on the driver
    // after distributed jobs (Dedup.clusters' gated union-find →
    // LocalTableScan) are exempt — their parquet reads happened in
    // earlier jobs.
    val offenders = plans.collect {
      case (n, p) if !p.contains("ReadSchema") && !p.contains("ExistingRDD") &&
        !p.contains("LocalTableScan") => n
    }
    assert(offenders.isEmpty, s"no parquet ReadSchema in: $offenders")
  }
}
