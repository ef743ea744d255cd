package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable,
  CatalogTableType, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Minimal bridge to `private[sql]` Column/Expression conversions — the
  * supported way for third-party libraries to lift a custom Catalyst
  * `Expression` into the public `Column` API on Spark 4 — and to the few
  * `private[spark]` hooks graft's measurement code needs.
  */
object GraftSqlBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** `df` over an in-memory columnar relation of its own that the session's
    * `CacheManager` never sees: the same `InMemoryRelation` `df.cache()`
    * builds, filled by the first job that reads it. Only the plans holding
    * this frame reach its blocks, so they are unpersisted by the
    * `ContextCleaner` once those plans are garbage.
    */
  def inMemory(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, InMemoryRelation(level, ds.queryExecution, None))
  }

  /** The session catalog's entry for the local temp view `name`, when one
    * is registered. Every (re)registration stores a new entry, so reference
    * equality with an entry seen earlier tells whether the view is still
    * the one registered then.
    */
  def tempView(spark: SparkSession, name: String): Option[AnyRef] =
    catalog(spark).getRawTempView(name)

  /** Register `plan`, already analyzed, as the local temp view `name`
    * (replacing any view of that name) and return its catalog entry
    * ([[tempView]]). The entry is what `createOrReplaceTempView` stores
    * for a Dataset, the analyzed plan itself, but the plan is neither
    * analyzed again nor registered by a command's SQL execution: it is
    * marked analyzed as it stands, so a plan whose relations were swapped
    * by a tree transform keeps its attribute ids and skips the analyzer.
    */
  def replaceTempView(spark: SparkSession, name: String, plan: LogicalPlan): AnyRef = {
    catalyst.GraftPlans.markAnalyzed(plan)
    val desc = CatalogTable(identifier = TableIdentifier(name),
      tableType = CatalogTableType.VIEW, storage = CatalogStorageFormat.empty,
      schema = plan.schema, properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true"))
    catalog(spark).createTempView(name, TemporaryViewRelation(desc, Some(plan)),
      overrideIfExists = true)
    catalog(spark).getRawTempView(name).get
  }

  private def catalog(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog

  /** Block until every event posted so far has reached every listener.
    * The listener bus is asynchronous, so a job can return before its
    * task-end events arrive; a reading taken after this call is complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package catalyst {
  /** The `private[catalyst]` half of [[GraftSqlBridge.replaceTempView]]. */
  private[sql] object GraftPlans {
    /** Flag every node of `plan` analyzed, as the analyzer does on exit. */
    def markAnalyzed(plan: plans.logical.LogicalPlan): Unit = plan.setAnalyzed()
  }
}
