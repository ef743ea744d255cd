package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
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
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.getRawTempView(name)

  /** Block until every event posted so far has reached every listener.
    * The listener bus is asynchronous, so a job can return before its
    * task-end events arrive; a reading taken after this call is complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
