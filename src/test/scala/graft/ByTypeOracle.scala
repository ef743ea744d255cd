package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The rows a warehouse table shows for a change feed, written out plainly
  * (a group-by and two joins, no window) as the oracle of the specs that
  * check the monitor's views: per `(id, docType)` the latest live change,
  * unless a tombstone of that id carries a higher seq; `_design/` docs
  * dropped. The docType, `docType` of each live doc, is the column `t`.
  */
object ByTypeOracle {

  def live(changes: DataFrame, docType: Column): DataFrame = {
    val docs = changes.where(!col("id").startsWith("_design"))
    val tombs = docs.where(col("deleted")).groupBy("id").agg(max("seqNum").as("_tomb"))
    val typed = docs.where(!col("deleted")).withColumn("t", docType)
    val latest = typed.groupBy("id", "t").agg(max("seqNum").as("seqNum"))
    typed.join(latest, Seq("id", "t", "seqNum")).dropDuplicates("id", "t")
      .join(tombs, Seq("id"), "left").where(col("_tomb").isNull || col("seqNum") > col("_tomb"))
      .drop("_tomb")
  }
}
