package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Hands out an already-analyzed relation again. `Dataset.ofRows` and the
  * plan's analyzed mark are `private[sql]`; a library that memoizes resolved
  * relations (`graft.state.ParquetRelations`) needs both, so this object
  * lives under the `org.apache.spark.sql` package, like [[ColumnBridge]].
  */
object RelationBridge {

  /** A DataFrame over a copy of `relation` with fresh attribute ids — what
    * a new read of the same files gives — marked analyzed, because the
    * analyzer has nothing left to resolve in it.
    */
  def freshCopy(spark: SparkSession, relation: LogicalRelation): DataFrame = {
    val copy = relation.newInstance()
    copy.setAnalyzed()
    Dataset.ofRows(ClassicConversions.castToImpl(spark), copy)
  }
}
