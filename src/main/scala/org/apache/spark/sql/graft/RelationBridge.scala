package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{ClassicConversions, Dataset}

/** Hands out an already-analyzed relation again. `Dataset.ofRows`, the
  * plan's analyzed mark, a Dataset's plan and the session's typed conf are
  * `private[sql]` or classic-only; a library that memoizes resolved
  * relations (`graft.state.ParquetRelations`, `graft.state.MaterializedState`)
  * and answers queries on them (`graft.operators.InteractiveQueries`) needs
  * them, so this object lives under the `org.apache.spark.sql` package, like
  * [[ColumnBridge]].
  */
object RelationBridge {

  /** A DataFrame over a copy of `relation` with fresh attribute ids — what
    * a new read of the same files (or a new `LocalRelation` of the same
    * rows) gives — marked analyzed, because the analyzer has nothing left to
    * resolve in it.
    */
  def freshCopy(spark: SparkSession, relation: LogicalPlan with MultiInstanceRelation): DataFrame =
    ofAnalyzed(spark, relation.newInstance())

  /** A DataFrame over `plan` as it is, its attribute ids kept, marked
    * analyzed: `plan` must need no resolution (a relation over resolved
    * attributes).
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)
  }

  /** The plan `df` was built over, as given to it: reading it runs no
    * analysis.
    */
  def logicalOf(df: DataFrame): LogicalPlan = ClassicConversions.castToImpl(df).queryExecution.logical

  /** Whether `df` is small enough for Spark to broadcast it: the rule
    * `JoinSelection` applies, its size estimate at least 0 and at most the
    * session's `spark.sql.autoBroadcastJoinThreshold`.
    */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val ds = ClassicConversions.castToImpl(df)
    val size = ds.queryExecution.analyzed.stats.sizeInBytes
    size >= 0 && size <= ds.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
  }

  /** `df`'s rows, collected by one Spark job, as a driver-resident relation
    * over `df`'s own attributes.
    */
  def collectLocal(df: DataFrame): LocalRelation =
    LocalRelation.fromExternalRows(ClassicConversions.castToImpl(df).queryExecution.analyzed.output,
      df.collect().toSeq)
}
