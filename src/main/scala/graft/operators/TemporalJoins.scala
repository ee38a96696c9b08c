package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark has no built-in form for — as-of
  * (point-in-time) join and interval range join — expressed Spark-first as
  * compositions the optimizer handles well, instead of the nested-loop plans
  * a naive translation would produce.
  *
  * As-of join: the classic "enrich each fact with the latest dimension row
  * published at or before its timestamp". A join with a `<=` predicate plans
  * as a per-key cross product; the scalable form is the MERGE shape — union
  * both sides, one shuffle keyed by the join key, sort by time within
  * partitions, and carry the last-seen dimension payload forward with a
  * running `last(..., ignoreNulls)` window. One shuffle + one sort,
  * regardless of how many facts share a key — the same shape databases use
  * for ASOF JOIN, and exactly what DuckDB's native ASOF JOIN oracle checks.
  *
  * Range join: "facts inside any interval" with NO equi key would plan as a
  * BroadcastNestedLoopJoin. The bucketed form manufactures an equi key:
  * intervals explode into the fixed-width time buckets they cover, facts map
  * to their single bucket, and the join becomes equi-join-on-bucket + a
  * residual range filter — candidate pairs are only the per-bucket ones, the
  * plan is a plain hash join, and bucket width trades fan-out against
  * candidate precision.
  */
object TemporalJoins {

  /** As-of join `facts` (key, factTs, ...) with `dims` (key, dimTs, payload...):
    * each fact row gets the payload of the LATEST dim row with
    * `dimTs <= factTs` for its key, or nulls if none (left semantics).
    * Payload column names must not collide with fact column names.
    *
    * Determinism: if several dim rows share (key, dimTs), the one carried
    * forward is the last under the window's stable sort — callers wanting a
    * total order should dedup dims per (key, dimTs) first (the registered
    * query's dims are unique per (key, ts) by construction).
    */
  def asOfJoin(
      facts: DataFrame, dims: DataFrame,
      key: String, factTs: String, dimTs: String): DataFrame = {
    val payloadCols = dims.columns.filterNot(c => c == key || c == dimTs).toSeq
    val factCols = facts.columns.toSeq
    require(payloadCols.nonEmpty, "asOfJoin: dims carries no payload columns")
    require(payloadCols.intersect(factCols).isEmpty,
      s"asOfJoin: payload/fact column collision: ${payloadCols.intersect(factCols)}")
    val reserved = Seq("__k", "__t", "__d", "__f", "__p", "__asof")
    val clash = (factCols ++ dims.columns).distinct.filter(reserved.contains)
    require(clash.isEmpty,
      s"asOfJoin: input columns collide with reserved internal names: $clash")

    val factStruct = facts.select(struct(factCols.map(col): _*).as("s")).schema("s").dataType
    val payloadStruct = dims.select(struct(payloadCols.map(col): _*).as("s")).schema("s").dataType

    val fSide = facts.select(
      col(key).as("__k"), col(factTs).as("__t"), lit(0).as("__d"),
      struct(factCols.map(col): _*).as("__f"),
      lit(null).cast(payloadStruct).as("__p"))
    val dSide = dims.select(
      col(key).as("__k"), col(dimTs).as("__t"), lit(1).as("__d"),
      lit(null).cast(factStruct).as("__f"),
      struct(payloadCols.map(col): _*).as("__p"))

    // dims sort BEFORE facts at equal time (__d desc) so dimTs == factTs counts
    // as "at or before"; running last(payload) implements the carry-forward
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fSide.unionByName(dSide)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__d") === 0)
      .select(factCols.map(c => col(s"__f.$c").as(c)) ++
        payloadCols.map(c => col(s"__asof.$c").as(c)): _*)
  }

  /** Bucketed interval range join: `facts` (with `factTs`, epoch seconds) ×
    * `intervals` (with `startCol`/`endCol`, epoch seconds, end exclusive) →
    * all (fact, interval) pairs with `start <= ts < end`, WITHOUT an equi key
    * and WITHOUT a nested-loop plan. Intervals explode into the
    * `bucketWidth`-second buckets they overlap; a fact lives in exactly one
    * bucket, so each qualifying pair is produced exactly once (no dedup
    * needed) and the join is a plain equi join on the bucket id.
    *
    * Pick `bucketWidth` near the typical interval length: much smaller
    * multiplies interval fan-out, much larger multiplies per-bucket false
    * candidates.
    */
  def rangeJoin(
      facts: DataFrame, intervals: DataFrame,
      factTs: String, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"rangeJoin: bucketWidth must be positive, got $bucketWidth")
    require(!(facts.columns ++ intervals.columns).contains("__b"),
      "rangeJoin: input columns collide with the reserved bucket column __b")
    val bucketed = intervals
      // [start, end) with end <= start is empty — it matches nothing by
      // definition, and Spark's sequence(a, b) would otherwise step DOWN for
      // b < a and explode a huge descending bucket array per degenerate row
      .filter(col(endCol) > col(startCol))
      .withColumn("__b",
        explode(sequence(
          floor(col(startCol) / bucketWidth),
          // end is exclusive: an interval ending exactly on a bucket boundary
          // does not reach into that bucket
          floor((col(endCol) - 1) / bucketWidth))))
    facts
      .withColumn("__b", floor(col(factTs) / bucketWidth))
      .join(bucketed, Seq("__b"))
      .filter(col(factTs) >= col(startCol) && col(factTs) < col(endCol))
      .drop("__b")
  }
}
