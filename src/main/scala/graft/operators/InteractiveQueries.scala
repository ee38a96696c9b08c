package graft.operators

import java.sql.Timestamp

import graft.functions.JsonPathPredicate
import graft.state.KeySortedRows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge

/** The reference's interactive-query surface (SURVEY §2.4) as pure
  * `DataFrame => DataFrame` functions over the materialized aggregate.
  *
  * A snapshot at or below Spark's broadcast threshold is served by
  * `MaterializedState.read` as a driver-resident `LocalRelation` whose rows
  * are sorted by `symbol` (`graft.state.KeySortedRows`). On that relation a
  * key, multi-key or range query binary-searches the rows, as the reference
  * walks its byte-ordered store from `lower` to `upper`
  * (`store/CustomQueryStore.java:68-97`), and answers with a `LocalRelation`
  * of only the matching rows over `agg`'s own attributes: no `Filter` for
  * Catalyst to analyze or optimize, no file, no Spark job. A filtered range
  * then filters only those rows. Recognising the relation is one match on
  * the plan `agg` was built over, with no analysis.
  *
  * Every other input (a stream, an aggregate, a `symbol` column of another
  * collation) gets the same queries as `Filter`s, and so does a larger
  * snapshot, a parquet scan. There predicate pushdown plus file skipping
  * subsume the reference's murmur2 key→partition routing
  * (`controller/StockController.java:364-375`) and its scatter-gather
  * across hosts (`:102-139`): a key, multi-key or range filter opens only
  * the files whose footer key interval can match
  * (`graft.state.SkippingFileIndex`), and the union of scan tasks IS the
  * gather. Other predicates read every file and skip row groups inside
  * them.
  */
object InteractiveQueries {

  /** `answer` of `agg`'s key-sorted rows as a relation over `agg`'s own
    * attributes, when `agg` is a driver-resident snapshot; `None` otherwise.
    */
  private def indexed(agg: DataFrame)(answer: KeySortedRows => KeySortedRows): Option[DataFrame] =
    RelationBridge.logicalOf(agg) match {
      case relation @ LocalRelation(_, rows: KeySortedRows, _, _) =>
        Some(RelationBridge.ofAnalyzed(agg.sparkSession, relation.copy(data = answer(rows))))
      case _ => None
    }

  /** Q1 — point lookup (`KeyQuery`), REST `GET /keyquery/{symbol}`
    * (`StockController.java:186-206`).
    */
  def keyQuery(agg: DataFrame, symbol: String): DataFrame =
    indexed(agg)(_.between(Some(symbol), Some(symbol)))
      .getOrElse(agg.filter(col("symbol") === lit(symbol)))

  /** Q2 — multi-point lookup (`MultiKeyQuery`, `query/MultiKeyQuery.java:9-51`).
    * `isin` stays a scan predicate (no shuffle); for very large key sets a
    * broadcast left-semi join is the scale path — see [[multiKeyQueryLarge]].
    */
  def multiKeyQuery(agg: DataFrame, symbols: Seq[String]): DataFrame =
    indexed(agg)(_.keys(symbols)).getOrElse(agg.filter(col("symbol").isin(symbols: _*)))

  /** Q2 at scale: the key set as a broadcast semi-join (used when the set is
    * too large to inline into an IN-list literal). A semi-join keeps each
    * `agg` row once however often its key repeats, so the keys need no
    * `distinct`.
    */
  def multiKeyQueryLarge(agg: DataFrame, keys: DataFrame): DataFrame =
    agg.join(broadcast(keys.select(col("symbol"))), Seq("symbol"), "left_semi")

  /** Q3 — key-range scan (`RangeQuery`) with the reference's 4 bound modes
    * (no bounds / lower / upper / both — `query/QueryUtils.java:15-29`).
    * String `>=`/`<=` on UTF8 matches the store's byte-lexicographic key
    * order (SURVEY §1.3). With no bound it is `agg` itself, null keys
    * included.
    */
  def rangeQuery(agg: DataFrame, lower: Option[String], upper: Option[String]): DataFrame =
    if (lower.isEmpty && upper.isEmpty) agg
    else indexed(agg)(_.between(lower, upper)).getOrElse {
      val lowered = lower.map(l => agg.filter(col("symbol") >= lit(l))).getOrElse(agg)
      upper.map(u => lowered.filter(col("symbol") <= lit(u))).getOrElse(lowered)
    }

  /** Q4 — range + JSONPath value predicate (`FilteredRangeQuery`,
    * `query/FilteredRangeQuery.java:8-70`; executed filter-after-materialize at
    * `store/CustomQueryStore.java:68-97`). On a driver-resident snapshot the
    * predicate filters only the range's rows; on a scan both predicates
    * collapse into one scan filter — strictly better than the reference's
    * post-scan filter.
    */
  def filteredRangeQuery(
      agg: DataFrame,
      lower: Option[String],
      upper: Option[String],
      predicate: String
  ): DataFrame =
    rangeQuery(agg, lower, upper).filter(JsonPathPredicate.compile(predicate))

  /** Q5 — time-bounded windowed range + predicate
    * (`FilteredWindowRangeQuery.java:11-74`, declared but never wired in the
    * reference; implemented here over the tumbling-window aggregate).
    */
  def filteredWindowRangeQuery(
      windowedAgg: DataFrame,
      from: Option[Timestamp],
      to: Option[Timestamp],
      predicate: Option[String]
  ): DataFrame = {
    val f = from.map(t => windowedAgg.filter(col("window_start") >= lit(t))).getOrElse(windowedAgg)
    val g = to.map(t => f.filter(col("window_start") < lit(t))).getOrElse(f)
    predicate.map(p => g.filter(JsonPathPredicate.compile(p))).getOrElse(g)
  }
}
