package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's single maintained aggregation (A1+A2): per-symbol running
  * buy/sell dollar totals and share count — the Aggregator in
  * `streams/KafkaStreamsService.java:62-74` wired at `:84-90`.
  *
  * Spark realization: one declarative hash aggregate. Catalyst plans
  * partial (map-side) + final phases automatically, so the shuffle moves one
  * row per (partition, symbol), not one per input record — the property that
  * keeps this shape viable at 100 TB.
  *
  * Dollar sums go through DECIMAL(18,2): the inputs are 2-dp decimals, so
  * decimal accumulation is exact and independent of partition/add order —
  * double accumulation would differ in the last ulp between runs and engines.
  * The final cast back to double is then deterministic (nearest double of an
  * exact decimal) and matches what any other engine computes the same way.
  */
object StockAggregation {

  /** Exact-decimal dollar sum (see scaladoc above); shared by the batch and
    * streaming aggregation shapes so they cannot drift.
    */
  private[graft] def decSum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** txns(symbol, buy, amount, number_shares) → agg(symbol, buys, sells, number_shares). */
  def aggregate(txns: DataFrame): DataFrame =
    txns
      .groupBy(col("symbol"))
      .agg(
        decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
        decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
        sum(col("number_shares")).as("number_shares")
      )

  /** DuckDB-SQL twin over a `txns` relation (compose after Tables.txnsCte). */
  val aggregateSelect: String =
    """SELECT symbol,
      |  CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS buys,
      |  CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sells,
      |  CAST(SUM(number_shares) AS BIGINT) AS number_shares
      |FROM txns
      |GROUP BY symbol""".stripMargin

  /** [[aggregate]] fused with a per-key `max(ts_ms)` in the SAME hash
    * aggregate — for callers that need the aggregate plus the latest-seen
    * timestamp per key (the `ValueAndTimestamp` parity query). One pass over
    * the input and one shuffle; the unfused form (aggregate ⋈ groupBy-max)
    * would evaluate the upstream pipeline twice and add a join exchange.
    */
  def aggregateWithMaxTs(txnsWithTsMs: DataFrame): DataFrame =
    txnsWithTsMs
      .groupBy(col("symbol"))
      .agg(
        decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
        decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
        sum(col("number_shares")).as("number_shares"),
        max(col("ts_ms")).as("max_ts_ms")
      )

  /** Per-record changelog (A2 with cache disabled): for EVERY input record,
    * the aggregate value immediately after applying it — exactly the records
    * the reference's `output` topic carries (`max.cache.config=0`,
    * `KafkaStreamsAppConfiguration.java:92`; emission per update
    * `KafkaStreamsService.java:89-93`). The micro-batch streaming twin
    * compresses this to one update per (key, batch); this operator recovers
    * the full per-record stream as a running window aggregation over the
    * deterministic per-key arrival order (`event_id`, unique).
    *
    * Plan shape: one shuffle on symbol + one sort by (symbol, event_id) —
    * running-total state is a single row per open key. Scale-safe: the sort
    * is within partitions after hash distribution, never global.
    *
    * Input must carry `event_id`; returns one row per input record.
    */
  def perRecordChangelog(txnsWithId: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("symbol")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def runSum(c: Column): Column = sum(c.cast("decimal(18,2)")).over(w).cast("double")
    txnsWithId.select(
      col("symbol"), col("event_id"),
      runSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
      runSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
      sum(col("number_shares")).over(w).as("number_shares"))
  }

  /** Typed-API twin of [[aggregate]] (SURVEY §7.2 step 6's optional
    * `Aggregator[IN,BUF,OUT]`): `Dataset[StockTransaction]` →
    * `groupByKey(_.symbol)` → a typed [[StockAggregator]] whose buffer holds
    * exact `BigDecimal` sums — the same 2-dp HALF_UP quantization as the
    * untyped plan's `cast(amount as decimal(18,2))`, so the results are
    * bit-identical (spec-asserted). Catalyst plans the same partial+final
    * hash aggregate; the typed path costs object (de)serialization at the
    * aggregation boundary, which is why the untyped form is the registered
    * hot path — this one is the type-safe surface for callers that want
    * compile-time checked inputs.
    */
  def aggregateTyped(txns: DataFrame): DataFrame = {
    val spark = txns.sparkSession
    import spark.implicits._
    val ds = txns.select(
      col("symbol"), col("buy"), col("amount"),
      col("number_shares").as("numberShares")).as[graft.model.StockTransaction]
    ds.groupByKey(_.symbol)
      .agg(StockAggregator.toColumn.name("agg"))
      .map { case (sym, (buys, sells, shares)) =>
        graft.model.StockTransactionAggregation(sym, buys, sells, shares)
      }
      .toDF("symbol", "buys", "sells", "number_shares")
  }

  /** Exact-decimal running-total buffer for [[StockAggregator]]. */
  final case class AggBuffer(buys: BigDecimal, sells: BigDecimal, shares: Long)

  /** The typed Aggregator mirroring the reference's
    * `streams/KafkaStreamsService.java:62-74` Aggregator semantics with
    * order-independent exact accumulation.
    */
  object StockAggregator
      extends org.apache.spark.sql.expressions.Aggregator[
        graft.model.StockTransaction, AggBuffer, (Double, Double, Long)] {
    import org.apache.spark.sql.{Encoder, Encoders}
    private def dec2(d: Double): BigDecimal =
      BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    override def zero: AggBuffer = AggBuffer(BigDecimal(0), BigDecimal(0), 0L)
    override def reduce(b: AggBuffer, t: graft.model.StockTransaction): AggBuffer =
      if (t.buy) b.copy(buys = b.buys + dec2(t.amount), shares = b.shares + t.numberShares)
      else b.copy(sells = b.sells + dec2(t.amount), shares = b.shares + t.numberShares)
    override def merge(a: AggBuffer, b: AggBuffer): AggBuffer =
      AggBuffer(a.buys + b.buys, a.sells + b.sells, a.shares + b.shares)
    override def finish(b: AggBuffer): (Double, Double, Long) =
      (b.buys.toDouble, b.sells.toDouble, b.shares)
    override def bufferEncoder: Encoder[AggBuffer] = Encoders.product[AggBuffer]
    override def outputEncoder: Encoder[(Double, Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble, Encoders.scalaLong)
  }

  /** Skew-safe two-stage variant of [[aggregate]]: pre-aggregate on
    * (symbol, salt) with a deterministic per-row salt, then combine per
    * symbol. When one key dominates the input (a hot ticker at 100 TB), the
    * single-stage plan sends that key's entire partial-row set to one
    * reducer; salting fans the heavy key across `saltBuckets` reducers and
    * the second (tiny) aggregate combines the bucket partials. Decimal
    * accumulation is associative/commutative, so the result is EXACTLY
    * [[aggregate]] — oracle-verified against the same SQL twin.
    *
    * The salt is `crc32(concat(amount, number_shares)) % saltBuckets` —
    * deterministic per row (no rand(): identical results on retry/replay),
    * spread by the value columns.
    */
  def aggregateSalted(txns: DataFrame, saltBuckets: Int = 16): DataFrame =
    txns
      .withColumn("salt",
        pmod(crc32(concat(col("amount").cast("string"),
          col("number_shares").cast("string"))), lit(saltBuckets)))
      .groupBy(col("symbol"), col("salt"))
      .agg(
        sum(when(col("buy"), col("amount")).otherwise(lit(0)).cast("decimal(18,2)")).as("b"),
        sum(when(!col("buy"), col("amount")).otherwise(lit(0)).cast("decimal(18,2)")).as("s"),
        sum(col("number_shares")).as("n"))
      .groupBy(col("symbol"))
      .agg(
        sum(col("b")).cast("double").as("buys"),
        sum(col("s")).cast("double").as("sells"),
        sum(col("n")).as("number_shares"))

  /** Event-time SESSION-window variant: per-symbol activity bursts separated
    * by more than `gap` of silence — `session_window(ts, gap)` groups rows
    * whose timestamps chain within the gap (an event at `t` extends a session
    * whose last event is at or after `t - gap` — the merge is INCLUSIVE at
    * exactly the gap, spec-pinned; window end = last event + gap). Same one-shuffle hash-aggregate shape as the tumbling window,
    * plus the per-key session merge Spark performs inside the aggregation.
    * In streaming the identical expression runs with a watermark bounding the
    * open-session state. Emitted bounds are epoch seconds for engine
    * portability (the oracle reproduces the sessionization as a
    * gaps-and-islands window query).
    */
  def aggregateSessions(txnsWithTs: DataFrame, gap: String = "30 minutes"): DataFrame =
    txnsWithTs
      .groupBy(session_window(col("ts"), gap), col("symbol"))
      .agg(
        count(lit(1)).as("n_events"),
        decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
        decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
        sum(col("number_shares")).as("number_shares"))
      .select(
        unix_timestamp(col("session_window.start")).as("session_start_s"),
        unix_timestamp(col("session_window.end")).as("session_end_s"),
        col("symbol"), col("n_events"), col("buys"), col("sells"), col("number_shares"))

  /** Event-time tumbling-window variant — realizes the reference's declared
    * but never-executed `FilteredWindowRangeQuery` intent (Q5,
    * `query/FilteredWindowRangeQuery.java:11-74`; dispatch gap
    * `store/CustomQueryStore.java:60-64`). Grouping by `window(ts, ...)` keeps
    * the same one-shuffle hash-aggregate shape; `window_start` is emitted as a
    * plain timestamp column so the result stays engine-portable.
    */
  def aggregateWindowed(txnsWithTs: DataFrame, windowDuration: String = "1 hour"): DataFrame =
    txnsWithTs
      .groupBy(window(col("ts"), windowDuration), col("symbol"))
      .agg(
        decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
        decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
        sum(col("number_shares")).as("number_shares")
      )
      .select(
        col("window.start").as("window_start"),
        col("symbol"), col("buys"), col("sells"), col("number_shares")
      )

  /** HOPPING (sliding) window variant — the Kafka Streams windowing mode the
    * tumbling form doesn't cover: overlapping windows of `windowDuration`
    * every `slide` (each event lands in duration/slide windows). Spark's
    * `window(ts, duration, slide)` expands the overlap inside the same
    * one-shuffle hash-aggregate plan — the expansion factor is
    * duration/slide, a constant chosen by the query, never data-dependent.
    */
  def aggregateHopping(
      txnsWithTs: DataFrame,
      windowDuration: String = "2 hours",
      slide: String = "1 hour"): DataFrame =
    txnsWithTs
      .groupBy(window(col("ts"), windowDuration, slide), col("symbol"))
      .agg(
        decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
        decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
        sum(col("number_shares")).as("number_shares")
      )
      .select(
        col("window.start").as("window_start"),
        col("symbol"), col("buys"), col("sells"), col("number_shares")
      )
}
