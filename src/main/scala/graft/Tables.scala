package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.ParquetRelations

/** Loaders for the driver-provided parquet tables (TESTDATA.md) plus the
  * canonical mapping from the `events` table to the reference's
  * stock-transaction stream shape.
  *
  * The reference consumes `StockTransaction` records from Kafka topic `input`
  * (`streams/KafkaStreamsService.java:78-82`). The driver's test substrate has
  * no stock table, so we derive a deterministic transaction stream from
  * `events` — the mapping is pure SQL so the DuckDB oracle can reproduce it
  * exactly (see [[Tables.txnsCte]]).
  */
object Tables {

  /** The driver table `<dir>/<name>.parquet`, through the per-session
    * relation memo ([[graft.state.ParquetRelations.read]]): its files are
    * listed and its schema inferred once per session and file listing. Each
    * call re-fingerprints the path (sorted relative file, length and mtime,
    * plus the schema-inference settings such as `nanosAsLong`; no data is
    * read) and gets a fresh relation, so a table rewritten under the same
    * path returns its new rows.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetRelations.read(spark, s"$dir/$name.parquet")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some driver
    * substrates (Spark's reader rejects that type outright unless read as a
    * long via `nanosAsLong`) and as TIMESTAMP(MICROS, no tz) in others
    * (which Spark reads as TIMESTAMP_NTZ). Normalize BOTH to the same
    * session-UTC instant column so every downstream query is
    * encoding-agnostic:
    *   - nanos-as-long → `timestamp_micros(ts div 1000)` (exact epoch math);
    *   - anything timestamp-shaped → cast to TIMESTAMP (the session zone is
    *     UTC in every builder this repo owns, so the NTZ reinterpretation is
    *     the identity DuckDB's `epoch_us` applies).
    *
    * The `nanosAsLong` conf is set here (not only in the repo's own session
    * builders) because the driver's smoke check calls [[SparkEntry.entry]]
    * with a session we did not build; the flag only affects TIMESTAMP(NANOS)
    * columns, which exist nowhere else in the test substrate.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(CAST(ts AS BIGINT) div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", ts)
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")

  /** Canonical `events` → transaction-stream mapping:
    *   symbol        = 'U' || lpad(user_id, 6, '0')   (string key; lexicographic
    *                   range scans over it match the reference's byte-lex key
    *                   order for ASCII keys, SURVEY §1.3)
    *   buy           = event_id % 2 = 0
    *   amount        = value
    *   number_shares = event_id % 1000 + 1
    *
    * All derivations are integer/string ops — deterministic and identically
    * computable by DuckDB.
    */
  def transactions(spark: SparkSession, dir: String): DataFrame =
    transactionsWithTs(spark, dir).drop("ts")

  /** [[transactions]] with the event timestamp retained, for windowed and
    * streaming queries. This is THE events→txn mapping; everything else
    * (batch txns, window CTEs) composes from it so the Scala and SQL sides
    * cannot drift apart.
    */
  def transactionsWithTs(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("ts") +: txnCols: _*)

  /** The four txn-shape columns, single-sourced so the batch, windowed, and
    * streaming paths cannot drift apart.
    */
  private val txnCols: Seq[org.apache.spark.sql.Column] = Seq(
    concat(lit("U"), lpad(col("user_id").cast("string"), 6, "0")).as("symbol"),
    (col("event_id") % 2 === 0).as("buy"),
    col("value").as("amount"),
    (col("event_id") % 1000 + 1).cast("int").as("number_shares")
  )

  /** DuckDB-SQL twin of `txnCols`, one select item per column, in the same
    * order — every SQL twin below composes from it.
    */
  private val txnColsSql: Seq[String] = Seq(
    "concat('U', lpad(CAST(user_id AS VARCHAR), 6, '0')) AS symbol",
    "event_id % 2 = 0 AS buy",
    "value AS amount",
    "CAST(event_id % 1000 + 1 AS INT) AS number_shares")

  /** The `symbol` select item of the SQL twin, for oracles that need only
    * the key.
    */
  val txnSymbolSql: String = txnColsSql.head

  /** `SELECT <items> FROM events` — a CTE body over the events table. */
  private def fromEvents(items: Seq[String]): String =
    items.mkString("SELECT ", ",\n       ", "\nFROM events")

  /** Txns with the unique event id retained — the deterministic per-key
    * arrival order used by the per-record changelog (the reference's
    * cache=0 emission, one update per input record).
    */
  def transactionsWithId(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("event_id") +: txnCols: _*)

  /** Txns with BOTH the unique event id and the event timestamp — the fact
    * side of the temporal joins (as-of, range).
    */
  def transactionsWithIdTs(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("event_id") +: col("ts") +: txnCols: _*)

  /** DuckDB-SQL twin of [[transactionsWithIdTs]], as a CTE body. */
  val txnsIdTsCte: String = fromEvents("event_id" +: "ts" +: txnColsSql)

  /** DuckDB-SQL twin of [[transactionsWithId]], as a CTE body. */
  val txnsIdCte: String = fromEvents("event_id" +: txnColsSql)

  /** Txn stream with a deterministic chunk id (`event_id % nChunks`) used by
    * the streaming twin to stage the events into N replay files — each chunk
    * becomes exactly one micro-batch, so per-key update counts are
    * oracle-checkable (see [[txnsChunkCte]]).
    */
  def transactionsChunked(spark: SparkSession, dir: String, nChunks: Int): DataFrame =
    events(spark, dir).select(txnCols :+ (col("event_id") % nChunks).cast("int").as("chunk"): _*)

  /** [[transactionsChunked]] with the event timestamp retained — the
    * OUT-OF-ORDER (round-robin) replay for event-time queries: every chunk
    * spans the full time range, so most rows in batches 2+ arrive behind the
    * watermark. Used to prove late-data dropping.
    */
  def transactionsChunkedTs(spark: SparkSession, dir: String, nChunks: Int): DataFrame =
    events(spark, dir).select(
      col("ts") +: txnCols :+ (col("event_id") % nChunks).cast("int").as("chunk"): _*)

  /** DuckDB-SQL twin of [[transactionsChunked]], as a CTE body. */
  def txnsChunkCte(nChunks: Int): String =
    fromEvents(txnColsSql :+ s"CAST(event_id % $nChunks AS INT) AS chunk")

  /** DuckDB-SQL twin of [[transactionsTimeChunked]] (symbol + event-time
    * millis only), as a CTE body. Ordering replicates Spark's view of `ts`
    * exactly: Spark reads the TIMESTAMP(NANOS) column truncated to
    * MICROseconds, so the twin orders by (`epoch_ns(ts)//1000`, event_id) —
    * ordering raw nanos would tie-break same-microsecond events differently.
    * The `ms` column is the engine's MILLISECOND event-time view (floor),
    * which is the unit all watermark arithmetic runs in.
    */
  def txnsTimeChunkMsCte(nChunks: Int): String =
    fromEvents(Seq(txnSymbolSql, "epoch_ns(ts) // 1000000 AS ms",
      s"ntile($nChunks) OVER (ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS chunk"))

  /** Appends an ordered `chunk` column — the value `ntile(nChunks) OVER
    * (ORDER BY order…) − 1` would produce — WITHOUT the single-partition
    * window that literal form plans (Spark warns "moving all data to a
    * single partition"; at any real scale staging would die before the
    * stream starts). Three partition-parallel steps instead:
    *
    *  1. `repartitionByRange` on the ordering key, so partition i's keys all
    *     precede partition i+1's (the keys are unique — (ts, event_id) or a
    *     row id — so no tie can straddle a boundary);
    *  2. a per-partition `row_number` window (partitioned by the range
    *     partition id — parallel, never global);
    *  3. per-partition row counts (one bounded ≤#partitions-row collect) →
    *     cumulative offsets, so global rank = offset(pid) + local rank, and
    *     the chunk id is ntile's exact bucket arithmetic over (rank, N):
    *     the first N mod n buckets take ⌈N/n⌉ rows, the rest ⌊N/n⌋.
    *
    * Used only at replay STAGING time (the oracles replay the same ntile in
    * SQL); the streaming query path never sees it.
    */
  def withOrderedChunks(df: DataFrame, nChunks: Int, order: Seq[Column],
      name: String = "chunk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // PIN one materialization of the range shuffle before anything reads the
    // partition ids: RangePartitioner's sample seed involves the RDD id, so
    // re-executing the shuffle in a second job (the counts collect below vs
    // the caller's write) can draw DIFFERENT bounds — offsets from one
    // layout applied to ranks from another silently corrupts the chunks
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val ranked = ranged.withColumn("__lr",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(order: _*)))
    val counts = ranked.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets = counts.scanLeft(0L)(_ + _._2).init
    val offsetOf = map(counts.map(_._1).zip(offsets).flatMap {
      case (pid, off) => Seq(lit(pid), lit(off))
    }.toIndexedSeq: _*)
    // ntile bucket arithmetic over the 1-based global rank
    val size = total / nChunks
    val rem = total % nChunks
    val cut = rem * (size + 1)
    // ranks are ≤ corpus row count ≪ 2^53, so floor(double division) is
    // exact integer division here
    val gr = element_at(offsetOf, col("__pid")) + col("__lr")
    val chunk = when(gr <= cut, floor((gr - 1) / lit(size + 1)))
      .otherwise(lit(rem) + floor((gr - cut - 1) / lit(math.max(1L, size))))
    ranked
      .withColumn(name, chunk.cast("int"))
      .drop("__pid", "__lr")
  }

  /** Txns with `event_id` retained and an ID-ORDERED chunk (ntile semantics
    * over event_id): chunk i+1's smallest id is greater than chunk i's
    * largest, so a replay staged from these chunks delivers every key's
    * records across micro-batches in event_id order — the property the
    * per-record streaming changelog needs to apply running totals in arrival
    * order (within a batch it sorts the handful of per-key rows itself).
    * Chunk assignment runs once at staging time via [[withOrderedChunks]] —
    * range-partitioned, never a single-partition sort.
    */
  def transactionsIdChunked(spark: SparkSession, dir: String, nChunks: Int): DataFrame =
    withOrderedChunks(
      events(spark, dir).select(col("event_id") +: txnCols: _*),
      nChunks, Seq(col("event_id")))

  /** Txn stream with ts retained and a TIME-ORDERED chunk id (ntile
    * semantics over event time, ties broken by event_id): chunk i+1's
    * minimum ts is >= chunk i's maximum, so a replay staged from these
    * chunks is watermark-lossless — late data within a micro-batch never
    * crosses a batch boundary backwards. Used by the watermarked streaming
    * windowed aggregation. Chunk assignment runs once at staging time via
    * [[withOrderedChunks]] — range-partitioned, never a single-partition
    * sort.
    */
  def transactionsTimeChunked(spark: SparkSession, dir: String, nChunks: Int): DataFrame =
    withOrderedChunks(
      events(spark, dir).select(col("ts") +: col("event_id") +: txnCols: _*),
      nChunks, Seq(col("ts"), col("event_id"))).drop("event_id")

  /** The DuckDB-SQL twin of [[transactionsWithTs]], as a CTE body. */
  val txnsTsCte: String = fromEvents("ts" +: txnColsSql)

  /** The DuckDB-SQL twin of [[transactions]] — composed from [[txnsTsCte]].
    * Oracle queries use it via `WITH txns AS (<txnsCte>) SELECT ...`.
    */
  val txnsCte: String =
    s"SELECT symbol, buy, amount, number_shares FROM ($txnsTsCte)"
}
