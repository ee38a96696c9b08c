package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.StockAggregation
import graft.sources.{Serdes, Transport}
import graft.state.ParquetRelations
import graft.util.Fs

/** The streaming twin of the batch aggregation — the reference's core write
  * path (S1→A1/A2→S4/S5): Kafka source → groupByKey → continuously maintained
  * aggregate in a RocksDB state store → every update emitted to the changelog
  * topic (`streams/KafkaStreamsService.java:76-96`, cache=0 for per-update
  * emission at `config/KafkaStreamsAppConfiguration.java:92`).
  *
  * Spark realization (SURVEY §7.2 step 6):
  *   - source: file stream over the events table staged as `NumChunks` replay
  *     files (one file per trigger + `Trigger.AvailableNow` → exactly one
  *     deterministic micro-batch per chunk), standing in for topic `input`.
  *     Chunk membership is `event_id % NumChunks` so the oracle can recompute
  *     per-batch behavior in pure SQL.
  *   - aggregation: the SAME [[StockAggregation.aggregate]] plan, unchanged —
  *     Catalyst plans it as an incremental stateful aggregation
  *     (`StateStoreRestore/SaveExec`) with RocksDB state (the reference's
  *     store engine, `store/CustomQueryStores.java:14-16`).
  *   - sink: `outputMode("update")` + `foreachBatch` appending each batch's
  *     updated aggregates in the reference's changelog wire shape
  *     (key, proto-JSON value — [[Serdes.encodeAggregation]],
  *     `KafkaStreamsService.java:93`) plus the emitting batch id.
  *
  * Semantic difference vs the reference, pinned here once: Kafka Streams with
  * cache=0 emits one changelog record per INPUT record; a micro-batch engine
  * emits one record per (changed key, batch). Freshness is the trigger
  * interval (SURVEY §4). The per-key final value is identical.
  *
  * The queryable snapshot (S5) is the latest changelog value per key — the
  * exact contents of the reference's state store at end of stream. Interactive
  * query functions run UNCHANGED against it (see `SparkEntry`'s
  * `q_streaming_*` entries).
  *
  * Every other twin below (dedup, windows, sessions, joins, custom keyed
  * state) follows the same replay protocol, owned by one seam,
  * [[replayOnce]]. Each twin is one RUN with its own directory,
  * `target/streamstate/<sf>/<run>/` — the run name carries the twin's
  * sanitized parameters — laid out as:
  *   - `staging/`: the staged replay, one parquet file per chunk;
  *   - `checkpoint/`: the query's offsets, commits and RocksDB state;
  *   - `out/`: the sink (append parquet, or an idempotent per-batch
  *     changelog).
  * A run executes once per input listing (every input a twin reads lives
  * under `sfDir`, [[ParquetRelations.derived]]); later calls read its
  * `out/`, and an input rewritten under `sfDir` replays it again.
  *
  * Scale notes: the changelog is append-only partitioned writes (no shuffle on
  * the write path beyond the aggregation's own exchange); the snapshot compact
  * is one `max_by` hash-aggregate keyed by symbol — the same single-shuffle
  * shape as the aggregation itself, so the pattern holds when the changelog is
  * 1000 batches × 10^8 keys. On a real cluster the same code runs with a Kafka
  * source/sink by passing `Transport.SourceFormat.Kafka` /
  * `Transport.SinkFormat.Kafka` to the transport seam (see
  * [[graft.sources.Transport]]) — the pipeline between source decode and sink
  * encode is transport-agnostic.
  */
object StreamingState {

  val NumChunks = 4

  /** Staged txn schema (the wire schema after decode — ts not needed by the
    * unwindowed aggregate). Twins that replay the aggregation run's staging
    * instead of staging their own read it with this schema.
    */
  private val txnSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("buy", BooleanType),
    StructField("amount", DoubleType),
    StructField("number_shares", IntegerType)
  ))

  /** `target/streamstate/<sf>/<run>`, both names sanitized. */
  private def runDir(sfDir: String, run: String): Path =
    Paths.get("target", Seq("streamstate", sfDir, run)
      .map(_.replaceAll("[^A-Za-z0-9.]+", "_")): _*).toAbsolutePath

  /** A staged replay: `staging` holds one parquet file per chunk, read back
    * as one micro-batch per file, in chunk order.
    */
  private final case class Replay(spark: SparkSession, staging: Path, schema: StructType) {
    def source: DataFrame = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging.toString)
  }

  /** Stages `frame` under `<run>/staging` as one parquet file per chunk id
    * `0 until chunks` (its `chunk` column, dropped), so [[Replay.source]]
    * replays them as deterministic micro-batches in chunk order. The
    * replay's schema is the frame's minus `chunk`.
    */
  private def staged(frame: => DataFrame, chunks: Int = NumChunks): Path => Replay = dir => {
    val staging = Files.createDirectories(dir.resolve("staging"))
    // one write job runs per chunk below; without cutting lineage each job
    // re-executes the caller's chunk assignment (for the time-ordered
    // replays, a global sort) once per chunk
    val mat = frame.localCheckpoint(true)
    (0 until chunks).foreach { i =>
      val tmp = dir.resolve(s"_stage_$i")
      mat.filter(col("chunk") === i).drop("chunk")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Fs.firstWithSuffix(tmp, ".parquet")
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      Files.move(part, staging.resolve(f"chunk_$i%02d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      Fs.deleteRecursively(tmp)
    }
    Replay(mat.sparkSession, staging, StructType(mat.schema.filterNot(_.name == "chunk")))
  }

  /** How a twin's result stream reaches `<run>/out`. */
  private type Sink = (Dataset[_], String) => DataStreamWriter[_]

  private val appendParquet: Sink = (ds, out) =>
    ds.writeStream.outputMode("append").format("parquet").option("path", out)

  /** The S4 changelog: each batch's updated aggregates in wire shape. */
  private val changelogSink: Sink = (agg, out) =>
    Transport.changelogWriter(agg.toDF(), Transport.SinkFormat.FileChangelog(out))
      .outputMode("update")

  /** Each batch's updated aggregates as typed rows plus their batch id,
    * written idempotently ([[Transport.writeBatchIdempotent]]).
    */
  private val batchChangelog: Sink = (agg, out) =>
    agg.toDF().writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Transport.writeBatchIdempotent(
          batch.withColumn("batch_id", lit(batchId)), batchId, out)
      }

  /** Starts `pipeline` over `replay`, checkpointing to `<run>/checkpoint`. */
  private def start[T](
      dir: Path, replay: Replay, sink: Sink, pipeline: Replay => Dataset[T],
      trigger: Trigger): StreamingQuery = {
    // RocksDB state store — the reference's store engine. Scoped to this
    // session's streaming queries; harmless for batch plans.
    replay.spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    sink(pipeline(replay), dir.resolve("out").toString)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(trigger)
      .start()
  }

  /** The replay-once seam: on the first call for `run` per listing of the
    * files under `sfDir` ([[ParquetRelations.derived]]), wipe `<run>/`,
    * stage its input (`input`, given the run directory — usually
    * [[staged]]), run `pipeline` over the replay to completion with
    * `Trigger.AvailableNow` into `sink`, and return `<run>/out`. Later calls
    * return that `out` without starting a query; queries serve from it, as
    * the reference's IQ functions serve from the store rather than
    * re-consuming the topic.
    *
    * `run` carries the twin's parameters (sanitized here), so differently
    * parameterized runs never share a directory or a memo entry. A run that
    * replays another run's output ([[aggregateReplay]]) is keyed on the same
    * listing, so a rewritten input replays both.
    */
  private def replayOnce[T](
      spark: SparkSession, sfDir: String, run: String, input: Path => Replay,
      sink: Sink = appendParquet)(pipeline: Replay => Dataset[T]): String = {
    val dir = runDir(sfDir, run)
    ParquetRelations.derived(spark, sfDir, dir.toString) {
      Fs.deleteRecursively(dir)
      start(dir, input(dir), sink, pipeline, Trigger.AvailableNow()).awaitTermination()
      dir.resolve("out").toString
    }
  }

  /** The full transport seam (S1→A2→S4) over a replay: wire-shaped source
    * (binary key/value, exactly what a Kafka broker would deliver) → shared
    * wire decode → the UNCHANGED aggregation. Swapping FileReplay→Kafka /
    * FileChangelog→Kafka is a config change that replaces only the plan's
    * leaf and sink (Transport; TransportSpec pins the wiring).
    */
  private def aggregatePipeline(r: Replay): DataFrame =
    StockAggregation.aggregate(Transport.decodeWire(Transport.readTransactionStream(
      r.spark, Transport.SourceFormat.FileReplay(r.staging.toString, r.schema))))

  /** Run the streaming pipeline to completion for this scale factor (once per
    * input listing) and return the changelog directory. Stages one parquet file per
    * chunk, so the events replay as NumChunks deterministic micro-batches.
    */
  def ensureRun(spark: SparkSession, sfDir: String): String =
    replayOnce(spark, sfDir, "aggregate",
      staged(Tables.transactionsChunked(spark, sfDir, NumChunks)), changelogSink)(
      aggregatePipeline)

  /** The aggregation run's staging, for twins that replay it instead of
    * staging their own; completes that run first.
    */
  private def aggregateReplay(spark: SparkSession, sfDir: String): Replay = {
    val out = Paths.get(ensureRun(spark, sfDir))
    Replay(spark, out.resolveSibling("staging"), txnSchema)
  }

  /** The checkpoint stop/restart seam under a REAL mid-flight kill — the
    * Spark-native analogue of the reference's failover test, which kills an
    * instance mid-stream and asserts the restarted one serves the same
    * answers (`InteractiveQueriesIntegrationTest.java:100-158`; standby
    * failover `controller/StockController.java:124-135`).
    *
    * Phase 1 runs the S1→A2→S4 pipeline on a continuous trigger and calls
    * `stop()` as soon as at least two micro-batches have committed — the
    * interrupt can land mid-batch, leaving the classic crash residue: an
    * offsets-log entry without its commit, and possibly a half-written sink
    * attempt. Phase 2 starts the IDENTICAL query on the SAME checkpoint and
    * runs to completion. Spark's recovery contract does the rest: the
    * planned-but-uncommitted batch re-executes over exactly the files its
    * offsets-log entry recorded, RocksDB state reloads from the last
    * committed version, and the idempotent per-batch-partition sink
    * ([[Transport.writeBatchIdempotent]]) overwrites any partial attempt —
    * so the final changelog must have each epoch exactly once and the
    * snapshot must equal a never-killed run's. `StreamingStateSpec`'s
    * restart test asserts both.
    *
    * Returns (changelog dir, batches committed before the kill, chunks
    * staged). Stages its own replay (more chunks than [[NumChunks]] so the
    * kill reliably lands mid-stream) in a run separate from
    * [[ensureRun]]'s.
    */
  def killAndRestartRun(
      spark: SparkSession, sfDir: String, chunks: Int = 8): (String, Int, Int) =
    runKillRestart(sfDir, "restart_kill",
      n => Tables.transactionsChunked(spark, sfDir, n), chunks, changelogSink)(
      aggregatePipeline)

  /** Thrown by [[runKillRestart]] when phase 1 cannot commit two
    * micro-batches within the per-attempt deadline — an environmental
    * condition (overloaded machine), NOT a recovery defect. The specs
    * convert it to a test cancellation rather than a failure.
    */
  final class KillRestartTimeout(msg: String) extends RuntimeException(msg)

  /** Shared kill-restart protocol of the recovery differentials
    * ([[killAndRestartRun]], [[trendingTwsRestarted]],
    * [[rateLimitSweptRestarted]]): stage `frame(chunks)` under `<run>/`,
    * start `pipeline` on a continuous trigger, `stop()` once at least two
    * micro-batches have committed to `<run>/checkpoint`'s commit log (the
    * interrupt may land mid-batch — the crash), then restart the IDENTICAL
    * pipeline with `AvailableNow` to completion. Not memoized: every call
    * is a fresh kill.
    *
    * The mid-stream kill is STRUCTURAL (r13), not statistical: if the
    * stop() raced past end-of-stream (every staged chunk already
    * committed, so there is nothing to recover), the attempt is discarded
    * and the replay re-staged with TWICE the chunks — a wider kill window —
    * up to 5 attempts. The reference's failover test
    * (`InteractiveQueriesIntegrationTest.java:100-158`) cannot silently
    * skip, and neither can its Spark twin: callers assert, never assume,
    * `2 <= before < chunks`. The one remaining escape is environmental —
    * a machine too slow to commit two batches in 180 s — surfaced as the
    * distinct [[KillRestartTimeout]] so the specs cancel instead of fail.
    *
    * Returns (`<run>/out`, batches committed at the kill, chunks staged for
    * the successful attempt).
    */
  private def runKillRestart[T](
      sfDir: String, run: String, frame: Int => DataFrame, initialChunks: Int,
      sink: Sink = appendParquet)(
      pipeline: Replay => Dataset[T]): (String, Int, Int) = {
    val dir = runDir(sfDir, run)
    // the authoritative committed-batch count: the checkpoint's commit log
    def committed(): Int = {
      val names = Option(dir.resolve("checkpoint").resolve("commits").toFile.list())
        .getOrElse(Array.empty[String])
      names.count(n => n.nonEmpty && n.forall(_.isDigit))
    }
    val maxAttempts = 5
    var chunks = initialChunks
    var attempt = 1
    while (true) {
      Fs.deleteRecursively(dir) // checkpoint, sink, and staging
      val replay = staged(frame(chunks), chunks)(dir)
      // phase 1: continuous trigger, kill once >= 2 batches committed
      val q1 = start(dir, replay, sink, pipeline, Trigger.ProcessingTime(0L))
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (committed() < 2 && q1.isActive && System.nanoTime() < deadline)
        Thread.sleep(20)
      q1.stop() // the kill — may interrupt a batch mid-flight
      q1.awaitTermination()
      val before = committed()
      if (before < 2)
        throw new KillRestartTimeout(
          s"timed out waiting for 2 commits ($before committed in 180s, " +
            s"attempt $attempt of $maxAttempts)")
      if (before < chunks) {
        // phase 2: same pipeline, same checkpoint, remainder to completion
        start(dir, replay, sink, pipeline, Trigger.AvailableNow()).awaitTermination()
        return (dir.resolve("out").toString, before, chunks)
      }
      // stop() raced past end-of-stream — discard, widen the window, retry
      if (attempt >= maxAttempts)
        throw new IllegalStateException(
          s"kill raced past end of stream on all $maxAttempts attempts " +
            s"(final chunk count $chunks)")
      attempt += 1
      chunks *= 2
    }
    throw new IllegalStateException("unreachable")
  }

  /** The raw changelog: (key, value proto-JSON, batch_id) — the engine's
    * equivalent of the records on the reference's `output` topic.
    */
  def changelog(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureRun(spark, sfDir)).drop("p_batch")

  /** The queryable snapshot (S5): latest changelog value per key, decoded to
    * the typed aggregate columns — byte-for-byte the state store contents at
    * end of stream. One `max_by` hash aggregate: single shuffle keyed by
    * symbol, scale-equivalent to the aggregation itself.
    */
  def snapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val latest = changelog(spark, sfDir)
      .groupBy(col("key"))
      .agg(max_by(col("value"), col("batch_id")).as("value"))
    Serdes.decodeAggregation(latest)
  }

  /** The literal state-store read path (S5): Spark's `statestore` data
    * source over the streaming checkpoint — the exact analogue of the
    * reference's interactive queries hitting the live RocksDB store
    * (`kafkaStreams.query(StateQueryRequest.inStore(...))`,
    * `controller/StockController.java:265-270`). The row value is the
    * aggregation BUFFER (partial decimal sums + emptiness flags); its three
    * fields all print as "sum", so decode casts the struct positionally to
    * named fields. Must equal the batch aggregate exactly.
    */
  def stateStoreSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val ckpt = Paths.get(ensureRun(spark, sfDir)).resolveSibling("checkpoint").toString
    val vs = col("value").cast(
      "struct<buys:decimal(28,2),e1:boolean,sells:decimal(28,2),e2:boolean,shares:bigint>")
    spark.read.format("statestore").load(ckpt)
      .select(
        col("key.symbol").as("symbol"),
        vs.getField("buys").cast("double").as("buys"),
        vs.getField("sells").cast("double").as("sells"),
        vs.getField("shares").as("number_shares"))
  }

  /** Per-key update counts — proves per-batch update-mode emission: a key is
    * emitted in batch i iff chunk i contains at least one of its events, so
    * the oracle is `COUNT(DISTINCT chunk)` per symbol in pure SQL.
    */
  def changelogCounts(spark: SparkSession, sfDir: String): DataFrame =
    changelog(spark, sfDir)
      .groupBy(col("key").as("symbol"))
      .agg(count(lit(1)).as("n_updates"))

  /** Streaming exact dedup: `dropDuplicates` over the replayed stream with
    * keyed first-seen state — each key is emitted exactly once, in the first
    * micro-batch containing it (SURVEY §7.2 step 7's "watermarked streaming
    * dedup"; this unwindowed form keeps state forever like the reference's
    * aggregation — with an event-time column,
    * `withWatermark + dropDuplicatesWithinWatermark` bounds it). Only the key
    * column is exposed: WHICH duplicate row survives depends on intra-batch
    * scheduling, but the key set is deterministic (oracle: SELECT DISTINCT).
    */
  def streamingDedupKeys(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(
      replayOnce(spark, sfDir, "dedup_keys", _ => aggregateReplay(spark, sfDir)) {
        _.source.dropDuplicates("symbol").select(col("symbol"))
      })
  }

  /** BOUNDED-state streaming dedup — the 100 TB form of
    * [[streamingDedupKeys]]: `withWatermark + dropDuplicatesWithinWatermark`
    * keeps a key's state only until the watermark passes its event time plus
    * the delay, so state size tracks the KEYS ACTIVE WITHIN ONE DELAY WINDOW
    * instead of growing with every key ever seen. A key that falls silent
    * longer than the (watermark-lagged) delay is evicted and its next
    * occurrence is emitted AGAIN — the contract is "at most one emission per
    * delay window", not "exactly once ever".
    *
    * Determinism: over the time-ordered replay
    * ([[Tables.transactionsTimeChunked]]) each row's watermark column is
    * staged as the MIN event time of its (symbol, chunk) group — group
    * constant, so whichever physical row wins the intra-batch race, the
    * created state's expiry and the emitted output columns
    * (symbol, emit_chunk) are identical. That makes the whole emission set a
    * pure function of the data, reproducible in SQL: Spark's engine tracks
    * event time in MILLISECONDS (expiry = event-ms + delay-ms, set at
    * emission and NOT extended by dropped duplicates). Eviction runs at the
    * END of each batch under the watermark in effect DURING that batch, so
    * the eviction a batch-c arrival observes used max event-ms over batches
    * <= c−2 minus delay-ms — a ONE-BATCH LAG relative to the naive reading
    * (pinned empirically by StreamingStateSpec's Scala replay and the
    * sf0.01 SQL oracle, SparkEntry's q_streaming_dedup_bounded).
    *
    * Returns (symbol, emit_chunk): one row per EMISSION — re-emissions after
    * eviction appear as additional rows with the later chunk id.
    */
  def streamingDedupBounded(
      spark: SparkSession, sfDir: String, delay: String = "12 hours"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val txns = staged(Tables.transactionsTimeChunked(spark, sfDir, NumChunks)
      .withColumn("dts",
        min(col("ts")).over(Window.partitionBy(col("symbol"), col("chunk"))))
      .select(col("dts"), col("symbol"), col("chunk").as("emit_chunk"), col("chunk")))
    spark.read.parquet(replayOnce(spark, sfDir, s"bounded_dedup_$delay", txns) {
      _.source
        .withWatermark("dts", delay)
        .dropDuplicatesWithinWatermark("symbol")
        .select(col("symbol"), col("emit_chunk"))
    })
  }

  /** A decoded input record for the per-record changelog (field names match
    * the staged parquet columns).
    */
  final case class TxnEvent(
      event_id: Long, symbol: String, buy: Boolean, amount: Double, number_shares: Int)

  /** Keyed running totals carried in the state store. Dollar amounts are
    * CENTS in a long — the inputs are 2-dp decimals, so cent accumulation is
    * exact and order-independent, and `cents / 100.0` is the same double as
    * the batch plan's `CAST(SUM(DECIMAL(18,2)) AS DOUBLE)` (both are the
    * nearest double of the same exact 2-dp value).
    */
  final case class RunningTotals(buysCents: Long, sellsCents: Long, shares: Long)

  /** Exact cents of a 2-dp dollar amount (see [[RunningTotals]]). */
  private def centsOf(amount: Double): Long =
    java.math.BigDecimal.valueOf(amount)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** One emitted changelog record — the aggregate value immediately after
    * applying one input record.
    */
  final case class PerRecordUpdate(
      symbol: String, event_id: Long, buys: Double, sells: Double, number_shares: Long)

  /** The reference's cache=0 per-record emission, realized IN STREAMING:
    * `flatMapGroupsWithState` keeps per-symbol running totals in the state
    * store and emits one cumulative update per INPUT record — exactly the
    * records Kafka Streams puts on `output`
    * (`KafkaStreamsService.java:89-93` with
    * `KafkaStreamsAppConfiguration.java:92`'s cache=0). This closes the
    * semantic gap the update-mode aggregation documents (one update per
    * key per BATCH): where per-record granularity is required, custom keyed
    * state is the Spark-idiomatic answer (SURVEY §7.3).
    *
    * Ordering: the replay is staged in event_id-ORDERED chunks
    * ([[Tables.transactionsIdChunked]]), so no batch contains an id older
    * than a previous batch's; within a batch each group sorts its own rows
    * (bounded by per-key batch volume). Output is deterministic and equals
    * the batch window-function form ([[StockAggregation.perRecordChangelog]])
    * row-for-row — same DuckDB oracle.
    *
    * Scale: state is one small struct per key (like the aggregation); the
    * emitted stream is 1:1 with input — the cost of per-record granularity
    * is carried by the sink, not the state store.
    */
  def perRecordChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val out = replayOnce(spark, sfDir, "perrecord",
      staged(Tables.transactionsIdChunked(spark, sfDir, NumChunks))) {
      _.source.as[TxnEvent]
        .groupByKey(_.symbol)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (sym: String, rows: Iterator[TxnEvent], state: GroupState[RunningTotals]) =>
            var st = state.getOption.getOrElse(RunningTotals(0L, 0L, 0L))
            // materialize + sort BEFORE state.update: the output iterator is
            // consumed lazily after this function returns
            val emitted = rows.toArray.sortBy(_.event_id).map { t =>
              st =
                if (t.buy) st.copy(buysCents = st.buysCents + centsOf(t.amount),
                  shares = st.shares + t.number_shares)
                else st.copy(sellsCents = st.sellsCents + centsOf(t.amount),
                  shares = st.shares + t.number_shares)
              PerRecordUpdate(sym, t.event_id,
                st.buysCents / 100.0, st.sellsCents / 100.0, st.shares)
            }
            state.update(st)
            emitted.iterator
        }
    }
    spark.read.parquet(out)
      .select("symbol", "event_id", "buys", "sells", "number_shares")
  }

  /** A staged raw event for the streaming funnel. */
  final case class UserEvent(event_id: Long, user_id: Long, event_type: String, us: Long)

  /** Per-user funnel progress carried in the state store: earliest stage-1
    * time, earliest stage-2 strictly after it, earliest stage-3 strictly
    * after that; -1 = unreached.
    */
  final case class FunnelProgress(t1: Long, t2: Long, t3: Long)

  /** One emitted funnel update (the user's progress after a batch). */
  final case class FunnelUpdate(user_id: Long, stage1_us: Long, stage2_us: Long, stage3_us: Long)

  /** The events table's `cols` with a TIME-ordered `chunk` (ntile over
    * (ts, event_id)) — the replay of the event-keyed custom-state twins.
    * `ts` and `event_id` order the chunks but are kept only if `cols`
    * selects them.
    */
  private def timeOrderedEvents(
      spark: SparkSession, sfDir: String, cols: Seq[Column],
      chunks: Int = NumChunks): DataFrame = {
    val ordered = Tables.withOrderedChunks(
      Tables.events(spark, sfDir).select(
        cols ++ Seq(col("ts").as("__ts"), col("event_id").as("__id")): _*),
      chunks, Seq(col("__ts"), col("__id")))
    ordered.drop("__ts", "__id")
  }

  /** CEP-style SEQUENCE DETECTION in streaming — the strict view→click→
    * purchase funnel ([[graft.operators.EventAnalytics.funnel]]) as custom
    * keyed state: per user, `flatMapGroupsWithState` advances a three-stage
    * state machine as events arrive and emits the updated progress once per
    * (user, batch). This is the operator family Spark has no built-in for
    * (SQL MATCH_RECOGNIZE / Flink CEP); keyed state + an explicit machine is
    * the Spark-idiomatic realization, and it handles the dependency that
    * defeats windowed aggregation — stage n's admissible window starts at
    * stage n-1's RESULT.
    *
    * Ordering: the replay is staged in TIME-ordered chunks (ntile over
    * (ts, event_id)), so no batch carries an event older than a previous
    * batch's; within a batch each user's events sort in memory (bounded by
    * per-user batch volume). A sequential ts-ordered scan computes exactly
    * the batch form's chained minima: every stage-n candidate with
    * `us > t_{n-1}` is scanned after t_{n-1} is final, and strict inequality
    * makes equal-time ties order-free. Hence the final snapshot equals the
    * batch funnel row-for-row — same DuckDB oracle.
    *
    * Because each stage time transitions -1 → value exactly once and never
    * regresses, the final snapshot is an order-free `max` per user — no
    * batch-id bookkeeping needed.
    *
    * Scale: state is three longs per user; emissions are one row per
    * (active user, batch).
    */
  def funnelSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val out = replayOnce(spark, sfDir, "funnel", staged(timeOrderedEvents(spark, sfDir,
      Seq(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))))) {
      _.source.as[UserEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[UserEvent], state: GroupState[FunnelProgress]) =>
            var st = state.getOption.getOrElse(FunnelProgress(-1L, -1L, -1L))
            val before = st
            // materialize + sort BEFORE state.update (lazy output iterator)
            rows.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
              st = e.event_type match {
                case "view" if st.t1 == -1L => st.copy(t1 = e.us)
                case "click" if st.t1 != -1L && st.t2 == -1L && e.us > st.t1 =>
                  st.copy(t2 = e.us)
                case "purchase" if st.t2 != -1L && st.t3 == -1L && e.us > st.t2 =>
                  st.copy(t3 = e.us)
                case _ => st
              }
            }
            state.update(st)
            // emit only reached-stage-1 users whose progress changed
            if (st != before && st.t1 != -1L)
              Iterator.single(FunnelUpdate(uid, st.t1, st.t2, st.t3))
            else Iterator.empty
        }
    }
    spark.read.parquet(out)
      .groupBy("user_id")
      .agg(max(col("stage1_us")).as("stage1_us"),
        max(col("stage2_us")).as("stage2_us"),
        max(col("stage3_us")).as("stage3_us"))
  }

  /** One change event for the streaming CDC compactor. */
  final case class CdcEvent(
      event_id: Long, user_id: Long, event_type: String, us: Long, value: Double)

  /** Per-key CDC state: ops applied so far + the current winning payload. */
  final case class CdcState(n_ops: Long, ts_us: Long, typ: String, value: Double)

  /** One cumulative CDC emission (per active key, per batch). */
  final case class CdcUpdate(
      user_id: Long, n_ops: Long, last_ts_us: Long, last_type: String,
      last_value: Double)

  /** Streaming CDC compaction — the MATERIALIZED-VIEW-MAINTENANCE twin of
    * [[graft.operators.EventAnalytics.cdcCompact]]: the change log replays
    * as time-ordered micro-batches and `flatMapGroupsWithState` maintains
    * each key's last-writer-wins payload incrementally, emitting the
    * updated row once per (key, batch) — what a continuous MERGE into a
    * serving table does, versus the batch operator's full recompaction.
    *
    * Ordering: chunk staging is globally time-ordered, so a later batch
    * never carries an earlier event; within a batch each key's rows sort by
    * (us, event_id) in memory — the same total order as the batch operator,
    * hence the same final state per key, tombstones included (the tombstone
    * must ride the state like any writer: filtering it early would
    * resurrect the previous upsert).
    *
    * Final snapshot: n_ops strictly increases per applied change, so the
    * latest emission per key is an order-free `max_by(payload, n_ops)`;
    * keys whose final type is the tombstone drop AFTER that argmax. Equals
    * the batch operator row-for-row — same DuckDB oracle.
    *
    * Scale: state is one fixed-width row per key (RocksDB-backed);
    * emissions are one row per active key per batch.
    */
  def cdcSnapshot(
      spark: SparkSession, sfDir: String,
      tombstoneType: String = "error"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val out = replayOnce(spark, sfDir, "cdc", staged(timeOrderedEvents(spark, sfDir,
      Seq(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))))) {
      _.source.as[CdcEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[CdcEvent], state: GroupState[CdcState]) =>
            var st = state.getOption.getOrElse(CdcState(0L, -1L, "", 0.0))
            // materialize + sort BEFORE state.update (lazy output iterator)
            rows.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
              st = CdcState(st.n_ops + 1, e.us, e.event_type, e.value)
            }
            state.update(st)
            Iterator.single(CdcUpdate(uid, st.n_ops, st.ts_us, st.typ, st.value))
        }
    }
    spark.read.parquet(out)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("n_ops"), col("last_ts_us"), col("last_type"), col("last_value")),
        col("n_ops")).as("last"))
      .filter(col("last.last_type") =!= lit(tombstoneType))
      .select(col("user_id"), col("last.n_ops").as("n_ops"),
        col("last.last_ts_us").as("last_ts_us"),
        col("last.last_type").as("last_type"),
        col("last.last_value").as("last_value"))
  }

  /** One event for the streaming trending leaderboard (hour window key). */
  final case class TrendEvent(event_type: String, ws: Long)

  /** Per-window leaderboard state: batches applied + per-type counts. */
  final case class TrendState(n_updates: Long, counts: Map[String, Long])

  /** One cumulative leaderboard emission (per touched window, per batch). */
  final case class TrendTop(event_type: String, n_events: Long)
  final case class TrendEmit(
      window_start_s: Long, n_updates: Long, tops: Seq[TrendTop])

  /** The trending replay (hour-window-keyed event types, time-ordered
    * chunks). Shared CODE between the two state-API forms (separate runs);
    * replay equality rests on the total (ts, event_id) chunk sort — see
    * [[rateLimitReplay]]'s caveat.
    */
  private def trendingReplay(
      spark: SparkSession, sfDir: String, chunks: Int = NumChunks): DataFrame =
    timeOrderedEvents(spark, sfDir, Seq(col("event_type"),
      expr("(unix_micros(ts) DIV 3600000000) * 3600").as("ws")), chunks)

  /** Final leaderboard from the emission log (shared by both forms): the
    * highest-n_updates emission per window, exploded to (window, type, n,
    * rank) rows. */
  private def trendingBoard(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .groupBy("window_start_s")
      .agg(max_by(col("tops"), col("n_updates")).as("tops"))
      .select(col("window_start_s"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("window_start_s"), col("t.event_type").as("event_type"),
        col("t.n_events").as("n_events"), (col("pos") + 1).cast("int").as("rank"))

  /** Streaming trending leaderboard — the CONTINUOUS twin of
    * [[graft.operators.EventAnalytics.trendingTypes]]: per tumbling hour
    * window, the top-k event types by count, maintained incrementally as
    * the log replays in time-ordered micro-batches. `flatMapGroupsWithState`
    * keeps each window's per-type counts (state bounded by the type
    * vocabulary, not the event volume) and emits that window's CURRENT
    * top-k after every batch that touches it — the live "what moved this
    * hour" board, where the batch operator is the retrospective one.
    *
    * Counts are commutative, so no intra-batch ordering is needed (unlike
    * the CDC compactor); the final leaderboard per window is the emission
    * with the highest n_updates (strictly increasing per applied batch) —
    * an order-free `max_by` — and equals the batch operator row-for-row
    * (ties broken by type name both ways). Same DuckDB oracle.
    *
    * Scale: state per open window is one count per distinct type (a bounded
    * vocabulary); on a continuous ingest, pair with event-time timeout so
    * closed hours evict (the [[streamingDedupBounded]] move). Emission
    * volume is k rows per touched window per batch.
    */
  def trendingSnapshot(
      spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    trendingBoard(spark, replayOnce(spark, sfDir, s"trending_$k",
      staged(trendingReplay(spark, sfDir))) {
      _.source.as[TrendEvent]
        .groupByKey(_.ws)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (ws: Long, rows: Iterator[TrendEvent], state: GroupState[TrendState]) =>
            val st = state.getOption.getOrElse(TrendState(0L, Map.empty))
            var m = st.counts
            rows.foreach { e =>
              m = m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            val st2 = TrendState(st.n_updates + 1, m)
            state.update(st2)
            val tops = m.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
              .map { case (t, n) => TrendTop(t, n) }
            Iterator.single(TrendEmit(ws, st2.n_updates, tops))
        }
    })
  }

  /** Exact current top-k carried between batches (see [[TrendingProcessor]]:
    * the board the previous batch emitted, which bounds the candidates the
    * next one must consider). */
  final case class TopkSnap(tops: Seq[TrendTop])

  /** The per-window leaderboard as a Spark-4
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] — the state logic
    * of [[trendingSnapshot]] on `transformWithState`, and the showcase for
    * why the new API matters at scale: the per-type counts live in a named
    * `MapState[String, Long]` (its OWN RocksDB column family, one entry per
    * type), so a batch touches exactly the types it saw — where the fMGWS
    * form round-trips the ENTIRE vocabulary map through the encoder blob on
    * every batch (read-all, rewrite-all, even for a one-event batch). Two
    * more named variables (`topk`, the exact current board; `batches`, the
    * emission ordinal) ride alongside — multiple independently-typed state
    * variables per key is the other capability fMGWS's single-state shape
    * cannot express.
    *
    * Each batch pre-aggregates its slice in memory and issues one
    * containsKey + getValue + updateValue per TOUCHED type (the probe
    * guards the primitive-Long unboxing of an absent key). The top-k board
    * is maintained EXACTLY without ever iterating the map: counts only
    * grow, so the new top-k is a subset of (previous board ∪ types touched
    * this batch) — an untouched type off the board cannot overtake an entry
    * whose count did not shrink. Merge previous board + touched types at
    * their new counts, re-rank by (-count, type), truncate to k. So state
    * I/O is O(types touched + k) point ops per batch — reads AND writes —
    * not O(events) and not O(vocabulary). Counts are commutative, so
    * emissions equal the fMGWS form's exactly.
    */
  private final class TrendingProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TrendEvent, TrendEmit] {
    import org.apache.spark.sql.streaming.{
      MapState, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var counts: MapState[String, Long] = _
    @transient private var topk: ValueState[TopkSnap] = _
    @transient private var batches: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders
      counts = getHandle.getMapState[String, Long](
        "counts", enc.STRING, enc.scalaLong, TTLConfig.NONE)
      topk = getHandle.getValueState[TopkSnap](
        "topk", enc.product[TopkSnap], TTLConfig.NONE)
      batches = getHandle.getValueState[Long](
        "batches", enc.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        ws: Long, rows: Iterator[TrendEvent],
        timerValues: TimerValues): Iterator[TrendEmit] = {
      val delta = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach(e => delta.update(e.event_type, delta.getOrElse(e.event_type, 0L) + 1L))
      // candidates = previous exact board ∪ touched types at their NEW
      // counts (touched board members overwritten by the fresh count)
      val merged = scala.collection.mutable.HashMap.empty[String, Long]
      if (topk.exists()) topk.get().tops.foreach(t => merged.update(t.event_type, t.n_events))
      delta.foreach { case (t, d) =>
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + d)
        merged.update(t, cur + d)
      }
      val tops = merged.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(k).map { case (t, c) => TrendTop(t, c) }
      topk.update(TopkSnap(tops))
      val n = (if (batches.exists()) batches.get() else 0L) + 1L
      batches.update(n)
      Iterator.single(TrendEmit(ws, n, tops))
    }
  }

  /** Streaming trending leaderboard on the `transformWithState` API —
    * identical replay, state transitions, and emissions as
    * [[trendingSnapshot]] (same replay code, shared oracle), differing only
    * in the state API (see [[TrendingProcessor]]): per-type counts as
    * MapState entries instead of one encoder-blob map.
    *
    * This is the PRIMARY registered plan for `q_streaming_trending` (r12).
    * The promotion rests on (a) the r11 like-for-like alternation of the
    * then-current code, where the tws form won every pair (min-ratio
    * 0.88×, `BENCH_r11_tws_sf10.jsonl`), and (b) the structural argument:
    * point writes plus an incrementally-exact O(touched + k) board vs the
    * fMGWS whole-vocabulary blob rewrite per batch — the term that grows
    * with vocabulary at 100 TB. The r12 re-measurement of THIS incremental
    * -board code (`BENCH_r12_trending_sf{1,10}.jsonl`) reads parity
    * between the forms (31.4 vs 29.2 s at sf10; decade 1.35× vs 1.2×) —
    * both trigger-dominated and linear, with between-session ambient
    * spread larger than the between-form gap (see SCALING.md r12 cont.).
    * The fMGWS form stays registered as `q_streaming_trending_fmgws`
    * (measured linear too) so the oracle gate still pins both state APIs
    * against one SQL.
    */
  def trendingSnapshotTws(
      spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    trendingBoard(spark, replayOnce(spark, sfDir, s"trending_tws_$k",
      staged(trendingReplay(spark, sfDir)))(trendingTws(k)))

  /** The [[TrendingProcessor]] pipeline: one plan for the normal and the
    * killed-and-restarted run. */
  private def trendingTws(k: Int)(r: Replay): Dataset[TrendEmit] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import r.spark.implicits._
    r.source.as[TrendEvent]
      .groupByKey(_.ws)
      .transformWithState(new TrendingProcessor(k), TimeMode.None(), OutputMode.Append())
  }

  /** [[trendingSnapshotTws]] under a mid-flight kill — the recovery
    * differential for the REGISTERED trending primary, closing the one
    * state shape the kill-restart seam did not pin: [[TrendingProcessor]]
    * carries a MapState counts column family PLUS two ValueStates (`topk`,
    * the incrementally-exact board; `batches`, the emission ordinal). The
    * board is the dangerous one: its exactness invariant (counts only grow
    * ⇒ new top-k ⊆ previous board ∪ types touched this batch) assumes the
    * PREVIOUS BOARD restores intact — a checkpoint that recovered counts
    * but lost (or staled) `topk` would silently drop an untouched
    * board member from every post-restart emission, and no count would
    * ever disagree. Phase 1 runs the leaderboard on a continuous trigger
    * and stop()s once ≥2 batches committed (the interrupt may land
    * mid-batch); phase 2 restarts the identical query on the same
    * checkpoint to completion ([[runKillRestart]] protocol: the mid-stream
    * kill is structural, re-staged with doubled chunks on a race).
    *
    * The comparable artifact is the FINAL board per window
    * ([[trendingBoard]]: highest-ordinal emission per window): final
    * counts are chunk-count-invariant and the board is exact top-k of
    * final counts, so the killed-and-restarted run must equal the
    * never-killed [[trendingSnapshotTws]] row-for-row even though the two
    * runs batch differently. Returns (board, batches committed before the
    * kill, chunks staged).
    */
  def trendingTwsRestarted(
      spark: SparkSession, sfDir: String, k: Int = 3,
      chunks: Int = 8): (DataFrame, Int, Int) = {
    val (out, before, staged) = runKillRestart(sfDir, s"trending_twsr_$k",
      n => trendingReplay(spark, sfDir, n), chunks)(trendingTws(k))
    (trendingBoard(spark, out), before, staged)
  }

  /** One hashed value for the streaming KMV sketch (key = group). */
  final case class KmvRow(grp: String, h: String)

  /** Per-group KMV state: batches applied + the ≤k smallest distinct
    * hashes, ascending. */
  final case class KmvState(n_updates: Long, mins: Seq[String])

  /** One cumulative KMV emission: sketch fill + the k-th hash's 52-bit
    * prefix (−1 while the sketch is not yet full). */
  final case class KmvEmit(
      event_type: String, n_updates: Long, n_sketch: Int, kth13: Long)

  /** Streaming KMV distinct sketch — the INCREMENTAL twin of
    * [[graft.operators.Sketches.kmvDistinctAudit]]: per event type, the
    * k-minimum-values sketch over distinct md5(value) hashes is maintained
    * in keyed streaming state as the log replays. This is the
    * sketch-as-state demonstration: state is O(k) per key FOREVER (the k
    * smallest distinct hashes — a duplicate inside the range is rejected by
    * set membership, anything above the current k-th is dropped unseen,
    * which is exactly KMV's merge rule), where an exact distinct count
    * would need unbounded seen-set state. The estimate (k−1)·2⁵²/kth is
    * computed over the SNAPSHOT with the same Column arithmetic as the
    * batch audit, so the two paths cannot drift numerically.
    *
    * Equals the batch sketch exactly: KMV's k-min set is order-independent,
    * so replay order cannot change the final state. Oracle replays the
    * distinct-hash ranking in SQL (same 13-hex-char 52-bit expansion).
    *
    * Scale: state per key is k strings; emissions one row per touched key
    * per batch.
    */
  def kmvSnapshot(spark: SparkSession, sfDir: String, k: Int = 256): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val out = replayOnce(spark, sfDir, s"kmv_$k", staged(timeOrderedEvents(spark, sfDir,
      Seq(col("event_type").as("grp"),
        md5(unix_micros(col("ts")).cast("string").cast("binary")).as("h"))))) {
      _.source.as[KmvRow]
        .groupByKey(_.grp)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (grp: String, rows: Iterator[KmvRow], state: GroupState[KmvState]) =>
            val st = state.getOption.getOrElse(KmvState(0L, Seq.empty))
            var mins = scala.collection.immutable.TreeSet.empty[String] ++ st.mins
            rows.foreach { r =>
              if (mins.size < k) mins += r.h
              else if (r.h < mins.last && !mins.contains(r.h)) {
                mins += r.h; mins -= mins.last
              }
            }
            val st2 = KmvState(st.n_updates + 1, mins.toSeq)
            state.update(st2)
            val kth13 =
              if (mins.size == k)
                java.lang.Long.parseLong(mins.last.substring(0, 13), 16)
              else -1L
            Iterator.single(KmvEmit(grp, st2.n_updates, mins.size, kth13))
        }
    }
    spark.read.parquet(out)
      .groupBy("event_type")
      .agg(max_by(struct(col("n_sketch"), col("kth13")), col("n_updates")).as("s"))
      .select(col("event_type"), col("s.n_sketch").cast("long").as("n_sketch"),
        round(
          when(col("s.n_sketch") < k, col("s.n_sketch").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4503599627370496.0) /
              greatest(col("s.kth13"), lit(1L)).cast("double")), 6)
          .as("kmv_est"))
  }

  /** A day-keyed event for the streaming rate limiter, with the event-time
    * column the rate-limit TTL watermarks.
    */
  final case class DayEventT(
      event_id: Long, user_id: Long, day: Int, us: Long, et: java.sql.Timestamp)

  /** One admitted event emitted by the streaming rate limiter. */
  final case class RateLimitEmit(
      event_id: Long, user_id: Long, day: Int, us: Long, rank: Int)

  /** The rate-limit replay (time-ordered chunks of the events table,
    * day-keyed). The two state-API forms of the rate limiter share this
    * CODE but stage in separate runs — their replays are equal because the
    * chunk assignment sorts by the TOTAL order (ts, event_id), not by
    * construction; weakening that sort to a non-total order would silently
    * break the row-for-row differential.
    */
  private def rateLimitReplay(
      spark: SparkSession, sfDir: String, chunks: Int = NumChunks): DataFrame =
    timeOrderedEvents(spark, sfDir, Seq(col("event_id"), col("user_id"),
      expr("CAST((unix_micros(ts) - pmod(unix_micros(ts), 86400000000))" +
        " DIV 86400000000 AS INT)").as("day"),
      unix_micros(col("ts")).as("us")), chunks)

  /** The staged rate-limit replay as a watermarked stream (shared source
    * plan of the rate-limiter forms): one time-ordered chunk per
    * micro-batch, event-time column `et`, 1h watermark delay — the replay is
    * time-ordered so nothing is ever late, but a zero-delay watermark would
    * sit exactly ON batch-boundary ties; the grace hour keeps the no-drop
    * property unconditional while still evicting a closed day within ~an
    * hour of its grace day.
    */
  private def rateLimitSource(r: Replay): Dataset[DayEventT] = {
    import r.spark.implicits._
    r.source
      .withColumn("et", timestamp_micros(col("us")))
      .withWatermark("et", "1 hour")
      .as[DayEventT]
  }

  /** The admitted events of a rate-limiter run's output. */
  private def admissions(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("day"), col("us"), col("rank"))

  /** Streaming twin of [[graft.operators.EventAnalytics.rateLimit]]: admit
    * only the first `perDay` events per (user, epoch day) AS THEY ARRIVE —
    * the online ingest-throttle, where the batch form is the retrospective
    * one. Keyed state is a single running count per (user, day); an event is
    * admitted iff the count is still below the cap, and admitted events are
    * emitted immediately (Append mode) with their admission rank.
    *
    * The replay is staged in time-ordered chunks and each group's batch
    * slice sorts by (us, event_id) before the scan, so admission order is
    * exactly the batch form's `ORDER BY us, event_id` — the union of
    * emissions across batches equals the batch result row-for-row (same
    * DuckDB oracle).
    *
    * Scale: O(1) state per open (user, day) group, and the group SET is
    * bounded too — the state carries an event-time timeout one day past the
    * group's day, so once the watermark passes it the closed day's counter
    * EVICTS (round-10 fix: with NoTimeout the open-group set grew with the
    * whole key history — (user × day) is ~30× the other twins' key space,
    * and per-batch RocksDB maintenance over it measured 15×/decade on the
    * cold sf1→sf10 pair). On the time-ordered replay no event arrives
    * behind the watermark, so eviction never changes an admission decision
    * (a timed-out group that somehow saw a late event would restart its
    * count — the documented watermark-loss contract, same as
    * [[streamingDedupBounded]]'s re-emission).
    */
  def rateLimitEmissions(spark: SparkSession, sfDir: String, perDay: Int = 5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    admissions(spark, replayOnce(spark, sfDir, s"ratelimit_$perDay",
      staged(rateLimitReplay(spark, sfDir))) { r =>
      rateLimitSource(r)
        .groupByKey(e => (e.user_id, e.day))
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (key: (Long, Int), rows: Iterator[DayEventT], state: GroupState[Int]) =>
            if (rows.isEmpty && state.hasTimedOut) {
              // the watermark passed the day's close + 1 day: the counter
              // can never admit again — evict it
              state.remove()
              Iterator.empty
            } else {
              var n = state.getOption.getOrElse(0)
              // materialize + sort BEFORE state.update (lazy output iterator)
              val admitted = rows.toArray.sortBy(e => (e.us, e.event_id))
                .iterator.takeWhile(_ => n < perDay).map { e =>
                  n += 1
                  RateLimitEmit(e.event_id, e.user_id, e.day, e.us, n)
                }.toArray
              state.update(n)
              // TTL: end of this group's day + one grace day, in event time
              state.setTimeoutTimestamp((key._2.toLong + 2) * 86400000L)
              admitted.iterator
            }
        }
    })
  }

  /** The transformWithState rate limiter: the per-(user, day) admission
    * counter of [[rateLimitEmissions]] on a Spark-4
    * [[org.apache.spark.sql.streaming.StatefulProcessor]]. Keying by
    * (user, day) with ONE TIMER PER GROUP puts user × day entries in the
    * RocksDB timer column family, whose maintenance measured 4.0×/decade
    * (`BENCH_r11_tws_sf{1,10}.jsonl`); this processor keys by USER and
    * keeps one EPOCH-SWEPT timer per user:
    *
    *   - `dayCounts: MapState[Int, Int]` — the admission counter per OPEN
    *     day rides in its own column family, one entry per (user, open
    *     day); point ops only for the days a batch touches.
    *   - `armed: ValueState[Long]` — exactly one live timer per user, at
    *     the EARLIEST pending eviction epoch over its open days (armed is
    *     maintained as that minimum: lowered when an earlier-closing day
    *     appears, re-armed by the sweep below).
    *   - `handleExpiredTimer` SWEEPS: it evicts every open day the current
    *     watermark has passed (not just the fired epoch), then re-arms at
    *     the minimum remaining epoch — so timer registrations AND fires are
    *     ~one per (user, day-transition), and the live timer set is ~#users,
    *     ~30× below one timer per group at the r11 measurement's cardinality.
    *
    * Admission semantics are IDENTICAL to [[rateLimitEmissions]] by
    * construction: the user's batch slice is sorted by the same total
    * (us, event_id) order (which preserves each day's within-day order),
    * each day's counter admits the first `perDay` events, and eviction only
    * touches days the watermark has closed — on the time-ordered replay
    * with 1h grace no row for an evicted day can still arrive, the same
    * watermark-loss contract as the fMGWS form. Shared oracle.
    */
  private final class RateLimitSweepProcessor(perDay: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayEventT, RateLimitEmit] {
    import org.apache.spark.sql.streaming.{
      ExpiredTimerInfo, MapState, OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}

    @transient private var dayCounts: MapState[Int, Int] = _
    @transient private var armed: ValueState[Long] = _

    private def expiryOf(day: Int): Long = (day.toLong + 2) * 86400000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val enc = org.apache.spark.sql.Encoders
      dayCounts = getHandle.getMapState[Int, Int](
        "dayCounts", enc.scalaInt, enc.scalaInt, TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armed", enc.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long, rows: Iterator[DayEventT],
        timerValues: TimerValues): Iterator[RateLimitEmit] = {
      // per-day counters for the days THIS batch touches: read each at most
      // once, write back only the ones that admitted something
      val counts = scala.collection.mutable.HashMap.empty[Int, Int]
      val dirty = scala.collection.mutable.HashSet.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[RateLimitEmit]
      rows.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
        val n = counts.getOrElseUpdate(e.day,
          if (dayCounts.containsKey(e.day)) dayCounts.getValue(e.day) else 0)
        if (n < perDay) {
          out += RateLimitEmit(e.event_id, e.user_id, e.day, e.us, n + 1)
          counts(e.day) = n + 1
          dirty += e.day
        }
      }
      dirty.foreach(d => dayCounts.updateValue(d, counts(d)))
      // keep `armed` = min eviction epoch over open days: lower it if this
      // batch opened an earlier-closing day (on the time-ordered replay
      // this happens ~once per user, at first sight). Guarded on nonEmpty:
      // today Spark only calls handleInputRows for keys with rows, but an
      // empty slice must not crash the timer-lowering `min`
      if (counts.nonEmpty) {
        val minTouched = counts.keysIterator.map(expiryOf).min
        val cur = if (armed.exists()) armed.get() else Long.MaxValue
        if (minTouched < cur) {
          if (cur != Long.MaxValue) getHandle.deleteTimer(cur)
          getHandle.registerTimer(minTouched)
          armed.update(minTouched)
        }
      }
      out.iterator
    }

    override def handleExpiredTimer(
        user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[RateLimitEmit] = {
      // sweep ALL days the watermark has closed, not just the fired epoch —
      // one fire may retire several days if the watermark jumped. Evicting
      // a closed day cannot change an admission: the time-ordered replay's
      // 1h grace means no row for it can still arrive (a hypothetical late
      // row would re-open the day on a fresh counter — the documented
      // watermark-loss contract shared with the fMGWS form).
      val wm = timerValues.getCurrentWatermarkInMs()
      val expired = scala.collection.mutable.ArrayBuffer.empty[Int]
      var minLive = Long.MaxValue
      val it = dayCounts.keys()
      while (it.hasNext) {
        val d = it.next()
        val e = expiryOf(d)
        if (e <= wm) expired += d else if (e < minLive) minLive = e
      }
      expired.foreach(dayCounts.removeKey)
      if (minLive != Long.MaxValue) {
        getHandle.registerTimer(minLive)
        armed.update(minLive)
      } else armed.clear()
      Iterator.empty
    }
  }

  /** [[RateLimitSweepProcessor]] wired to the shared replay/source — the
    * registered transformWithState rate limiter (see the processor doc for
    * why it keeps one timer per user, not one per (user, day)).
    */
  def rateLimitEmissionsTwsSwept(
      spark: SparkSession, sfDir: String, perDay: Int = 5): DataFrame =
    admissions(spark, replayOnce(spark, sfDir, s"ratelimit_tws2_$perDay",
      staged(rateLimitReplay(spark, sfDir)))(rateLimitSwept(perDay)))

  /** The [[RateLimitSweepProcessor]] pipeline: one plan for the normal and
    * the killed-and-restarted run. */
  private def rateLimitSwept(perDay: Int)(r: Replay): Dataset[RateLimitEmit] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import r.spark.implicits._
    rateLimitSource(r)
      .groupByKey(_.user_id)
      .transformWithState(
        new RateLimitSweepProcessor(perDay), TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[rateLimitEmissionsTwsSwept]] under a mid-flight kill — the
    * transformWithState leg of the recovery story that
    * [[killAndRestartRun]] pins for the classic aggregation: here the
    * checkpoint must restore a MapState column family AND the registered
    * TIMERS (an un-restored timer would silently leak day counters; an
    * un-restored `armed` value would double-register). Phase 1 runs the
    * swept rate limiter on a continuous trigger and stop()s once ≥2
    * batches committed (the interrupt may land mid-batch); phase 2
    * restarts the identical query on the same checkpoint to completion.
    * The emitted admission stream must equal the uninterrupted form's
    * row-for-row — admissions are chunk-count-invariant (each batch scans
    * its slice in the total (us, event_id) order against persistent
    * counters), so the spec compares directly against the normal run.
    * Returns (emissions, batches committed before the kill, chunks).
    */
  def rateLimitSweptRestarted(
      spark: SparkSession, sfDir: String, perDay: Int = 5,
      chunks: Int = 8): (DataFrame, Int, Int) = {
    val (out, before, staged) = runKillRestart(sfDir, s"ratelimit_tws2r_$perDay",
      n => rateLimitReplay(spark, sfDir, n), chunks)(rateLimitSwept(perDay))
    (admissions(spark, out), before, staged)
  }

  /** One restored-store row / one post-restore update. The emission carries
    * an explicit per-key batch ordinal (`n_updates`, strictly increasing per
    * touched batch) so "latest emission" is a property of the protocol, not
    * of the data — picking by `number_shares` would silently rely on every
    * txn carrying at least one share. */
  final case class RestoreInit(
      symbol: String, buys: Double, sells: Double, number_shares: Long)
  final case class RestoreEmit(
      symbol: String, buys: Double, sells: Double, number_shares: Long,
      n_updates: Long)

  /** State RESTORE + continue — the reference's S6 capability
    * (changelog restore / standby warm-up: `NUM_STANDBY_REPLICAS=1`,
    * `config/KafkaStreamsAppConfiguration.java:99`; standby failover
    * `controller/StockController.java:124-135`) expressed the Spark-4 way:
    * a `StatefulProcessorWithInitialState` whose `handleInitialState` seeds
    * each key's `ValueState` from the MATERIALIZED AGGREGATE (the restored
    * store contents), after which `handleInputRows` continues the running
    * totals over the live stream. Kafka Streams rebuilds the store by
    * replaying the changelog topic; here the snapshot table IS the compacted
    * changelog, and the bootstrap is one batch read instead of a replay.
    *
    * Dollar state is integer CENTS ([[RunningTotals]]): the restored doubles
    * are exact 2-dp decimals, so restore→cents→add→/100.0 is EXACTLY the
    * full-history decimal aggregate — the restore seam is invisible in the
    * output, which is the restore correctness contract.
    */
  private final class RestoreProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        String, TxnEvent, RestoreEmit, RestoreInit] {
    import org.apache.spark.sql.streaming.{
      OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var totals: ValueState[RunningTotals] = _
    @transient private var batches: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[RunningTotals]("totals",
        org.apache.spark.sql.Encoders.product[RunningTotals], TTLConfig.NONE)
      batches = getHandle.getValueState[Long]("batches",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInitialState(
        key: String, init: RestoreInit, timerValues: TimerValues): Unit =
      totals.update(RunningTotals(
        centsOf(init.buys), centsOf(init.sells), init.number_shares))

    override def handleInputRows(
        key: String, rows: Iterator[TxnEvent],
        timerValues: TimerValues): Iterator[RestoreEmit] = {
      var st = if (totals.exists()) totals.get() else RunningTotals(0L, 0L, 0L)
      rows.foreach { t =>
        val c = centsOf(t.amount)
        st = RunningTotals(
          st.buysCents + (if (t.buy) c else 0L),
          st.sellsCents + (if (t.buy) 0L else c),
          st.shares + t.number_shares)
      }
      totals.update(st)
      val n = (if (batches.exists()) batches.get() else 0L) + 1L
      batches.update(n)
      Iterator.single(RestoreEmit(
        key, st.buysCents / 100.0, st.sellsCents / 100.0, st.shares, n))
    }
  }

  /** The restored-then-continued snapshot: the FIRST HALF of the replay
    * (chunks 0..1) is aggregated in batch and written as the "restored
    * store" (standing in for a pre-existing materialized state at restore
    * time), the SECOND HALF (chunks 2..3) streams through a
    * [[RestoreProcessor]] bootstrapped from it, and the final store contents
    * are the live-updated keys overlaid on the restored table (untouched
    * keys pass through — exactly a store restored then caught up).
    *
    * Must equal the full-history batch aggregate row-for-row (the reference
    * restore contract: a restored instance serves the same answers) — same
    * DuckDB oracle as `q_streaming_snapshot`, and the differential spec pins
    * it against [[graft.operators.StockAggregation.aggregate]].
    *
    * Scale: the bootstrap is one batch scan of the snapshot table into
    * per-key state (no changelog replay), the stream is the same keyed
    * aggregation as everywhere else, and the final overlay is one full-outer
    * hash join keyed by symbol.
    */
  def restoredSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val half = NumChunks / 2
    val out = Paths.get(replayOnce(spark, sfDir, "restore", dir => {
      val txns = Tables.transactionsWithId(spark, sfDir)
        .withColumn("chunk", (col("event_id") % NumChunks).cast("int"))
      // the "restored store": the aggregate a prior instance had materialized
      StockAggregation.aggregate(
        txns.filter(col("chunk") < half).drop("chunk", "event_id"))
        .coalesce(1).write.parquet(dir.resolve("restored").toString)
      // the live topic after restore: the remaining chunks, renumbered
      staged(txns.filter(col("chunk") >= half).withColumn("chunk", col("chunk") - half),
        NumChunks - half)(dir)
    }) { r =>
      val initState = spark.read.parquet(r.staging.resolveSibling("restored").toString)
        .as[RestoreInit].groupByKey(_.symbol)
      r.source.as[TxnEvent]
        .groupByKey(_.symbol)
        .transformWithState(
          new RestoreProcessor, TimeMode.None(), OutputMode.Append(), initState)
    })
    // latest live update per key: the explicit emission ordinal
    val latest = spark.read.parquet(out.toString)
      .groupBy("symbol")
      .agg(max_by(struct(col("buys"), col("sells"), col("number_shares")),
        col("n_updates")).as("s"))
      .select(col("symbol"), col("s.buys").as("lbuys"),
        col("s.sells").as("lsells"), col("s.number_shares").as("lshares"))
    spark.read.parquet(out.resolveSibling("restored").toString)
      .join(latest, Seq("symbol"), "full_outer")
      .select(col("symbol"),
        coalesce(col("lbuys"), col("buys")).as("buys"),
        coalesce(col("lsells"), col("sells")).as("sells"),
        coalesce(col("lshares"), col("number_shares")).as("number_shares"))
  }

  /** CONTINUOUS-INGESTION near-dedup — the streaming twin of
    * [[graft.operators.Dedup.incrementalNearDedup]]: incoming documents
    * arrive as a stream (chunked replay standing in for the ingestion topic)
    * and every micro-batch runs the SAME batch operator against the static
    * existing corpus inside `foreachBatch`, appending each batch's
    * (doc_id, matched_id, jaccard) verdicts idempotently. Each incoming doc
    * lives in exactly one batch, so the union of batch outputs IS the batch
    * operator's full result — same DuckDB oracle.
    *
    * This is the composition a per-batch ingestion pipeline actually runs:
    * the stream side carries only the new batch (LSH candidates stay
    * cross-side, cost scales with the batch), and the existing-corpus
    * shingle/bucket side is recomputed per batch here — at scale it would be
    * a persisted artifact updated as batches commit, at the same call shape.
    */
  def incrementalDedupVerdicts(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val verdicts: Sink = (incoming, out) =>
      incoming.toDF().writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Transport.writeBatchIdempotent(
            graft.operators.Dedup.incrementalNearDedup(existing, batch), batchId, out)
        }
    val out = replayOnce(spark, sfDir, "incdedup", staged(Tables.withOrderedChunks(
      docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
      NumChunks, Seq(col("doc_id")))), verdicts)(_.source)
    spark.read.parquet(out).select("doc_id", "matched_id", "jaccard")
  }

  /** Stream-static enrichment join — the remaining Structured Streaming join
    * shape the twin pipeline didn't exercise: the replayed transaction stream
    * inner-joins a STATIC dimension table (per-symbol latest event timestamp,
    * standing in for any slowly-changing reference data) before the stateful
    * aggregation. Spark re-plans the static side per micro-batch with the
    * stream side as a normal equi-join — at scale the static dim is the
    * broadcast side and the join never shuffles the stream.
    *
    * The aggregate carries the enrichment column through (`max` of a per-key
    * constant), so the final snapshot is the aggregate ⋈ dim content — the
    * same relation as `q_join_bucketed`, computed through the streaming path
    * and checked against the same oracle.
    */
  def enrichedSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val out = replayOnce(spark, sfDir, "enriched", _ => aggregateReplay(spark, sfDir),
        batchChangelog) { r =>
      val staticDim = Tables.transactionsWithTs(spark, sfDir)
        .groupBy(col("symbol"))
        .agg(max(unix_millis(col("ts"))).as("max_ts_ms"))
      import StockAggregation.decSum
      r.source.join(staticDim, Seq("symbol"))
        .groupBy(col("symbol"))
        .agg(
          decSum(when(col("buy"), col("amount")).otherwise(lit(0))).as("buys"),
          decSum(when(!col("buy"), col("amount")).otherwise(lit(0))).as("sells"),
          sum(col("number_shares")).as("number_shares"),
          max(col("max_ts_ms")).as("max_ts_ms"))
    }
    spark.read.parquet(out)
      .groupBy(col("symbol"))
      .agg(
        max_by(col("buys"), col("batch_id")).as("buys"),
        max_by(col("sells"), col("batch_id")).as("sells"),
        max_by(col("number_shares"), col("batch_id")).as("number_shares"),
        max_by(col("max_ts_ms"), col("batch_id")).as("max_ts_ms"))
  }

  /** Watermarked event-time windowed streaming aggregation — the Structured
    * Streaming capability the unwindowed twin doesn't exercise: `withWatermark`
    * bounds the window state (windows older than the watermark are evicted,
    * and later-arriving rows for them are dropped), which is what keeps a
    * windowed aggregation viable over an unbounded stream at 100 TB — the
    * unwindowed aggregate keeps one row per key forever (like the reference),
    * but per-(window, key) state without eviction grows with time.
    *
    * The replay is staged in TIME-ORDERED chunks
    * ([[Tables.transactionsTimeChunked]]), so no event ever arrives in a
    * later micro-batch than a newer event — the watermark drops nothing and
    * the final snapshot equals the batch windowed aggregate EXACTLY
    * (oracle-checked). `StreamingStateSpec` pins the complementary semantics:
    * the same watermark over the OUT-OF-ORDER (round-robin) replay does drop
    * late rows.
    *
    * @param watermarkDelay watermark delay for the `ts` column
    */
  def windowedSnapshot(
      spark: SparkSession, sfDir: String,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "1 hour"): DataFrame =
    spark.read.parquet(windowedRun(spark, sfDir, "windowed",
      Tables.transactionsTimeChunked(spark, sfDir, NumChunks), windowDuration, watermarkDelay))
      .groupBy(col("window_start_s"), col("symbol"))
      .agg(
        max_by(col("buys"), col("batch_id")).as("buys"),
        max_by(col("sells"), col("batch_id")).as("sells"),
        max_by(col("number_shares"), col("batch_id")).as("number_shares"))

  /** Run the watermarked windowed aggregation over `frame` (staged in its
    * own `chunk` order) and return the changelog path. Exposed
    * (package-tested) so the spec can drive it over the OUT-OF-ORDER
    * replay to prove late-data dropping; [[windowedSnapshot]] drives it over
    * the time-ordered replay.
    */
  private[graft] def windowedRun(
      spark: SparkSession, sfDir: String, run: String, frame: => DataFrame,
      windowDuration: String, watermarkDelay: String): String =
    replayOnce(spark, sfDir, s"${run}_${windowDuration}_$watermarkDelay", staged(frame),
      batchChangelog) { r =>
      StockAggregation
        .aggregateWindowed(r.source.withWatermark("ts", watermarkDelay), windowDuration)
        .select(
          unix_timestamp(col("window_start")).as("window_start_s"),
          col("symbol"), col("buys"), col("sells"), col("number_shares"))
    }

  /** A sentinel key outside the real symbol space ('~' > any 'U…'), used to
    * push the watermark past every real session's end at stream end.
    */
  private val FlushSymbol = "~FLUSH~"

  /** Streaming SESSION-window aggregation — `session_window` with a watermark
    * over the time-ordered replay: Spark merges an arriving event into the
    * open session per key inside the state store, and the watermark closes
    * (and evicts) sessions whose end falls behind it — the state stays
    * bounded by OPEN sessions only, which is what makes sessionization viable
    * on an unbounded stream.
    *
    * Session-window streaming aggregation supports APPEND output only
    * (update mode raises STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION):
    * a session is emitted exactly once, when the watermark passes its end.
    * An append sink therefore needs the watermark to eventually pass EVERY
    * session's end — on a bounded replay the stream finishes before that
    * happens for the latest sessions, so the staging appends one FINAL chunk
    * holding a single far-future sentinel row (its key is outside the real
    * key space): the sentinel advances the watermark beyond every real
    * session, the engine's no-data micro-batch flushes them, and the
    * sentinel's own (still-open) session stays in state and is never
    * emitted. The emitted set then equals the batch
    * [[graft.operators.StockAggregation.aggregateSessions]] exactly (same
    * gaps-and-islands oracle), with no dedup step — append is exactly-once
    * per session.
    */
  def sessionSnapshot(
      spark: SparkSession, sfDir: String,
      gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val txns = staged(withFlush(Tables.transactionsTimeChunked(spark, sfDir, NumChunks),
      NumChunks, Seq(gap, watermarkDelay))(Seq(lit(FlushSymbol).as("symbol"),
      lit(true).as("buy"), lit(0.0).as("amount"), lit(0).as("number_shares"))),
      NumChunks + 1)
    val out = replayOnce(spark, sfDir, s"session_${gap}_$watermarkDelay", txns) { r =>
      // literally the batch operator over the watermarked stream — the same
      // code, not a hand-maintained copy, so the shared oracle cannot drift
      StockAggregation.aggregateSessions(r.source.withWatermark("ts", watermarkDelay), gap)
    }
    spark.read.parquet(out)
      .filter(col("symbol") =!= FlushSymbol) // defense-in-depth; never emitted
      .select(col("session_start_s"), col("session_end_s"), col("symbol"),
        col("n_events"), col("buys"), col("sells"), col("number_shares"))
  }

  /** `frame` plus its flush chunk: one sentinel row per entry of `rows`
    * (every column but `ts`) in chunk `chunk`, stamped max(ts) + `margins`
    * + 1 hour — far enough past the last event that the watermark
    * (`ts` − delay) clears every real window, session or join interval.
    * Computed from the caller's parameters: a fixed margin would silently
    * strand tail rows for larger values.
    */
  private def withFlush(frame: DataFrame, chunk: Int, margins: Seq[String])(
      rows: Seq[Column]*): DataFrame = {
    val flushTs = frame.agg((margins :+ "1 hour").foldLeft(max(col("ts")))(
      (ts, m) => ts + expr(s"interval $m")).as("ts"))
    rows.foldLeft(frame)((f, row) =>
      f.unionByName(flushTs.select(col("ts") +: row :+ lit(chunk).as("chunk"): _*)))
  }

  /** Fixed-duration interval spec → microseconds (calendar months rejected —
    * they have no fixed length to compare against).
    */
  private def durationUs(spec: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(spec))
    require(iv.months == 0, s"calendar-month intervals not supported: '$spec'")
    iv.days * 86400000000L + iv.microseconds
  }

  /** The interval join of the replay's buy and sell streams (two
    * independent watermarked sources over the same staging), shared by
    * [[streamStreamJoin]] and [[streamStreamJoinOuter]].
    */
  private def intervalJoin(
      r: Replay, window: String, watermarkDelay: String, joinType: String): DataFrame = {
    val buys = r.source.filter(col("buy"))
      .select(col("event_id").as("buy_event"), col("symbol"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", watermarkDelay)
    val sells = r.source.filter(!col("buy"))
      .select(col("event_id").as("sell_event"), col("symbol").as("s_symbol"),
        col("ts").as("sell_ts"))
      .withWatermark("sell_ts", watermarkDelay)
    buys.join(sells, expr(
      s"""symbol = s_symbol
         |AND sell_ts >= buy_ts - interval $window
         |AND sell_ts <= buy_ts + interval $window""".stripMargin), joinType)
      .select(col("buy_event"), col("sell_event"), col("symbol"))
  }

  /** The documented losslessness invariant, enforced: eviction needs the
    * watermark (delay behind) to pass ts + window before partners stop
    * arriving — delay <= window would silently drop qualifying pairs.
    */
  private def requireLossless(what: String, window: String, watermarkDelay: String): Unit =
    require(durationUs(watermarkDelay) > durationUs(window),
      s"$what: watermarkDelay ($watermarkDelay) must exceed the join window ($window) " +
        "or qualifying pairs can be evicted before their partner arrives")

  /** STREAM-STREAM event-time interval join — the remaining Structured
    * Streaming join shape: the replayed transaction stream split into a BUY
    * stream and a SELL stream (two independent watermarked sources over the
    * same staging), inner-joined per symbol on a ±`window` event-time
    * interval. Spark keeps both sides in state and evicts a row once the
    * other side's watermark passes the end of its match interval — the
    * time-range condition is what makes two unbounded streams joinable with
    * bounded state.
    *
    * Losslessness on the replay: with time-ordered chunks, a row's partners
    * arrive within `window` of it in event time, while eviction needs the
    * watermark (`delay` behind) to pass `ts + window`; `delay > window`
    * therefore guarantees no qualifying pair is dropped, and the appended
    * output equals the batch interval self-join EXACTLY (the DuckDB oracle).
    */
  def streamStreamJoin(
      spark: SparkSession, sfDir: String,
      window: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    requireLossless("streamStreamJoin", window, watermarkDelay)
    val out = replayOnce(spark, sfDir, s"ssj_${window}_$watermarkDelay",
      staged(timeOrderedTxns(spark, sfDir))) {
      intervalJoin(_, window, watermarkDelay, "inner")
    }
    spark.read.parquet(out).select("buy_event", "sell_event", "symbol")
  }

  /** Txns with event id and ts in time-ordered chunks (the join replays). */
  private def timeOrderedTxns(spark: SparkSession, sfDir: String): DataFrame =
    Tables.withOrderedChunks(
      Tables.transactionsWithIdTs(spark, sfDir), NumChunks, Seq(col("ts"), col("event_id")))

  /** LEFT OUTER stream-stream interval join — the hard half of streaming
    * joins: a buy with no sell partner must STILL emit (with nulls), but only
    * once the engine can prove no partner will ever arrive — i.e. when the
    * watermark passes the end of the buy's match interval and its state is
    * evicted. The join itself is [[streamStreamJoin]]'s plan with
    * `leftOuter`; the new problem is the STREAM TAIL: on a bounded replay
    * the watermark never passes the last rows' intervals, so their outer
    * rows would be silently stranded in state and the result would NOT equal
    * the batch left join. Same cure as [[sessionSnapshot]]: the staging
    * appends a final flush chunk with one far-future sentinel row PER SIDE
    * (both sides' watermarks must advance — an outer row is released only by
    * the MINIMUM of the two). The sentinels ride through the join input
    * (filtering them before the watermark operator would stop them from
    * advancing it); their key is outside the real symbol space, so they
    * match only each other, and the single (flush, flush) pair plus the
    * flush side's own outer rows are cut by the output's symbol filter.
    *
    * Emitted set == the batch `LEFT JOIN` on the same interval condition
    * (the DuckDB oracle), exactly once per buy-side row or matched pair.
    */
  def streamStreamJoinOuter(
      spark: SparkSession, sfDir: String,
      window: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    requireLossless("streamStreamJoinOuter", window, watermarkDelay)
    def sentinel(id: Long, buy: Boolean) = Seq(lit(id).as("event_id"),
      lit(FlushSymbol).as("symbol"), lit(buy).as("buy"), lit(0.0).as("amount"),
      lit(0).as("number_shares"))
    val txns = staged(withFlush(timeOrderedTxns(spark, sfDir), NumChunks,
      Seq(window, watermarkDelay))(sentinel(-1L, buy = true), sentinel(-2L, buy = false)),
      NumChunks + 1)
    val out = replayOnce(spark, sfDir, s"ssjo_${window}_$watermarkDelay", txns) {
      intervalJoin(_, window, watermarkDelay, "leftOuter")
    }
    spark.read.parquet(out)
      .filter(col("symbol") =!= FlushSymbol) // the sentinels' own rows
      .select("buy_event", "sell_event", "symbol")
  }

  /** LATE-DATA DROP as an oracle-checked RESULT — the watermark's data-loss
    * contract, pinned exactly. The replay deliberately displaces a
    * deterministic subset of rows (`event_id % lateEvery == 0` within the
    * last `lateHorizonHours` of their time chunk) one micro-batch later than
    * event-time order, so they arrive BEHIND the watermark. Spark's windowed
    * aggregation drops an arriving row whose window the watermark has
    * already closed (its state was evicted — that bounded state is the whole
    * point of watermarks); with `delay` < the displacement, part of the
    * displaced set dies and part (the newest windows) survives — a MIXED
    * outcome, which is what makes the audit informative.
    *
    * APPEND mode is the mode with the drop contract — measured, not
    * assumed: in UPDATE mode the engine does NOT filter late rows (a row
    * for an already-evicted window simply re-creates state and emits a
    * fresh update — verified empirically on this exact replay: 10,000 of
    * 10,000 events survive at sf0.01). Append emits a window exactly once,
    * at eviction, so a row arriving after its window's eviction MUST be
    * dropped or the sink would see a duplicate — that drop is the loss
    * contract this query pins. Eviction itself LAGS one batch behind the
    * data that advanced the watermark (also measured: a window's state is
    * removed at the END of the first batch whose ACTIVE watermark covers
    * it, and the active watermark is computed from strictly earlier
    * batches), so rows displaced by ONE batch are always merged into their
    * still-live window — the displacement here is TWO batches, the same
    * `arr − 2` lag `q_streaming_dedup_bounded`'s oracle encodes. The
    * stream tail is flushed [[sessionSnapshot]]-style by a far-future
    * sentinel row in its own final chunk.
    *
    * The oracle recomputes the engine's arithmetic exactly, in SQL: a row
    * arriving in batch k survives iff its tumbling window's end (ms —
    * the engine's watermark unit) exceeds max(event ms of batches ≤ k−2)
    * − delay, i.e. the watermark that was active while its window could
    * last have been evicted. `watermarkDelay` defaults off the minute grid
    * (179 min) so an exact boundary tie between a window end and the
    * watermark cannot occur on real microsecond data.
    *
    * Returns (window_start_s, symbol, n_events) — append output, one row
    * per surviving (window, symbol).
    */
  def lateDropSnapshot(
      spark: SparkSession, sfDir: String,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "179 minutes",
      lateEvery: Int = 5, lateHorizonHours: Int = 6): DataFrame = {
    def arrivals = {
      val t = Tables.withOrderedChunks(
        Tables.transactionsWithIdTs(spark, sfDir)
          .select(col("event_id"), col("ts"), col("symbol"))
          .withColumn("ms", expr("unix_micros(ts) div 1000")),
        NumChunks, Seq(col("ts"), col("event_id")), name = "c")
      val cm = t.groupBy("c").agg(max(col("ms")).as("cmax"))
      val arr = t.join(cm, Seq("c"))
        .withColumn("chunk",
          when(col("event_id") % lateEvery === 0 &&
            col("ms") >= col("cmax") - lit(lateHorizonHours * 3600000L),
            col("c") + 2).otherwise(col("c")).cast("int"))
        .select(col("ts"), col("symbol"), col("chunk"))
        .localCheckpoint(true)
      // batches 0..NumChunks+1: base chunks plus the two trailing
      // displaced-only batches (possibly empty at tiny SFs — an empty
      // parquet file is a fine empty micro-batch); final chunk: the flush
      // sentinel alone — after its batch the watermark clears every real
      // window and the engine's no-data micro-batch emits the survivors
      withFlush(arr, NumChunks + 2, Seq(windowDuration, watermarkDelay))(
        Seq(lit(FlushSymbol).as("symbol")))
    }
    val out = replayOnce(spark, sfDir,
      s"latedrop_${windowDuration}_${watermarkDelay}_${lateEvery}_$lateHorizonHours",
      staged(arrivals, NumChunks + 3)) {
      _.source.withWatermark("ts", watermarkDelay)
        .groupBy(window(col("ts"), windowDuration), col("symbol"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("window.start")).as("window_start_s"),
          col("symbol"), col("n_events"))
    }
    spark.read.parquet(out)
      .filter(col("symbol") =!= FlushSymbol) // the sentinel's own window
      .select("window_start_s", "symbol", "n_events")
  }
}
