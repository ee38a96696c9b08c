package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{InteractiveQueries, StockAggregation}
import graft.streaming.StreamingState

/** The streaming twin (S1-stream/S4/S5) at sf0.001: update-mode emission,
  * changelog shape, snapshot parity with the batch aggregate, and the IQ
  * functions running unchanged over the snapshot.
  */
class StreamingStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val changelog = StreamingState.changelog(spark, sfDir).cache()
  private lazy val snapshot = StreamingState.snapshot(spark, sfDir).cache()
  private lazy val batchAgg =
    StockAggregation.aggregate(Tables.transactions(spark, sfDir))

  test("replay produces one micro-batch per staged chunk") {
    val ids = changelog.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L until StreamingState.NumChunks.toLong))
  }

  test("update mode emits per-batch updates, not just final state") {
    val nKeys = changelog.select("key").distinct().count()
    assert(changelog.count() > nKeys,
      "changelog must contain multiple updates per key across micro-batches")
    // within one micro-batch a key is emitted at most once
    val dupInBatch = changelog.groupBy("batch_id", "key").count()
      .filter(col("count") > 1).count()
    assert(dupInBatch == 0)
  }

  test("changelog value is the reference's proto-JSON wire shape") {
    val row = changelog.filter(col("key") === "U000007")
      .orderBy(col("batch_id").desc).select("value").head().getString(0)
    assert(row.contains("\"symbol\":\"U000007\""))
    assert(row.contains("\"numberShares\":")) // camelCase, SerdeUtil.java:97-111
    assert(!row.contains("number_shares"))
  }

  test("snapshot (latest update per key) equals the batch aggregate") {
    assert(snapshot.count() == batchAgg.count())
    assert(snapshot.except(batchAgg).isEmpty && batchAgg.except(snapshot).isEmpty)
  }

  test("interactive queries run unchanged against the streaming snapshot") {
    val k = InteractiveQueries.keyQuery(snapshot, "U000007").collect()
    val kb = InteractiveQueries.keyQuery(batchAgg, "U000007").collect()
    assert(k.sameElements(kb))
    val r = InteractiveQueries.filteredRangeQuery(
      snapshot, Some("U000000"), Some("U000099"), "@.buys > @.sells")
    val rb = InteractiveQueries.filteredRangeQuery(
      batchAgg, Some("U000000"), Some("U000099"), "@.buys > @.sells")
    assert(r.count() == rb.count())
  }

  test("statestore data source reads the live store, equal to the batch aggregate") {
    val st = StreamingState.stateStoreSnapshot(spark, sfDir)
    assert(st.count() == batchAgg.count())
    assert(st.except(batchAgg).isEmpty && batchAgg.except(st).isEmpty)
  }

  test("streaming dedup emits each key exactly once across all micro-batches") {
    val keys = StreamingState.streamingDedupKeys(spark, sfDir)
    val n = keys.count()
    assert(n == keys.distinct().count(), "no key may be emitted twice")
    assert(n == batchAgg.count(), "every key must be emitted once")
  }

  test("bounded-state dedup: state evicts, keys re-emit, and the emission set matches the watermark recursion") {
    val delayMs = 12L * 3600 * 1000
    val got = StreamingState.streamingDedupBounded(spark, sfDir, "12 hours")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet

    // Scala replay of the engine's millisecond watermark recursion — the
    // same contract the DuckDB oracle pins at sf0.01 (see SparkEntry)
    val groups = Tables.transactionsTimeChunked(spark, sfDir, StreamingState.NumChunks)
      .groupBy(col("symbol"), col("chunk"))
      .agg(min(unix_millis(col("ts"))).as("dts"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val batchMax = groups.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    // the eviction a batch-c arrival observes ran at the END of batch c-1,
    // under the watermark in effect DURING batch c-1 — i.e. max event-ms
    // over chunks <= c-2, minus the delay (one-batch lag; pinned here and
    // by the sf0.01 oracle)
    def wmAt(chunk: Int): Long =
      if (chunk < 2) Long.MinValue
      else (0 to chunk - 2).map(batchMax).max - delayMs
    val expected = groups.groupBy(_._1).toSeq.flatMap { case (sym, rows) =>
      var expiry = Long.MinValue
      var armed = false
      rows.sortBy(_._2).flatMap { case (_, chunk, dts) =>
        val alive = armed && expiry >= wmAt(chunk)
        if (alive) None
        else { expiry = dts + delayMs; armed = true; Some((sym, chunk)) }
      }
    }.toSet
    assert(got == expected,
      s"emissions must equal the watermark recursion: " +
        s"missing=${expected -- got}, extra=${got -- expected}")

    // both behaviors must actually occur at this scale: some key re-emitted
    // after eviction, and some (key, chunk) occurrence dropped as duplicate
    val emitsPerKey = got.groupBy(_._1).view.mapValues(_.size)
    assert(emitsPerKey.values.exists(_ > 1),
      "at least one key must be re-emitted after state eviction")
    val occurrences = groups.map(g => (g._1, g._2)).toSet
    assert(got.size < occurrences.size,
      "at least one occurrence must be dropped as an in-delay duplicate")
  }

  test("a twin replays once per run directory: a repeat call starts no query, a new parameter gets its own run") {
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      // delivered synchronously, from the thread that starts the query
      override def onQueryStarted(event: QueryStartedEvent): Unit = starts.incrementAndGet()
      override def onQueryProgress(event: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val first = StreamingState.streamingDedupBounded(spark, sfDir, "12 hours")
      val afterFirst = starts.get()
      val again = StreamingState.streamingDedupBounded(spark, sfDir, "12 hours")
      assert(starts.get() == afterFirst, "a repeat call with the same arguments started a query")
      val other = StreamingState.streamingDedupBounded(spark, sfDir, "1 hour")
      val afterOther = starts.get()
      assert(afterOther == afterFirst + 1, "a new run must start exactly one query")
      StreamingState.streamingDedupBounded(spark, sfDir, "1 hour")
      assert(starts.get() == afterOther, "a repeat call with the same arguments started a query")

      def runDirs(df: org.apache.spark.sql.DataFrame) =
        df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).getParentFile.getParent).toSet
      assert(runDirs(first) == runDirs(again) && runDirs(first).size == 1)
      assert(runDirs(other).size == 1 && runDirs(other) != runDirs(first),
        "two delays must own two run directories")
      def emissions(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(emissions(first) == emissions(again))
      assert(emissions(other) != emissions(first),
        "a different delay must give a different emission set")
    } finally spark.streams.removeListener(listener)
  }

  test("watermarked windowed streaming agg over time-ordered replay equals batch windowed agg") {
    val streamed = StreamingState.windowedSnapshot(spark, sfDir)
    val batch = StockAggregation
      .aggregateWindowed(Tables.transactionsWithTs(spark, sfDir), "1 hour")
      .select(unix_timestamp(col("window_start")).as("window_start_s"),
        col("symbol"), col("buys"), col("sells"), col("number_shares"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("the watermark is real: out-of-order replay with a tight watermark drops late rows") {
    // Reuse the round-robin (event_id % N) staging: every chunk spans the full
    // time range, so from micro-batch 2 on, almost every row is older than
    // (max ts seen - 0s) and must be dropped by the watermark.
    val out = StreamingState.windowedRun(spark, sfDir, "spec_ooo",
      Tables.transactionsChunkedTs(spark, sfDir, StreamingState.NumChunks),
      "1 hour", "0 seconds")
    val finalShares = spark.read.parquet(out)
      .groupBy("window_start_s", "symbol")
      .agg(max_by(col("number_shares"), col("batch_id")).as("number_shares"))
      .agg(sum("number_shares")).head().getLong(0)
    val batchShares = StockAggregation
      .aggregateWindowed(Tables.transactionsWithTs(spark, sfDir), "1 hour")
      .agg(sum("number_shares")).head().getLong(0)
    assert(finalShares < batchShares,
      s"tight watermark over out-of-order replay must drop rows ($finalShares vs $batchShares)")
  }

  test("flatMapGroupsWithState per-record changelog equals the batch window-function form") {
    val streaming = StreamingState.perRecordChangelog(spark, sfDir)
    val batch = graft.operators.StockAggregation.perRecordChangelog(
      Tables.transactionsWithId(spark, sfDir))
      .select("symbol", "event_id", "buys", "sells", "number_shares")
    assert(streaming.count() == batch.count(),
      "per-record emission must produce exactly one update per input record")
    assert(streaming.except(batch).isEmpty && batch.except(streaming).isEmpty,
      "streaming custom-state totals diverged from the batch running totals")
  }

  test("streaming funnel (keyed state machine) equals the batch chained minima") {
    val streamed = StreamingState.funnelSnapshot(spark, sfDir)
    val batch = graft.operators.EventAnalytics.funnel(
      Tables.events(spark, sfDir), "view", "click", "purchase")
    assert(streamed.count() == batch.count(),
      "every user reaching stage 1 must appear exactly once in the snapshot")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming funnel state machine diverged from the batch funnel")
  }

  test("streaming CDC compaction equals the batch compactor, tombstones included") {
    import graft.operators.EventAnalytics
    val streamed = StreamingState.cdcSnapshot(spark, sfDir)
    val batch = EventAnalytics.cdcCompact(Tables.events(spark, sfDir))
    assert(streamed.count() == batch.count(),
      "every live key must appear exactly once in the streaming snapshot")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming last-writer-wins state diverged from the batch compaction")
  }

  test("streaming trending leaderboard equals the batch per-window top-k") {
    import graft.operators.EventAnalytics
    val streamed = StreamingState.trendingSnapshot(spark, sfDir)
    val batch = EventAnalytics.trendingTypes(Tables.events(spark, sfDir))
    assert(streamed.count() == batch.count(),
      "every window must surface exactly its top-k rows in the snapshot")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "incrementally maintained leaderboard diverged from the batch top-k")
  }

  test("streaming KMV sketch equals the batch sketch estimate") {
    import graft.operators.Sketches
    val streamed = StreamingState.kmvSnapshot(spark, sfDir)
    val batch = Sketches.kmvDistinctAudit(
      Tables.events(spark, sfDir)
        .select(col("event_type"), unix_micros(col("ts")).as("us")),
      "event_type", "us", k = 256)
      .select(col("event_type"),
        least(col("n_distinct"), lit(256L)).cast("long").as("n_sketch"),
        col("kmv_est"))
    assert(streamed.count() == batch.count(),
      "one sketch row per event type")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "incrementally maintained KMV sketch diverged from the batch sketch")
  }

  test("streaming incremental dedup verdicts equal the batch operator") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val streamed = StreamingState.incrementalDedupVerdicts(spark, sfDir)
    val batch = Dedup.incrementalNearDedup(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    assert(streamed.count() == batch.count(),
      "every incoming doc must receive exactly one verdict across all batches")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "per-micro-batch verdicts diverged from the batch operator")
  }

  test("append-mode streaming sessionization equals the batch session windows") {
    // the sentinel-flush design: every REAL session is emitted exactly once
    // (append), the sentinel's own open session never is
    val streamed = StreamingState.sessionSnapshot(spark, sfDir)
    val batch = StockAggregation.aggregateSessions(
      Tables.transactionsWithTs(spark, sfDir), "30 minutes")
    assert(streamed.count() == batch.count(),
      "append must emit each closed session exactly once, and all of them")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streaming session windows diverged from the batch sessionization")
  }

  test("stream-stream join rejects watermark delay <= join window loudly") {
    // delay <= window can evict a row before its partners stop arriving —
    // silently incomplete output, so the invariant is enforced up front
    val e = intercept[IllegalArgumentException] {
      StreamingState.streamStreamJoin(spark, sfDir,
        window = "2 hours", watermarkDelay = "1 hour")
    }
    assert(e.getMessage.contains("must exceed"))
  }

  test("stream-stream interval join equals the batch interval self-join") {
    val streamed = StreamingState.streamStreamJoin(spark, sfDir)
    val t = Tables.transactionsWithIdTs(spark, sfDir)
    val buys = t.filter(col("buy"))
      .select(col("event_id").as("buy_event"), col("symbol"), col("ts").as("buy_ts"))
    val sells = t.filter(!col("buy"))
      .select(col("event_id").as("sell_event"), col("symbol").as("s_symbol"),
        col("ts").as("sell_ts"))
    val batch = buys.join(sells, expr(
      """symbol = s_symbol
        |AND sell_ts >= buy_ts - interval 30 minutes
        |AND sell_ts <= buy_ts + interval 30 minutes""".stripMargin))
      .select("buy_event", "sell_event", "symbol")
    assert(streamed.count() == batch.count(),
      "append must emit each qualifying pair exactly once")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "stream-stream join pairs diverged from the batch interval self-join")
  }

  test("LEFT OUTER stream-stream join equals the batch left join, tail flushed") {
    val streamed = StreamingState.streamStreamJoinOuter(spark, sfDir)
    val t = Tables.transactionsWithIdTs(spark, sfDir)
    val buys = t.filter(col("buy"))
      .select(col("event_id").as("buy_event"), col("symbol"), col("ts").as("buy_ts"))
    val sells = t.filter(!col("buy"))
      .select(col("event_id").as("sell_event"), col("symbol").as("s_symbol"),
        col("ts").as("sell_ts"))
    val batch = buys.join(sells, expr(
      """symbol = s_symbol
        |AND sell_ts >= buy_ts - interval 30 minutes
        |AND sell_ts <= buy_ts + interval 30 minutes""".stripMargin), "leftOuter")
      .select("buy_event", "sell_event", "symbol")
    // the interesting rows: buys with NO partner anywhere in the stream —
    // these exist only if the outer-null path (state eviction) actually
    // fired, including for the stream tail (the sentinel flush)
    val streamedNulls = streamed.filter(col("sell_event").isNull).count()
    val batchNulls = batch.filter(col("sell_event").isNull).count()
    assert(batchNulls > 0, "fixture degenerate: every buy has a partner")
    assert(streamedNulls == batchNulls,
      s"outer-null rows diverged: streamed=$streamedNulls batch=$batchNulls " +
        "(stranded tail state or duplicate eviction)")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "left-outer stream-stream join diverged from the batch left join")
  }

  test("late-drop snapshot: displaced rows die or survive exactly as the watermark dictates") {
    // denser late fixture than the registered defaults: at sf0.001 (~1.4
    // events/h) the default 6 h horizon displaces too few rows to guarantee
    // any fall behind the watermark
    val s = StreamingState.lateDropSnapshot(spark, sfDir,
      lateEvery = 2, lateHorizonHours = 48)
    val batch = Tables.transactionsWithTs(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("symbol"))
      .agg(count(lit(1)).as("bn"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("symbol"), col("bn"))
    val j = s.join(batch, Seq("window_start_s", "symbol"), "full_outer")
    // a window whose rows ALL arrived late may vanish entirely — but the
    // streaming side must never emit a (window, symbol) batch never saw,
    // nor exceed the batch count anywhere
    assert(j.filter(col("n_events").isNotNull && col("bn").isNull).isEmpty)
    assert(j.filter(col("n_events") > col("bn")).isEmpty)
    val streamTotal = s.agg(sum("n_events")).head().getLong(0)
    val batchTotal = batch.agg(sum("bn")).head().getLong(0)
    assert(streamTotal < batchTotal,
      s"no drops ($streamTotal vs $batchTotal) — the late fixture is vacuous")
    // a watermark beyond the displacement drops NOTHING: snapshot == batch
    val generous = StreamingState.lateDropSnapshot(spark, sfDir,
      watermarkDelay = "30 days", lateEvery = 2, lateHorizonHours = 48)
    val b2 = batch.withColumnRenamed("bn", "n_events")
    assert(generous.count() == b2.count())
    assert(generous.except(b2).isEmpty && b2.except(generous).isEmpty,
      "generous-watermark snapshot diverged from the batch windowed counts")
  }

  test("transformWithState rate limiter equals the flatMapGroupsWithState form row-for-row") {
    // two state APIs, one semantics: the Spark-4 StatefulProcessor twin
    // (typed ValueState + explicit event-time timer) must reproduce the
    // fMGWS admission stream exactly — same replay, same sort, same cap
    val fmgws = StreamingState.rateLimitEmissions(spark, sfDir, perDay = 5)
    val tws = StreamingState.rateLimitEmissionsTws(spark, sfDir, perDay = 5)
    assert(fmgws.count() > 0)
    assert(tws.exceptAll(fmgws).isEmpty && fmgws.exceptAll(tws).isEmpty)
  }

  test("epoch-swept transformWithState rate limiter equals the fMGWS form row-for-row") {
    // the r12 re-plan: user-keyed MapState day counters + ONE swept timer
    // per user (vs one per (user, day) group) must reproduce the fMGWS
    // admission stream exactly — same replay, same per-day sort, same cap,
    // same watermark-eviction contract
    val fmgws = StreamingState.rateLimitEmissions(spark, sfDir, perDay = 5)
    val swept = StreamingState.rateLimitEmissionsTwsSwept(spark, sfDir, perDay = 5)
    assert(fmgws.count() > 0)
    assert(swept.exceptAll(fmgws).isEmpty && fmgws.exceptAll(swept).isEmpty)
  }

  test("mid-flight kill + restart recovers transformWithState MapState and timers exactly") {
    // the tws leg of the recovery story: the checkpoint must restore the
    // MapState day counters AND the registered eviction timers — a lost
    // timer leaks state, a double-registered one is a runtime error, and a
    // lost counter would over-admit. Admissions are chunk-count-invariant,
    // so the 8-chunk killed-and-restarted run must equal the normal
    // 4-chunk run (and therefore the fMGWS form) row-for-row.
    // the mid-stream kill is structural (re-staged with a wider window on a
    // race); the only non-assertable condition left is an environment too
    // slow to commit 2 batches in 180s, surfaced as the dedicated timeout
    val (restarted, before, chunks) =
      try StreamingState.rateLimitSweptRestarted(spark, sfDir, perDay = 5)
      catch { case e: StreamingState.KillRestartTimeout => cancel(e.getMessage) }
    assert(before >= 2 && before < chunks,
      s"kill did not land mid-stream ($before of $chunks batches committed)")
    val normal = StreamingState.rateLimitEmissionsTwsSwept(spark, sfDir, perDay = 5)
    assert(normal.count() > 0)
    assert(restarted.exceptAll(normal).isEmpty && normal.exceptAll(restarted).isEmpty,
      "post-restart admission stream diverged from the uninterrupted run")
  }

  test("transformWithState trending leaderboard equals the flatMapGroupsWithState form row-for-row") {
    // MapState-per-type vs encoder-blob map: same counts, same top-k, same
    // emission ordinals — the state API must be invisible in the output
    val fmgws = StreamingState.trendingSnapshot(spark, sfDir)
    val tws = StreamingState.trendingSnapshotTws(spark, sfDir)
    assert(fmgws.count() > 0)
    assert(tws.exceptAll(fmgws).isEmpty && fmgws.exceptAll(tws).isEmpty)
  }

  test("mid-flight kill + restart recovers the trending MapState counts AND the incremental top-k board exactly") {
    // the recovery seam for the REGISTERED trending primary: its state is a
    // MapState counts column family + a topk ValueState (the incrementally
    // exact board) + an ordinal ValueState. The board invariant (new top-k
    // ⊆ previous board ∪ touched) assumes the previous board RESTORES — a
    // checkpoint that recovered counts but lost topk would silently drop an
    // untouched board member from every post-restart emission while every
    // count stays right. Final boards are chunk-count-invariant (board =
    // exact top-k of final counts), so the 8-chunk killed-and-restarted run
    // must equal the normal 4-chunk run row-for-row.
    // the mid-stream kill is structural (re-staged wider on a race); only
    // the environmental slow-machine timeout cancels.
    val (restarted, before, chunks) =
      try StreamingState.trendingTwsRestarted(spark, sfDir)
      catch { case e: StreamingState.KillRestartTimeout => cancel(e.getMessage) }
    assert(before >= 2 && before < chunks,
      s"kill did not land mid-stream ($before of $chunks batches committed)")
    val normal = StreamingState.trendingSnapshotTws(spark, sfDir)
    assert(normal.count() > 0)
    assert(restarted.exceptAll(normal).isEmpty && normal.exceptAll(restarted).isEmpty,
      "post-restart final leaderboard diverged from the never-killed run")
  }

  test("restore-then-continue equals the full-history batch aggregate") {
    // the S6 contract: bootstrapping state from the materialized first-half
    // aggregate and streaming the second half must be invisible — the
    // restored instance serves exactly the answers a never-restarted one does
    val restored = StreamingState.restoredSnapshot(spark, sfDir)
    assert(restored.count() == batchAgg.count())
    assert(restored.exceptAll(batchAgg).isEmpty && batchAgg.exceptAll(restored).isEmpty)
  }

  test("mid-flight kill + restart on the same checkpoint: no lost or duplicated epochs, snapshot identical") {
    // the reference's failover contract (InteractiveQueriesIntegrationTest
    // .java:100-158): kill an instance mid-stream, restart, same answers.
    // killAndRestartRun stop()s the continuous query once >= 2 batches have
    // committed (the interrupt may land mid-batch) and restarts the same
    // query on the same checkpoint to completion.
    // the mid-stream kill is structural: runKillRestart re-stages with a
    // doubled chunk count whenever stop() races past end-of-stream, so the
    // contract is asserted, never assumed. Only the environmental
    // slow-machine timeout cancels (a flake, not a recovery failure).
    val (dir, before, chunks) =
      try StreamingState.killAndRestartRun(spark, sfDir)
      catch { case e: StreamingState.KillRestartTimeout => cancel(e.getMessage) }
    assert(before >= 2 && before < chunks,
      s"kill did not land mid-stream ($before of $chunks batches committed)")
    val log = spark.read.parquet(dir).drop("p_batch")
    // every epoch exactly once: batch ids are 0..chunks-1 with no gaps, and
    // within an epoch a key is emitted at most once (a replayed batch that
    // appended instead of overwriting would duplicate here)
    val ids = log.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L until chunks.toLong),
      s"changelog epochs after restart: ${ids.mkString(",")}")
    val dupInBatch = log.groupBy("batch_id", "key").count()
      .filter(col("count") > 1).count()
    assert(dupInBatch == 0, "a recovered epoch emitted a key twice")
    // the restored instance serves exactly the never-killed answers
    val snap = graft.sources.Serdes.decodeAggregation(
      log.groupBy(col("key"))
        .agg(max_by(col("value"), col("batch_id")).as("value")))
    assert(snap.count() == batchAgg.count())
    assert(snap.except(batchAgg).isEmpty && batchAgg.except(snap).isEmpty,
      "post-restart snapshot diverged from the never-killed aggregate")
  }

  test("updates are cumulative state values, strictly growing per key") {
    // Decode every update with its batch id; per-event share counts are >= 1,
    // so a key's number_shares must strictly increase across the batches that
    // emit it — updates are cumulative state, not per-batch deltas.
    import org.apache.spark.sql.expressions.Window
    val decoded = changelog.select(
      col("batch_id"),
      from_json(col("value"), graft.sources.Serdes.aggregationWireSchema).as("a"))
      .select(col("batch_id"), col("a.symbol").as("key"), col("a.numberShares").as("shares"))
    val w = Window.partitionBy("key").orderBy("batch_id")
    val violations = decoded.withColumn("prev", lag("shares", 1).over(w))
      .filter(col("prev").isNotNull && col("shares") <= col("prev")).count()
    assert(violations == 0)
  }
}
