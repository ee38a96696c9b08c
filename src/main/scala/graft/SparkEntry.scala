package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Serdes
import graft.state.{ArtifactStore, MaterializedState}
import graft.streaming.StreamingState

/** Driver contract — every operator from SURVEY.md §2 (plus the
  * beyond-reference training-data ops) registered as a named query with a
  * DuckDB oracle twin where SQL-expressible.
  */
object SparkEntry {

  private def txns(s: SparkSession, dir: String): DataFrame = Tables.transactions(s, dir)
  private def agg(s: SparkSession, dir: String): DataFrame = StockAggregation.aggregate(txns(s, dir))

  /** The IQ serving table: the aggregate snapshot materialized once
    * (range-partitioned + sorted by symbol), NOT a per-query recompute — the
    * reference's store-then-query split (KafkaStreamsService.java:84-90). The
    * oracles keep recomputing from raw events, so the snapshot itself is
    * verified on every query.
    */
  private def state(s: SparkSession, dir: String): DataFrame = MaterializedState.read(s, dir)

  private def txnsTs(s: SparkSession, dir: String): DataFrame =
    Tables.transactionsWithTs(s, dir)

  // Trained model artifacts: each is ArtifactStore.memo'd on the table it is
  // trained from, so it is trained once per table version and loaded by
  // every later JVM. Artifact names embed the training parameters, so a
  // knob change trains fresh. Helpers below serve three or more queries.

  private def embT(dir: String): String = s"$dir/embeddings.parquet"
  private def docT(dir: String): String = s"$dir/documents.parquet"

  /** The 16-cell IVF index (centroids, per-cell angular radii, per-query
    * seed floors) and the |q|-row query-vector probe set every similarity
    * audit shares.
    */
  private def cents(dir: String, emb: DataFrame): Array[Array[Float]] =
    ArtifactStore.memo(emb.sparkSession, embT(dir), "ivf_centroids_k16_i5")(
      Similarity.trainIvfCentroids(emb))

  private def radii(dir: String, emb: DataFrame): Map[Int, Double] =
    ArtifactStore.memo(emb.sparkSession, embT(dir), "ivf_radii_k16_i5")(
      Similarity.trainCellRadii(emb, cents(dir, emb)))

  private def seeds(
      dir: String, emb: DataFrame, qids: Seq[Long], k: Int): Map[Long, Double] =
    ArtifactStore.memo(emb.sparkSession, embT(dir), s"ivf_seeds_q${qids.mkString("-")}_k$k")(
      Similarity.trainSeedFloors(emb, qids, k, cents(dir, emb)))

  private def qvecs(
      dir: String, emb: DataFrame, qids: Seq[Long]): Seq[(Long, Array[Float])] =
    ArtifactStore.memo(emb.sparkSession, embT(dir), s"query_vecs_q${qids.mkString("-")}")(
      Similarity.collectQueryVecs(emb, qids))

  /** Deterministic Lloyd k-means centroids (3 iterations), shared by the
    * clustering, profile, sample and SemDeDup-family queries.
    */
  private def kcents(dir: String, emb: DataFrame, k: Int = 8): Array[Array[Double]] =
    ArtifactStore.memo(emb.sparkSession, embT(dir), s"kmeans_centroids_k${k}_i3")(
      Similarity.trainKmeans(emb, k = k, iters = 3))

  /** Corpus row count, so size-adaptive index knobs don't re-count per query. */
  private def embCount(dir: String, emb: DataFrame): Long =
    ArtifactStore.memo(emb.sparkSession, embT(dir), "row_count")(emb.count())

  /** SemDeDup cluster count: k = max(8, ⌈N/250⌉) — the Abbas-et-al. regime
    * (k grows ∝ N so the target cell size, hence the per-cell quadratic
    * term of the within-cluster pair search, is a CONSTANT; the paper runs
    * tens of thousands of clusters at web scale for exactly this reason).
    * ≤ 2000 vectors ⇒ k = 8, so the DuckDB oracle's static kmeansCtes(8,3)
    * replay stays exact at every gate sf (sf0.01 = 500, sf0.1 = 2000).
    */
  private[graft] def semdedupK(n: Long): Int =
    math.max(8, math.ceil(n / 250.0).toInt)

  /** Fails LOUDLY when a data-dependent engine knob diverges from the
    * constant its DuckDB oracle hardcodes. The semdedup-family oracles
    * (q_pipeline_semdedup, q_similarity_knn_bounded, q_similarity_dedup)
    * replay `kmeansCtes(8, 3)`, which equals the engine's clustering only
    * while semdedupK(N) == 8 (N ≤ 2000 — true at every gate sf). Verify
    * calls this before dumping oracles so a larger gate corpus aborts the
    * gate with a named cause instead of silently replaying a different
    * clustering (ADVICE r10).
    */
  def assertOracleCoupling(s: SparkSession, dir: String): Unit = {
    val k = semdedupK(embCount(dir, Tables.embeddings(s, dir)))
    require(k == 8,
      s"oracle/engine divergence: semdedupK(embeddings @ $dir) = $k but the " +
        "semdedup-family DuckDB oracles hardcode kmeansCtes(8, 3); regenerate " +
        "the oracle SQL for this corpus size or gate at a corpus with N <= 2000")
  }

  /** Trained language profiles (top-50 trigrams per language). */
  private def profs(dir: String, docs: DataFrame): Seq[(String, Seq[String])] =
    ArtifactStore.memo(docs.sparkSession, docT(dir), "lang_profiles_top50")(
      TextAnalysis.trainLanguageProfiles(docs))

  /** Trained BPE model (merge table + type→tokens memo). */
  private val BpeMerges = 24
  private def bpeModel(dir: String, docs: DataFrame): Bpe.Model =
    ArtifactStore.memo(docs.sparkSession, docT(dir), s"bpe_model_m${BpeMerges}_cap100000")(
      Bpe.train(docs, "text", numMerges = BpeMerges))

  /** Near-dup survivor labels over the whole corpus — the label-propagation
    * output, materialized via localCheckpoint, so it belongs to its session.
    */
  private def textLabels(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.sessionMemo(s, docT(dir), "near_dedup_labels_n3_t0.7") {
      val docs = Tables.documents(s, dir)
      Dedup.nearDedupLabels(docs, Dedup.nearDuplicatePairs(docs, n = 3, threshold = 0.7))
    }

  private def windowedAgg(s: SparkSession, dir: String): DataFrame = {
    val w = StockAggregation.aggregateWindowed(txnsTs(s, dir), "1 hour")
    w.select(
      unix_timestamp(col("window_start")).as("window_start_s"),
      col("symbol"), col("buys"), col("sells"), col("number_shares")
    )
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Exercises the
    * whole core path: events→txn mapping, aggregation, range bounds, and the
    * JSONPath-predicate compiler.
    */
  def entry(spark: SparkSession): DataFrame =
    InteractiveQueries.filteredRangeQuery(
      agg(spark, "/root/testdata/sf0.001"),
      lower = Some("U000000"), upper = Some("U000099"),
      predicate = "@.buys > @.sells || @.sells > @.buys"
    )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A1/A2: the maintained aggregation (KafkaStreamsService.java:62-90)
    "q_aggregate" -> ((s, dir) => agg(s, dir)),
    // ---- A2 skew path: salted two-stage aggregate — exactly equal by
    //      decimal associativity, shuffle-safe under a dominant hot key
    "q_aggregate_salted" -> ((s, dir) => StockAggregation.aggregateSalted(txns(s, dir))),
    // ---- A2 typed twin: Dataset[StockTransaction] + Aggregator[IN,BUF,OUT]
    //      (SURVEY §7.2 step 6) — exact-decimal buffer, bit-identical result
    "q_aggregate_typed" -> ((s, dir) => StockAggregation.aggregateTyped(txns(s, dir))),
    // ---- Q1: KeyQuery point lookup (StockController.java:186-206)
    "q_key_query" -> ((s, dir) => InteractiveQueries.keyQuery(state(s, dir), "U000007")),
    // ---- Q2: MultiKeyQuery (query/MultiKeyQuery.java:9-51)
    "q_multi_key" -> ((s, dir) =>
      InteractiveQueries.multiKeyQuery(state(s, dir), Seq("U000003", "U000007", "U000011"))),
    // ---- Q2 at scale: key set too large for an IN-list literal → broadcast
    //      left-semi join (the 100TB path; keys = 500 even-numbered symbols)
    "q_multi_key_large" -> ((s, dir) => {
      val keys = s.range(0, 1000, 2).select(
        concat(lit("U"), lpad(col("id").cast("string"), 6, "0")).as("symbol"))
      InteractiveQueries.multiKeyQueryLarge(state(s, dir), keys)
    }),
    // ---- Q3: RangeQuery, all 4 bound modes (query/QueryUtils.java:15-29)
    "q_range_both" -> ((s, dir) =>
      InteractiveQueries.rangeQuery(state(s, dir), Some("U000004"), Some("U000009"))),
    "q_range_lower" -> ((s, dir) =>
      InteractiveQueries.rangeQuery(state(s, dir), Some("U000010"), None)),
    "q_range_upper" -> ((s, dir) =>
      InteractiveQueries.rangeQuery(state(s, dir), None, Some("U000005"))),
    "q_range_unbounded" -> ((s, dir) =>
      InteractiveQueries.rangeQuery(state(s, dir), None, None)),
    // ---- Q4: FilteredRangeQuery = range + JSONPath predicate
    //      (query/FilteredRangeQuery.java:8-70, store/CustomQueryStore.java:68-97)
    "q_filtered_range" -> ((s, dir) =>
      InteractiveQueries.filteredRangeQuery(
        state(s, dir), Some("U000000"), Some("U000099"), "@.buys > @.sells")),
    "q_filtered_range_mixed" -> ((s, dir) =>
      InteractiveQueries.filteredRangeQuery(
        state(s, dir), None, None,
        "@.sells >= @.buys && @.number_shares > 1000 || @.symbol == 'U000007'")),
    // ---- S2/S3: serde round-trip parity (SerdeUtil.java:97-167) — encode
    //      every txn to JSON, decode back, aggregate; must equal q_aggregate.
    "q_serde_roundtrip" -> ((s, dir) =>
      StockAggregation.aggregate(Serdes.roundTripTransactions(txns(s, dir)))),
    // ---- S3/S4: changelog encode→decode round-trip of the AGGREGATE (the
    //      reference's stored value, SerdeUtil.java:97-133) — must equal
    //      q_aggregate.
    "q_changelog_roundtrip" -> ((s, dir) =>
      Serdes.decodeAggregation(Serdes.encodeAggregation(agg(s, dir)))),
    // ---- Q5: windowed aggregate + FilteredWindowRangeQuery
    //      (query/FilteredWindowRangeQuery.java:11-74 — declared, never wired)
    "q_window_agg" -> ((s, dir) => windowedAgg(s, dir)),
    // hopping (overlapping) windows: 2h windows every 1h — each event lands
    // in exactly two windows; same one-shuffle hash-aggregate plan
    "q_window_hopping" -> ((s, dir) =>
      StockAggregation.aggregateHopping(txnsTs(s, dir), "2 hours", "1 hour")
        .select(
          unix_timestamp(col("window_start")).as("window_start_s"),
          col("symbol"), col("buys"), col("sells"), col("number_shares"))),
    "q_window_range" -> ((s, dir) =>
      InteractiveQueries.filteredWindowRangeQuery(
        StockAggregation.aggregateWindowed(txnsTs(s, dir), "1 hour"),
        from = Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704153600L))),
        to = Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704240000L))),
        predicate = Some("@.buys > @.sells"))
        .select(
          unix_timestamp(col("window_start")).as("window_start_s"),
          col("symbol"), col("buys"), col("sells"), col("number_shares"))),
    // ---- S2/S3 binary framing: ValueAndTimestamp serde round trip
    //      (SerdeUtil.java:53-95 — 8-byte BE timestamp ‖ JSON bytes);
    //      aggregate of the decoded stream + per-key max decoded timestamp
    //      must match raw recompute.
    "q_serde_vat_roundtrip" -> ((s, dir) => {
      val t = txnsTs(s, dir)
      val encoded = t.select(Serdes.encodeValueAndTimestamp(
        unix_millis(col("ts")), Serdes.encodeTransaction).as("bin"))
      val (tsMs, json) = Serdes.decodeValueAndTimestamp(col("bin"))
      val decoded = encoded
        .select(tsMs.as("ts_ms"), Serdes.decodeTransaction(json).as("t"))
        .select(col("ts_ms"), col("t.symbol").as("symbol"), col("t.buy").as("buy"),
          col("t.amount").as("amount"), col("t.numberShares").as("number_shares"))
      // fused: agg + per-key max(ts) in ONE hash aggregate — the unfused
      // aggregate ⋈ groupBy-max form decoded the whole stream twice
      StockAggregation.aggregateWithMaxTs(decoded)
    }),
    // ---- S5 serving-layer co-location: aggregate snapshot ⋈ per-symbol
    //      latest-ts, both bucketed by symbol — the join plans with NO
    //      exchange on either side (asserted in MaterializedStateSpec)
    "q_join_bucketed" -> ((s, dir) => MaterializedState.bucketedJoin(s, dir)),
    // ---- S4/A2 per-record semantics: the changelog as the reference's
    //      cache=0 config emits it — one cumulative update per input record
    //      (KafkaStreamsAppConfiguration.java:92) — as a running window agg.
    "q_changelog_per_record" -> ((s, dir) =>
      StockAggregation.perRecordChangelog(Tables.transactionsWithId(s, dir))),
    // ---- S1/S4/S5: the streaming twin (KafkaStreamsService.java:76-96) —
    //      file-stream replay → update-mode stateful agg (RocksDB state) →
    //      foreachBatch changelog sink; snapshot = latest value per key.
    "q_streaming_snapshot" -> ((s, dir) => StreamingState.snapshot(s, dir)),
    // S6 restore + continue: StatefulProcessorWithInitialState bootstraps
    // per-key state from the materialized first-half aggregate, streams the
    // second half, overlays — must equal the full-history aggregate (the
    // restored-instance-serves-the-same-answers contract)
    "q_streaming_restore" -> ((s, dir) => StreamingState.restoredSnapshot(s, dir)),
    // ---- S4: per-batch update-mode emission is real — a key's update count
    //      equals the number of distinct chunks (micro-batches) containing it.
    "q_streaming_changelog_counts" -> ((s, dir) => StreamingState.changelogCounts(s, dir)),
    // ---- S5 literal: read the live streaming state store itself (Spark's
    //      statestore data source over the checkpoint — the exact analogue of
    //      StateQueryRequest.inStore, StockController.java:265-270).
    "q_statestore_query" -> ((s, dir) => StreamingState.stateStoreSnapshot(s, dir)),
    // ---- S5+Q1/Q4: the IQ functions run UNCHANGED against the streaming
    //      snapshot — the reference's "query the live store" path.
    "q_streaming_key_query" -> ((s, dir) =>
      InteractiveQueries.keyQuery(StreamingState.snapshot(s, dir), "U000007")),
    "q_streaming_filtered_range" -> ((s, dir) =>
      InteractiveQueries.filteredRangeQuery(
        StreamingState.snapshot(s, dir), Some("U000000"), Some("U000099"), "@.buys > @.sells")),
    // ---- Streaming exact dedup: first-seen-per-key state over the replay
    "q_streaming_dedup_keys" -> ((s, dir) => StreamingState.streamingDedupKeys(s, dir)),
    // ---- BOUNDED-state streaming dedup: dropDuplicatesWithinWatermark —
    //      state evicted once the watermark passes a key's event time +
    //      delay; evicted keys re-emit (one row per emission). The oracle
    //      replays the engine's millisecond watermark recursion in SQL.
    "q_streaming_dedup_bounded" -> ((s, dir) =>
      StreamingState.streamingDedupBounded(s, dir)),
    // ---- S4/A2 per-record semantics IN STREAMING: flatMapGroupsWithState
    //      custom keyed state emits one cumulative update per input record —
    //      the reference's cache=0 changelog, same oracle as the batch form.
    "q_streaming_per_record" -> ((s, dir) => StreamingState.perRecordChangelog(s, dir)),
    // ---- Watermarked event-time windowed streaming agg: bounded state via
    //      withWatermark; time-ordered replay makes it lossless, so the final
    //      snapshot equals the batch windowed aggregate exactly.
    "q_streaming_window_agg" -> ((s, dir) => StreamingState.windowedSnapshot(s, dir)),
    // ---- Beyond-reference (north star): dedup over `documents` -----------
    // exact dedup: hash-groupBy on content hash, deterministic survivor
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    // order-insensitive bag-fingerprint dedup: the shuffled-template groups
    // exact content hashing misses (21 groups at sf0.01 where exact finds 0)
    "q_dedup_bag" -> ((s, dir) => Dedup.bagDuplicateGroups(Tables.documents(s, dir))),
    // near-dup: MinHash LSH candidates + exact 3-gram Jaccard re-check;
    // output is exactly the pairs with jaccard >= 0.7 (oracle: brute force)
    "q_dedup_near" -> ((s, dir) =>
      Dedup.nearDuplicatePairs(Tables.documents(s, dir), n = 3, threshold = 0.7)),
    // LSH banding calibration: measured band-collision rate vs the analytic
    // 1-(1-j^r)^b S-curve per exact-Jaccard decile, over a linear-size pair
    // sample (offset grid + map-side prefix truncations) — the tuning audit
    // behind the (bands, rows) choice in q_dedup_near, on the portable
    // seed-prefixed md5 hash family so the oracle replays signatures exactly
    "q_dedup_lsh_curve" -> ((s, dir) =>
      Dedup.lshCalibration(Tables.documents(s, dir))),
    // directional (truncated-copy) containment — the axis Jaccard banding
    // misses; PPJoin-style rarest-prefix candidates + exact re-check
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), n = 3, threshold = 0.6)),
    // the SCALE-SAFE containment surface (r14 verdict): near-dup dedup
    // FIRST (shared labels cache with q_dedup_survivors), then directional
    // containment over canonical rows only — duplicate groups collapse to
    // one representative before any pair is listed, so true-pair output is
    // bounded by the SURVIVOR corpus, not by duplicate-group-size². This
    // registers the exact pipeline measured (BENCH_r15_containment_guarded.jsonl) on the
    // substrate where the unguarded plan hit the sf10-replica disk wall
    // (4.6 s vs 69 GB spill). Deploy-scale callers wanting containment on
    // an uncurated corpus should reach for THIS name.
    "q_dedup_containment_guarded" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.containmentPairs(Dedup.survivorsOf(docs, textLabels(s, dir)), n = 3, threshold = 0.6)
    }),
    // near-dup survivor selection: connected components of the pair graph by
    // min-label propagation; canonical_id == doc_id picks the kept row
    "q_dedup_survivors" -> ((s, dir) => textLabels(s, dir)),
    // simhash near-dup: banded fingerprint join (pigeonhole-complete recall)
    // over md5-derived 60-bit portable fingerprints — the oracle replays the
    // whole vote/band/hamming pipeline in SQL
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDuplicatesPortable(Tables.documents(s, dir), maxHamming = 3)),
    // span-level exact dedup: verbatim 8-word windows repeated across docs —
    // portable rolling-window md5 fingerprints + one hash-aggregate, the
    // distributed stand-in for a corpus suffix array
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), w = 8)),
    // storage-style fixed-size chunk dedup: 64-codepoint blocks recurring
    // across distinct docs — the content-addressed-store redundancy audit
    "q_dedup_chunks" -> ((s, dir) =>
      Dedup.chunkDedup(Tables.documents(s, dir), chunkChars = 64)),
    // per-doc duplicated-span coverage: the curation signal — what fraction
    // of each document is verbatim-repeated elsewhere in the corpus
    "q_dedup_span_coverage" -> ((s, dir) =>
      Dedup.spanCoverage(Tables.documents(s, dir), w = 8)),
    // incremental span coverage: incoming (odd) docs scored against the
    // existing (even) corpus's distinct window hashes, cross-side only
    "q_dedup_spans_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalSpanCoverage(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), w = 8)
    }),
    // cross-source span-overlap matrix: shared distinct w-window hashes +
    // Jaccard per source pair — the mirror/scrape provenance signal (exact
    // content hashes find NOTHING cross-source in this corpus; spans do)
    "q_dedup_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(Tables.documents(s, dir), w = 8)),
    // ---- Beyond-reference: similarity search over `embeddings` -----------
    // exact cosine top-k for a small query set, served by the IVF-pruned
    // equi-join path (identical output to the brute-force baseline — the
    // triangle-inequality candidate set is a proven superset of the true
    // top-k; oracle: brute-force SQL)
    "q_similarity_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      Similarity.ivfExactTopK(emb, k = 10, cents(dir, emb), radii(dir, emb),
        seeds(dir, emb, qids, 10), qvecs(dir, emb, qids))
    }),
    // embedding-space dedup survivors: connected-components min-label
    // propagation (same as q_dedup_survivors) over WITHIN-CELL ε-pairs
    // (k-means cells, k ∝ N/250), so candidate generation is Σ_c m_c² ≈
    // N·250 and assignment ~2√k per row — linear end to end (a global
    // exact pair search measured superlinear on any geometry, 9.7×/decade
    // at constant duplicate density; SCALING.md). Semantics trade, stated:
    // near-dup groups straddling a cell boundary are split (the SemDeDup
    // trade); the oracle replays the clustering AND the closure over the
    // cell-restricted pair graph
    "q_similarity_dedup" -> ((s, dir) =>
      ArtifactStore.sessionMemo(s, embT(dir), "semdedup_labels_t0.45") {
        val emb = Tables.embeddings(s, dir)
        val k = semdedupK(embCount(dir, emb))
        // cells computed map-side from the trained centroid matrix
        Dedup.nearDedupLabels(
          emb.select(col("vec_id")),
          Similarity.cosinePairsWithinCells(emb, kcents(dir, emb, k),
              threshold = 0.45)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
          idCol = "vec_id")
      }),
    // ANN recall AUDIT (error-as-data, like the sketch audits): LSH-bucketed
    // candidates + exact re-rank, recall measured against the exact top-k
    // (served by the pruned path — no cartesian) — emits the SQL-checkable
    // verdict that recall beats random candidate selection; raw ANN results
    // remain Similarity.annTopK, recall pinned in SimilaritySpec
    "q_similarity_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      val annScored = Similarity.annScored(emb, qids)
      Similarity.recallAudit(
        Similarity.ivfExactTopK(emb, k = 10, cents(dir, emb), radii(dir, emb),
          seeds(dir, emb, qids, 10), qvecs(dir, emb, qids)),
        Similarity.topKPerQuery(annScored, 10),
        annScored, emb, qids, k = 10)
    }),
    // IVF ANN recall audit: k-means cells (trained once per corpus, cached
    // like the lang profiles) + nprobe cell probing + exact re-rank — the
    // data-adaptive scale path next to the data-oblivious LSH
    "q_similarity_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      val c = cents(dir, emb)
      // approx top-k and candidate count derive from ONE scored frame — the
      // identical subtrees let AQE reuse the exchange instead of re-scoring
      val scored = Similarity.ivfScored(emb, qids, c)
      Similarity.recallAudit(
        Similarity.ivfExactTopK(emb, k = 10, c, radii(dir, emb),
          seeds(dir, emb, qids, 10), qvecs(dir, emb, qids)),
        Similarity.topKPerQuery(scored, 10),
        scored, emb, qids, k = 10)
    }),
    // product quantization: per-subspace Lloyd codebooks (m=4 × k=16 over
    // 16-dim slices) — the compressed index a 100 TB serving tier stores (4
    // code bytes + one norm instead of 256 float bytes per vector); output
    // is every vector's codes plus its reconstruction distortion, and the
    // oracle RE-TRAINS all four codebooks in SQL and must reproduce every
    // code and the 6-dp distortion
    "q_embed_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqEncode(emb, ArtifactStore.memo(s, embT(dir), "pq_codebooks_m4_k16_i2")(
        Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)))
    }),
    // PQ ANN recall audit: ADC shortlist (per-query code-table lookups over
    // exact stored norms — the scan never touches the float vectors) →
    // exact re-rank of the shortlist only → recall vs the pruned-exact
    // top-k, same verdict contract as the LSH/IVF audits
    "q_similarity_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qids = Seq(0L, 1L, 2L, 3L, 4L)
      // the shortlist feeds BOTH the exact re-rank (broadcast build) and the
      // audit's candidate branch; checkpointing the ≤|q|·l-row result runs
      // the PQ scoring scan once per invocation instead of once per consumer
      val books = ArtifactStore.memo(s, embT(dir), "pq_codebooks_m4_k16_i2")(
        Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2))
      val shortlist = Similarity.pqShortlist(emb, qids, books, qvecs(dir, emb, qids), l = 50)
        .localCheckpoint()
      Similarity.recallAudit(
        Similarity.ivfExactTopK(emb, k = 10, cents(dir, emb), radii(dir, emb),
          seeds(dir, emb, qids, 10), qvecs(dir, emb, qids)),
        Similarity.rerankExact(emb, shortlist, qids, k = 10),
        shortlist, emb, qids, k = 10)
    }),
    // cluster-bounded self-KNN (the kNN-graph primitive, REGISTERED in its
    // linear form): top-5 neighbors within each vector's k-means cell, the
    // cluster count scaled ∝ N/250 like SemDeDup's. An UNBOUNDED exact
    // self-KNN measured superlinear in the salted decades (r9: 17.2×/decade
    // capped, r10: 21×/decade uncapped at √N cells; 7.2×/decade even on a
    // clustered corpus, whose geometry fixes the cluster count so clusters
    // grow ∝ N; SCALING.md) — bounding the candidate set IS the operator a
    // 100 TB kNN-graph build runs. Oracle: k-means replay + within-cell
    // brute force.
    "q_similarity_knn_bounded" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val k = semdedupK(embCount(dir, emb))
      // cells map-side from the trained centroid matrix; the unordered
      // pair is scored once and mirrored (see knnJoinWithinCells)
      Similarity.knnJoinWithinCells(emb, kcents(dir, emb, k), k = 5)
    }),
    // ---- Beyond-reference: text analysis over `documents` ----------------
    "q_text_stats" -> ((s, dir) => TextAnalysis.textStats(Tables.documents(s, dir))),
    // term-rarity: the hot-key (stopword-skewed) term join — broadcast at
    // test scale, AQE skew-split when shuffled (JoinSkewSpec)
    "q_text_rarity_join" -> ((s, dir) => TextAnalysis.termRarity(Tables.documents(s, dir))),
    // ranked retrieval: top-20 docs for a 3-term query, rarity-weighted
    // (no-ln tf·N/df), deterministic (score desc, doc_id) tiebreak
    "q_text_retrieval" -> ((s, dir) =>
      TextAnalysis.retrieve(Tables.documents(s, dir),
        Seq("window", "hash", "merge"), k = 20)),
    // "more like this": per seed DOCUMENT, top-10 corpus docs by tf·idf
    // cosine (query-by-document retrieval) — seed vectors broadcast against
    // the posting list, candidates linear in the corpus, bounded-heap top-k
    "q_text_mlt" -> ((s, dir) =>
      TextAnalysis.moreLikeThis(Tables.documents(s, dir),
        seedIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),
    // per-doc TF-IDF keyword extraction: top-3 salient terms per document
    // (smoothed idf, round-before-rank, term-asc ties) — tf and the df
    // dictionary from one exploded aggregate, un-broadcast dictionary join,
    // bounded per-doc heaps
    "q_text_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(Tables.documents(s, dir), k = 3)),
    // fixed-window token chunking with overlap (training-sequence prep):
    // pure map-side row expansion, no shuffle
    "q_text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), window = 32, overlap = 8)),
    // top-k collocations by log-free PMI lift (engine-portable arithmetic)
    "q_text_collocations" -> ((s, dir) =>
      TextAnalysis.topCollocations(Tables.documents(s, dir), k = 20, minCount = 5)),
    // bounded-postings inverted index: one hash aggregate, O(maxPostings)
    // state per term via the size-capped row heap
    "q_text_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir), maxPostings = 1000)),
    "q_text_top_terms" -> ((s, dir) => TextAnalysis.topTerms(Tables.documents(s, dir), k = 20)),
    // grouped top-k via the bounded per-key heaps (Ranking.topKPerKey)
    "q_text_terms_by_source" -> ((s, dir) =>
      TextAnalysis.topTermsBySource(Tables.documents(s, dir), k = 5)),
    // per-source token-count distribution (corpus-quality profile): exact
    // interpolated quantiles so the whole thing is oracle-checkable
    "q_text_token_dist" -> ((s, dir) => TextAnalysis.tokenDistribution(Tables.documents(s, dir))),
    // per-source length-decile profile: ntile window + one hash aggregate
    "q_text_deciles" -> ((s, dir) =>
      TextAnalysis.lengthDeciles(Tables.documents(s, dir), n = 10)),
    // the percentile → approx_percentile swap, pinned as an error-as-data
    // audit: GK-sketch rank guarantee verified against exact ranks, verdicts
    // oracle-checked (the CMS/KMV move)
    "q_text_token_dist_approx" -> ((s, dir) =>
      TextAnalysis.approxPercentileAudit(Tables.documents(s, dir))),
    // language-ID: the trained profiles are plain trigram STRINGS, so the
    // whole train+score pipeline has a DuckDB twin (the oracle retrains the
    // profiles in SQL and must pick the same languages).
    "q_text_langid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.languageId(docs, profs(dir, docs))
    }),
    "q_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintsPortable(Tables.documents(s, dir))),
    // ---- the composed curation pipeline: near-dup canonical filter (which
    //      subsumes exact dedup) → language-ID → quality filter → per-language
    //      accounting. Reuses the cached label/profile artifacts; the whole
    //      composition is oracle-checked end-to-end.
    "q_pipeline_curation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = textLabels(s, dir)
      val profiles = profs(dir, docs)
      Curation.curatedLanguageProfile(docs, labels, profiles)
    }),
    // the FULL gate composition: near-dup canonical → quality rules →
    // repetition rules → language-ID → accounting, oracle-checked end-to-end
    "q_pipeline_curation_full" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = textLabels(s, dir)
      val profiles = profs(dir, docs)
      Curation.fullCurationProfile(docs, labels, profiles)
    }),
    // the TRAINING-READY materialization: dedup survivors → decontaminate
    // (anti-join) → temperature mixture sample → per-source accounting;
    // labels computed on the TRAINING slice (benchmark slice excluded)
    "q_pipeline_training_ready" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val labels = ArtifactStore.sessionMemo(s, docT(dir), "near_dedup_labels_n3_t0.7_clean") {
        Dedup.nearDedupLabels(corpus, Dedup.nearDuplicatePairs(corpus, n = 3, threshold = 0.7))
      }
      Curation.trainingReadyCounts(corpus, bench, labels)
    }),
    // ---- Beyond-reference: multimodal binary columns ---------------------
    // typed metadata over opaque binary payloads (oracle-checkable)
    "q_multimodal_meta" -> ((s, dir) => Multimodal.metadata(Tables.documents(s, dir))),
    // frame slicing + per-frame features over codepoint frames with md5
    // features — oracle replays the framing exactly; the byte-frame/xxhash64
    // native variant stays pinned in MultimodalSpec
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.frameFeaturesPortable(Tables.documents(s, dir))),
    // the mapPartitions decode seam with the stub codec. Registered output is
    // the scalar projection (the raw per-frame feature array is not a stable
    // driver-comparable column); n_frames comes from the DECODER's actual
    // output, the oracle recomputes it from text length — so the seam's
    // row/metadata preservation is hash-verified while the feature values
    // stay pinned by MultimodalSpec.
    "q_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeWithStub(Tables.documents(s, dir)).toDF()
        .select(col("docId").as("doc_id"), col("mime"),
          col("nFrames").as("n_frames"))),
    // resize through the decoder seam: size accounting is oracle-checked
    // (the stub honors ceil(len/factor)); content pinned in MultimodalSpec
    "q_multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeWithStub(Tables.documents(s, dir), factor = 4).toDF()
        .select(col("docId").as("doc_id"), col("mime"),
          col("byteLen").as("byte_len"), col("byteLenResized").as("byte_len_resized"))),
    // ---- Beyond-reference: quality gate, sampling, packing, quantization --
    // Gopher-style rule columns + keep decision — pure map-side projection
    "q_text_quality" -> ((s, dir) => Quality.qualityRules(Tables.documents(s, dir))),
    // corpus-relative gate: keep iff n_tokens reaches the source's p25 —
    // one tiny per-source quantile aggregate broadcast-joined back
    "q_quality_percentile_gate" -> ((s, dir) =>
      Quality.percentileGate(Tables.documents(s, dir))),
    // deterministic Bernoulli sample (~10%) by md5 hex-prefix order — the
    // sample is reproducible across runs, partitionings, and engines
    "q_sample_hash" -> ((s, dir) =>
      Sampling.hashSample(
        Tables.documents(s, dir).select("doc_id", "lang", "source"), "doc_id", "1999")),
    // temperature mixture sampling (alpha=0.5): sources rebalanced toward
    // sqrt-proportional shares, per-source hex thresholds, one-pass filter
    "q_sample_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(
        Tables.documents(s, dir).select("doc_id", "source"),
        "source", "doc_id", budgetFraction = 0.5)),
    // stratified quota sample: the 20 hash-smallest docs per source
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id", 20)),
    // the bounded-heap scale twin (Ranking.topKPerKey): identical rows, no
    // partition-wide sorts (O(quota)-memory heaps; same shuffle bound as the
    // WindowGroupLimit plan) — hash-checked against the SAME oracle
    "q_sample_stratified_bounded" -> ((s, dir) =>
      Sampling.stratifiedSampleBounded(
        Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id", 20)),
    // greedy token-budget sequence packing (per-shard prefix scan)
    "q_pack_greedy" -> ((s, dir) =>
      Packing.packGreedy(Tables.documents(s, dir), budget = 1024).toDF()),
    // per-bin fill accounting over the same packing
    "q_pack_bins" -> ((s, dir) =>
      Packing.binSummary(Packing.packGreedy(Tables.documents(s, dir), budget = 1024), 1024)),
    // the materialized training sequences: member texts concatenated in
    // doc_id order per (shard, bin)
    "q_pack_payloads" -> ((s, dir) =>
      Packing.packedPayloads(Tables.documents(s, dir), budget = 1024)),
    // length-bucketed batching audit: power-of-two bucket routing (floor 16,
    // cap 1024, truncation at the cap) + per-bucket padding-waste accounting
    // — one map projection, one hash aggregate on <=8 keys
    "q_pack_length_buckets" -> ((s, dir) =>
      Packing.lengthBuckets(Tables.documents(s, dir), cap = 1024)),
    // the trained BPE merge table itself — registered so the oracle checks
    // the full training trajectory (rank order, pair choices, counts) by
    // re-training the same merges in unrolled SQL iterations
    "q_text_bpe_vocab" -> ((s, dir) =>
      Bpe.mergeTable(s, bpeModel(dir, Tables.documents(s, dir)))),
    // subword encoding of every document: word stream → broadcast memo →
    // ordered token stream, fingerprinted (md5 of the space-joined tokens —
    // a bit-exact witness of the encoding, not just its length)
    "q_text_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encode(docs, "text", bpeModel(dir, docs))
    }),
    // greedy packing re-budgeted in MODEL tokens (the accounting training
    // actually runs on) — same shards/order/fold as q_pack_greedy, counts
    // from the subword tokenizer instead of whitespace words
    "q_pack_greedy_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Packing.packGreedyCounted(
        Bpe.tokenCounts(docs, "text", bpeModel(dir, docs)), budget = 2048).toDF()
    }),
    // tokenizer-efficiency audit: per-source chars-per-token and
    // tokens-per-word under the trained merge table (fertility/compression
    // tracking) — broadcast memo scoring + one bounded per-source aggregate
    "q_text_bpe_compression" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.compressionStats(docs, "text", bpeModel(dir, docs))
    }),
    // token-mass-weighted priority sample: top-100 of an integer-weight
    // exponential race (min-of-w salted md5 tickets — exactly
    // weight-proportional per draw, engine-portable string arithmetic)
    "q_sample_weighted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.weightedSample(
        docs.select(col("doc_id"),
          (lit(1) + floor(size(split(col("text"), " ")) / 256.0).cast("int"))
            .as("w")),
        "doc_id", "w", k = 100)
    }),
    // drift→mixture closed loop: rebalance snapshot v2 back to v1's source
    // mixture (the shares driftReport measured moving) — per-source hash
    // thresholds at the largest total servable without upsampling
    "q_sample_rebalance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n1 = snapV1(docs).groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val tot = n1.map(_._2).sum
      Sampling.rebalanceSample(
        snapV2(docs).select("doc_id", "source"), "source", "doc_id",
        n1.toSeq.sortBy(_._1).map { case (src, n) => (src, n.toDouble / tot) })
    }),
    // benchmark decontamination: corpus docs sharing any 3-gram shingle with
    // the benchmark slice (doc_id % 50 == 0), matched-shingle counts
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminated(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // contamination fraction per doc (left join keeps clean docs at 0)
    "q_decontaminate_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationScore(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // span-level decontamination: verbatim 4-word benchmark windows located
    // in corpus docs, with the longest contiguous matched run in tokens —
    // leak LOCALIZATION, not just a shingle count (benchmark = doc_id % 10)
    "q_decontaminate_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminatedSpans(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }),
    // the Bloom-prefiltered twin: identical output (exact re-check join
    // behind the map-side bloom_might_contain prune), same oracle
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedBloom(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
    }),
    // int8 max-abs quantization; registered output = portable scalar audit
    // columns (the int8 array content itself is pinned by SimilaritySpec)
    "q_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"))),
    // stream-static enrichment join through the streaming twin — same
    // relational content as q_join_bucketed, same oracle
    "q_streaming_enriched" -> ((s, dir) => StreamingState.enrichedSnapshot(s, dir)),
    // ---- Temporal joins (operators Spark lacks built-in, Spark-first) -----
    // as-of join: each txn enriched with the latest PUBLISHED hourly
    // aggregate (window end = publish time) at or before its timestamp —
    // merge-shape (one shuffle + sort), never a per-key cross product
    "q_asof_join" -> ((s, dir) => {
      val f = Tables.transactionsWithIdTs(s, dir)
        .select(col("event_id"), col("symbol"), unix_timestamp(col("ts")).as("ts_s"))
      val dims = windowedAgg(s, dir).select(
        col("symbol"),
        (col("window_start_s") + 3600L).as("publish_s"),
        (col("window_start_s") + 3600L).as("asof_pub_s"),
        col("number_shares").as("asof_shares"))
      TemporalJoins.asOfJoin(f, dims, "symbol", "ts_s", "publish_s")
    }),
    // bucketed interval range join: txns inside any global maintenance
    // window [day+2h, day+5h) — no equi key, still a hash join via the
    // manufactured bucket key (PlanAuditSpec enforces no nested loop)
    "q_range_join" -> ((s, dir) => {
      val f = Tables.transactionsWithIdTs(s, dir)
        .select(col("event_id"), col("symbol"), unix_timestamp(col("ts")).as("ts_s"))
      val iv = Tables.transactionsWithIdTs(s, dir)
        .select(unix_timestamp(date_trunc("day", col("ts"))).as("day_s")).distinct()
        .select((col("day_s") + 7200L).as("start_s"), (col("day_s") + 18000L).as("end_s"))
      TemporalJoins.rangeJoin(f, iv, "ts_s", "start_s", "end_s", bucketWidth = 3600L)
        .select("event_id", "symbol", "start_s", "end_s")
    }),
    // session windows: per-symbol activity bursts with a 30-minute gap —
    // session_window grouping, gaps-and-islands oracle
    "q_session_agg" -> ((s, dir) =>
      StockAggregation.aggregateSessions(txnsTs(s, dir), gap = "30 minutes")),
    // the same sessionization THROUGH the streaming twin (watermarked
    // session_window state, update-mode changelog) — same oracle
    "q_streaming_session" -> ((s, dir) => StreamingState.sessionSnapshot(s, dir)),
    // stream-stream event-time interval join: buys ⋈ sells per symbol within
    // ±30 min, both sides watermarked — appended pairs equal the batch
    // interval self-join exactly
    "q_streaming_join" -> ((s, dir) => StreamingState.streamStreamJoin(s, dir)),
    // LEFT OUTER stream-stream interval join: unmatched buys emit (with null
    // sell) when watermark eviction proves no partner can arrive; the stream
    // tail is flushed by far-future sentinel rows on BOTH sides (outer
    // release needs the minimum of the two watermarks) — emitted set equals
    // the batch LEFT JOIN exactly
    "q_streaming_join_outer" -> ((s, dir) =>
      StreamingState.streamStreamJoinOuter(s, dir)),
    // late-data drop audit: deliberately displaced rows arrive behind the
    // watermark; the oracle models the per-batch watermark arithmetic
    // exactly and must reproduce the post-drop counts row for row
    "q_streaming_late_drop" -> ((s, dir) =>
      StreamingState.lateDropSnapshot(s, dir)),
    // hierarchical accounting: ROLLUP grouping sets in one aggregate pass
    "q_text_rollup" -> ((s, dir) => TextAnalysis.tokenRollup(Tables.documents(s, dir))),
    // per-source language-mix pivot over a fixed language list
    "q_text_pivot" -> ((s, dir) =>
      TextAnalysis.langPivot(Tables.documents(s, dir),
        Seq("de", "en", "es", "fr", "zh"))),
    // Gopher-style repetition signals: per-doc top unigram/bigram/trigram
    // multiset fractions + keep decision — pure map-side projection
    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir))),
    // regex redaction (the PII-scrub shape) with audit match counts; the
    // demo pattern hits corpus words — the synthetic corpus has no PII
    "q_text_redact" -> ((s, dir) =>
      TextAnalysis.redact(Tables.documents(s, dir), "(customer|vector)")),
    // vocabulary coverage / OOV rate against the trained top-20 frequency
    // vocab (a cached model artifact, like the language profiles)
    "q_text_oov" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.vocabCoverage(docs,
        ArtifactStore.memo(s, docT(dir), "vocab_top20")(TextAnalysis.trainVocab(docs, 20)))
    }),
    // deterministic epoch shuffle-and-shard: epoch-salted hash shard + rank
    "q_shuffle_epoch" -> ((s, dir) =>
      Sampling.epochShuffle(
        Tables.documents(s, dir).select("doc_id"), "doc_id", epoch = 1)),
    // Z-order layout: Morton-key orders on (custkey, order day), emit the
    // per-file zone maps a file-skipping reader prunes with — every file
    // bounded in BOTH dimensions (the write path is repartitionByRange on
    // the key; the 4-scalar bounds are a cached driver artifact)
    "q_layout_zorder" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val x = col("o_custkey")
      val y = expr(
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS INT)")
      val (xMin, xMax, yMin, yMax) = ArtifactStore.memo(s, s"$dir/orders.parquet",
        "zorder_bounds_custkey_day")(Layout.boundsOf(orders, x, y))
      Layout.zorderZoneMap(orders, x, y, xMin, xMax, yMin, yMax,
        bits = 10, files = 64)
    }),
    // the contrast layout: custkey-sorted files — tight on custkey, the
    // day axis unpruned; next to q_layout_zorder the win is data
    "q_layout_linear" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val x = col("o_custkey")
      val y = expr(
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS INT)")
      val (xMin, xMax, _, _) = ArtifactStore.memo(s, s"$dir/orders.parquet",
        "zorder_bounds_custkey_day")(Layout.boundsOf(orders, x, y))
      Layout.linearZoneMap(orders, x, y, xMin, xMax, bits = 10, files = 64)
    }),
    // incremental (cross-snapshot) near-dedup: odd-id batch scored against
    // the even-id corpus — candidates cross-side only, exact Jaccard re-check
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalNearDedup(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    // per-label embedding-norm accounting (exercises the label column);
    // decimal-exact average so the whole profile is oracle-checkable
    "q_embed_norms" -> ((s, dir) => Similarity.normStats(Tables.embeddings(s, dir))),
    // per-label embedding outliers: L2 distance to own-label decimal-exact
    // centroid, flagged above the label's p90 cut (noise pruning signal)
    "q_embed_outliers" -> ((s, dir) =>
      Similarity.labelOutliers(Tables.embeddings(s, dir), q = 0.9)),
    // deterministic Lloyd k-means over the embedding corpus — clustering as
    // a first-class curation primitive (mixture balancing / SemDeDup-style
    // grouping); the ASSIGNMENTS themselves are oracle-checked: the DuckDB
    // oracle replays the identical seeded iterations (decimal centroid
    // means, sequential double distance folds, ties to the lowest cell)
    "q_embed_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansAssignments(emb, kcents(dir, emb))
    }),
    // fine-partition seed routing — the k > 64 branch of the two-level
    // centroid kernel under the oracle gate (r10 verdict task 3: at gate
    // sfs semdedupK stays 8, so every other green row runs the exact flat
    // scan and the branch that actually serves the 100 TB regime had no
    // CORRECTNESS row). k = 80 seed centroids (the first 80 corpus vectors
    // — deterministic, untrained: the ROUTING is the unit under test)
    // forces DoubleCentroidIndex's coarse quantizer: ⌈√80⌉ = 9 coarse
    // cells, 3 Lloyd iterations over the centroid matrix seeded by its
    // first 9 rows, nearest non-empty branch, in-branch exact argmin. The
    // oracle replays that arithmetic step for step (sequential double
    // means over members in ascending cell order, strict-less ties to the
    // lowest id at every argmin) and FAILS if the routing drifts
    "q_embed_route_fine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansAssignments(emb, Similarity.trainKmeans(emb, k = 80, iters = 0))
    }),
    // SemDeDup: the full semantic-dedup composition — k-means cells (k
    // scaled ∝ N/250, the Abbas-et-al. regime; 8 at every gate sf) +
    // WITHIN-CELL exact cosine ε-pairs → min-id dominance keep/drop per
    // vector. The pair search is cluster-bounded BY THE ALGORITHM'S OWN
    // SEMANTICS (same-cell pairs are all it ever consumed), so the plan is
    // Σ_c m_c² ≈ N × 250 — linear in the corpus regardless of geometry,
    // where the previous global-pair-list-then-filter form was the one
    // quadratic component (r9 verdict). Output identical; oracle unchanged.
    "q_pipeline_semdedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val k = semdedupK(embCount(dir, emb))
      val asg = Similarity.kmeansAssignments(emb, kcents(dir, emb, k))
        .select(col("vec_id"), col("cell"))
      // the PAIR SEARCH (the quadratic side) runs on map-side cells (r16);
      // asg still feeds semDedupKeep's per-vector keep/drop joins
      val pairs = Similarity.cosinePairsWithinCells(emb, kcents(dir, emb, k),
        threshold = 0.45)
      Similarity.semDedupKeep(emb, asg, pairs)
    }),
    // per-cluster curation profile: size, majority label (ties to lowest),
    // purity, decimal-exact mean distance-to-centroid
    "q_embed_cluster_profile" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansProfile(emb, kcents(dir, emb))
    }),
    // cluster-balanced curation sample: cap every semantic cluster at a
    // fixed quota by deterministic md5 rank (bounded per-cell heaps, no
    // partition-wide sort) — the diversity-preserving downsample a
    // mixture-balancing pipeline takes AFTER clustering; small cells
    // survive whole, dominant cells are capped
    "q_sample_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val asg = Similarity.kmeansAssignments(emb, kcents(dir, emb))
        .select("vec_id", "label", "cell")
      Sampling.stratifiedSampleBounded(asg, "cell", "vec_id", quota = 24)
    }),
    // ---- Event-stream analytics over the raw events table -----------------
    // strict-sequence conversion funnel: view → click → purchase, each stage
    // strictly after the previous (chained per-user stage aggregates)
    "q_events_funnel" -> ((s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir), "view", "click", "purchase")),
    // cohort retention matrix keyed by first-active epoch day
    "q_events_retention" -> ((s, dir) => EventAnalytics.retention(Tables.events(s, dir))),
    // JSON props ($.k) accounting per event type — exact long arithmetic
    "q_events_props" -> ((s, dir) => EventAnalytics.propsAccounting(Tables.events(s, dir))),
    // per-user z-score anomalies: decimal-exact moments, broadcast join back
    "q_events_anomaly" -> ((s, dir) =>
      EventAnalytics.valueAnomalies(Tables.events(s, dir), zThreshold = 2.5)),
    // per-(user, day) rate limit: first 5 events in arrival order, via the
    // bounded top-k rows aggregate (no partition-wide window sorts)
    "q_events_rate_limit" -> ((s, dir) =>
      EventAnalytics.rateLimit(Tables.events(s, dir), perDay = 5)),
    // the ONLINE form: keyed-state admission counter over the time-ordered
    // replay — union of per-batch emissions equals the batch rate limit
    "q_streaming_rate_limit" -> ((s, dir) =>
      StreamingState.rateLimitEmissions(s, dir, perDay = 5)),
    // the transformWithState form: user-keyed MapState day counters + ONE
    // timer per user at the earliest pending eviction epoch, swept on fire
    // — measured at the fMGWS form's decade (BENCH_r12_tws2_sf{1,10}.jsonl),
    // where one timer per (user × day) measured 4.0×/decade from its timer
    // column family (BENCH_r11_tws_sf{1,10}.jsonl)
    "q_streaming_rate_limit_tws" -> ((s, dir) =>
      StreamingState.rateLimitEmissionsTwsSwept(s, dir, perDay = 5)),
    // hourly active users, exact + HLL audit per tumbling window — the
    // mergeable-rollup contract checked window-by-window
    "q_sketch_window_users" -> ((s, dir) =>
      Sketches.windowUsersAudit(Tables.events(s, dir), "1 hour")),
    // KMV distinct sketch over per-type event timestamps (a genuinely
    // high-cardinality set, so the estimator path actually engages): the
    // md5-based estimate is engine-portable, so the oracle value-matches
    // the ESTIMATE itself (the CMS move for distinct counting)
    "q_sketch_kmv" -> ((s, dir) =>
      Sketches.kmvDistinctAudit(
        Tables.events(s, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("us")),
        "event_type", "us", k = 256)),
    // per-window trending event types: counts aggregate, then the bounded
    // top-k heap ranks per window (no partition-wide window sorts)
    "q_events_trending" -> ((s, dir) =>
      EventAnalytics.trendingTypes(Tables.events(s, dir), "1 hour", k = 3)),
    // first-order Markov transition matrix over per-user event timelines
    "q_events_transitions" -> ((s, dir) =>
      EventAnalytics.typeTransitions(Tables.events(s, dir))),
    // chunk-overlap near-dup pairs: equi-join candidates on shared chunk
    // fingerprints with a posting-list cap — frame-fingerprint dedup's shape
    "q_dedup_chunk_overlap" -> ((s, dir) =>
      Dedup.chunkOverlapPairs(Tables.documents(s, dir),
        chunkChars = 64, minShared = 2, maxPostings = 50)),
    // right-to-be-forgotten sweep: broadcast anti-join erasure of the
    // tombstoned users' events (tombstones: user_id % 37 = 0)
    "q_curation_forget" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Curation.forgetUsers(ev, ev.filter(col("user_id") % 37 === 0))
    }),
    // per-source chunk-store savings: 1 - distinct/total chunk slots
    "q_dedup_ratio" -> ((s, dir) =>
      Dedup.chunkDedupRatio(Tables.documents(s, dir), chunkChars = 64)),
    // per-dimension embedding health: decimal-exact moments + range per dim
    "q_embed_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),
    // Matryoshka truncation audit: per candidate prefix width, how far the
    // truncated cosine drifts from the full-dimension cosine on the
    // deterministic (even, even+1) pair sample — error-as-data, like the
    // sketch/ANN audits
    "q_embed_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaFidelity(Tables.embeddings(s, dir))),
    // Matryoshka retrieval recall: what recall@10 a d-prefix first-pass
    // scan keeps vs the full-dimension exact top-10 (query set shipped as
    // a bounded literal artifact + bounded top-k heaps — join-free scan;
    // 64 rides along as the recall==1 self-check)
    "q_embed_matryoshka_recall" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir),
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),
    // rank-normalized quality blend: per-source percentile ranks of three
    // signals fused into one score (round-before-rank, doc_id-totalized)
    "q_quality_blend" -> ((s, dir) =>
      Quality.rankBlend(Tables.documents(s, dir))),
    // top-5 per source by blended quality — the curation shortlist, via the
    // bounded top-k heap over the blend output
    "q_quality_topk" -> ((s, dir) =>
      Ranking.topKPerKey(Quality.rankBlend(Tables.documents(s, dir)),
        Seq("source"), Seq(-col("blend"), col("doc_id")), 5)),
    // TPC-H Q1-shaped pricing rollup: predicate-pushed scan + one hash agg
    "q_olap_pricing" -> ((s, dir) =>
      Olap.pricingSummary(Tables.lineitem(s, dir), "2000-01-01")),
    // per-priority daily intake + running backlog: two-phase window-over-agg
    "q_olap_backlog" -> ((s, dir) =>
      Olap.orderBacklog(Tables.orders(s, dir))),
    // three-level revenue rollup in one Expand+aggregate pass
    "q_olap_rollup" -> ((s, dir) =>
      Olap.revenueRollup(Tables.lineitem(s, dir))),
    // weekly-rhythm heatmap: (dow, hour) counts, integer epoch math
    "q_events_heatmap" -> ((s, dir) =>
      EventAnalytics.activityHeatmap(Tables.events(s, dir))),
    // value↔hour Pearson correlation per type: integer-exact moments,
    // DECIMAL(38,0) cross terms, one identical final double quotient
    "q_events_correlation" -> ((s, dir) =>
      EventAnalytics.valueHourCorrelation(Tables.events(s, dir))),
    // fixed-width integer-cent value histogram per event type
    "q_events_histogram" -> ((s, dir) =>
      EventAnalytics.valueHistogram(Tables.events(s, dir),
        bucketWidth = 50.0, nBuckets = 10)),
    // TPC-H Q3-shaped shipping priority: broadcast customer filter,
    // pre-filtered lineitem join, TakeOrderedAndProject top-10
    "q_olap_priority" -> ((s, dir) =>
      Olap.shippingPriority(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "BUILDING", "1998-06-01", k = 10)),
    // TPC-H Q5-shaped star join: every dim chain broadcasts, the only
    // shuffled join is lineitem ⋈ (date-cut, customer-cut) orders
    "q_olap_volume" -> ((s, dir) =>
      Olap.localSupplierVolume(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.supplier(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        "ASIA", "1996-01-01", "1997-01-01")),
    // TPC-H Q18-shaped heavy orders: aggregate-then-join — the fact table
    // reduces to (orderkey, qty) before any join, HAVING cuts it to the
    // rare heavy tail, only those rows touch orders/customer
    "q_olap_heavy" -> ((s, dir) =>
      Olap.largeOrderCustomers(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), minQty = 300.0)),
    // TPC-H Q10-shaped returned-item report: pushed fact filters, one
    // shuffled join, dims after the aggregate, TakeOrdered top-20
    "q_olap_returns" -> ((s, dir) =>
      Olap.returnedItemReport(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.nation(s, dir),
        "R", "1996-01-01", "1996-04-01", k = 20)),
    // NOT IN-shaped anti join (suppliers with no January-1996 returns):
    // registered through the null-aware rewrite — a literal nullable NOT IN
    // would plan as BroadcastNestedLoopJoin (the 100×-scale trap, pinned in
    // OlapSpec); the rewrite's null legs collapse to one bounded aggregate
    // and the survivor is a plain broadcast hash ANTI join
    "q_olap_not_in" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val t = li.schema("l_shipdate").dataType
      Olap.notInAnti(
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name")),
        "s_suppkey",
        li.filter(col("l_returnflag") === "R" &&
            col("l_shipdate") >= lit("1996-01-01").cast(t) &&
            col("l_shipdate") < lit("1996-02-01").cast(t))
          .select(col("l_suppkey")),
        "l_suppkey")
    }),
    // weighted PageRank over the customer↔supplier purchase graph: 3
    // power-method steps, decimal-summed contributions, 12-dp rank
    // rounding each step — the oracle unrolls the same iterations
    "q_graph_pagerank" -> ((s, dir) =>
      Graph.pageRank(Graph.purchaseGraph(
        Tables.orders(s, dir), Tables.lineitem(s, dir)))),
    // triangle listing over the chunk-overlap copy-provenance graph:
    // wedge join + closing equi-join, each triangle once (a<b<c)
    "q_graph_triangles" -> ((s, dir) =>
      Graph.triangles(
        Dedup.chunkOverlapPairs(Tables.documents(s, dir),
          chunkChars = 64, minShared = 2, maxPostings = 50)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))),
    // split hygiene: verbatim 4-word spans of TEST docs located inside
    // TRAIN docs (the deterministic split composed with span decontam —
    // broadcast side is the small test split)
    "q_split_leakage" -> ((s, dir) => {
      val withSplit = Sampling.datasetSplit(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
      Dedup.decontaminatedSpans(
        withSplit.filter(col("split") === "train"),
        withSplit.filter(col("split") === "test"), w = 4)
    }),
    // cross-table referential-integrity audit: per relation, child rows and
    // orphan count (one equi-join shuffle each; emits the zero on purpose)
    "q_quality_referential" -> ((s, dir) =>
      Quality.referentialAudit(Seq(
        ("lineitem->orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("orders->customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("customer->nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey")))),
    // the SAME funnel through the streaming twin: CEP-style keyed state
    // machine (flatMapGroupsWithState) over the time-ordered replay — the
    // final snapshot must equal the batch funnel (same oracle)
    "q_streaming_funnel" -> ((s, dir) => StreamingState.funnelSnapshot(s, dir)),
    // the SAME incremental near-dedup through the streaming twin: each
    // micro-batch of incoming docs scored against the static corpus in
    // foreachBatch — union of batch verdicts = the batch operator's result
    "q_streaming_dedup_incremental" -> ((s, dir) =>
      StreamingState.incrementalDedupVerdicts(s, dir)),
    // ---- Sketch twins: exact accounting vs mergeable approximations -------
    // exact per-source vocabulary (the shuffle-every-distinct-term path)
    "q_text_vocab" -> ((s, dir) => Sketches.vocabBySource(Tables.documents(s, dir))),
    // HLL++ sketch AUDIT — error-as-data: exact accounting + the verdict
    // that the estimate landed inside its bound, in one aggregation pass;
    // the oracle recomputes the exact side and asserts the verdict TRUE
    "q_sketch_vocab" -> ((s, dir) => Sketches.vocabAudit(Tables.documents(s, dir))),
    // Greenwald-Khanna audit of q_text_token_dist, same error-as-data move
    "q_sketch_token_dist" -> ((s, dir) =>
      Sketches.tokenDistributionAudit(Tables.documents(s, dir))),
    // Count-Min heavy-hitters audit — the one sketch whose ESTIMATE is
    // engine-portable (md5-bucketed counter sums), so exact counts, CMS
    // estimates, AND verdicts are all value-matched by the oracle
    "q_sketch_cms" -> ((s, dir) =>
      Sketches.cmsHeavyHitters(Tables.documents(s, dir))),
    // KMV set-resemblance audit: pairwise source span-Jaccard estimated
    // from k-min sketches (sketches meet, span inventories never do);
    // estimate AND verdict value-matched by the oracle
    "q_sketch_kmv_jaccard" -> ((s, dir) =>
      Sketches.kmvSourceJaccard(Tables.documents(s, dir))),
    // market-basket co-occurrence over (user, day) baskets: map-side pair
    // explode of each basket's type set, exact counts, portable lift
    "q_events_cooccurrence" -> ((s, dir) =>
      EventAnalytics.typeCooccurrence(Tables.events(s, dir))),
    // per-(user, week) activity bitmap: OR-mergeable int64 day masks,
    // bit_count distinct-day reads, no distinct aggregate
    "q_events_bitmap" -> ((s, dir) =>
      EventAnalytics.weeklyActivityBitmap(Tables.events(s, dir))),
    // declarative DQ expectation suite: null/domain/range/uniqueness rules
    // in ONE aggregation pass, unpivoted to one row per rule
    "q_quality_expectations" -> ((s, dir) =>
      Quality.expectations(Tables.events(s, dir),
        Seq("view", "click", "purchase", "signup", "error"),
        "2024-01-01", "2025-01-01", valueCap = 450.0)),
    // order-independent per-source table fingerprint (cross-system migration
    // validation): exact decimal sum of per-row 60-bit md5 keys — row-order-
    // and partitioning-invariant by commutativity, one hash aggregate
    "q_quality_checksum" -> ((s, dir) =>
      Quality.tableFingerprint(Tables.documents(s, dir), "source",
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // SCD Type-2 validity intervals from the event log: change-point lag +
    // interval-closing lead, one exchange, deterministic (ts, id) order
    "q_events_scd2" -> ((s, dir) =>
      EventAnalytics.scd2TypeIntervals(Tables.events(s, dir))),
    // typo-tolerant entity resolution: edit-distance-1 name pairs via the
    // SymSpell deletion-neighborhood equi-join (candidates ∝ N·L, never
    // N²), exact levenshtein re-check; oracle is the brute-force join
    "q_fuzzy_customers" -> ((s, dir) =>
      Dedup.fuzzyNamePairs(Tables.customer(s, dir), "c_custkey", "c_name")),
    // deterministic train/validation/test assignment by salted hash cuts —
    // reproducible across runs, partitionings, and engines; map-only
    "q_split_dataset" -> ((s, dir) =>
      Sampling.datasetSplit(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id")),
    // deterministic k-fold CV assignment: salted-hash-prefix mod k, pure
    // map-side, engine-portable (the round-robin twin of q_split_dataset)
    "q_split_folds" -> ((s, dir) =>
      Sampling.kFoldAssign(
        Tables.documents(s, dir).select("doc_id", "source"), "doc_id")),
    // CDC changelog compaction: last-writer-wins snapshot in ONE max_by
    // hash aggregate (map-side partials, no window sort); tombstoned keys
    // absent, tombstone-then-upsert resurrects
    "q_events_cdc" -> ((s, dir) =>
      EventAnalytics.cdcCompact(Tables.events(s, dir))),
    // Okapi BM25 ranked retrieval: ln idf + tf saturation + doc-length
    // normalization; per-term contribs round-then-decimal-sum, top-k is a
    // TakeOrdered with doc_id tiebreak
    "q_text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Retrieve(Tables.documents(s, dir),
        Seq("window", "hash", "merge"), k = 20)),
    // bigram-LM perplexity quality signal (CCNet-style): add-one-smoothed
    // corpus bigram model, per-doc mean negative log-likelihood in nats;
    // broadcast model join + one doc-keyed aggregate
    "q_text_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexity(Tables.documents(s, dir))),
    // DSIR importance weights: hashed-unigram log-likelihood ratio vs the
    // src0 target slice; two 256-bucket model aggregates broadcast onto a
    // per-doc decimal dot product — no trailing division
    "q_sample_importance" -> ((s, dir) =>
      Sampling.importanceWeights(Tables.documents(s, dir), "source", "src0")),
    // streaming CDC compaction: flatMapGroupsWithState last-writer-wins
    // state over the time-ordered replay (continuous MERGE maintenance);
    // same snapshot as the batch compactor, same oracle
    "q_streaming_cdc" -> ((s, dir) => StreamingState.cdcSnapshot(s, dir)),
    // hard-negative mining (contrastive training data): per anchor, the k
    // most similar DIFFERENT-label vectors — served by the INDEX-PRUNED
    // path (different-label seed floors + triangle-inequality cell
    // admission, identical rows to the full-coverage probe by the
    // ivfExactTopK bound argument); label filter before the bounded top-k
    "q_similarity_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegativesPruned(emb, Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        cents(dir, emb), radii(dir, emb))
    }),
    // per-customer rolling order-history features (sequence index, lag
    // price, gap, trailing-3 spend, lifetime spend): ONE window spec — a
    // single custkey exchange + in-partition sort feeds every feature
    "q_features_rolling" -> ((s, dir) =>
      Features.rollingOrderFeatures(Tables.orders(s, dir))),
    // corpus snapshot diff (v2 drops doc_id%5==0, edits doc_id%3==0 in
    // place): each side reduces to (key, md5) at the scan; one full-outer
    // hash join classifies added/removed/changed, unchanged keys dropped
    "q_diff_snapshots" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Versioning.snapshotDiff(snapV1(docs), snapV2(docs), "doc_id",
        Seq("text", "lang", "source"))
    }),
    // distribution drift between the same two snapshots: per-source counts,
    // char sums, and snapshot-share deltas (the mixture-drift report) —
    // bounded per-group aggregates meeting in one full-outer join
    "q_diff_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Versioning.driftReport(snapV1(docs), snapV2(docs), "source", "n_chars")
    }),
    // embedding-space drift between two vector-table snapshots (vec_id%7
    // vs vec_id%5 holdouts): per-dimension decimal-exact moments on each
    // side, one |dims|-row join, shifts from 6-dp-rounded means
    "q_diff_embed_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Versioning.embeddingDrift(
        emb.filter(col("vec_id") % 7 =!= 0),
        emb.filter(col("vec_id") % 5 =!= 0))
    }),
    // streaming trending leaderboard: per-hour top-3 event types maintained
    // incrementally in keyed state — the continuous twin of q_events_trending,
    // same oracle. PRIMARY plan (r12) is the transformWithState MapState form:
    // per-type counts as named MapState entries + an incrementally-exact top-k
    // board, O(types touched + k) state I/O per batch. Promotion rests on the
    // r11 like-for-like alternation of the old code (0.88× min-ratio) plus the
    // structural O(touched + k) argument; the r12 re-measurement of the
    // incremental-board code reads parity with fMGWS (both linear,
    // BENCH_r12_trending_sf{1,10}.jsonl — see SCALING.md)
    "q_streaming_trending" -> ((s, dir) =>
      StreamingState.trendingSnapshotTws(s, dir)),
    // the SAME leaderboard on flatMapGroupsWithState (one encoder-blob count
    // map per window) — measured linear too, kept registered so the oracle
    // gate pins both state APIs against one SQL
    "q_streaming_trending_fmgws" -> ((s, dir) =>
      StreamingState.trendingSnapshot(s, dir)),
    // streaming KMV sketch: the k-minimum-values distinct sketch maintained
    // in O(k) keyed state as the log replays — order-independent, so the
    // final sketch equals the batch sketch exactly
    "q_streaming_kmv" -> ((s, dir) => StreamingState.kmvSnapshot(s, dir)),
    // resample the sparse hourly per-symbol aggregate onto the full hourly
    // grid with forward-fill (the serving-table / feature-store shape):
    // grid = map-side sequence explode, fill = one windowed last(ignoreNulls)
    "q_features_resample" -> ((s, dir) =>
      Features.resampleFill(
        windowedAgg(s, dir).select(col("symbol"), col("window_start_s"),
          col("number_shares")),
        "symbol", "window_start_s", "number_shares", step = 3600L)),
    // key-skew profile of the event log's user_id — the pre-shuffle audit:
    // one map-combined aggregate at data scale, bounded-scalar distribution,
    // TakeOrdered top-k
    "q_quality_skew" -> ((s, dir) =>
      Quality.skewProfile(Tables.events(s, dir), "user_id", k = 10)),
    // connected components of the chunk-overlap provenance graph (the
    // cluster-discovery step on a dedup pair list): min-label propagation,
    // diameter rounds, never a materialized closure
    "q_graph_components" -> ((s, dir) =>
      Graph.connectedComponents(
        Dedup.chunkOverlapPairs(Tables.documents(s, dir),
          chunkChars = 64, minShared = 2, maxPostings = 50)
          .select(col("doc_a").as("u"), col("doc_b").as("v")))
        .select(col("node"), col("component"), col("n_members")))
  )

  // ------------------------------------------------------------- oracles

  private val W = s"WITH txns AS (${Tables.txnsCte}), agg AS (${StockAggregation.aggregateSelect})"

  private val windowAggCte: String =
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
       |       symbol AS symbol_raw, buy, amount, number_shares
       |FROM (${Tables.txnsTsCte})""".stripMargin

  private val windowAggSelect: String =
    """SELECT window_start_s, symbol_raw AS symbol,
      |  CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS buys,
      |  CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sells,
      |  CAST(SUM(number_shares) AS BIGINT) AS number_shares
      |FROM wtx GROUP BY window_start_s, symbol_raw""".stripMargin

  private val WW = s"WITH wtx AS ($windowAggCte), wagg AS ($windowAggSelect)"

  /** DuckDB cosine between `e.embedding` and `qv` — element-wise double
    * widening, sequential sum, matching [[Similarity.cosine]].
    */
  private val duckCosine: String =
    """list_sum(list_transform(range(1, len(e.embedding)+1),
      |                        i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
      |/ (sqrt(list_sum(list_transform(range(1, len(e.embedding)+1),
      |                                i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
      | * sqrt(list_sum(list_transform(range(1, len(qv)+1),
      |                                i -> qv[i]::DOUBLE * qv[i]::DOUBLE))))""".stripMargin

  /** Unrolled Lloyd k-means oracle chain (q_embed_clusters /
    * q_embed_cluster_profile): replays [[Similarity.trainKmeans]] in SQL —
    * seeds = the k lowest-vec_id vectors (float widened to double),
    * per-dimension DECIMAL(27,10) means → one exact decimal→double rounding
    * + one IEEE division, sequential double distance folds (`list_sum` is
    * left-to-right, like Spark `aggregate`), argmin ties to the lowest
    * cell, empty cells keep the previous centroid. Ends with `afin`
    * (vec_id, cell, d2) — the assignment against the trained centroids.
    */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def d2(cAlias: String) =
      s"""list_sum(list_transform(range(1, len(e.embedding)+1),
         |          i -> (e.embedding[i]::DOUBLE - $cAlias.cv[i])
         |             * (e.embedding[i]::DOUBLE - $cAlias.cv[i])))""".stripMargin
    def assign(name: String, centTable: String) =
      s"""$name AS (SELECT vec_id, cell, d2 FROM (
         |  SELECT vec_id, cell, d2,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM (SELECT e.vec_id, c.cell, ${d2("c")} AS d2
         |        FROM e, $centTable c)) WHERE rn = 1)""".stripMargin
    val head =
      s"""e AS (SELECT vec_id, label, embedding FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |       FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT $k))""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""${assign(s"a$t", s"c$t")},
         |m$t AS (SELECT a.cell, d.i,
         |          CAST(SUM(CAST(CAST(d.v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
         |            / COUNT(*) AS c
         |        FROM a$t a JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         |                                unnest(embedding) AS v FROM e) d USING (vec_id)
         |        GROUP BY 1, 2),
         |c${t + 1} AS (SELECT p.cell, coalesce(mc.cv, p.cv) AS cv
         |            FROM c$t p LEFT JOIN (SELECT cell, list(c ORDER BY i) AS cv
         |                                  FROM m$t GROUP BY cell) mc USING (cell))""".stripMargin
    }
    (Seq(head) ++ steps ++ Seq(assign("afin", s"c$iters"))).mkString(",\n")
  }

  /** Two-level routing replay (q_embed_route_fine): the exact arithmetic of
    * `DoubleCentroidIndex.nearest`'s k > 64 branch
    * (NativeExpressions.scala:210-291) in DuckDB. `cent` is the k seed
    * centroids (first k vectors, float→double); the coarse quantizer is
    * `coarseIters` Lloyd iterations over the CENTROID MATRIX seeded by its
    * first `coarseK` rows — per-coarse means accumulate SEQUENTIALLY in
    * double over members in ascending cell order (`list_sum(list(v ORDER BY
    * cell))`, matching the kernel's `sums(a)(j) += centroids(i)(j)` loop —
    * deliberately NOT kmeansCtes' decimal means, which replay a different
    * accumulation), empty coarse cells keep their previous position, and
    * every argmin breaks ties to the lowest id via the strict-less scan
    * order. Ends with `afin` (vec_id, cell, d2): nearest NON-EMPTY coarse
    * branch, then exact argmin over that branch's children.
    */
  private def coarseRouteCtes(k: Int, coarseK: Int, coarseIters: Int): String = {
    def pd2(a: String, b: String) =
      s"""list_sum(list_transform(range(1, len($a)+1),
         |          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))""".stripMargin
    def vd2(c: String) =
      s"""list_sum(list_transform(range(1, len(e.embedding)+1),
         |          i -> (e.embedding[i]::DOUBLE - $c[i])
         |             * (e.embedding[i]::DOUBLE - $c[i])))""".stripMargin
    def centAssign(name: String, qTable: String) =
      s"""$name AS (SELECT cell, q FROM (
         |  SELECT cell, q, row_number() OVER (PARTITION BY cell ORDER BY d2, q) AS rn
         |  FROM (SELECT c.cell, g.q, ${pd2("c.cv", "g.cv")} AS d2
         |        FROM cent c, $qTable g)) WHERE rn = 1)""".stripMargin
    val head =
      s"""e AS (SELECT vec_id, label, embedding FROM embeddings),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |         FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT $k)),
         |q0 AS (SELECT cell AS q, cv FROM cent WHERE cell < $coarseK)""".stripMargin
    val steps = (0 until coarseIters).map { t =>
      s"""${centAssign(s"ca$t", s"q$t")},
         |qm$t AS (SELECT a.q, d.i, list_sum(list(d.v ORDER BY d.cell)) / COUNT(*) AS c
         |        FROM ca$t a JOIN (SELECT cell, generate_subscripts(cv, 1) AS i,
         |                                 unnest(cv) AS v FROM cent) d USING (cell)
         |        GROUP BY a.q, d.i),
         |q${t + 1} AS (SELECT p.q, coalesce(mq.cv, p.cv) AS cv
         |           FROM q$t p LEFT JOIN (SELECT q, list(c ORDER BY i) AS cv
         |                                 FROM qm$t GROUP BY q) mq USING (q))""".stripMargin
    }
    val route =
      s"""${centAssign("child", s"q$coarseIters")},
         |vq AS (SELECT vec_id, q FROM (
         |  SELECT vec_id, q, row_number() OVER (PARTITION BY vec_id ORDER BY d2, q) AS rn
         |  FROM (SELECT e.vec_id, g.q, ${vd2("g.cv")} AS d2
         |        FROM e, (SELECT DISTINCT q FROM child) nz
         |        JOIN q$coarseIters g USING (q))) WHERE rn = 1),
         |afin AS (SELECT vec_id, cell, d2 FROM (
         |  SELECT vec_id, cell, d2,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM (SELECT v.vec_id, ch.cell, ${vd2("c.cv")} AS d2
         |        FROM e JOIN vq v ON v.vec_id = e.vec_id
         |        JOIN child ch ON ch.q = v.q
         |        JOIN cent c ON c.cell = ch.cell)) WHERE rn = 1)""".stripMargin
    (Seq(head) ++ steps :+ route).mkString(",\n")
  }

  /** Per-subspace PQ Lloyd replay — [[kmeansCtes]] generalized to run over
    * the `[lo:hi]` subvector slice with `s{s}_`-prefixed CTE names, so the
    * q_embed_pq oracle re-trains all `m` codebooks in one statement with
    * the identical seed / decimal-mean / tie-break conventions.
    */
  private def pqCtes(m: Int, dsub: Int, k: Int, iters: Int): String =
    (0 until m).map { s =>
      val p = s"s${s}_"
      val lo = s * dsub + 1
      val hi = (s + 1) * dsub
      def d2(cAlias: String) =
        s"""list_sum(list_transform(range(1, len(e.embedding)+1),
           |          i -> (e.embedding[i]::DOUBLE - $cAlias.cv[i])
           |             * (e.embedding[i]::DOUBLE - $cAlias.cv[i])))""".stripMargin
      def assign(name: String, centTable: String) =
        s"""$name AS (SELECT vec_id, cell, d2 FROM (
           |  SELECT vec_id, cell, d2,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
           |  FROM (SELECT e.vec_id, c.cell, ${d2("c")} AS d2
           |        FROM ${p}e e, $centTable c)) WHERE rn = 1)""".stripMargin
      val head =
        s"""${p}e AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings),
           |${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
           |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           |       FROM (SELECT vec_id, embedding FROM ${p}e ORDER BY vec_id LIMIT $k))""".stripMargin
      val steps = (0 until iters).map { t =>
        s"""${assign(s"${p}a$t", s"${p}c$t")},
           |${p}m$t AS (SELECT a.cell, d.i,
           |          CAST(SUM(CAST(CAST(d.v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
           |            / COUNT(*) AS c
           |        FROM ${p}a$t a JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           |                                unnest(embedding) AS v FROM ${p}e) d USING (vec_id)
           |        GROUP BY 1, 2),
           |${p}c${t + 1} AS (SELECT p.cell, coalesce(mc.cv, p.cv) AS cv
           |            FROM ${p}c$t p LEFT JOIN (SELECT cell, list(c ORDER BY i) AS cv
           |                                  FROM ${p}m$t GROUP BY cell) mc USING (cell))""".stripMargin
      }
      (Seq(head) ++ steps :+ assign(s"${p}afin", s"${p}c$iters")).mkString(",\n")
    }.mkString(",\n")

  /** Near-dup oracle pieces, shared by q_dedup_near and q_dedup_survivors. */
  private val dedupShCte: String =
    """SELECT doc_id,
      |  list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ')
      |                 for i in range(1, len(string_split(text,' ')) - 1)]) AS ss
      |FROM documents
      |WHERE len(string_split(text,' ')) >= 3""".stripMargin

  /** Span-window table oracle piece (q_dedup_spans / q_dedup_span_coverage):
    * one row per 8-word sliding window, md5 of the window text — the \s+
    * tokenization and single-space join mirror `Kernels.wordWindowMd5`, and
    * md5 makes the hashes engine-portable by construction.
    */
  private val spanWinCte: String =
    """SELECT doc_id,
      |  unnest([md5(array_to_string(t[i:i+7], ' '))
      |          for i in range(1, len(t) - 6)]) AS whash
      |FROM (SELECT doc_id,
      |        list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |      FROM documents)
      |WHERE len(t) >= 8""".stripMargin

  private val dedupNearBody: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       len(list_intersect(a.ss, b.ss))::DOUBLE
      |         / len(list_distinct(list_concat(a.ss, b.ss))) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
      |        / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.7""".stripMargin

  /** LSH calibration oracle (q_dedup_lsh_curve): replays
    * [[graft.operators.Dedup.lshCalibration]] exactly — the Carter-Wegman
    * double-hash minhash family (per shingle two 56-bit md5 values, hash j
    * = h1 + j·h2; hex decoded by the 14-term BIGINT multiply-add ladder,
    * the q_quality_checksum arithmetic), the +1/+2/+5 offset grid plus the
    * 25/50/75/95% prefix-truncation pairs (full side joined back from the
    * shared signature CTE, as the engine does), 4×4 band-equality
    * collisions, and the analytic curve as explicit multiply chains —
    * portable arithmetic end to end.
    */
  private val lshCurveOracle: String = {
    // every constant below derives from the ONE defaults object the engine's
    // lshCalibration signature uses — change a default there and this oracle
    // re-derives with it (ADVICE r9: inline constants silently desynced)
    val D = Dedup.LshCalibrationDefaults
    val rPerBand = D.NumHashes / D.Bands
    // hex-prefix → BIGINT ladder: `width` chars of `h` starting at `from`
    def ladder(h: String, from: Int, width: Int) = (0 until width).map { i =>
      s"(strpos('0123456789abcdef', substr($h, ${from + i}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (width - 1 - i))} AS BIGINT)"
    }.mkString(" + ")
    // explicit multiply chain — repeated IEEE multiplies, never pow()
    def powChain(e: String, p: Int) = Seq.fill(p)(e).mkString("*")
    // per side: the distinct 60-bit shingle-hash set (first 15 hex chars —
    // NativeExpressions.shingleMd5Hashes60's value) and the Carter-Wegman signature (h1 =
    // chars 1-14, h2 = chars 15-28 of the SAME md5; hash j = h1 + j*h2 —
    // NativeExpressions.minhashCw56's family)
    def sigCte(src: String, setCol: String): String =
      s"""SELECT doc_id,
         |  list_distinct([ CAST(${ladder("m", 1, 15)} AS BIGINT)
         |                  FOR m IN md ]) AS hs,
         |  [ list_min([ ha[i] + j * hb[i] FOR i IN range(1, len(ha) + 1) ])
         |    FOR j IN range(0, ${D.NumHashes}) ] AS sig
         |FROM (SELECT doc_id,
         |    [ CAST(${ladder("m", 1, 14)} AS BIGINT) FOR m IN md ] AS ha,
         |    [ CAST(${ladder("m", 15, 14)} AS BIGINT) FOR m IN md ] AS hb,
         |    md
         |  FROM (SELECT doc_id, [ md5(s) FOR s IN $setCol ] AS md FROM $src))""".stripMargin
    val bandHit = (0 until D.Bands).map { b =>
      (0 until rPerBand).map(k => s"ga[${b * rPerBand + k + 1}]=gb[${b * rPerBand + k + 1}]")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val offsetValues = D.Offsets.map(d => s"($d)").mkString(",")
    val fracValues = D.Fracs.map(q => s"($q)").mkString(",")
    // n-token shingles: slice tk[i:i+(n-1)], i in range(1, len - (n-2))
    val shingleEnd = D.N - 1
    val shingleRangeOff = D.N - 2
    s"""WITH tk0 AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents
       |             WHERE len(string_split(text,' ')) >= ${D.N}),
       |sh AS (SELECT doc_id,
       |  list_distinct([array_to_string(tk[i:i+$shingleEnd], ' ')
       |                 for i in range(1, len(tk) - $shingleRangeOff)]) AS ss
       |  FROM tk0),
       |sg AS MATERIALIZED (${sigCte("sh", "ss")}),
       |grid AS (SELECT a.hs AS sa, b.hs AS sb, a.sig AS ga, b.sig AS gb
       |  FROM sg a CROSS JOIN (VALUES $offsetValues) AS o(d)
       |  JOIN sg b ON b.doc_id = a.doc_id + o.d),
       |trm AS (SELECT doc_id,
       |    tk[1:CAST(greatest(${D.N}, floor(len(tk) * q / 100.0)) AS INT)] AS tkm
       |  FROM tk0 CROSS JOIN (VALUES $fracValues) AS f(q)),
       |trs AS (SELECT doc_id,
       |  list_distinct([array_to_string(tkm[i:i+$shingleEnd], ' ')
       |                 for i in range(1, len(tkm) - $shingleRangeOff)]) AS sb
       |  FROM trm),
       |trb AS (${sigCte("trs", "sb")}),
       |trg AS (SELECT g.hs AS sa, t.hs AS sb, g.sig AS ga, t.sig AS gb
       |  FROM trb t JOIN sg g USING (doc_id)),
       |p AS (SELECT * FROM grid UNION ALL SELECT * FROM trg),
       |j AS (SELECT len(list_intersect(sa, sb))::DOUBLE
       |        / len(list_distinct(list_concat(sa, sb))) AS jac,
       |  CASE WHEN $bandHit THEN 1 ELSE 0 END AS hit FROM p),
       |j2 AS (SELECT jac, hit, ${powChain("jac", rPerBand)} AS p4 FROM j),
       |j3 AS (SELECT jac, hit, (1.0 - p4) AS y FROM j2),
       |t AS (SELECT CAST(least(floor(jac*10), 9) AS INT) AS decile, hit,
       |   CAST(round(1.0 - ${powChain("y", D.Bands)}, 6) AS DECIMAL(18,6)) AS p6 FROM j3)
       |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(hit) AS BIGINT) AS n_collide,
       |  round(SUM(hit)::DOUBLE / COUNT(*), 6) AS collide_rate,
       |  round(CAST(SUM(p6) AS DOUBLE) / COUNT(*), 6) AS theory_rate
       |FROM t GROUP BY decile""".stripMargin
  }

  /** Cosine ε-pair oracle pieces (brute-force norms + all ordered pairs),
    * used by q_similarity_dedup's transitive-closure replay.
    */
  private val simNormCte: String =
    """SELECT vec_id, embedding AS v,
      |  sqrt(list_sum(list_transform(range(1, len(embedding)+1),
      |                j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))) AS nrm
      |FROM embeddings""".stripMargin

  private val simPairsBody: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_sum(list_transform(range(1, len(a.v)+1),
      |           i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE)) / (a.nrm * b.nrm) AS raw
      |FROM n a JOIN n b ON a.vec_id < b.vec_id""".stripMargin

  /** Langid oracle pieces (shared by q_text_langid and q_pipeline_curation):
    * distinct character trigrams per doc of `table`, as a CTE body.
    */
  private def langGramsCte(table: String): String =
    s"""SELECT doc_id, lang,
       |       CASE WHEN len(text) >= 3
       |            THEN list_distinct([text[i:i+2] FOR i IN range(1, len(text) - 1)])
       |            ELSE [] END AS grams
       |FROM $table""".stripMargin

  /** Profile training over a `dg` grams relation: top-50 trigrams per
    * language (ties by trigram asc) — mirrors trainLanguageProfiles.
    */
  private val langProfCtes: String =
    """cnt AS (
      |  SELECT lang, g AS tg, count(*) AS cnt
      |  FROM (SELECT lang, unnest(grams) AS g FROM dg)
      |  GROUP BY lang, g),
      |prof AS (
      |  SELECT lang, list(tg) AS tgs FROM (
      |    SELECT lang, tg,
      |           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tg ASC) AS rn
      |    FROM cnt) WHERE rn <= 50 GROUP BY lang)""".stripMargin

  /** Best-language scoring of a grams relation against `prof`: argmax of
    * |grams ∩ profile|, ties to the greatest language code — mirrors
    * languageId (native ProfileMatcher path).
    */
  private def langBestSelect(gramsRel: String): String =
    s"""SELECT doc_id, cand_lang AS predicted_lang,
       |       CAST(matched AS BIGINT) AS matched_ngrams
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                                   ORDER BY matched DESC, cand_lang DESC) AS rn
       |      FROM (SELECT d.doc_id, p.lang AS cand_lang,
       |                   len(list_intersect(d.grams, p.tgs)) AS matched
       |            FROM $gramsRel d CROSS JOIN prof p))
       |WHERE rn = 1 AND matched > 0""".stripMargin

  /** Rate-limit oracle (shared by the batch bounded-aggregate form and the
    * streaming admission-counter form): the plain SQL window ranking both
    * must equal exactly.
    */
  private val rateLimitOracle: String =
    """SELECT event_id, user_id, CAST(day AS INT) AS day, us,
      |  CAST(rn AS INT) AS rank
      |FROM (SELECT event_id, user_id,
      |        epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS us,
      |        row_number() OVER (
      |          PARTITION BY user_id, epoch_us(ts) // 86400000000
      |          ORDER BY epoch_us(ts), event_id) AS rn
      |      FROM events)
      |WHERE rn <= 5""".stripMargin

  /** Incremental near-dedup oracle (shared by the batch and streaming
    * forms): brute-force cross-side Jaccard, best match = max jaccard with
    * ties to the lowest existing id, sentinels for new docs.
    */
  private val incDedupOracle: String =
    s"""WITH sh AS ($dedupShCte),
       |ex AS (SELECT doc_id, ss FROM sh WHERE doc_id % 2 = 0),
       |inc AS (SELECT doc_id, ss FROM sh WHERE doc_id % 2 = 1),
       |j AS (SELECT i.doc_id, e.doc_id AS ex_id,
       |        len(list_intersect(i.ss, e.ss))::DOUBLE
       |          / len(list_distinct(list_concat(i.ss, e.ss))) AS jac
       |      FROM inc i JOIN ex e ON
       |        len(list_intersect(i.ss, e.ss))::DOUBLE
       |          / len(list_distinct(list_concat(i.ss, e.ss))) >= 0.7),
       |best AS (SELECT doc_id, ex_id, jac,
       |           row_number() OVER (PARTITION BY doc_id
       |                              ORDER BY jac DESC, ex_id) AS rn
       |         FROM j)
       |SELECT d.doc_id,
       |  CAST(coalesce(b.ex_id, -1) AS BIGINT) AS matched_id,
       |  round(coalesce(b.jac, 0.0), 6) AS jaccard
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin

  /** Quality-gate keep set over `table` (doc_id, n_tokens of survivors) —
    * mirrors [[graft.operators.Quality.qualityRules]] default thresholds,
    * rules on UNROUNDED values. Compose as a CTE body.
    */
  private def qualityKeepCte(table: String): String =
    s"""SELECT doc_id, n_tokens FROM (
       |  SELECT doc_id, n_tokens,
       |    (n_tokens >= 30 AND n_tokens <= 50000) AS r_tokens,
       |    (mean_len >= 2.0 AND mean_len <= 12.0) AS r_mean_len,
       |    (sym_ratio <= 0.1) AS r_symbol,
       |    (list_contains(toks, 'a') OR list_contains(toks, 'the')) AS r_stopword
       |  FROM (
       |    SELECT doc_id, string_split(text, ' ') AS toks,
       |      len(string_split(text, ' ')) AS n_tokens,
       |      (len(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
       |        / len(string_split(text, ' ')) AS mean_len,
       |      CASE WHEN len(text) = 0 THEN 0.0
       |           ELSE len(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE / len(text)
       |      END AS sym_ratio
       |    FROM $table))
       |WHERE r_tokens AND r_mean_len AND r_symbol AND r_stopword""".stripMargin

  /** Repetition-gate keep set over `table` (doc_ids of survivors) — mirrors
    * [[graft.operators.TextAnalysis.repetitionStats]] default thresholds on
    * the unrounded mode fractions. Compose as a CTE body.
    */
  private def repetitionKeepCte(table: String): String =
    s"""SELECT doc_id FROM (
       |  SELECT doc_id,
       |    list_max(list_transform(list_distinct(t),
       |      x -> len(list_filter(t, y -> y = x))))::DOUBLE / len(t) AS u,
       |    CASE WHEN len(g2) = 0 THEN 0.0
       |         ELSE list_max(list_transform(list_distinct(g2),
       |           x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2) END AS b,
       |    CASE WHEN len(g3) = 0 THEN 0.0
       |         ELSE list_max(list_transform(list_distinct(g3),
       |           x -> len(list_filter(g3, y -> y = x))))::DOUBLE / len(g3) END AS tr
       |  FROM (
       |    SELECT doc_id, t,
       |      CASE WHEN len(t) >= 2
       |           THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
       |           ELSE [] END AS g2,
       |      CASE WHEN len(t) >= 3
       |           THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
       |           ELSE [] END AS g3
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $table)))
       |WHERE u <= 0.14 AND b <= 0.07 AND tr <= 0.05""".stripMargin

  /** Greedy-packing oracle pieces (shared by q_pack_greedy and q_pack_bins):
    * per-shard doc ordering + the recursive greedy fold, mirroring
    * [[graft.operators.Packing.packGreedy]] row for row. Compose after
    * `WITH RECURSIVE`.
    */
  private def packCtes(budget: Int): String =
    s"""d AS (
       |  SELECT doc_id, shard, n_tokens,
       |         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM (SELECT doc_id,
       |               substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
       |               len(string_split(text, ' ')) AS n_tokens
       |        FROM documents)),
       |packed(shard, rn, doc_id, n_tokens, bin_id, cum) AS (
       |  SELECT shard, rn, doc_id, n_tokens, 0, n_tokens FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
       |         CASE WHEN p.cum + d.n_tokens > $budget THEN p.bin_id + 1 ELSE p.bin_id END,
       |         CASE WHEN p.cum + d.n_tokens > $budget THEN d.n_tokens ELSE p.cum + d.n_tokens END
       |  FROM d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1)""".stripMargin

  /** Unrolled BPE training replay (shared by the q_text_bpe_* and
    * q_pack_greedy_tokens oracles) — mirrors [[graft.operators.Bpe.train]]
    * iteration for iteration: s1 is the capped word-type table with
    * character tokens; each iteration k counts all adjacent pairs weighted
    * by type frequency (p_k), picks the winner with ties to the
    * lexicographically least pair (b_k), and applies it left-to-right
    * non-overlapping via gaps-and-islands parity (s_{k+1}): flagged
    * positions group into runs of consecutive indices, merges start at odd
    * offsets within each run, and the position after a merge start is
    * dropped. Every stage is MATERIALIZED — inlining 24 chained iterations
    * would re-evaluate (and re-open) the base scan combinatorially.
    */
  private def bpeTrainCtes(k: Int): String = {
    val s1 =
      """s1 AS MATERIALIZED (
        |  SELECT w AS word, freq, [w[i:i] FOR i IN range(1, len(w)+1)] AS toks
        |  FROM (SELECT w, freq,
        |          row_number() OVER (ORDER BY freq DESC, w ASC) AS rn
        |        FROM (SELECT w, CAST(count(*) AS BIGINT) AS freq
        |              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |              WHERE len(w) > 0 GROUP BY w))
        |  WHERE rn <= 100000)""".stripMargin
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT toks[i] AS a, toks[i+1] AS b, sum(freq) AS cnt
         |  FROM (SELECT freq, toks, unnest(range(1, len(toks))) AS i FROM s$i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p$i
         |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |s${i + 1} AS MATERIALIZED (
         |  SELECT word, freq, list(tok ORDER BY i) AS toks FROM (
         |    SELECT word, freq, i,
         |      CASE WHEN ms THEN tok || nxt ELSE tok END AS tok,
         |      lag(ms) OVER (PARTITION BY word ORDER BY i) AS pms, ms
         |    FROM (
         |      SELECT word, freq, i, tok, nxt, flg,
         |        CASE WHEN flg THEN (row_number() OVER (PARTITION BY word, grp ORDER BY i) % 2 = 1)
         |             ELSE FALSE END AS ms
         |      FROM (
         |        SELECT word, freq, i, tok, nxt, flg,
         |          i - row_number() OVER (PARTITION BY word, flg ORDER BY i) AS grp
         |        FROM (
         |          SELECT s.word, s.freq, u.i, s.toks[u.i] AS tok, s.toks[u.i+1] AS nxt,
         |            coalesce(s.toks[u.i] = (SELECT a FROM b$i)
         |                 AND s.toks[u.i+1] = (SELECT b FROM b$i), FALSE) AS flg
         |          FROM s$i s, LATERAL unnest(range(1, len(s.toks)+1)) AS u(i))
         |      )
         |    )
         |  ) WHERE NOT coalesce(pms, FALSE)
         |  GROUP BY word, freq)""".stripMargin
    }
    (s1 +: iters).mkString(",\n")
  }

  /** Word-stream + memo-join CTEs over the final BPE state (compose after
    * [[bpeTrainCtes]]): per-doc positioned words joined to the type→tokens
    * memo, OOV words to the explicit `<unk>` token.
    */
  private def bpeEncodeCtes(k: Int): String =
    s"""m AS MATERIALIZED (SELECT word, toks FROM s${k + 1}),
       |wds AS (SELECT doc_id, unnest([{'pos': i, 'w': sp[i]} FOR i IN range(1, len(sp)+1)], recursive := true)
       |        FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)),
       |j AS (SELECT doc_id, pos, coalesce(m.toks, ['<unk>']) AS toks
       |      FROM (SELECT * FROM wds WHERE len(w) > 0) w LEFT JOIN m ON w.w = m.word)""".stripMargin

  /** Session-window oracle (batch q_session_agg AND streaming
    * q_streaming_session): gaps-and-islands on exact microsecond timestamps —
    * break only when the gap to the previous event is STRICTLY over 30 min
    * (Spark's session merge is inclusive: an event starting exactly at the
    * previous session's end chains it, spec-pinned); bounds floor-divide to
    * epoch seconds exactly like unix_timestamp.
    */
  private val sessionOracle: String =
    s"""WITH ttx AS (${Tables.txnsTsCte}),
       |e AS (SELECT epoch_us(ts) AS ts_us, symbol, buy, amount, number_shares FROM ttx),
       |m AS (SELECT *,
       |        CASE WHEN lag(ts_us) OVER w IS NULL
       |               OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY symbol ORDER BY ts_us)),
       |s AS (SELECT *, SUM(brk) OVER (PARTITION BY symbol ORDER BY ts_us
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM m)
       |SELECT CAST(min(ts_us) // 1000000 AS BIGINT) AS session_start_s,
       |       CAST((max(ts_us) + 1800000000) // 1000000 AS BIGINT) AS session_end_s,
       |       symbol,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS buys,
       |       CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sells,
       |       CAST(SUM(number_shares) AS BIGINT) AS number_shares
       |FROM s GROUP BY symbol, sid""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_aggregate" -> s"$W SELECT * FROM agg",
    "q_aggregate_salted" -> s"$W SELECT * FROM agg",
    "q_aggregate_typed" -> s"$W SELECT * FROM agg",
    "q_key_query" -> s"$W SELECT * FROM agg WHERE symbol = 'U000007'",
    "q_multi_key" -> s"$W SELECT * FROM agg WHERE symbol IN ('U000003','U000007','U000011')",
    "q_range_both" -> s"$W SELECT * FROM agg WHERE symbol >= 'U000004' AND symbol <= 'U000009'",
    "q_range_lower" -> s"$W SELECT * FROM agg WHERE symbol >= 'U000010'",
    "q_range_upper" -> s"$W SELECT * FROM agg WHERE symbol <= 'U000005'",
    "q_range_unbounded" -> s"$W SELECT * FROM agg",
    "q_filtered_range" ->
      s"$W SELECT * FROM agg WHERE symbol >= 'U000000' AND symbol <= 'U000099' AND buys > sells",
    "q_filtered_range_mixed" ->
      s"$W SELECT * FROM agg WHERE (sells >= buys AND number_shares > 1000) OR symbol = 'U000007'",
    "q_serde_roundtrip" -> s"$W SELECT * FROM agg",
    "q_changelog_roundtrip" -> s"$W SELECT * FROM agg",
    "q_multi_key_large" ->
      s"""$W SELECT * FROM agg WHERE symbol IN (
         |  SELECT concat('U', lpad(CAST(generate_series AS VARCHAR), 6, '0'))
         |  FROM generate_series(0, 998, 2))""".stripMargin,
    "q_window_agg" -> s"$WW SELECT * FROM wagg",
    // hopping windows: each event replicates into the two 1h-aligned starts
    // covering it (start = hour(ts) and hour(ts)-3600; ts < start+2h holds
    // for both by construction)
    "q_window_hopping" ->
      s"""WITH wtx AS ($windowAggCte),
         |h AS (SELECT window_start_s + off AS window_start_s, symbol_raw, buy,
         |             amount, number_shares
         |      FROM wtx CROSS JOIN (VALUES (0), (-3600)) AS o(off))
         |SELECT window_start_s, symbol_raw AS symbol,
         |  CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS buys,
         |  CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS sells,
         |  CAST(SUM(number_shares) AS BIGINT) AS number_shares
         |FROM h GROUP BY window_start_s, symbol_raw""".stripMargin,
    "q_streaming_window_agg" -> s"$WW SELECT * FROM wagg",
    "q_window_range" ->
      s"$WW SELECT * FROM wagg WHERE buys > sells AND window_start_s >= 1704153600 AND window_start_s < 1704240000",
    "q_serde_vat_roundtrip" ->
      s"""WITH ttx AS (${Tables.txnsTsCte}),
         |txns AS (SELECT symbol, buy, amount, number_shares FROM ttx),
         |agg AS (${StockAggregation.aggregateSelect}),
         |mts AS (SELECT symbol, max(epoch_ms(ts)) AS max_ts_ms FROM ttx GROUP BY symbol)
         |SELECT a.symbol, a.buys, a.sells, a.number_shares, m.max_ts_ms
         |FROM agg a JOIN mts m USING (symbol)""".stripMargin,
    "q_streaming_per_record" ->
      s"""WITH itxns AS (${Tables.txnsIdCte})
         |SELECT symbol, event_id,
         |  CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS DOUBLE) AS buys,
         |  CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS DOUBLE) AS sells,
         |  CAST(SUM(number_shares) OVER w AS BIGINT) AS number_shares
         |FROM itxns
         |WINDOW w AS (PARTITION BY symbol ORDER BY event_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_changelog_per_record" ->
      s"""WITH itxns AS (${Tables.txnsIdCte})
         |SELECT symbol, event_id,
         |  CAST(SUM(CASE WHEN buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS DOUBLE) AS buys,
         |  CAST(SUM(CASE WHEN NOT buy THEN CAST(amount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS DOUBLE) AS sells,
         |  CAST(SUM(number_shares) OVER w AS BIGINT) AS number_shares
         |FROM itxns
         |WINDOW w AS (PARTITION BY symbol ORDER BY event_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // Streaming twin: the final snapshot must equal the batch aggregate; the
    // per-key update count must equal the number of distinct replay chunks
    // (micro-batches) containing that key.
    "q_streaming_snapshot" -> s"$W SELECT * FROM agg",
    // restore + continue must be invisible: same full-history aggregate
    "q_streaming_restore" -> s"$W SELECT * FROM agg",
    "q_statestore_query" -> s"$W SELECT * FROM agg",
    "q_streaming_dedup_keys" -> s"$W SELECT DISTINCT symbol FROM txns",
    "q_streaming_key_query" -> s"$W SELECT * FROM agg WHERE symbol = 'U000007'",
    "q_streaming_filtered_range" ->
      s"$W SELECT * FROM agg WHERE symbol >= 'U000000' AND symbol <= 'U000099' AND buys > sells",
    "q_streaming_changelog_counts" ->
      s"""WITH ctxns AS (${Tables.txnsChunkCte(StreamingState.NumChunks)})
         |SELECT symbol, CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_updates
         |FROM ctxns GROUP BY symbol""".stripMargin,
    // Bounded-state dedup: replays Spark's watermark arithmetic exactly, in
    // MILLISECONDS (the engine's event-time unit). Per (symbol, chunk) the
    // staged watermark column is the group's min event-ms `dts`. The
    // eviction a batch-c arrival observes ran at the END of batch c−1 under
    // the watermark in effect DURING batch c−1 — max(dts over chunks ≤ c−2)
    // − delay (one-batch lag, pinned empirically and by
    // StreamingStateSpec's Scala replay). A key's state (expiry = dts +
    // delay, set at emission, NOT extended by dropped duplicates) survives
    // iff expiry >= that watermark; an arrival with no live state emits and
    // re-arms. delay = 12 h = 43_200_000 ms (streamingDedupBounded's
    // default).
    "q_streaming_dedup_bounded" ->
      s"""WITH RECURSIVE tc AS (${Tables.txnsTimeChunkMsCte(StreamingState.NumChunks)}),
         |g AS (SELECT symbol, chunk, min(ms) AS dts FROM tc GROUP BY symbol, chunk),
         |bmax AS (SELECT chunk, max(dts) AS mx FROM g GROUP BY chunk),
         |wm AS (SELECT c.chunk, max(b.mx) - 43200000 AS wm_ms
         |       FROM bmax c JOIN bmax b ON b.chunk <= c.chunk - 2 GROUP BY c.chunk),
         |ord AS (SELECT symbol, chunk, dts,
         |               row_number() OVER (PARTITION BY symbol ORDER BY chunk) AS rn
         |        FROM g),
         |rec(symbol, chunk, rn, emitted, expiry) AS (
         |  SELECT symbol, chunk, rn, TRUE, dts + 43200000 FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.symbol, o.chunk, o.rn,
         |         coalesce(r.expiry < w.wm_ms, FALSE),
         |         CASE WHEN coalesce(r.expiry < w.wm_ms, FALSE)
         |              THEN o.dts + 43200000 ELSE r.expiry END
         |  FROM rec r
         |  JOIN ord o ON o.symbol = r.symbol AND o.rn = r.rn + 1
         |  LEFT JOIN wm w ON w.chunk = o.chunk)
         |SELECT symbol, CAST(chunk AS INT) AS emit_chunk FROM rec WHERE emitted""".stripMargin,
    // Dedup: survivors = lowest doc_id per distinct text (plus the sha-256 the
    // engine groups by); near-dup oracle = brute-force 3-gram Jaccard.
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, doc_id, text, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |      FROM documents)
        |WHERE rn = 1""".stripMargin,
    // bag dedup: identical sorted-distinct-token canonicalization (both
    // engines compare strings bytewise on this ascii corpus)
    "q_dedup_bag" ->
      """SELECT md5(array_to_string(
        |         list_sort(list_distinct(string_split(text, ' '))), ' '))
        |         AS bag_hash,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS survivor_id
        |FROM documents GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    "q_dedup_near" -> s"WITH sh AS ($dedupShCte) $dedupNearBody",
    // LSH calibration: replays the Carter-Wegman md5 double-hash minhash
    // signature bit-for-bit (hex -> int via the 14-term BIGINT multiply-add
    // ladder, no shifts/HUGEINT — the q_quality_checksum arithmetic), the
    // same offset grid + prefix-truncation pair sample, band-equality
    // collision test, and the multiply-chain S-curve (no libm pow)
    "q_dedup_lsh_curve" -> lshCurveOracle,
    // portable simhash replayed end-to-end: per-shingle 60-bit hash = first
    // 15 md5 hex chars base-16 (nibble arithmetic below = the engine's conv),
    // 60 per-bit majority votes, 4×16-bit bands (bits 60–63 constant 0),
    // hamming = popcount(xor)
    "q_dedup_simhash" ->
      s"""WITH sh AS ($dedupShCte),
         |h AS (SELECT doc_id, substr(md5(s), 1, 15) AS hx
         |      FROM (SELECT doc_id, unnest(ss) AS s FROM sh)),
         |v AS (SELECT doc_id, b,
         |        sum(CASE WHEN ((strpos('0123456789abcdef',
         |                               substr(hx, 15 - b // 4, 1)) - 1)
         |                       >> (b % 4)) & 1 = 1
         |                 THEN 1 ELSE -1 END) AS vote
         |      FROM h, (SELECT unnest(range(60)) AS b) bb
         |      GROUP BY doc_id, b),
         |fp AS (SELECT doc_id,
         |         sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS fp
         |       FROM v GROUP BY doc_id),
         |bk AS (SELECT doc_id, fp, band, (fp >> CAST(band * 16 AS INT)) & 65535 AS key
         |       FROM (SELECT doc_id, fp, unnest(range(4)) AS band FROM fp))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
         |                   AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    // directional containment |A∩B|/|A| over the same string shingle sets —
    // the prefix-filtered engine plan must list exactly the brute-force pairs
    "q_dedup_containment" ->
      s"""WITH sh AS ($dedupShCte)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.ss, b.ss))::DOUBLE / len(a.ss), 6)
         |    AS containment
         |FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
         |WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(a.ss) >= 0.6""".stripMargin,
    // guarded containment: the q_dedup_survivors transitive closure picks
    // canonical rows, then the same directional-containment predicate runs
    // over canonical rows ONLY — the composed oracle, not two separate ones,
    // because the gate must pin the PIPELINE the registered query serves
    "q_dedup_containment_guarded" ->
      s"""WITH RECURSIVE sh AS ($dedupShCte),
         |pairs AS ($dedupNearBody),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |canon AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |surv AS (SELECT d.doc_id FROM documents d LEFT JOIN canon c USING (doc_id)
         |         WHERE least(d.doc_id, coalesce(c.mn, d.doc_id)) = d.doc_id),
         |ssh AS (SELECT sh.* FROM sh JOIN surv USING (doc_id))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.ss, b.ss))::DOUBLE / len(a.ss), 6)
         |    AS containment
         |FROM ssh a JOIN ssh b ON a.doc_id <> b.doc_id
         |WHERE len(list_intersect(a.ss, b.ss))::DOUBLE / len(a.ss) >= 0.6""".stripMargin,
    // span-level dedup: same window/md5 construction in SQL; duplicated =
    // appears in >= 2 distinct docs
    "q_dedup_spans" ->
      s"""WITH w AS ($spanWinCte)
         |SELECT whash AS span_hash, COUNT(DISTINCT doc_id) AS n_docs,
         |       COUNT(*) AS n_occ, MIN(doc_id) AS first_doc
         |FROM w GROUP BY whash HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin,
    // fixed-size chunk dedup: codepoint slicing agrees across engines, so
    // the md5 inputs (each chunk's UTF-8 bytes) match exactly
    "q_dedup_chunks" ->
      """WITH c AS (SELECT doc_id,
        |    md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS chunk_md5
        |  FROM (SELECT doc_id, text,
        |          unnest(range((length(text) + 63) // 64)) AS i
        |        FROM documents))
        |SELECT chunk_md5,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS example_doc_id
        |FROM c GROUP BY chunk_md5
        |HAVING count(DISTINCT doc_id) > 1""".stripMargin,
    "q_dedup_span_coverage" ->
      s"""WITH w AS ($spanWinCte),
         |d AS (SELECT whash FROM w GROUP BY whash
         |      HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT w.doc_id, COUNT(*) AS n_windows,
         |       COUNT(d.whash) AS n_dup_windows,
         |       round(COUNT(d.whash)::DOUBLE / COUNT(*), 6) AS dup_ratio
         |FROM w LEFT JOIN d ON w.whash = d.whash
         |GROUP BY w.doc_id""".stripMargin,
    // incremental span coverage: same window construction, known = distinct
    // hashes of the even (existing) half, scored over the odd (incoming) half
    "q_dedup_spans_incremental" ->
      s"""WITH w AS ($spanWinCte),
         |known AS (SELECT DISTINCT whash FROM w WHERE doc_id % 2 = 0)
         |SELECT w.doc_id, COUNT(*) AS n_windows,
         |       COUNT(k.whash) AS n_known_windows,
         |       round(COUNT(k.whash)::DOUBLE / COUNT(*), 6) AS known_ratio
         |FROM w LEFT JOIN known k ON w.whash = k.whash
         |WHERE w.doc_id % 2 = 1
         |GROUP BY w.doc_id""".stripMargin,
    // cross-source overlap: same window/md5 construction carrying source;
    // distinct (source, whash) sets, pair join on whash, Jaccard at 6 dp
    "q_dedup_source_overlap" ->
      """WITH w AS (SELECT source,
        |  unnest([md5(array_to_string(t[i:i+7], ' '))
        |          for i in range(1, len(t) - 6)]) AS whash
        |FROM (SELECT source,
        |        list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |      FROM documents)
        |WHERE len(t) >= 8),
        |hs AS (SELECT DISTINCT source, whash FROM w),
        |ps AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared,
        |       CAST(pa.n AS BIGINT) AS n_a, CAST(pb.n AS BIGINT) AS n_b,
        |       round(COUNT(*)::DOUBLE / (pa.n + pb.n - COUNT(*)), 6) AS jaccard
        |FROM hs a JOIN hs b ON a.whash = b.whash AND a.source < b.source
        |JOIN ps pa ON pa.source = a.source
        |JOIN ps pb ON pb.source = b.source
        |GROUP BY 1, 2, pa.n, pb.n""".stripMargin,
    // survivors: transitive closure of the near-dup graph (fine at oracle
    // scale; the engine's label propagation never materializes it)
    "q_dedup_survivors" ->
      s"""WITH RECURSIVE sh AS ($dedupShCte),
         |pairs AS ($dedupNearBody),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |canon AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
         |SELECT d.doc_id,
         |       least(d.doc_id, coalesce(c.mn, d.doc_id)) AS canonical_id
         |FROM documents d LEFT JOIN canon c USING (doc_id)""".stripMargin,
    // Similarity: explicit element-wise double dot products so the float→
    // double widening and accumulation match the engine's zip_with/aggregate;
    // scores rounded to 6 dp on both sides before ranking/thresholding.
    "q_similarity_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
         |s AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    round($duckCosine, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> query_id)
         |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, score
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY score DESC, neighbor_id) AS rn
         |      FROM s)
         |WHERE rn <= 10""".stripMargin,
    // hard negatives: the same brute-force top-k shape with the label
    // constraint applied before ranking
    "q_similarity_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |                  label AS q_label
         |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
         |s AS (
         |  SELECT query_id, q_label, e.vec_id AS neighbor_id,
         |    e.label AS n_label,
         |    round($duckCosine, 6) AS score
         |  FROM embeddings e, q
         |  WHERE e.vec_id <> query_id AND e.label <> q.q_label)
         |SELECT query_id, q_label, CAST(rn AS INT) AS rank, neighbor_id,
         |       n_label, score
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY score DESC, neighbor_id) AS rn
         |      FROM s)
         |WHERE rn <= 10""".stripMargin,
    // cluster-bounded self-knn: the full Lloyd replay for the cells, then a
    // brute-force self-join RESTRICTED to same-cell pairs, row_number per
    // query — exactly the candidate set the engine's within-cell join scores
    "q_similarity_knn_bounded" ->
      s"""WITH ${kmeansCtes(8, 3)},
         |n AS ($simNormCte),
         |s AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, len(a.v)+1),
         |            i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE)) / (a.nrm * b.nrm), 6)
         |      AS score
         |  FROM n a
         |  JOIN afin ca ON ca.vec_id = a.vec_id
         |  JOIN n b ON b.vec_id <> a.vec_id
         |  JOIN afin cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell)
         |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, score
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                   ORDER BY score DESC, neighbor_id) AS rn
         |      FROM s)
         |WHERE rn <= 5""".stripMargin,
    // embedding-space survivors: transitive closure over ε-pairs RESTRICTED
    // to same-k-means-cell (full Lloyd replay) — the engine's within-cell
    // candidate set exactly. The GLOBAL-closure form is spec-side only
    // (SimilaritySpec) since round 11; kmeansCtes(8,3) matches the engine
    // because semdedupK(N) == 8 at every gate sf — asserted loudly by
    // Verify via assertOracleCoupling, not just this comment
    "q_similarity_dedup" ->
      s"""WITH RECURSIVE ${kmeansCtes(8, 3)},
         |n AS ($simNormCte),
         |s AS ($simPairsBody),
         |p0 AS (SELECT vec_a, vec_b FROM s WHERE raw >= 0.45),
         |pairs AS (SELECT p0.vec_a, p0.vec_b FROM p0
         |          JOIN afin ca ON ca.vec_id = p0.vec_a
         |          JOIN afin cb ON cb.vec_id = p0.vec_b AND cb.cell = ca.cell),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |          UNION ALL SELECT vec_b, vec_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u WHERE e2.v <> r.u),
         |canon AS (SELECT u AS vec_id, min(v) AS mn FROM reach GROUP BY u)
         |SELECT emb.vec_id,
         |       least(emb.vec_id, coalesce(c.mn, emb.vec_id)) AS canonical_id
         |FROM embeddings emb LEFT JOIN canon c USING (vec_id)""".stripMargin,
    // bucketed co-located join: same relational content as the vat join —
    // the engine path differs only in storage layout (no exchange)
    "q_join_bucketed" ->
      s"""WITH ttx AS (${Tables.txnsTsCte}),
         |txns AS (SELECT symbol, buy, amount, number_shares FROM ttx),
         |agg AS (${StockAggregation.aggregateSelect}),
         |mts AS (SELECT symbol, max(epoch_ms(ts)) AS max_ts_ms FROM ttx GROUP BY symbol)
         |SELECT a.symbol, a.buys, a.sells, a.number_shares, m.max_ts_ms
         |FROM agg a JOIN mts m USING (symbol)""".stripMargin,
    // Text analysis
    "q_text_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  list_sum(list_transform(string_split(text, ' '), t -> len(t)))::DOUBLE
        |    / len(string_split(text, ' ')) AS avg_token_len,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))::DOUBLE
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q_text_top_terms" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20""".stripMargin,
    // grouped top-k: the bounded-heap form must equal the window form
    "q_text_terms_by_source" ->
      """SELECT source, term, cnt, CAST(rk AS INT) AS rk FROM (
        |  SELECT source, term, cnt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, term ASC) AS rk
        |  FROM (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
        |        FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        |              FROM documents)
        |        GROUP BY source, term))
        |WHERE rk <= 5""".stripMargin,
    // per-source token-count distribution: quantile_cont IS Spark's exact
    // `percentile` (linear interpolation); both sides round to 6 dp
    "q_text_token_dist" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(SUM(len(string_split(text, ' ')))::DOUBLE / COUNT(*), 6) AS avg_tokens,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.25), 6) AS p25,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.75), 6) AS p75,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.9), 6) AS p90
        |FROM documents GROUP BY source""".stripMargin,
    // approx-percentile audit: the oracle recomputes the exact group sizes
    // and expects the engine-side rank-guarantee verdicts to hold
    "q_text_token_dist_approx" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  TRUE AS p50_within_bound, TRUE AS p90_within_bound
        |FROM documents GROUP BY source""".stripMargin,
    // deciles: SQL-standard ntile remainder rule matches in both engines;
    // the ordering is totalized by doc_id so bucket membership is exact
    "q_text_deciles" ->
      """WITH t AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ntile(10) OVER (PARTITION BY source
        |                    ORDER BY len(string_split(text, ' ')), doc_id)
        |      AS decile
        |  FROM documents)
        |SELECT source, CAST(decile AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |  round(SUM(n_tokens)::DOUBLE / count(*), 6) AS avg_tokens
        |FROM t GROUP BY 1, 2""".stripMargin,
    // Cavnar–Trenkle langid, retrained end-to-end in SQL: distinct character
    // trigrams per doc, top-50 per language (ties by trigram asc), score =
    // |doc grams ∩ profile|, argmax with ties to the greatest language code —
    // mirroring TextAnalysis.trainLanguageProfiles + languageId exactly.
    "q_text_langid" ->
      """WITH dg AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN len(text) >= 3
        |              THEN list_distinct([text[i:i+2] FOR i IN range(1, len(text) - 1)])
        |              ELSE [] END AS grams
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, g AS tg, count(*) AS cnt
        |  FROM (SELECT lang, unnest(grams) AS g FROM dg)
        |  GROUP BY lang, g),
        |prof AS (
        |  SELECT lang, list(tg) AS tgs FROM (
        |    SELECT lang, tg,
        |           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tg ASC) AS rn
        |    FROM cnt) WHERE rn <= 50 GROUP BY lang),
        |scored AS (
        |  SELECT d.doc_id, p.lang AS cand_lang,
        |         len(list_intersect(d.grams, p.tgs)) AS matched
        |  FROM dg d CROSS JOIN prof p)
        |SELECT doc_id, cand_lang AS predicted_lang,
        |       CAST(matched AS BIGINT) AS matched_ngrams
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY matched DESC, cand_lang DESC) AS rn
        |      FROM scored)
        |WHERE rn = 1 AND matched > 0""".stripMargin,
    // portable winnowing: md5-hex character-8-gram hashes, lexicographic
    // window-of-4 minima, distinct — the full MOSS scheme replayed in SQL
    "q_text_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 11 THEN
        |      list_distinct([
        |        list_min([md5(substr(text, j + o, 8)) for o in range(0, 4)])
        |        for j in range(1, length(text) - 9)])
        |    ELSE [] END AS fps
        |  FROM documents)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
        |       list_min(fps) AS min_fingerprint
        |FROM f""".stripMargin,
    // Multimodal metadata: UTF-8 byte length and fixed-size frame count over
    // the payload bytes; mime assignment mirrors the engine's derivation.
    "q_multimodal_resize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4'
        |  END AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST(ceil(octet_length(encode(text))::DOUBLE / 4) AS INT) AS byte_len_resized
        |FROM documents""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4'
        |  END AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  CAST(ceil(octet_length(encode(text))::DOUBLE / 256) AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // portable frames: 256-codepoint windows, md5 features, stride-2 sample
    "q_multimodal_frames" ->
      """SELECT doc_id,
        |  CAST(ceil(length(text)::DOUBLE / 256) AS INT) AS n_frames,
        |  CAST((ceil(length(text)::DOUBLE / 256)::BIGINT + 1) // 2 AS INT)
        |    AS n_sampled,
        |  CASE WHEN length(text) >= 1 THEN md5(substr(text, 1, 256)) END
        |    AS first_frame_feature
        |FROM documents""".stripMargin,
    // decode seam: the engine's n_frames is what the decoder actually
    // produced; the oracle recomputes it from the payload length
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4'
        |  END AS mime,
        |  CAST(ceil(octet_length(encode(text))::DOUBLE / 256) AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // The composed curation pipeline, end-to-end in SQL: transitive closure of
    // the near-dup graph → keep component minima → language-ID the kept docs
    // against profiles trained on the FULL corpus (mirroring the engine's
    // trained-once artifact) → min-token quality filter → per-language
    // accounting. Reuses the same CTE pieces as q_dedup_survivors/q_text_langid.
    "q_pipeline_curation" ->
      s"""WITH RECURSIVE sh AS ($dedupShCte),
         |pairs AS ($dedupNearBody),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |canon AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |kept AS (
         |  SELECT d.* FROM documents d LEFT JOIN canon c USING (doc_id)
         |  WHERE least(d.doc_id, coalesce(c.mn, d.doc_id)) = d.doc_id),
         |dg AS (${langGramsCte("documents")}),
         |$langProfCtes,
         |kg AS (${langGramsCte("kept")}),
         |best AS (${langBestSelect("kg")}),
         |counted AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the'))) AS n_stop
         |  FROM kept
         |  WHERE len(string_split(text, ' ')) >= 30)
         |SELECT predicted_lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       round(sum(n_stop)::DOUBLE / sum(n_tokens), 6) AS stopword_ratio
         |FROM best JOIN counted USING (doc_id)
         |GROUP BY predicted_lang""".stripMargin,
    // The FULL gate composition re-derived in one DuckDB query: transitive
    // closure → canonical survivors → quality + repetition keep sets →
    // profiles trained on the full corpus → score survivors → account.
    "q_pipeline_curation_full" ->
      s"""WITH RECURSIVE sh AS ($dedupShCte),
         |pairs AS ($dedupNearBody),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |canon AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |kept AS (
         |  SELECT d.* FROM documents d LEFT JOIN canon c USING (doc_id)
         |  WHERE least(d.doc_id, coalesce(c.mn, d.doc_id)) = d.doc_id),
         |dg AS (${langGramsCte("documents")}),
         |$langProfCtes,
         |kg AS (${langGramsCte("kept")}),
         |best AS (${langBestSelect("kg")}),
         |qk AS (${qualityKeepCte("kept")}),
         |rk AS (${repetitionKeepCte("kept")})
         |SELECT predicted_lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM best JOIN qk USING (doc_id) JOIN rk USING (doc_id)
         |GROUP BY predicted_lang""".stripMargin,
    // Quality rules: mean token length via the separator identity
    // sum(len(token)) == len(text) - (n_tokens - 1); DuckDB regexp_replace
    // needs the 'g' flag to strip ALL symbol chars (Spark's replaces all).
    "q_text_quality" ->
      """SELECT doc_id, n_tokens,
        |  round(mean_len, 6) AS mean_token_len,
        |  round(sym_ratio, 6) AS symbol_ratio,
        |  r_tokens, r_mean_len, r_symbol, r_stopword,
        |  (r_tokens AND r_mean_len AND r_symbol AND r_stopword) AS keep
        |FROM (
        |  SELECT doc_id, n_tokens, mean_len, sym_ratio,
        |    (n_tokens >= 30 AND n_tokens <= 50000) AS r_tokens,
        |    (mean_len >= 2.0 AND mean_len <= 12.0) AS r_mean_len,
        |    (sym_ratio <= 0.1) AS r_symbol,
        |    (list_contains(toks, 'a') OR list_contains(toks, 'the')) AS r_stopword
        |  FROM (
        |    SELECT doc_id, string_split(text, ' ') AS toks,
        |      len(string_split(text, ' ')) AS n_tokens,
        |      (len(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
        |        / len(string_split(text, ' ')) AS mean_len,
        |      CASE WHEN len(text) = 0 THEN 0.0
        |           ELSE len(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE / len(text)
        |      END AS sym_ratio
        |    FROM documents))""".stripMargin,
    // per-source quantile_cont threshold (rounded to 6 dp — the portable
    // cut), joined back for the keep verdict
    "q_quality_percentile_gate" ->
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tokens FROM documents),
        |thr AS (SELECT source, round(quantile_cont(n_tokens, 0.25), 6) AS thr
        |        FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens, h.thr,
        |       t.n_tokens >= h.thr AS keep
        |FROM t JOIN thr h USING (source)""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5('s5:' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999'""".stripMargin,
    // training-ready composition: near-dup closure over the TRAINING slice,
    // shingle decontamination against the benchmark slice, then the mixture
    // arithmetic over the surviving clean set — one SQL replay end-to-end
    "q_pipeline_training_ready" ->
      s"""WITH RECURSIVE sh0 AS ($dedupShCte),
         |sh AS (SELECT * FROM sh0 WHERE doc_id % 50 <> 0),
         |pairs AS ($dedupNearBody),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |canon AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u),
         |corpus AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0),
         |surv AS (SELECT c.doc_id, c.source
         |         FROM corpus c LEFT JOIN canon k USING (doc_id)
         |         WHERE least(c.doc_id, coalesce(k.mn, c.doc_id)) = c.doc_id),
         |bench AS (SELECT DISTINCT g
         |          FROM (SELECT unnest(ss) AS g FROM sh0 WHERE doc_id % 50 = 0)),
         |contam AS (SELECT DISTINCT c.doc_id
         |           FROM (SELECT doc_id, unnest(ss) AS g FROM sh) c
         |           JOIN bench b USING (g)),
         |clean AS (SELECT s.doc_id, s.source FROM surv s
         |          LEFT JOIN contam x USING (doc_id) WHERE x.doc_id IS NULL),
         |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
         |       FROM clean GROUP BY source),
         |w AS (SELECT source, n_s,
         |             CAST(round(sqrt(CAST(n_s AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_s
         |      FROM st),
         |t AS (SELECT source, n_s, w_s,
         |             SUM(w_s) OVER () AS w_tot, SUM(n_s) OVER () AS n_tot
         |      FROM w),
         |thr AS (SELECT source,
         |  CASE WHEN least(CAST(floor(0.5 * n_tot * CAST(w_s AS DOUBLE)
         |                         / CAST(w_tot AS DOUBLE) / n_s * 65536) AS BIGINT),
         |                  65536) = 65536
         |       THEN 'g'
         |       ELSE lpad(lower(hex(least(CAST(floor(0.5 * n_tot * CAST(w_s AS DOUBLE)
         |                                        / CAST(w_tot AS DOUBLE) / n_s * 65536) AS BIGINT),
         |                                 65536))), 4, '0') END AS thr
         |  FROM t)
         |SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_kept
         |FROM clean c JOIN thr USING (source)
         |WHERE substring(md5('mix:' || CAST(c.doc_id AS VARCHAR)), 1, 4) < thr.thr
         |GROUP BY c.source""".stripMargin,
    // mixture sampling: identical arithmetic order (((f·N)·w)/W)/n, decimal
    // weight normalization, 4-hex-digit threshold quantization, 'g' sentinel
    "q_sample_mixture" ->
      """WITH st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        |            FROM documents GROUP BY source),
        |w AS (SELECT source, n_s,
        |             CAST(round(sqrt(CAST(n_s AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w_s
        |      FROM st),
        |t AS (SELECT source, n_s, w_s,
        |             SUM(w_s) OVER () AS w_tot, SUM(n_s) OVER () AS n_tot
        |      FROM w),
        |thr AS (SELECT source,
        |  CASE WHEN least(CAST(floor(0.5 * n_tot * CAST(w_s AS DOUBLE)
        |                         / CAST(w_tot AS DOUBLE) / n_s * 65536) AS BIGINT),
        |                  65536) = 65536
        |       THEN 'g'
        |       ELSE lpad(lower(hex(least(CAST(floor(0.5 * n_tot * CAST(w_s AS DOUBLE)
        |                                        / CAST(w_tot AS DOUBLE) / n_s * 65536) AS BIGINT),
        |                                 65536))), 4, '0') END AS thr
        |  FROM t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN thr USING (source)
        |WHERE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) < thr.thr""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('s5:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin,
    // the bounded-heap twin must reproduce the window form exactly
    "q_sample_stratified_bounded" ->
      """SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('s5:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin,
    // Greedy packing: the per-shard prefix scan, replayed row-by-row as a
    // recursive CTE (fine at oracle scale; the engine streams it).
    "q_pack_greedy" -> s"WITH RECURSIVE ${packCtes(1024)} SELECT doc_id, shard, CAST(bin_id AS INT) AS bin_id, CAST(n_tokens AS INT) AS n_tokens FROM packed",
    "q_pack_bins" ->
      s"""WITH RECURSIVE ${packCtes(1024)}
         |SELECT shard, CAST(bin_id AS INT) AS bin_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  round(sum(n_tokens)::DOUBLE / 1024, 6) AS fill_ratio
         |FROM packed GROUP BY shard, bin_id""".stripMargin,
    "q_pack_payloads" ->
      s"""WITH RECURSIVE ${packCtes(1024)}
         |SELECT p.shard, CAST(p.bin_id AS INT) AS bin_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(p.n_tokens) AS BIGINT) AS bin_tokens,
         |  string_agg(d.text, chr(10) ORDER BY d.doc_id) AS payload
         |FROM packed p JOIN documents d USING (doc_id)
         |GROUP BY p.shard, p.bin_id""".stripMargin,
    // length-bucket padding audit: same explicit power-of-two CASE ladder
    // (floor 16, cap 1024), truncation at the cap, integer-exact token sums
    "q_pack_length_buckets" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
        |b AS (SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |         WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |         WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |         ELSE 1024 END AS bucket,
        |       least(n, 1024) AS kept,
        |       CASE WHEN n > 1024 THEN 1 ELSE 0 END AS trunc
        |  FROM t)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS kept_tokens,
        |  CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
        |  round(1.0 - SUM(kept)::DOUBLE / (COUNT(*) * bucket), 6)
        |    AS waste_ratio,
        |  CAST(SUM(trunc) AS BIGINT) AS truncated_docs
        |FROM b GROUP BY bucket""".stripMargin,
    // BPE vocab: the oracle RE-TRAINS the merges in unrolled SQL iterations
    // and must reproduce the engine's full training trajectory
    "q_text_bpe_vocab" ->
      s"""WITH ${bpeTrainCtes(BpeMerges)},
         |mt AS (${(1 to BpeMerges).map(i =>
               s"""SELECT $i AS rank, a AS "left", b AS "right", a || b AS merged, cnt AS pair_count FROM b$i""")
             .mkString("\nUNION ALL\n")})
         |SELECT CAST(rank AS INT) AS rank, "left", "right", merged, pair_count
         |FROM mt""".stripMargin,
    // BPE encode: same re-trained final state as the memo, same ordered
    // token stream, same md5 fingerprint of the space-joined tokens
    "q_text_bpe_encode" ->
      s"""WITH ${bpeTrainCtes(BpeMerges)},
         |${bpeEncodeCtes(BpeMerges)}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(flatten(list(toks ORDER BY pos)), ' ')) AS tokens_hash
         |FROM j GROUP BY doc_id""".stripMargin,
    // token-budgeted packing: the same recursive greedy fold as
    // q_pack_greedy, fed by the re-trained subword token counts
    "q_pack_greedy_tokens" ->
      s"""WITH RECURSIVE ${bpeTrainCtes(BpeMerges)},
         |${bpeEncodeCtes(BpeMerges)},
         |cnts AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(len(toks)) AS INT) AS n_tokens
         |  FROM j GROUP BY doc_id),
         |d AS (
         |  SELECT doc_id, shard, n_tokens,
         |         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
         |  FROM (SELECT doc_id,
         |               substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         |               n_tokens
         |        FROM cnts)),
         |packed(shard, rn, doc_id, n_tokens, bin_id, cum) AS (
         |  SELECT shard, rn, doc_id, n_tokens, 0, n_tokens FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         |         CASE WHEN p.cum + d.n_tokens > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.cum + d.n_tokens > 2048 THEN d.n_tokens ELSE p.cum + d.n_tokens END
         |  FROM d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1)
         |SELECT doc_id, shard, CAST(bin_id AS INT) AS bin_id,
         |  CAST(n_tokens AS INT) AS n_tokens
         |FROM packed""".stripMargin,
    // tokenizer efficiency: same retrained merges + encode CTEs; per-doc
    // token counts join the char/word projection, bounded per-source rollup
    "q_text_bpe_compression" ->
      s"""WITH RECURSIVE ${bpeTrainCtes(BpeMerges)},
         |${bpeEncodeCtes(BpeMerges)},
         |cnts AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
         |  FROM j GROUP BY doc_id),
         |w AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |      FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(n_words) AS BIGINT) AS sum_words,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  round(SUM(n_chars)::DOUBLE / SUM(n_tokens), 6) AS chars_per_token,
         |  round(SUM(n_tokens)::DOUBLE / SUM(n_words), 6) AS tokens_per_word
         |FROM w JOIN cnts USING (doc_id)
         |GROUP BY source""".stripMargin,
    // weighted sample: the same min-of-w salted-ticket race replayed with a
    // per-row list comprehension, same (ticket, doc_id) ordering
    "q_sample_weighted" ->
      """WITH c AS (SELECT doc_id,
        |    1 + CAST(floor(len(string_split(text, ' ')) / 256.0) AS INT) AS w
        |  FROM documents),
        |t AS (SELECT doc_id, w,
        |    list_min([md5('wt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))
        |              FOR j IN range(1, w + 1)]) AS ticket
        |  FROM c)
        |SELECT doc_id, w, ticket,
        |       CAST(row_number() OVER (ORDER BY ticket, doc_id) AS INT) AS rank
        |FROM t ORDER BY ticket, doc_id LIMIT 100""".stripMargin,
    // rebalance: same share arithmetic (v1 shares as DOUBLE, achievable
    // total T = min n2/share, per-source floor(frac·65536) hex thresholds)
    // and the same salted-hash admission filter over v2
    "q_sample_rebalance" ->
      """WITH v1 AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id, source FROM documents WHERE doc_id % 5 <> 0),
        |n1 AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n1
        |      FROM v1 GROUP BY source),
        |sh AS (SELECT source,
        |         CAST(n1 AS DOUBLE) / (SELECT CAST(count(*) AS BIGINT) FROM v1) AS share
        |       FROM n1),
        |n2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n2
        |       FROM v2 GROUP BY source),
        |r AS (SELECT source, share, n2, n2 / share AS ratio
        |      FROM sh JOIN n2 USING (source) WHERE share > 0),
        |thr AS (SELECT source,
        |          CASE WHEN v = 65536 THEN 'g'
        |               ELSE lpad(lower(hex(v)), 4, '0') END AS thr
        |        FROM (SELECT source,
        |                least(CAST(floor(share * (SELECT min(ratio) FROM r) / n2 * 65536) AS BIGINT),
        |                      65536) AS v
        |              FROM r))
        |SELECT d.doc_id, d.source
        |FROM v2 d JOIN thr USING (source)
        |WHERE substring(md5('rb:' || CAST(doc_id AS VARCHAR)), 1, 4) < thr.thr""".stripMargin,
    // decontamination: same distinct word-3-gram shingle definition as the
    // near-dup oracle; the engine joins on shingle HASHES (collision odds
    // documented at the operator)
    // Bloom prefilter + exact re-check = exactly the broadcast-join result
    "q_decontaminate_bloom" ->
      s"""WITH sh AS ($dedupShCte),
         |bench AS (SELECT DISTINCT g
         |          FROM (SELECT unnest(ss) AS g FROM sh WHERE doc_id % 50 = 0)),
         |corp AS (SELECT doc_id, unnest(ss) AS g FROM sh WHERE doc_id % 50 <> 0)
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_matched
         |FROM corp c JOIN bench b USING (g)
         |GROUP BY c.doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH sh AS ($dedupShCte),
         |bench AS (SELECT DISTINCT g
         |          FROM (SELECT unnest(ss) AS g FROM sh WHERE doc_id % 50 = 0)),
         |corp AS (SELECT doc_id, unnest(ss) AS g FROM sh WHERE doc_id % 50 <> 0)
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_matched
         |FROM corp c JOIN bench b USING (g)
         |GROUP BY c.doc_id""".stripMargin,
    // span decontamination: positional window hashes (struct comprehension),
    // gaps-and-islands for the longest contiguous matched run; the engine's
    // 0-based positions vs range's 1-based cancel inside pos - row_number()
    "q_decontaminate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id,
        |         unnest([{'pos': i, 'h': md5(array_to_string(t[i:i+3], ' '))}
        |                 for i in range(1, len(t) - 2)]) AS u
        |  FROM toks WHERE len(t) >= 4
        |), w AS (SELECT doc_id, u.pos AS pos, u.h AS whash FROM wins),
        |bench AS (SELECT DISTINCT whash FROM w WHERE doc_id % 10 = 0),
        |m AS (SELECT c.doc_id, c.pos FROM w c JOIN bench b USING (whash)
        |      WHERE c.doc_id % 10 <> 0),
        |r AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM m),
        |runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM r GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_matched_windows,
        |       CAST(MAX(run) + 3 AS BIGINT) AS longest_span_tokens
        |FROM runs GROUP BY doc_id""".stripMargin,
    // int8 quantization audit columns: identical float→double widening,
    // round-half-away-from-zero, zero-vector → zeros with scale 0
    "q_embed_quantize" ->
      """SELECT vec_id, m / 127.0 AS scale,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  CAST(list_min(qs) AS INT) AS q_min,
        |  CAST(list_max(qs) AS INT) AS q_max
        |FROM (
        |  SELECT vec_id, m,
        |    CASE WHEN m = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |                x -> CAST(round(x::DOUBLE * 127 / m) AS INT)) END AS qs
        |  FROM (
        |    SELECT vec_id, embedding,
        |      greatest(CAST(list_max(embedding) AS DOUBLE),
        |               -CAST(list_min(embedding) AS DOUBLE)) AS m
        |    FROM embeddings))""".stripMargin,
    // stream-static enrichment: same relational content as q_join_bucketed
    "q_streaming_enriched" ->
      s"""WITH ttx AS (${Tables.txnsTsCte}),
         |txns AS (SELECT symbol, buy, amount, number_shares FROM ttx),
         |agg AS (${StockAggregation.aggregateSelect}),
         |mts AS (SELECT symbol, max(epoch_ms(ts)) AS max_ts_ms FROM ttx GROUP BY symbol)
         |SELECT a.symbol, a.buys, a.sells, a.number_shares, m.max_ts_ms
         |FROM agg a JOIN mts m USING (symbol)""".stripMargin,
    // as-of join: DuckDB's NATIVE ASOF LEFT JOIN is the oracle — the merge-
    // shape engine path must reproduce it exactly. publish_s is whole-second,
    // so floor(epoch(ts)) >= publish_s ⟺ ts >= publish_s (no truncation skew).
    "q_asof_join" ->
      s"""WITH itx AS (${Tables.txnsIdTsCte}),
         |f AS (SELECT event_id, symbol, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM itx),
         |wtx AS ($windowAggCte), wagg AS ($windowAggSelect),
         |d AS (SELECT symbol, window_start_s + 3600 AS publish_s,
         |             window_start_s + 3600 AS asof_pub_s,
         |             number_shares AS asof_shares
         |      FROM wagg)
         |SELECT f.event_id, f.symbol, f.ts_s, d.asof_pub_s, d.asof_shares
         |FROM f ASOF LEFT JOIN d
         |  ON f.symbol = d.symbol AND f.ts_s >= d.publish_s""".stripMargin,
    // range join: the oracle is the plain non-equi join (fine at oracle
    // scale); the engine path buckets it into an equi join
    "q_range_join" ->
      s"""WITH itx AS (${Tables.txnsIdTsCte}),
         |f AS (SELECT event_id, symbol, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM itx),
         |iv AS (SELECT DISTINCT
         |         CAST(epoch(date_trunc('day', ts)) AS BIGINT) + 7200 AS start_s,
         |         CAST(epoch(date_trunc('day', ts)) AS BIGINT) + 18000 AS end_s
         |       FROM itx)
         |SELECT f.event_id, f.symbol, iv.start_s, iv.end_s
         |FROM f JOIN iv ON f.ts_s >= iv.start_s AND f.ts_s < iv.end_s""".stripMargin,
    // session windows: gaps-and-islands on exact microsecond timestamps —
    // shared by the batch and streaming forms
    "q_session_agg" -> sessionOracle,
    "q_streaming_session" -> sessionOracle,
    // stream-stream interval join: the batch self-join on exact timestamps
    "q_streaming_join" ->
      s"""WITH itx AS (${Tables.txnsIdTsCte})
         |SELECT b.event_id AS buy_event, s.event_id AS sell_event, b.symbol
         |FROM itx b JOIN itx s
         |  ON b.symbol = s.symbol AND b.buy AND NOT s.buy
         | AND s.ts >= b.ts - INTERVAL 30 MINUTE
         | AND s.ts <= b.ts + INTERVAL 30 MINUTE""".stripMargin,
    // late-drop: the engine's eviction arithmetic replayed in SQL — a row
    // in arrival batch k survives iff its 1 h window's end exceeds
    // max(event-ms of batches <= k-2) − 179 min (eviction lags one batch
    // behind the data that advanced the watermark — the same `arr - 2` lag
    // as q_streaming_dedup_bounded's oracle; fewer than 2 prior batches →
    // nothing evicted yet → counts)
    "q_streaming_late_drop" ->
      s"""WITH tc AS (SELECT event_id,
         |        ${Tables.txnSymbolSql},
         |        epoch_ns(ts) // 1000000 AS ms,
         |        ntile(${StreamingState.NumChunks}) OVER (
         |          ORDER BY epoch_ns(ts) // 1000, event_id) - 1 AS c
         |      FROM events),
         |cm AS (SELECT c, max(ms) AS cmax FROM tc GROUP BY c),
         |a AS (SELECT tc.*, CASE WHEN event_id % 5 = 0 AND ms >= cmax - 21600000
         |                        THEN c + 2 ELSE c END AS arr
         |      FROM tc JOIN cm USING (c)),
         |bmax AS (SELECT arr, max(ms) AS mx FROM a GROUP BY arr),
         |wm AS (SELECT x.arr, max(b.mx) - 10740000 AS wm_ms
         |       FROM (SELECT DISTINCT arr FROM a) x
         |       JOIN bmax b ON b.arr <= x.arr - 2 GROUP BY x.arr),
         |keep AS (SELECT a.* FROM a LEFT JOIN wm ON wm.arr = a.arr
         |         WHERE wm.wm_ms IS NULL
         |            OR ((a.ms // 3600000) + 1) * 3600000 > wm.wm_ms)
         |SELECT (ms // 3600000) * 3600 AS window_start_s, symbol,
         |       CAST(count(*) AS BIGINT) AS n_events
         |FROM keep GROUP BY 1, 2""".stripMargin,
    // outer ssj: the SAME interval condition as a batch LEFT JOIN over the
    // buy side — the streaming form must emit exactly this (nulls included)
    "q_streaming_join_outer" ->
      s"""WITH itx AS (${Tables.txnsIdTsCte})
         |SELECT b.event_id AS buy_event, s.event_id AS sell_event, b.symbol
         |FROM (SELECT * FROM itx WHERE buy) b LEFT JOIN
         |     (SELECT * FROM itx WHERE NOT buy) s
         |  ON b.symbol = s.symbol
         | AND s.ts >= b.ts - INTERVAL 30 MINUTE
         | AND s.ts <= b.ts + INTERVAL 30 MINUTE""".stripMargin,
    // rollup: rolled-up dims surface as '(all)' in both engines
    "q_text_rollup" ->
      """SELECT coalesce(source, '(all)') AS source,
        |       coalesce(lang, '(all)') AS lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,
    // pivot: conditional counts over the fixed language list
    "q_text_pivot" ->
      """SELECT source,
        |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |  CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin,
    // repetition signals: same non-distinct gram multisets, mode count via
    // list comprehension; keep thresholds compare the UNROUNDED ratios
    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, t,
        |        CASE WHEN len(t) >= 2
        |             THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
        |             ELSE [] END AS g2,
        |        CASE WHEN len(t) >= 3
        |             THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
        |             ELSE [] END AS g3
        |      FROM d),
        |r AS (SELECT doc_id, len(t) AS n_tokens,
        |        list_max(list_transform(list_distinct(t),
        |          x -> len(list_filter(t, y -> y = x))))::DOUBLE / len(t) AS u,
        |        CASE WHEN len(g2) = 0 THEN 0.0
        |             ELSE list_max(list_transform(list_distinct(g2),
        |               x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2) END AS b,
        |        CASE WHEN len(g3) = 0 THEN 0.0
        |             ELSE list_max(list_transform(list_distinct(g3),
        |               x -> len(list_filter(g3, y -> y = x))))::DOUBLE / len(g3) END AS tr
        |      FROM g)
        |SELECT doc_id, n_tokens,
        |  round(u, 6) AS top_unigram_ratio,
        |  round(b, 6) AS top_bigram_ratio,
        |  round(tr, 6) AS top_trigram_ratio,
        |  (u <= 0.14 AND b <= 0.07 AND tr <= 0.05) AS keep
        |FROM r""".stripMargin,
    // redaction: DuckDB regexp_replace needs 'g' (Spark's replaces all)
    "q_text_redact" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '(customer|vector)')) AS n_matches,
        |  regexp_replace(text, '(customer|vector)', '<redacted>', 'g') AS redacted
        |FROM documents""".stripMargin,
    // OOV rate vs the top-20 frequency vocab, retrained in SQL (ties by term)
    "q_text_oov" ->
      """WITH v AS (SELECT list(term) AS vl FROM (
        |  SELECT term FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term ORDER BY count(*) DESC, term LIMIT 20)),
        |d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, len(t) AS n_tokens,
        |  len(list_filter(t, x -> NOT list_contains(v.vl, x))) AS n_oov,
        |  round(len(list_filter(t, x -> NOT list_contains(v.vl, x)))::DOUBLE
        |        / len(t), 6) AS oov_rate
        |FROM d CROSS JOIN v""".stripMargin,
    // epoch shuffle: same md5 salts — 'e1-shard:' picks the shard digit,
    // 'e1-pos:' orders within the shard
    "q_shuffle_epoch" ->
      """SELECT doc_id,
        |  substring(md5('e1-shard:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY substring(md5('e1-shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    ORDER BY md5('e1-pos:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
        |FROM documents""".stripMargin,
    // z-order zone maps: identical integer bucket/interleave/shift pipeline
    // in SQL (floor division on non-negative ints; the Morton key is the
    // same unrolled shift/mask sum the engine generates)
    "q_layout_zorder" ->
      s"""WITH d AS (SELECT o_custkey AS xv,
         |    epoch_us(o_orderdate) // 86400000000 AS yv FROM orders),
         |b AS (SELECT min(xv) AS xmn, max(xv) AS xmx,
         |             min(yv) AS ymn, max(yv) AS ymx FROM d),
         |p AS (SELECT CAST(d.xv AS INT) AS xv, CAST(d.yv AS INT) AS yv,
         |        CAST(((d.xv - b.xmn) * 1024) // (b.xmx - b.xmn + 1) AS INT) AS bx,
         |        CAST(((d.yv - b.ymn) * 1024) // (b.ymx - b.ymn + 1) AS INT) AS by
         |      FROM d, b),
         |z AS (SELECT xv, yv,
         |        CAST((${Layout.mortonKeySql("bx", "by", 10)}) >> 14 AS INT)
         |          AS file_id
         |      FROM p)
         |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(xv) AS x_min, max(xv) AS x_max,
         |  min(yv) AS y_min, max(yv) AS y_max
         |FROM z GROUP BY file_id""".stripMargin,
    // linear layout: same bucket formula, file = bx >> (bits - fileBits)
    "q_layout_linear" ->
      """WITH d AS (SELECT o_custkey AS xv,
        |    epoch_us(o_orderdate) // 86400000000 AS yv FROM orders),
        |b AS (SELECT min(xv) AS xmn, max(xv) AS xmx FROM d),
        |p AS (SELECT CAST(d.xv AS INT) AS xv, CAST(d.yv AS INT) AS yv,
        |        CAST((CAST(((d.xv - b.xmn) * 1024) // (b.xmx - b.xmn + 1) AS INT)
        |              >> 4) AS INT) AS file_id
        |      FROM d, b)
        |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(xv) AS x_min, max(xv) AS x_max,
        |  min(yv) AS y_min, max(yv) AS y_max
        |FROM p GROUP BY file_id""".stripMargin,
    // incremental near-dedup: brute-force cross-side Jaccard at oracle scale
    // (the engine's LSH candidates are cross-side only); best match = max
    // jaccard, ties to the lowest existing id; sentinels for new docs
    "q_dedup_incremental" -> incDedupOracle,
    // per-micro-batch streaming form — unions to the identical verdict set
    "q_streaming_dedup_incremental" -> incDedupOracle,
    // funnel: same chained stage minima in SQL; epoch_us(TIMESTAMP_NS)
    // truncates ns→us exactly like the engine's `div 1000` rebuild
    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT t1.user_id, t1.t1 AS stage1_us,
        |       coalesce(t2.t2, -1) AS stage2_us,
        |       coalesce(t3.t3, -1) AS stage3_us
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin,
    // streaming funnel: identical chained-minima result as the batch form
    "q_streaming_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |t1 AS (SELECT user_id, min(us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
        |SELECT t1.user_id, t1.t1 AS stage1_us,
        |       coalesce(t2.t2, -1) AS stage2_us,
        |       coalesce(t3.t3, -1) AS stage3_us
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin,
    "q_events_retention" ->
      """WITH e AS (SELECT user_id,
        |             CAST(epoch_us(ts) // 86400000000 AS INT) AS day
        |           FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM (SELECT DISTINCT user_id, day FROM e) JOIN c USING (user_id)
        |GROUP BY cohort_day, day_offset""".stripMargin,
    "q_events_props" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) FILTER (k IS NULL) AS BIGINT) AS n_missing,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS k_sum,
        |  CAST(coalesce(min(k), -1) AS BIGINT) AS k_min,
        |  CAST(coalesce(max(k), -1) AS BIGINT) AS k_max
        |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        |GROUP BY event_type""".stripMargin,
    // per-user anomaly z-scores: DECIMAL-exact moments, then an identical
    // IEEE double op sequence (mean = s/n; var = ss/n - mean*mean, clamped)
    // so the quotient bit-matches; the threshold tests the UNROUNDED z
    "q_events_anomaly" ->
      """WITH v AS (SELECT event_id, user_id,
        |             CAST(round(value, 6) AS DECIMAL(18,6)) AS v FROM events),
        |m AS (SELECT user_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
        |      FROM v GROUP BY user_id),
        |st AS (SELECT user_id, CAST(s AS DOUBLE) / n AS mean,
        |         sqrt(greatest(CAST(ss AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std
        |       FROM m)
        |SELECT v.event_id, v.user_id, CAST(v.v AS DOUBLE) AS value,
        |  round((CAST(v.v AS DOUBLE) - st.mean) / st.std, 6) AS z
        |FROM v JOIN st USING (user_id)
        |WHERE st.std > 0
        |  AND abs((CAST(v.v AS DOUBLE) - st.mean) / st.std) >= 2.5""".stripMargin,
    // rate limit: the engine's bounded aggregate must equal the SQL window
    "q_events_rate_limit" -> rateLimitOracle,
    // the streaming admission counter unions to the identical admitted set
    // (both state APIs against one SQL)
    "q_streaming_rate_limit" -> rateLimitOracle,
    "q_streaming_rate_limit_tws" -> rateLimitOracle,
    // hourly active users: oracle recomputes the exact side per tumbling
    // window and asserts the within-bound verdict (the sketch audit move)
    "q_sketch_window_users" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  TRUE AS hll_within_bound
        |FROM events GROUP BY 1""".stripMargin,
    // trending: rank per window by count desc, name asc — the same total
    // order the bounded heap's (-n_events, event_type) struct encodes
    "q_events_trending" -> trendingOracleSql,
    // the streaming leaderboard maintains the same per-window top-3
    // incrementally — both state-API forms share the oracle so the
    // semantics cannot drift
    "q_streaming_trending" -> trendingOracleSql,
    "q_streaming_trending_fmgws" -> trendingOracleSql,
    // transitions: lead over the same (us, event_id) per-user order
    "q_events_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.n_from,
        |  round(c.n::DOUBLE / t.n_from, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,
    // chunk-overlap pairs: identical chunk CTE, identical posting cap
    "q_dedup_chunk_overlap" ->
      """WITH h AS (SELECT DISTINCT doc_id,
        |    md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS chunk_md5
        |  FROM (SELECT doc_id, text,
        |          unnest(range((length(text) + 63) // 64)) AS i
        |        FROM documents)),
        |u AS (SELECT chunk_md5 FROM h GROUP BY chunk_md5
        |      HAVING count(*) > 1 AND count(*) <= 50),
        |hf AS (SELECT h.doc_id, h.chunk_md5 FROM h JOIN u USING (chunk_md5))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM hf a JOIN hf b
        |  ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // triangles: same chunk-overlap edge CTE, same wedge + closing join
    "q_graph_triangles" ->
      s"""WITH $chunkGraphCtes
        |SELECT e1.u AS doc_a, e1.v AS doc_b, e2.v AS doc_c
        |FROM e e1 JOIN e e2 ON e1.v = e2.u
        |          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    // connected components over the same chunk-overlap graph: min-reachable
    // label via closure (oracle scale), sizes joined back
    "q_graph_components" ->
      s"""WITH RECURSIVE $chunkGraphCtes,
        |edges AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |  WHERE e2.v <> r.u),
        |base AS (SELECT u AS node, least(u, min(v)) AS component
        |         FROM reach GROUP BY u),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |       FROM base GROUP BY 1)
        |SELECT b.node, b.component, s.n_members
        |FROM base b JOIN sz s USING (component)""".stripMargin,
    // KMV: the whole sketch replayed in SQL — k-th smallest md5 of the
    // distinct per-type timestamp strings, 13-hex fraction, same
    // (k-1)*2^52/v quotient, same 0.19 bound
    "q_sketch_kmv" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    md5(CAST(epoch_us(ts) AS VARCHAR)) AS h
         |  FROM events),
         |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_distinct
         |      FROM h GROUP BY 1),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM h),
         |kv AS (SELECT event_type,
         |         ${Sketches.hexPrefixToLongSql("h")} AS v
         |       FROM r WHERE rn = 256),
         |e AS (SELECT n.event_type, n.n_distinct,
         |        CASE WHEN n.n_distinct < 256 THEN CAST(n.n_distinct AS DOUBLE)
         |             ELSE CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
         |                  / greatest(kv.v, 1)
         |        END AS raw
         |      FROM n LEFT JOIN kv USING (event_type))
         |SELECT event_type, n_distinct, round(raw, 6) AS kmv_est,
         |  round(abs(raw - n_distinct) / n_distinct, 6) AS rel_err,
         |  (abs(raw - n_distinct) / n_distinct <= 0.19) AS within_bound
         |FROM e""".stripMargin,
    // resample+fill: islands formulation (cumulative non-null count → island
    // id → island max) — same fill as last(ignoreNulls) without relying on
    // DuckDB's IGNORE NULLS window support
    "q_features_resample" ->
      s"""$WW,
         |m AS (SELECT max(window_start_s) AS gmax FROM wagg),
         |st AS (SELECT symbol, min(window_start_s) AS s0 FROM wagg GROUP BY 1),
         |grid AS (SELECT st.symbol,
         |           unnest(generate_series(st.s0, m.gmax, 3600)) AS window_start_s
         |         FROM st, m),
         |j AS (SELECT g.symbol, g.window_start_s, w.number_shares AS v
         |      FROM grid g LEFT JOIN wagg w USING (symbol, window_start_s)),
         |i AS (SELECT symbol, window_start_s, v,
         |        count(v) OVER (PARTITION BY symbol ORDER BY window_start_s) AS grp
         |      FROM j)
         |SELECT symbol, window_start_s,
         |  max(v) OVER (PARTITION BY symbol, grp) AS number_shares,
         |  (v IS NULL) AS is_gap
         |FROM i""".stripMargin,
    // drift report: same per-source aggregates, totals as scalar subqueries,
    // IEEE share divisions rounded at 6 dp on both sides
    "q_diff_drift" ->
      """WITH v1 AS (SELECT source, n_chars FROM documents
        |            WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT source, n_chars FROM documents WHERE doc_id % 5 <> 0),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_v1,
        |        CAST(sum(n_chars) AS BIGINT) AS size_v1 FROM v1 GROUP BY 1),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_v2,
        |        CAST(sum(n_chars) AS BIGINT) AS size_v2 FROM v2 GROUP BY 1),
        |t AS (SELECT (SELECT count(*) FROM v1) AS t1,
        |             (SELECT count(*) FROM v2) AS t2)
        |SELECT coalesce(a.source, b.source) AS source,
        |  coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2,
        |  coalesce(size_v1, 0) AS size_v1, coalesce(size_v2, 0) AS size_v2,
        |  round(CAST(coalesce(n_v1, 0) AS DOUBLE) / t1, 6) AS share_v1,
        |  round(CAST(coalesce(n_v2, 0) AS DOUBLE) / t2, 6) AS share_v2,
        |  round(CAST(coalesce(n_v2, 0) AS DOUBLE) / t2
        |        - CAST(coalesce(n_v1, 0) AS DOUBLE) / t1, 6) AS share_delta
        |FROM a FULL JOIN b ON a.source = b.source, t""".stripMargin,
    // embedding drift: the q_embed_dim_stats decimal-moment CTE evaluated
    // on each vec_id-holdout snapshot, joined on dim; mean_shift subtracts
    // the 6-dp-ROUNDED means (mirroring Versioning.embeddingDrift)
    "q_diff_embed_drift" ->
      """WITH xa AS (SELECT CAST(d AS INT) AS dim,
        |    CAST(round(CAST(embedding[CAST(d + 1 AS BIGINT)] AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS v
        |  FROM (SELECT embedding, unnest(range(len(embedding))) AS d
        |        FROM embeddings WHERE vec_id % 7 <> 0)),
        |xb AS (SELECT CAST(d AS INT) AS dim,
        |    CAST(round(CAST(embedding[CAST(d + 1 AS BIGINT)] AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS v
        |  FROM (SELECT embedding, unnest(range(len(embedding))) AS d
        |        FROM embeddings WHERE vec_id % 5 <> 0)),
        |ma AS (SELECT dim, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
        |       FROM xa GROUP BY dim),
        |mb AS (SELECT dim, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss
        |       FROM xb GROUP BY dim),
        |pa AS (SELECT dim, CAST(n AS BIGINT) AS n_v1,
        |    round(CAST(s AS DOUBLE) / n, 6) AS mean_v1,
        |    round(sqrt(greatest(CAST(ss AS DOUBLE) / n
        |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)), 6)
        |      AS std_v1
        |  FROM ma),
        |pb AS (SELECT dim, CAST(n AS BIGINT) AS n_v2,
        |    round(CAST(s AS DOUBLE) / n, 6) AS mean_v2,
        |    round(sqrt(greatest(CAST(ss AS DOUBLE) / n
        |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)), 6)
        |      AS std_v2
        |  FROM mb)
        |SELECT dim, mean_v1, mean_v2,
        |  round(mean_v2 - mean_v1, 6) AS mean_shift,
        |  std_v1, std_v2, n_v1, n_v2
        |FROM pa JOIN pb USING (dim)""".stripMargin,
    // skew profile: same counts/quantiles/top-k; ANSI quantile_cont matches
    // Spark percentile, deterministic key tiebreak on the leaderboard
    "q_quality_skew" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
        |        round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
        |        CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
        |t AS (SELECT user_id, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, user_id) AS rn FROM c)
        |SELECT CAST(t.rn AS INT) AS rank, t.user_id, t.cnt,
        |  round(CAST(t.cnt AS DOUBLE) / s.n_rows, 6) AS share,
        |  s.n_keys, s.n_rows, s.p50_cnt, s.p99_cnt, s.max_cnt
        |FROM t, s WHERE t.rn <= 10""".stripMargin,
    // streaming KMV: the same distinct-hash ranking, estimate-only columns
    // (exact n_distinct is what the BOUNDED streaming state cannot hold)
    "q_streaming_kmv" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    md5(CAST(epoch_us(ts) AS VARCHAR)) AS h
         |  FROM events),
         |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_distinct
         |      FROM h GROUP BY 1),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM h),
         |kv AS (SELECT event_type,
         |         ${Sketches.hexPrefixToLongSql("h")} AS v
         |       FROM r WHERE rn = 256)
         |SELECT n.event_type,
         |  CAST(least(n.n_distinct, 256) AS BIGINT) AS n_sketch,
         |  round(CASE WHEN n.n_distinct < 256 THEN CAST(n.n_distinct AS DOUBLE)
         |        ELSE CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
         |             / greatest(kv.v, 1)
         |        END, 6) AS kmv_est
         |FROM n LEFT JOIN kv USING (event_type)""".stripMargin,
    // erasure sweep: survivors = events whose user is NOT tombstoned
    "q_curation_forget" ->
      """SELECT user_id, event_id FROM events
        |WHERE user_id NOT IN
        |  (SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0)""".stripMargin,
    // referential audit: LEFT-join orphan counts per declared relation
    "q_quality_referential" ->
      """SELECT 'lineitem->orders' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT)
        |FROM orders od LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON od.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'customer->nation',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (n.n_nationkey IS NULL) AS BIGINT)
        |FROM customer cu LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |  ON cu.c_nationkey = n.n_nationkey""".stripMargin,
    // per-label norm accounting: same sequential per-row norm arithmetic as
    // the similarity oracles; the mean sums DECIMAL(18,6)-cast rounded norms
    "q_embed_norms" ->
      """WITH n AS (SELECT label,
        |  round(sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(nrm) AS min_norm, max(nrm) AS max_norm,
        |  round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_norm
        |FROM n GROUP BY label""".stripMargin,
    // per-label outliers: decimal-exact per-dimension centroid means (one
    // exact decimal->double rounding + one IEEE division), then the SAME
    // sequential array-order double accumulation as q_embed_norms for the
    // per-row distance, IEEE sqrt, quantile_cont cut compared at 6 dp
    "q_embed_outliers" ->
      """WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS d,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, d,
        |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
        |           / COUNT(*) AS c
        |  FROM dims GROUP BY 1, 2),
        |cl AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
        |dist AS (
        |  SELECT vec_id, label,
        |         round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |           i -> (embedding[i]::DOUBLE - cv[i]) *
        |                (embedding[i]::DOUBLE - cv[i])))), 6) AS dist
        |  FROM embeddings JOIN cl USING (label)),
        |cuts AS (SELECT label, round(quantile_cont(dist, 0.9), 6) AS cut
        |         FROM dist GROUP BY 1)
        |SELECT vec_id, label, dist, cut, dist > cut AS is_outlier
        |FROM dist JOIN cuts USING (label)""".stripMargin,
    // SemDeDup: Lloyd replay for the cells + brute-force ε-pairs + the same
    // min-id same-cell dominance — the whole composition in one query
    "q_pipeline_semdedup" ->
      s"""WITH ${kmeansCtes(8, 3)},
         |n AS ($simNormCte),
         |s AS ($simPairsBody),
         |p AS (SELECT vec_a, vec_b FROM s WHERE raw >= 0.45),
         |sc AS (SELECT p.vec_a, p.vec_b FROM p
         |       JOIN afin ca ON ca.vec_id = p.vec_a
         |       JOIN afin cb ON cb.vec_id = p.vec_b
         |       WHERE ca.cell = cb.cell),
         |dom AS (SELECT DISTINCT vec_b AS vec_id FROM sc)
         |SELECT a.vec_id, e.label, a.cell, dom.vec_id IS NULL AS keep
         |FROM afin a JOIN e USING (vec_id)
         |LEFT JOIN dom ON dom.vec_id = a.vec_id""".stripMargin,
    // k-means assignments: the full seeded Lloyd replay (kmeansCtes), then
    // the final assignment joined back for the label and 6-dp distance
    "q_embed_clusters" ->
      s"""WITH ${kmeansCtes(8, 3)}
         |SELECT a.vec_id, e.label, a.cell, round(sqrt(a.d2), 6) AS dist
         |FROM afin a JOIN e USING (vec_id)""".stripMargin,
    // two-level routing replay: coarse quantizer over the 80 seed centroids
    // (⌈√80⌉ = 9, 3 Lloyd iterations, sequential double means) + nearest
    // non-empty branch + in-branch argmin — fails if the k > 64 kernel
    // branch's arithmetic drifts
    "q_embed_route_fine" ->
      s"""WITH ${coarseRouteCtes(80, 9, 3)}
         |SELECT a.vec_id, e.label, a.cell, round(sqrt(a.d2), 6) AS dist
         |FROM afin a JOIN e USING (vec_id)""".stripMargin,
    // per-cluster profile from the same replay: majority by (n DESC, label)
    // row_number mirrors Spark max_by(label, struct(n, -label))
    "q_embed_cluster_profile" ->
      s"""WITH ${kmeansCtes(8, 3)},
         |fd AS (SELECT a.cell, e.label, round(sqrt(a.d2), 6) AS dist
         |       FROM afin a JOIN e USING (vec_id)),
         |bl AS (SELECT cell, label, COUNT(*) AS n FROM fd GROUP BY 1, 2),
         |mj AS (SELECT cell, label AS majority_label, n AS n_majority FROM (
         |         SELECT cell, label, n,
         |                row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rn
         |         FROM bl) WHERE rn = 1)
         |SELECT f.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       mj.majority_label, CAST(mj.n_majority AS BIGINT) AS n_majority,
         |       round(CAST(mj.n_majority AS DOUBLE) / COUNT(*), 6) AS purity,
         |       round(CAST(SUM(CAST(f.dist AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_dist
         |FROM fd f JOIN mj USING (cell)
         |GROUP BY f.cell, mj.majority_label, mj.n_majority""".stripMargin,
    // cluster-balanced sample: the Lloyd replay's final assignment, then the
    // same salted-md5 per-cell rank the stratified samplers use
    "q_sample_clusters" ->
      s"""WITH ${kmeansCtes(8, 3)},
         |asg AS (SELECT a.vec_id, e.label, a.cell FROM afin a JOIN e USING (vec_id))
         |SELECT vec_id, label, cell, CAST(rk AS INT) AS rk FROM (
         |  SELECT vec_id, label, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY md5('s5:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |  FROM asg)
         |WHERE rk <= 24""".stripMargin,
    // exact vocabulary accounting
    "q_text_vocab" ->
      """SELECT source,
        |  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_distinct_terms,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY source""".stripMargin,
    // contamination score: same shingle universe as q_decontaminate, left
    // join so clean docs carry 0
    "q_decontaminate_score" ->
      s"""WITH sh AS ($dedupShCte),
         |bench AS (SELECT DISTINCT g
         |          FROM (SELECT unnest(ss) AS g FROM sh WHERE doc_id % 50 = 0)),
         |corp AS (SELECT doc_id, unnest(ss) AS g FROM sh WHERE doc_id % 50 <> 0)
         |SELECT c.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(b.g) AS BIGINT) AS n_matched,
         |  round(count(b.g)::DOUBLE / count(*), 6) AS contamination
         |FROM corp c LEFT JOIN bench b USING (g)
         |GROUP BY c.doc_id""".stripMargin,
    // token chunking: 1-based slices [i·stride+1, i·stride+window] per doc,
    // ⌊(n−1)/stride⌋+1 chunks (stride 24, window 32)
    "q_text_chunks" ->
      """SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |  array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
        |  CAST(len(toks[i*24+1 : i*24+32]) AS INT) AS n_tokens
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |  LATERAL (SELECT unnest(range(0, CAST(floor((len(toks)-1)/24) AS INT) + 1)) AS i)""".stripMargin,
    // collocations: identical lift expression shape (c_ab·Nu·Nu)/(c_a·c_b·Nb),
    // rounded to 6 dp; top-20 under (lift desc, bigram asc)
    "q_text_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
        |tot AS (SELECT (SELECT COUNT(*) FROM uni) AS nu,
        |               (SELECT SUM(greatest(len(t) - 1, 0)) FROM toks) AS nb),
        |bi AS (SELECT t[i] || ' ' || t[i+1] AS bigram
        |       FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
        |bcnt AS (SELECT bigram, COUNT(*) AS c_ab FROM bi
        |         GROUP BY bigram HAVING COUNT(*) >= 5)
        |SELECT b.bigram, b.c_ab AS n_occurrences,
        |  round((CAST(b.c_ab AS DOUBLE) * t.nu * t.nu)
        |        / (CAST(ua.c AS DOUBLE) * ub.c * t.nb), 6) AS lift
        |FROM bcnt b CROSS JOIN tot t
        |JOIN ucnt ua ON ua.w = string_split(b.bigram, ' ')[1]
        |JOIN ucnt ub ON ub.w = string_split(b.bigram, ' ')[2]
        |ORDER BY lift DESC, b.bigram
        |LIMIT 20""".stripMargin,
    // inverted index: df exact, postings capped at the first 1000 doc ids
    "q_text_inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, term
        |            FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |                  FROM documents)),
        |r AS (SELECT term, doc_id,
        |             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |      FROM td)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |  string_agg(CASE WHEN rn <= 1000 THEN CAST(doc_id AS VARCHAR) END,
        |             ',' ORDER BY doc_id) AS postings
        |FROM r GROUP BY term""".stripMargin,
    // term-rarity hot-key join: tf·n/df without ln (engine-portable IEEE
    // arithmetic), per-term contributions rounded then summed as DECIMAL
    "q_text_rarity_join" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |               FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_terms,
        |  round(CAST(SUM(CAST(round(tf.tf * n.n_docs / df.df, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS rarity_score
        |FROM tf JOIN df USING (term), n
        |GROUP BY doc_id""".stripMargin,
    // more-like-this: full tf·idf replay — same no-ln rarity weight rounded
    // to decimal BEFORE accumulation (exact sums), doubles only in the final
    // sqrt/divide; rank ties break on doc_id after the 6-dp rounded cosine
    "q_text_mlt" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |               FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |w AS (SELECT tf.doc_id, tf.term,
        |        CAST(tf.tf * CAST(round(n.n_docs / df.df, 6) AS DECIMAL(18,6))
        |             AS DECIMAL(18,6)) AS w
        |      FROM tf JOIN df USING (term), n),
        |nrm AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
        |        FROM w GROUP BY 1),
        |sw AS (SELECT doc_id AS seed_id, term, w AS ws FROM w
        |       WHERE doc_id IN (0, 1, 2, 3, 4)),
        |sn AS (SELECT doc_id AS seed_id, nrm AS ns FROM nrm
        |       WHERE doc_id IN (0, 1, 2, 3, 4)),
        |num AS (SELECT sw.seed_id, w.doc_id, sum(w.w * sw.ws) AS num
        |        FROM w JOIN sw USING (term) WHERE w.doc_id <> sw.seed_id
        |        GROUP BY 1, 2),
        |cos AS (SELECT seed_id, num.doc_id, round(
        |          CAST(num AS DOUBLE) / (nrm.nrm * sn.ns), 6) AS cosine
        |        FROM num JOIN nrm ON nrm.doc_id = num.doc_id
        |                 JOIN sn USING (seed_id))
        |SELECT seed_id, doc_id, cosine, CAST(rank AS INT) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY seed_id ORDER BY cosine DESC, doc_id) AS rank
        |      FROM cos)
        |WHERE rank <= 10""".stripMargin,
    // TF-IDF keywords: same tf/df aggregates as the MLT oracle, smoothed
    // ln((N+1)/(df+1)) idf, rank on the 6-dp-rounded score with term-asc
    // ties (round-before-rank, mirroring the engine's bounded heaps).
    // df counts (doc_id, term) GROUPS — tf rows — which equals distinct
    // docs per term, same as the engine's second aggregate over tf
    "q_text_keywords" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |               FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        round(tf.tf * ln((n.n_docs + 1)::DOUBLE / (df.df + 1)), 6)
        |          AS score
        |      FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |       score, CAST(rank AS INT) AS rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM s)
        |WHERE rank <= 3""".stripMargin,
    // ranked retrieval: df restricted to the query terms, same no-ln weight
    // and decimal accumulation as the rarity join; LIMIT is deterministic
    // because ties break on doc_id after the 6-dp rounded score
    "q_text_retrieval" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |               FROM documents),
        |qt AS (SELECT doc_id, term FROM terms
        |       WHERE term IN ('window', 'hash', 'merge')),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
        |  round(CAST(SUM(CAST(round(tf.tf * n.n_docs / df.df, 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS score
        |FROM tf JOIN df USING (term), n
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,
    // Sketch audits: the oracle recomputes the EXACT side and asserts the
    // within-bound verdict — the only SQL-portable claims a sketch can make
    "q_sketch_vocab" ->
      """SELECT source,
        |  CAST(COUNT(DISTINCT term) AS BIGINT) AS n_distinct_terms,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  TRUE AS hll_within_bound
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY source""".stripMargin,
    // ANN recall audits: every emitted column is SQL-derivable (k and the
    // query set are query constants; n_exact = k per query since the corpus
    // exceeds k) — the engine-specific recall number stays engine-side,
    // only its verdict crosses
    "q_similarity_ann" ->
      """SELECT 10 AS k,
        |  CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_exact,
        |  TRUE AS recall_beats_random""".stripMargin,
    "q_similarity_ivf" ->
      """SELECT 10 AS k,
        |  CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_exact,
        |  TRUE AS recall_beats_random""".stripMargin,
    // PQ encode: re-train all four subspace codebooks (same Lloyd replay as
    // the clustering oracles, one per 16-dim slice) and reproduce every
    // code and the 6-dp reconstruction distortion — codes tie to the lowest
    // on equal d2, and the four subspace d2's sum left-to-right in double
    // exactly as the Spark side folds them
    "q_embed_pq" ->
      s"""WITH ${pqCtes(4, 16, 16, 2)}
         |SELECT e.vec_id, e.label,
         |  a0.cell AS code_0, a1.cell AS code_1,
         |  a2.cell AS code_2, a3.cell AS code_3,
         |  round(sqrt(a0.d2 + a1.d2 + a2.d2 + a3.d2), 6) AS quant_err
         |FROM embeddings e
         |JOIN s0_afin a0 ON a0.vec_id = e.vec_id
         |JOIN s1_afin a1 ON a1.vec_id = e.vec_id
         |JOIN s2_afin a2 ON a2.vec_id = e.vec_id
         |JOIN s3_afin a3 ON a3.vec_id = e.vec_id""".stripMargin,
    // PQ ANN: like the LSH/IVF audits, the recall NUMBER depends on the
    // trained sketch, so the oracle asserts the SQL-recomputable counts and
    // the verdict (shortlist of 50/query must beat random candidate
    // selection by the fixed margin)
    "q_similarity_pq" ->
      """SELECT 10 AS k,
        |  CAST(5 AS BIGINT) AS n_queries,
        |  CAST(50 AS BIGINT) AS n_exact,
        |  TRUE AS recall_beats_random""".stripMargin,
    "q_sketch_token_dist" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  round(SUM(len(string_split(text, ' ')))::DOUBLE / COUNT(*), 6) AS avg_tokens,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.25), 6) AS p25,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.5), 6) AS p50,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.75), 6) AS p75,
        |  round(quantile_cont(len(string_split(text, ' ')), 0.9), 6) AS p90,
        |  TRUE AS gk_within_bound
        |FROM documents GROUP BY source""".stripMargin,
    // CMS replayed end-to-end in SQL: same md5 2-hex-char buckets, same
    // depth-4 counter sums, same min-over-rows estimate, same bound
    // arithmetic — every value must match, not just the verdict
    "q_sketch_cms" ->
      """WITH terms AS (SELECT unnest(string_split(text, ' ')) AS term
        |               FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM terms),
        |counters AS (
        |  SELECT i, substring(md5(CAST(i AS VARCHAR) || ':' || term), 1, 2) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM terms CROSS JOIN range(4) r(i)
        |  GROUP BY 1, 2),
        |ex AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM terms
        |       GROUP BY term ORDER BY exact_cnt DESC, term LIMIT 20),
        |est AS (
        |  SELECT e.term, e.exact_cnt, min(c.c) AS cms_est
        |  FROM ex e
        |  CROSS JOIN range(4) r(i)
        |  JOIN counters c
        |    ON c.i = r.i
        |   AND c.bucket = substring(md5(CAST(r.i AS VARCHAR) || ':' || e.term), 1, 2)
        |  GROUP BY 1, 2)
        |SELECT term, exact_cnt, cms_est,
        |  cms_est >= exact_cnt AS never_under,
        |  cms_est <= exact_cnt + (SELECT n // 64 FROM tot) AS within_bound
        |FROM est""".stripMargin,
    // KMV Jaccard: same k-min sketches (md5 span hashes sort identically),
    // same union-sample estimator, same exact twin — every value matches
    "q_sketch_kmv_jaccard" ->
      """WITH toks AS (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |w AS (SELECT source,
        |  unnest([md5(array_to_string(t[i:i+7], ' '))
        |          for i in range(1, len(t) - 6)]) AS whash
        |FROM toks WHERE len(t) >= 8),
        |hs AS (SELECT DISTINCT source, whash FROM w),
        |sk AS (SELECT source, list_sort(list(whash))[1:256] AS mins
        |       FROM hs GROUP BY source),
        |ps AS (SELECT source, COUNT(*) AS n FROM hs GROUP BY 1),
        |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
        |                 a.mins AS ma, b.mins AS mb
        |          FROM sk a JOIN sk b ON a.source < b.source),
        |est AS (SELECT source_a, source_b, ma, mb,
        |          list_sort(list_distinct(list_concat(ma, mb)))[1:256] AS x
        |        FROM pairs),
        |kmv AS (SELECT source_a, source_b,
        |          round(CAST(len(list_filter(x, h ->
        |              list_contains(ma, h) AND list_contains(mb, h)))
        |            AS DOUBLE) / len(x), 6) AS kmv_jaccard
        |        FROM est),
        |ex AS (SELECT a.source AS source_a, b.source AS source_b,
        |         round(COUNT(*)::DOUBLE / (pa.n + pb.n - COUNT(*)), 6) AS jx
        |       FROM hs a JOIN hs b
        |         ON a.whash = b.whash AND a.source < b.source
        |       JOIN ps pa ON pa.source = a.source
        |       JOIN ps pb ON pb.source = b.source
        |       GROUP BY 1, 2, pa.n, pb.n)
        |SELECT k.source_a, k.source_b,
        |  coalesce(jx, 0.0) AS jaccard_exact, kmv_jaccard,
        |  round(abs(kmv_jaccard - coalesce(jx, 0.0)), 6) AS abs_err,
        |  abs(kmv_jaccard - coalesce(jx, 0.0)) <= 0.1 AS within_bound
        |FROM kmv k LEFT JOIN ex
        |  ON k.source_a = ex.source_a AND k.source_b = ex.source_b""".stripMargin,
    // co-occurrence: same distinct baskets, self-join pair counts, same
    // integer counts and lift quotient
    "q_events_cooccurrence" ->
      """WITH b AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day, event_type
        |  FROM events),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb
        |        FROM (SELECT DISTINCT user_id, day FROM b)),
        |pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
        |       FROM b GROUP BY 1)
        |SELECT a.event_type AS t1, c.event_type AS t2,
        |  CAST(COUNT(*) AS BIGINT) AS n_both,
        |  pa.n_t AS n_t1, pb.n_t AS n_t2,
        |  round(COUNT(*)::DOUBLE * (SELECT nb FROM tot)
        |        / (pa.n_t * pb.n_t), 6) AS lift
        |FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
        |                 AND a.event_type < c.event_type
        |JOIN pt pa ON pa.event_type = a.event_type
        |JOIN pt pb ON pb.event_type = c.event_type
        |GROUP BY 1, 2, pa.n_t, pb.n_t""".stripMargin,
    // table fingerprint: same canonical string, same 15-hex-char → 60-bit
    // key. The per-row fp is an explicit 15-term BIGINT multiply-add against
    // a power-of-16 literal table — no '<<' shifts and no intermediate
    // aggregate, so fp stays BIGINT on every DuckDB version (an inner
    // sum(BIGINT) would promote to HUGEINT and surface fp_min/fp_max as
    // floats client-side — the r08 hash-mismatch). fp_sum accumulates in
    // exact DECIMAL(38,0), mirroring the Spark side.
    "q_quality_checksum" ->
      """WITH r AS (SELECT doc_id, source,
        |    substr(md5(concat_ws('|',
        |      coalesce(CAST(doc_id AS VARCHAR), '<null>'),
        |      coalesce(text, '<null>'),
        |      coalesce(lang, '<null>'),
        |      coalesce(source, '<null>'),
        |      coalesce(CAST(n_chars AS VARCHAR), '<null>'))), 1, 15) AS hx
        |  FROM documents),
        |f AS (SELECT source,
        |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * CAST(72057594037927936 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * CAST(4503599627370496 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * CAST(281474976710656 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) * CAST(17592186044416 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * CAST(1099511627776 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) * CAST(68719476736 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * CAST(4294967296 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1) * CAST(268435456 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 9, 1)) - 1) * CAST(16777216 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 10, 1)) - 1) * CAST(1048576 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 11, 1)) - 1) * CAST(65536 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 12, 1)) - 1) * CAST(4096 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 13, 1)) - 1) * CAST(256 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 14, 1)) - 1) * CAST(16 AS BIGINT)
        |  + (strpos('0123456789abcdef', substr(hx, 15, 1)) - 1) * CAST(1 AS BIGINT) AS fp
        |  FROM r)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(fp AS DECIMAL(38,0))) AS VARCHAR) AS fp_sum,
        |       MIN(fp) AS fp_min, MAX(fp) AS fp_max
        |FROM f GROUP BY source""".stripMargin,
    // expectations: same null-safe rule predicates, same single-pass
    // conditional sums + distinct-count uniqueness, unioned per rule
    "q_quality_expectations" ->
      """WITH a AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN NOT coalesce(
        |      user_id IS NOT NULL AND user_id > 0, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(SUM(CASE WHEN NOT coalesce(
        |      event_type IN ('view','click','purchase','signup','error'),
        |      FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN NOT coalesce(
        |      value IS NOT NULL AND value >= 0, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(SUM(CASE WHEN NOT coalesce(
        |      value IS NOT NULL AND value <= 450.0, FALSE)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |    CAST(SUM(CASE WHEN NOT coalesce(
        |      ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01',
        |      FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS vdup
        |  FROM events)
        |SELECT r.rule, a.n AS n_rows, r.v AS n_violations, r.v = 0 AS pass
        |FROM a, LATERAL (VALUES
        |  ('user_id_positive', v0), ('event_type_in_domain', v1),
        |  ('value_non_negative', v2), ('value_at_most_450.0', v3),
        |  ('ts_in_range', v4), ('event_id_unique', vdup)) r(rule, v)""".stripMargin,
    // fuzzy entity pairs: brute-force levenshtein join (fine at oracle
    // scale; the engine serves the deletion-neighborhood candidates)
    "q_fuzzy_customers" ->
      """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // SCD2: same change-point lag / interval lead windows, same
    // (ts, event_id) total order
    "q_events_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                  event_type FROM events),
        |f AS (SELECT *, lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |      FROM e),
        |c AS (SELECT user_id, event_id, ts_us, event_type FROM f
        |      WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts_us AS valid_from_us,
        |        lead(ts_us) OVER
        |          (PARTITION BY user_id ORDER BY ts_us, event_id) AS vt
        |      FROM c)
        |SELECT user_id, event_type, valid_from_us,
        |  coalesce(vt, -1) AS valid_to_us, vt IS NULL AS is_current
        |FROM v""".stripMargin,
    // bitmap: identical integer day/week/dow math, same OR-mask and popcount
    "q_events_bitmap" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT user_id, CAST(day // 7 AS BIGINT) AS week,
        |  CAST(bit_or(CAST(1 AS BIGINT) << CAST(day % 7 AS INT)) AS BIGINT)
        |    AS mask,
        |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << CAST(day % 7 AS INT)))
        |    AS INT) AS n_days_active,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM e GROUP BY 1, 2""".stripMargin,
    // the engine's cut constants, single-sourced from splitThresholds
    "q_split_dataset" ->
      s"SELECT doc_id, source, $splitCaseSql AS split FROM documents",
    // k-fold: same salted 4-hex prefix, decoded by the BIGINT multiply-add
    // ladder (no conv() in DuckDB), mod 5
    "q_split_folds" ->
      """WITH h AS (SELECT doc_id, source,
        |    substring(md5('fold1:' || CAST(doc_id AS VARCHAR)), 1, 4) AS hx
        |  FROM documents)
        |SELECT doc_id, source, CAST((
        |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 5 AS INT)
        |  AS fold
        |FROM h""".stripMargin,
    // per-source chunk-store savings: same chunk CTE, one rollup
    "q_dedup_ratio" ->
      """WITH c AS (SELECT doc_id,
        |    md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS chunk_md5
        |  FROM (SELECT doc_id, text,
        |          unnest(range((length(text) + 63) // 64)) AS i
        |        FROM documents))
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT c.chunk_md5) AS BIGINT) AS n_distinct,
        |  round(1.0 - count(DISTINCT c.chunk_md5)::DOUBLE / count(*), 6)
        |    AS saved_ratio
        |FROM c JOIN documents d USING (doc_id)
        |GROUP BY d.source""".stripMargin,
    // per-dimension embedding moments: same decimal accumulation, same
    // final IEEE double sequence; embedding[d+1] is 1-indexed list access
    "q_embed_dim_stats" ->
      """WITH x AS (SELECT CAST(d AS INT) AS dim,
        |    CAST(round(CAST(embedding[CAST(d + 1 AS BIGINT)] AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS v
        |  FROM (SELECT embedding, unnest(range(len(embedding))) AS d
        |        FROM embeddings)),
        |m AS (SELECT dim, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS ss,
        |        min(v) AS mn, max(v) AS mx
        |      FROM x GROUP BY dim)
        |SELECT dim, CAST(n AS BIGINT) AS n_vectors,
        |  round(CAST(s AS DOUBLE) / n, 6) AS mean,
        |  round(sqrt(greatest(CAST(ss AS DOUBLE) / n
        |    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)), 6) AS std,
        |  CAST(mn AS DOUBLE) AS v_min, CAST(mx AS DOUBLE) AS v_max
        |FROM m""".stripMargin,
    // Matryoshka audit: same prefix-fold cosine as the engine (left-to-right
    // double accumulation over the sliced list, zero-norm prefix scores 0),
    // errors rounded to DECIMAL(18,6) BEFORE the exact sum
    "q_embed_matryoshka" ->
      """WITH p AS (
        |  SELECT a.embedding AS va, b.embedding AS vb
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id % 2 = 0),
        |x AS (SELECT trunc_dim, va, vb
        |      FROM p, (SELECT unnest([8, 16, 32, 64]) AS trunc_dim) d),
        |s AS (SELECT trunc_dim,
        |  list_sum(list_transform(range(1, trunc_dim + 1),
        |    i -> va[i]::DOUBLE * vb[i]::DOUBLE)) AS dab,
        |  list_sum(list_transform(range(1, trunc_dim + 1),
        |    i -> va[i]::DOUBLE * va[i]::DOUBLE)) AS daa,
        |  list_sum(list_transform(range(1, trunc_dim + 1),
        |    i -> vb[i]::DOUBLE * vb[i]::DOUBLE)) AS dbb,
        |  list_sum(list_transform(range(1, len(va) + 1),
        |    i -> va[i]::DOUBLE * vb[i]::DOUBLE)) AS fab,
        |  list_sum(list_transform(range(1, len(va) + 1),
        |    i -> va[i]::DOUBLE * va[i]::DOUBLE)) AS faa,
        |  list_sum(list_transform(range(1, len(va) + 1),
        |    i -> vb[i]::DOUBLE * vb[i]::DOUBLE)) AS fbb
        |  FROM x),
        |c AS (SELECT trunc_dim,
        |  CASE WHEN daa * dbb > 0 THEN dab / (sqrt(daa) * sqrt(dbb))
        |       ELSE 0.0 END AS cos_d,
        |  CASE WHEN faa * fbb > 0 THEN fab / (sqrt(faa) * sqrt(fbb))
        |       ELSE 0.0 END AS cos_full
        |  FROM s),
        |e AS (SELECT trunc_dim,
        |  CAST(round(abs(cos_d - cos_full), 6) AS DECIMAL(18,6)) AS err FROM c)
        |SELECT CAST(trunc_dim AS INT) AS trunc_dim,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS mean_abs_err,
        |  CAST(max(err) AS DOUBLE) AS max_abs_err,
        |  round(CAST(sum(CASE WHEN err <= 0.05 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS close_pair_pct
        |FROM e GROUP BY trunc_dim""".stripMargin,
    // Matryoshka recall: rank on the 6-dp-rounded truncated cosine with the
    // neighbor-id tie-break (the q_similarity_topk convention), zero-norm
    // prefixes guarded to 0 exactly as the engine does
    "q_embed_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |dd AS (SELECT unnest([8, 16, 32, 64]) AS trunc_dim),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id, trunc_dim,
        |  round(CASE WHEN
        |      list_sum(list_transform(range(1, trunc_dim + 1),
        |        i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |    * list_sum(list_transform(range(1, trunc_dim + 1),
        |        i -> qv[i]::DOUBLE * qv[i]::DOUBLE)) > 0
        |    THEN list_sum(list_transform(range(1, trunc_dim + 1),
        |           i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(range(1, trunc_dim + 1),
        |           i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
        |       * sqrt(list_sum(list_transform(range(1, trunc_dim + 1),
        |           i -> qv[i]::DOUBLE * qv[i]::DOUBLE))))
        |    ELSE 0.0 END, 6) AS sd,
        |  round(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
        |     * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |          i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))), 6) AS sf
        |  FROM embeddings e, q, dd WHERE e.vec_id <> query_id),
        |t AS (SELECT trunc_dim, query_id, neighbor_id FROM (
        |  SELECT trunc_dim, query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id, trunc_dim
        |                       ORDER BY sd DESC, neighbor_id) AS rn
        |  FROM s) WHERE rn <= 10),
        |f AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sf DESC, neighbor_id) AS rn
        |  FROM s WHERE trunc_dim = 64) WHERE rn <= 10)
        |SELECT CAST(trunc_dim AS INT) AS trunc_dim,
        |  CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries,
        |  round(CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0
        |                 END) AS DOUBLE)
        |        / (count(DISTINCT t.query_id) * 10), 6) AS mean_recall
        |FROM t LEFT JOIN f ON t.query_id = f.query_id
        |                  AND t.neighbor_id = f.neighbor_id
        |GROUP BY trunc_dim""".stripMargin,
    // rank blend: round-before-rank signals, doc_id-totalized row_number,
    // pr = (rn-1)/(n-1), blend averaged from the UNROUNDED prs
    "q_quality_blend" -> qualityBlendSql,
    // top-5 per source by blend: same CTE + a window rank the engine
    // computes as a bounded heap
    "q_quality_topk" ->
      s"""WITH blend AS ($qualityBlendSql)
         |SELECT * FROM (
         |  SELECT *, CAST(row_number() OVER (
         |      PARTITION BY source ORDER BY blend DESC, doc_id) AS INT) AS rank
         |  FROM blend)
         |WHERE rank <= 5""".stripMargin,
    // Q1-shaped pricing rollup: identical per-row double chains, DECIMAL
    // accumulation, cutoff pushed to the scan
    "q_olap_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(qty) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(price) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(charge) AS DOUBLE) AS sum_charge,
        |  round(CAST(SUM(qty) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(SUM(price) AS DOUBLE) / count(*), 6) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM (SELECT l_returnflag, l_linestatus,
        |        CAST(round(l_quantity, 6) AS DECIMAL(18,6)) AS qty,
        |        CAST(round(l_extendedprice, 6) AS DECIMAL(18,6)) AS price,
        |        CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |             AS DECIMAL(18,6)) AS disc_price,
        |        CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax), 6)
        |             AS DECIMAL(18,6)) AS charge
        |      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01')
        |GROUP BY 1, 2""".stripMargin,
    // backlog: same two-phase rollup + running window over the aggregate
    "q_olap_backlog" ->
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    CAST(epoch_us(o_orderdate) // 86400000000 AS INT) AS day,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, day, n_orders,
        |  CAST(sum(n_orders) OVER (
        |    PARTITION BY o_orderpriority ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders
        |FROM daily""".stripMargin,
    // rollup: GROUP BY ROLLUP with the same 'ALL' sentinel coalescing
    "q_olap_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  CAST(SUM(dp) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM (SELECT l_returnflag, l_linestatus,
        |        CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |             AS DECIMAL(18,6)) AS dp
        |      FROM lineitem)
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    // heatmap: same +3 Monday-zero rotation, same integer hour math
    "q_events_heatmap" ->
      """SELECT CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS INT) AS dow,
        |  CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS hour,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    // correlation: integer moment sums, decimal cross terms, same quotient
    "q_events_correlation" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    (epoch_us(ts) // 3600000000) % 24 AS y
        |  FROM events),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |        SUM(x * x) AS sxx, SUM(y * y) AS syy
        |      FROM e GROUP BY 1)
        |SELECT event_type, n AS n_events,
        |  round(CASE WHEN den > 0 THEN num / den ELSE 0.0 END, 6) AS r
        |FROM (SELECT event_type, n,
        |        CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
        |             - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |             AS DOUBLE) AS num,
        |        sqrt(CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
        |             - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
        |             AS DOUBLE))
        |        * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * CAST(syy AS DECIMAL(38,0))
        |             - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
        |             AS DOUBLE)) AS den
        |      FROM m)""".stripMargin,
    // histogram: identical cents rounding, integer floor-divide bucketing
    "q_events_histogram" ->
      """SELECT event_type,
        |  CAST(least(CAST(round(value * 100) AS BIGINT) // 5000, 9) AS INT)
        |    AS bucket,
        |  round(CAST(least(CAST(round(value * 100) AS BIGINT) // 5000, 9) AS INT)
        |        * 50.0, 6) AS bucket_lo,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // Q3-shaped priority: filtered joins, decimal revenue, top-10 total order
    "q_olap_priority" ->
      """WITH cust AS (SELECT c_custkey FROM customer
         |             WHERE c_mktsegment = 'BUILDING'),
        |ord AS (SELECT o_orderkey, o_custkey,
        |          epoch_us(o_orderdate) // 1000000 AS o_orderdate_s,
        |          o_orderpriority
        |        FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'),
        |li AS (SELECT l_orderkey,
        |         CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |              AS DECIMAL(18,6)) AS dp
        |       FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01')
        |SELECT o_orderkey, CAST(SUM(dp) AS DOUBLE) AS revenue,
        |  o_orderdate_s, o_orderpriority
        |FROM li JOIN ord ON l_orderkey = o_orderkey
        |        JOIN cust ON ord.o_custkey = cust.c_custkey
        |GROUP BY o_orderkey, o_orderdate_s, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate_s, o_orderkey
        |LIMIT 10""".stripMargin,
    // Q5-shaped star join: same region→nation→customer/supplier chain,
    // same-nation equi-condition, decimal revenue
    "q_olap_volume" ->
      """WITH nat AS (SELECT n_nationkey, n_name FROM nation
        |             JOIN region ON n_regionkey = r_regionkey
        |             WHERE r_name = 'ASIA'),
        |cust AS (SELECT c_custkey, c_nationkey FROM customer
        |         JOIN nat ON c_nationkey = n_nationkey),
        |supp AS (SELECT s_suppkey, s_nationkey, n_name FROM supplier
        |         JOIN nat ON s_nationkey = n_nationkey),
        |ord AS (SELECT o_orderkey, c_nationkey FROM orders
        |        JOIN cust ON o_custkey = c_custkey
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |          AND o_orderdate < TIMESTAMP '1997-01-01'),
        |li AS (SELECT l_orderkey, l_suppkey,
        |         CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |              AS DECIMAL(18,6)) AS dp
        |       FROM lineitem)
        |SELECT n_name, CAST(SUM(dp) AS DOUBLE) AS revenue
        |FROM li JOIN ord ON l_orderkey = o_orderkey
        |        JOIN supp ON l_suppkey = s_suppkey
        |                 AND c_nationkey = s_nationkey
        |GROUP BY n_name""".stripMargin,
    // Q18-shaped heavy orders: aggregate-then-join with the same decimal
    // quantity accumulation and HAVING cut
    "q_olap_heavy" ->
      """WITH heavy AS (
        |  SELECT l_orderkey,
        |    SUM(CAST(round(l_quantity, 6) AS DECIMAL(18,6))) AS sq
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(round(l_quantity, 6) AS DECIMAL(18,6)))
        |         > CAST(300.0 AS DECIMAL(18,6)))
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS o_orderdate_s,
        |  round(o_totalprice, 6) AS o_totalprice,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM orders JOIN heavy ON o_orderkey = l_orderkey
        |            JOIN customer ON o_custkey = c_custkey""".stripMargin,
    // Q10-shaped returned items: same pushed filters, per-customer decimal
    // revenue, (revenue desc, custkey) total order, top-20
    "q_olap_returns" ->
      """WITH ord AS (SELECT o_orderkey, o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |               AND o_orderdate < TIMESTAMP '1996-04-01'),
        |pc AS (SELECT o_custkey,
        |         SUM(CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |             AS DECIMAL(18,6))) AS rev
        |       FROM lineitem JOIN ord ON l_orderkey = o_orderkey
        |       WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, CAST(rev AS DOUBLE) AS revenue,
        |  round(c_acctbal, 6) AS c_acctbal, n_name
        |FROM pc JOIN customer ON o_custkey = c_custkey
        |        JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    // the literal NOT IN the engine's rewrite must agree with
    "q_olap_not_in" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey NOT IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-02-01')""".stripMargin,
    // PageRank: identical graph build and the SAME integer picorank
    // recursion (floor divisions, exact int sums) — three unrolled
    // iterations, zero tolerance; doubles appear only in the final pr_q →
    // pr reading (one division, portable)
    "q_graph_pagerank" ->
      """WITH pairs AS (
        |  SELECT 'C' || o_custkey AS cnode, 'S' || l_suppkey AS snode,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT cnode AS src, snode AS dst, w FROM pairs
        |      UNION ALL SELECT snode, cnode, w FROM pairs),
        |deg AS (SELECT src, SUM(w) AS wt FROM e GROUP BY 1),
        |g AS (SELECT e.src, e.dst, e.w, deg.wt
        |      FROM e JOIN deg ON e.src = deg.src),
        |nn AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n FROM e),
        |pr0 AS (SELECT DISTINCT src AS node,
        |          1000000000000 // (SELECT n FROM nn) AS prq FROM e),
        |it1 AS (
        |  SELECT dst AS node,
        |    (1000000000000 * 15 // 100) // (SELECT n FROM nn)
        |      + (SUM((prq * w) // wt) * 85) // 100 AS prq
        |  FROM g JOIN pr0 ON g.src = pr0.node GROUP BY dst),
        |it2 AS (
        |  SELECT dst AS node,
        |    (1000000000000 * 15 // 100) // (SELECT n FROM nn)
        |      + (SUM((prq * w) // wt) * 85) // 100 AS prq
        |  FROM g JOIN it1 ON g.src = it1.node GROUP BY dst),
        |it3 AS (
        |  SELECT dst AS node,
        |    (1000000000000 * 15 // 100) // (SELECT n FROM nn)
        |      + (SUM((prq * w) // wt) * 85) // 100 AS prq
        |  FROM g JOIN it2 ON g.src = it2.node GROUP BY dst)
        |SELECT node, CAST(prq AS BIGINT) AS pr_q,
        |  CAST(prq AS DOUBLE) / 1000000000000.0 AS pr
        |FROM it3""".stripMargin,
    // split leakage: the split CASE composed with the w=4 span-run oracle —
    // TEST spans located inside TRAIN docs
    "q_split_leakage" ->
      s"""WITH sp AS (SELECT doc_id, $splitCaseSql AS split FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
         |  FROM documents
         |), wins AS (
         |  SELECT doc_id,
         |         unnest([{'pos': i, 'h': md5(array_to_string(t[i:i+3], ' '))}
         |                 for i in range(1, len(t) - 2)]) AS u
         |  FROM toks WHERE len(t) >= 4
         |), w AS (SELECT doc_id, u.pos AS pos, u.h AS whash FROM wins),
         |bench AS (SELECT DISTINCT whash FROM w JOIN sp USING (doc_id)
         |          WHERE sp.split = 'test'),
         |m AS (SELECT c.doc_id, c.pos
         |      FROM w c JOIN sp USING (doc_id) JOIN bench b USING (whash)
         |      WHERE sp.split = 'train'),
         |r AS (SELECT doc_id, pos,
         |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM m),
         |runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM r GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(run) AS BIGINT) AS n_matched_windows,
         |       CAST(MAX(run) + 3 AS BIGINT) AS longest_span_tokens
         |FROM runs GROUP BY doc_id""".stripMargin,
    // CDC compaction: last writer wins under (ts, event_id), tombstone
    // filter AFTER the argmax (tombstone-then-upsert resurrects)
    "q_events_cdc" -> cdcOracleSql,
    // streaming CDC: identical final snapshot as the batch compactor
    "q_streaming_cdc" -> cdcOracleSql,
    // DSIR importance weights: the oracle retrains both 256-bucket hashed
    // distributions and replays the log-ratio model in SQL
    "q_sample_importance" ->
      """WITH t0 AS (SELECT doc_id, source AS src,
        |              unnest(string_split(text, ' ')) AS term FROM documents),
        |terms AS (SELECT doc_id, src, substr(md5(term), 1, 2) AS bucket
        |          FROM t0),
        |tgt AS (SELECT bucket, COUNT(*) AS c_t FROM terms
        |        WHERE src = 'src0' GROUP BY 1),
        |raw AS (SELECT bucket, COUNT(*) AS c_r FROM terms GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n FROM terms WHERE src = 'src0'),
        |nr AS (SELECT COUNT(*) AS n FROM terms),
        |model AS (SELECT raw.bucket,
        |    CAST(round(ln(((coalesce(c_t, 0) + 1.0) / (nt.n + 256.0)) /
        |                  ((c_r + 1.0) / (nr.n + 256.0))), 6)
        |         AS DECIMAL(18,6)) AS w
        |  FROM raw LEFT JOIN tgt USING (bucket), nt, nr),
        |tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM terms GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(tf * w) AS DOUBLE), 6) AS importance
        |FROM tf JOIN model USING (bucket)
        |GROUP BY doc_id""".stripMargin,
    // BM25: arithmetic mirrors the engine token for token (same literals,
    // same association); ln is the only libm seam, defused by the 6-dp
    // round before the decimal accumulation
    "q_text_bm25" ->
      """WITH lens AS (SELECT doc_id,
        |                CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |              FROM documents),
        |a AS (SELECT COUNT(*) AS n_docs,
        |             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM lens),
        |terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |          FROM documents),
        |qt AS (SELECT doc_id, term FROM terms
        |       WHERE term IN ('window', 'hash', 'merge')),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit, dl,
        |  round(CAST(SUM(CAST(round(
        |    ln(1.0 + (a.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0) /
        |     (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / a.avgdl))),
        |    6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
        |FROM tf JOIN df USING (term) JOIN lens USING (doc_id), a
        |GROUP BY doc_id, dl
        |ORDER BY score DESC, doc_id
        |LIMIT 20""".stripMargin,
    // bigram-LM perplexity: the oracle retrains the add-one model in SQL
    // (history counts from the bigram inventory, 1-based list indexing)
    "q_text_perplexity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM documents),
        |big AS (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(t) - 1),
        |                                i -> t[i] || ' ' || t[i + 1])) AS bigram
        |        FROM toks WHERE len(t) >= 2),
        |cbi AS (SELECT bigram, COUNT(*) AS c_ab FROM big GROUP BY 1),
        |ch AS (SELECT string_split(bigram, ' ')[1] AS w1, SUM(c_ab) AS c_h
        |       FROM cbi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM
        |        (SELECT unnest(string_split(text, ' ')) AS term
        |         FROM documents)),
        |model AS (SELECT bigram,
        |    CAST(round(-ln((c_ab + 1.0) / (c_h + CAST(v.v AS DOUBLE))), 6)
        |         AS DECIMAL(18,6)) AS contrib
        |  FROM cbi JOIN ch ON string_split(cbi.bigram, ' ')[1] = ch.w1, v),
        |tf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM big GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |        CAST(SUM(tf * contrib) * 2000000 + SUM(tf) AS BIGINT) AS num2
        |      FROM tf JOIN model USING (bigram) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, num2 // (2 * n_bigrams) AS avg_nll_micro,
        |  CAST(num2 // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll
        |FROM s""".stripMargin,
    // rolling features: identical window spec (frames row-bounded, decimal
    // money folds, ties broken by orderkey) replayed in DuckDB
    "q_features_rolling" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_s,
        |  CAST(round(o_totalprice, 6) AS DECIMAL(18,6)) AS p FROM orders)
        |SELECT o_orderkey, o_custkey, order_s,
        |  CAST(row_number() OVER w AS BIGINT) AS order_idx,
        |  CAST(lag(p, 1) OVER w AS DOUBLE) AS prev_price,
        |  order_s - lag(order_s, 1) OVER w AS gap_s,
        |  CAST(sum(p) OVER (PARTITION BY o_custkey ORDER BY order_s, o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS hist_sum,
        |  count(p) OVER (PARTITION BY o_custkey ORDER BY order_s, o_orderkey
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS hist_cnt,
        |  CAST(sum(p) OVER (PARTITION BY o_custkey ORDER BY order_s, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS cum_spend
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY order_s, o_orderkey)"""
        .stripMargin,
    // snapshot diff: the same md5('|'-joined payload) fingerprints — with
    // the same per-column '<null>' sentinels — and the same full-outer
    // classification, unchanged keys filtered out
    "q_diff_snapshots" ->
      """WITH v1 AS (SELECT doc_id,
        |         md5(concat_ws('|',
        |           coalesce(text, '<null>'), coalesce(lang, '<null>'),
        |           coalesce(source, '<null>'))) AS h
        |       FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id, md5(concat_ws('|',
        |         coalesce(CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |                       ELSE text END, '<null>'),
        |         coalesce(lang, '<null>'), coalesce(source, '<null>'))) AS h
        |       FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |       CASE WHEN v1.h IS NULL THEN 'added'
        |            WHEN v2.h IS NULL THEN 'removed'
        |            ELSE 'changed' END AS status,
        |       v1.h AS old_hash, v2.h AS new_hash
        |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE v1.h IS NULL OR v2.h IS NULL OR v1.h <> v2.h""".stripMargin
  )

  /** The deterministic snapshot pair for the versioning queries — v2 drops
    * doc_id%5==0 and upper-cases doc_id%3==0 in place; shared by
    * q_diff_snapshots and q_diff_drift so their staging cannot drift. */
  private def snapV1(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
  private def snapV2(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .otherwise(col("text")))

  /** Chunk-overlap copy-provenance graph CTEs (h → u → hf → e) — shared by
    * the triangle and connected-components oracles so the graph definition
    * cannot drift between them. */
  private lazy val chunkGraphCtes: String =
    """h AS (SELECT DISTINCT doc_id,
      |    md5(substr(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS chunk_md5
      |  FROM (SELECT doc_id, text,
      |          unnest(range((length(text) + 63) // 64)) AS i
      |        FROM documents)),
      |u AS (SELECT chunk_md5 FROM h GROUP BY chunk_md5
      |      HAVING count(*) > 1 AND count(*) <= 50),
      |hf AS (SELECT h.doc_id, h.chunk_md5 FROM h JOIN u USING (chunk_md5)),
      |e AS (SELECT a.doc_id AS u, b.doc_id AS v
      |      FROM hf a JOIN hf b
      |        ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Trending-leaderboard oracle — shared by the batch top-k and its
    * incrementally-maintained streaming twin. */
  private lazy val trendingOracleSql: String =
    """SELECT window_start_s, event_type, n_events, CAST(rn AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY window_start_s
      |        ORDER BY n_events DESC, event_type) AS rn
      |      FROM (SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
      |              event_type, CAST(count(*) AS BIGINT) AS n_events
      |            FROM events GROUP BY 1, 2))
      |WHERE rn <= 3""".stripMargin

  /** CDC compaction oracle — shared by the batch compactor and its
    * streaming twin so the last-writer-wins semantics cannot drift. */
  private lazy val cdcOracleSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |                  event_type, value FROM events),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY ts_us DESC, event_id DESC) AS rn,
      |        COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      |      FROM e)
      |SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops, ts_us AS last_ts_us,
      |       event_type AS last_type, value AS last_value
      |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** Rank-blend oracle body — shared by the blend query and its top-k
    * composition so the signal definitions cannot drift. */
  private lazy val qualityBlendSql: String =
    """WITH s AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    round(len(list_distinct(string_split(text, ' ')))::DOUBLE
      |          / len(string_split(text, ' ')), 6) AS ttr,
      |    round((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
      |          / len(string_split(text, ' ')), 6) AS mlen
      |  FROM documents),
      |r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) - 1 AS r1,
      |    row_number() OVER (PARTITION BY source ORDER BY ttr, doc_id) - 1 AS r2,
      |    row_number() OVER (PARTITION BY source ORDER BY mlen, doc_id) - 1 AS r3,
      |    greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS d
      |  FROM s)
      |SELECT doc_id, source,
      |  round(r1 / CAST(d AS DOUBLE), 6) AS pr_tokens,
      |  round(r2 / CAST(d AS DOUBLE), 6) AS pr_ttr,
      |  round(r3 / CAST(d AS DOUBLE), 6) AS pr_mlen,
      |  round((r1 / CAST(d AS DOUBLE) + r2 / CAST(d AS DOUBLE)
      |         + r3 / CAST(d AS DOUBLE)) / 3, 6) AS blend
      |FROM r""".stripMargin

  /** The deterministic split assignment in SQL — shared by the split oracle
    * and the split-leakage composition. */
  private lazy val splitCaseSql: String = {
    val cuts = Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
    s"""CASE WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |          < '${cuts(0)}' THEN 'train'
       |     WHEN substring(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |          < '${cuts(1)}' THEN 'validation'
       |     ELSE 'test' END""".stripMargin
  }
}
