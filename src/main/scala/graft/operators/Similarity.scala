package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions

/** Similarity search over an embedding column (`Array[Float]`) — beyond-
  * reference extension (SURVEY §2.5 north star) over the `embeddings` table.
  *
  * Scoring runs on the native `vec_dot` kernel (floats widened to double
  * element-wise, accumulated in array order), with norms computed ONCE
  * per row as scalars — so every scored pair costs one dot + one division,
  * and the scores are reproducible bit-for-bit against the DuckDB oracles,
  * which are written to the same arithmetic.
  *
  * Scale design:
  *   - brute-force top-k broadcasts the (small) query set and scores the
  *     corpus map-side; the top-k itself is [[graft.functions.BoundedTopKAgg]]
  *     — a size-capped TypedImperativeAggregate whose partial buffers hold at
  *     most k entries per open group, so the shuffle carries at most
  *     queries × partitions × k rows, not queries × corpus. (A window
  *     row_number — or a collect_list sliced AFTER the aggregate — would
  *     shuffle every scored row.)
  *   - the ANN path generates candidates by multi-table random-hyperplane
  *     LSH — an equi-join on (table, bucket) keys — then re-ranks candidates
  *     exactly. Hyperplanes are deterministic pseudo-vectors derived from
  *     xxhash64, so results are stable across runs and partitionings.
  *   - the exact top-k paths never plan an all-pairs join: IVF cells + the
  *     angular triangle inequality prune per-query cells with proven-exact
  *     bounds, then re-check candidates with the exact cosine
  *     ([[ivfExactTopK]], [[hardNegativesPruned]]). The dedup and kNN-graph
  *     queries search within k-means cells ([[cosinePairsWithinCells]],
  *     [[knnJoinWithinCells]]). The brute-force forms ([[cosinePairs]],
  *     [[bruteForceTopK]]) are the specs' differential baselines.
  *   - every trained model (centroids, cell radii, seed floors, query
  *     vectors, codebooks) is a parameter of the operator that uses it; the
  *     registry trains each once per table listing (`ArtifactStore.memo`).
  */
object Similarity {

  /** Dot product of two float- or double-array columns, accumulated
    * left-to-right in double — the native `VecDotExpr` kernel (the
    * higher-order `aggregate(zip_with(...))` twin it is differential-tested
    * against evaluates interpreted per element and dominated the all-pairs
    * profile).
    */
  def dot(a: Column, b: Column): Column = NativeExpressions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Bounded top-k per query over (query_id, neighbor_id, score) rows via
    * [[graft.functions.BoundedTopKAgg]]: the aggregation buffer is capped at
    * k entries at every stage (map-side partial included). Ordering is
    * (score desc, neighbor_id asc) — fully deterministic under ties.
    * Returns (query_id, rank, neighbor_id, score).
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val item = struct(negate(col("score")).as("neg"), col("neighbor_id").as("id"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.BoundedTopKAgg.boundedTopK(item, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(
        col("query_id"), (col("i") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), negate(col("t.neg")).as("score"))
  }

  /** Exact cosine top-k: score every (query, corpus) pair via a broadcast of
    * the query set, then bounded top-k. Norms are computed once per row on
    * each side (same arithmetic as recomputing per pair — sqrt(dot(v,v)) —
    * just not repeated per pair). Scores are rounded to 6 dp before ranking
    * so that rank order (with the id tie-break) is engine-portable.
    */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = broadcast(
      embeddings.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("qn")))
    val scored = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
    topKPerQuery(scored, k)
  }

  /** All pairs with cosine >= threshold — the exact ε-neighbor listing.
    * Inherently quadratic (no bucketing can be exact for arbitrary vectors);
    * kept as the exactness baseline. Norms are computed ONCE per row as a
    * scalar, so each pair costs one native float dot + a division — and the
    * cross join carries the original float arrays, not widened double copies
    * (the join materializes both sides per pair; halving the array bytes
    * halves that memcpy, which dominated after the dot went native).
    * Returns (vec_a, vec_b, score), a < b.
    */
  def cosinePairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    def side(idName: String, vName: String, nName: String) =
      embeddings.select(col("vec_id").as(idName), col("embedding").as(vName),
        sqrt(NativeExpressions.vecDot(col("embedding"), col("embedding"))).as(nName))
    side("vec_a", "va", "na").crossJoin(side("vec_b", "vb", "nb"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (NativeExpressions.vecDot(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("raw"))
      // threshold on the UNROUNDED cosine — rounding first would admit pairs
      // whose true similarity is below threshold (round-up at the boundary)
      .filter(col("raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("raw"), 6).as("score"))
  }

  /** Train IVF (inverted-file) centroids: Lloyd's k-means over the corpus,
    * deterministic end-to-end — seeds are the k lowest-vec_id vectors, and
    * per-dimension means accumulate in DECIMAL so the result is independent
    * of partition/add order (double summation would drift in the last ulp
    * between runs and partitionings, making trained cells run-dependent).
    *
    * The centroid set is a bounded model artifact (k × dim), trained once per
    * corpus and reused — at 100 TB one trains on a sample; each Lloyd
    * iteration is one broadcast-assign map + one hash-aggregate (no joins).
    */
  def trainIvfCentroids(
      embeddings: DataFrame, k: Int = 16, iters: Int = 5): Array[Array[Float]] = {
    val probe = embeddings
      .select(size(col("embedding")).as("dim")).limit(1).collect()
    require(probe.nonEmpty,
      "trainIvfCentroids: empty embeddings corpus — nothing to train on")
    require(!probe(0).isNullAt(0),
      "trainIvfCentroids: null embedding in corpus — null vectors are rejected loudly")
    val dim = probe(0).getInt(0)
    val seedRows = embeddings.orderBy("vec_id").limit(k).select("embedding").collect()
    require(seedRows.forall(!_.isNullAt(0)),
      "trainIvfCentroids: null embedding in corpus — null vectors are rejected loudly")
    val seeds = seedRows.map(_.getSeq[Float](0).toArray)
    require(seeds.length == k,
      s"trainIvfCentroids: corpus has only ${seeds.length} vectors, need k=$k seeds")
    var centroids: Array[Array[Float]] = seeds
    (1 to iters).foreach { _ =>
      val assigned = embeddings.select(
        col("embedding"),
        nearestCell(col("embedding"), centroids).as("cell"))
      // the null check rides INSIDE the assignment aggregate (a null anywhere
      // would silently land in a cell and dilute its mean) — corpus-wide
      // rejection with no standalone validation pass over the corpus
      val rows = assigned
        .groupBy("cell")
        .agg(
          array((0 until dim).map { i =>
            (sum(col("embedding")(i).cast("decimal(27,10)")) / count(lit(1)))
              .cast("float")
          }: _*).as("mean"),
          sum(when(col("embedding").isNull, lit(1L)).otherwise(lit(0L))).as("n_null"))
        .collect()
      require(rows.forall(_.getLong(2) == 0L),
        "trainIvfCentroids: null embedding in corpus — null vectors are rejected loudly")
      val means = rows.map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      // empty cells keep their previous centroid
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
    }
    centroids
  }

  /** Cell id of the nearest centroid by squared L2 distance —
    * argmin_c (|c|² − 2·v·c), ties to the lowest cell id. Served by the
    * [[NativeExpressions.FloatCentroidIndex]] kernel: one compiled scan over
    * the matrix (the previous k-literal array-of-structs expression grew
    * ~30k plan nodes at k = √N cells — at hundreds of cells the PLAN, not
    * the arithmetic, became the cost).
    */
  private def nearestCell(v: Column, centroids: Array[Array[Float]]): Column =
    NativeExpressions.nearestCellInfo(
      v, new NativeExpressions.FloatCentroidIndex(centroids))
      .getField("cell")

  /** IVF approximate top-k: corpus vectors are assigned to their nearest
    * trained centroid's cell (broadcast literal centroids, map-side);
    * each query probes its `nprobe` nearest cells; candidates = corpus
    * vectors in probed cells (equi-join on cell id — never all-pairs),
    * re-ranked with exact cosine, bounded top-k. The data-adaptive
    * counterpart of the data-oblivious hyperplane LSH in [[annTopK]].
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      centroids: Array[Array[Float]],
      nprobe: Int = 4): DataFrame =
    topKPerQuery(ivfScored(embeddings, queryIds, centroids, nprobe), k)

  /** The IVF candidate set, scored: (query_id, neighbor_id, score) for every
    * corpus vector in one of the query's `nprobe` probed cells. Exposed so
    * the recall audit can count candidates without re-deriving the join.
    */
  def ivfScored(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      centroids: Array[Array[Float]],
      nprobe: Int = 4): DataFrame = {
    val corpus = embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      norm(col("embedding")).as("nn"),
      nearestCell(col("embedding"), centroids).as("cell"))
    val probed = slice(array_sort(array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val c2 = c.map(x => x.toDouble * x.toDouble).sum
      struct((lit(c2) - lit(2.0) * NativeExpressions.vecDot(col("qv"), typedlit(c))).as("d"),
        lit(i).as("cell"))
    }: _*)), 1, nprobe)
    val queries = broadcast(
      embeddings.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("qn"))
        .select(col("query_id"), col("qv"), col("qn"),
          explode(probed).as("probe"))
        .select(col("query_id"), col("qv"), col("qn"), col("probe.cell").as("cell")))
    corpus.join(queries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
  }

  // ------------------------------------------------------------------
  // Exact top-k WITHOUT all-pairs plans: IVF cells + the triangle
  // inequality on angular distance. Angular distance (the angle between
  // vectors) is a metric on the unit sphere, so for a query q and a cell c
  // with angular radius r_c = max angle(member, centroid), every member m
  // of c satisfies angle(q, m) >= angle(q, c_c) - r_c — which lets a
  // query's CELLS be pruned when their best possible score cannot reach
  // the query's top-k floor. Every surviving candidate is re-checked with
  // the exact cosine, so results are IDENTICAL to the brute-force
  // baselines — the candidate generation only ever over-approximates. The
  // plans are equi-joins on cell id (broadcast small side): no cartesian
  // anywhere.
  //
  // Pruning power is data-adaptive: clustered corpora prune most cells; an
  // ISOTROPIC corpus (the synthetic test data) admits most of them, in
  // which case the cost degrades toward the brute-force total while the
  // PLAN stays an equi-join that shuffles by cell — partitionable,
  // spillable, AQE-balanceable — rather than a broadcast nested loop.
  // ------------------------------------------------------------------

  /** Clamped arccos — angle in [0, π]; null (zero-norm) → π, the
    * conservative "could be anywhere" angle (zero vectors never pass a
    * cosine threshold anyway — they are excluded by the exact re-check).
    */
  private def angleCol(cosine: Column): Column =
    coalesce(acos(least(greatest(cosine, lit(-1.0)), lit(1.0))), lit(math.Pi))

  private def driverAngle(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dp += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) math.Pi
    else math.acos(math.max(-1.0, math.min(1.0, dp / (math.sqrt(na) * math.sqrt(nb)))))
  }

  /** Corpus with nearest-cell assignment and the angle to that centroid:
    * (vec_id, v, nrm, cell, cang). Assignment is identical to
    * [[nearestCell]] (argmin by (d, cell) — the extra struct field rides
    * behind the tie-break and cannot change the winner). Map-side only.
    */
  private def assignCells(
      embeddings: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val v = col("embedding")
    val idx = new NativeExpressions.FloatCentroidIndex(centroids)
    val cnorms = centroids.map(c => math.sqrt(c.map(x => x.toDouble * x.toDouble).sum))
    embeddings.select(
      col("vec_id"), v.as("v"), norm(v).as("nrm"),
      NativeExpressions.nearestCellInfo(v, idx).as("nc"))
      .select(
        col("vec_id"), col("v"), col("nrm"),
        col("nc.cell").as("cell"),
        angleCol(col("nc.dot") /
          (col("nrm") * element_at(typedlit(cnorms.toSeq), col("nc.cell") + 1)))
          .as("cang"))
  }

  /** Per-cell angular radius r_c = max angle(member, centroid) as a
    * trained artifact (≤ k doubles, one hash aggregate) — like the centroids
    * themselves, computed once per corpus and passed to every pruned-exact
    * operator ([[ivfExactTopK]], [[hardNegativesPruned]]).
    */
  def trainCellRadii(
      embeddings: DataFrame, centroids: Array[Array[Float]]): Map[Int, Double] =
    assignCells(embeddings, centroids)
      .groupBy("cell").agg(max(col("cang")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** The per-query seed floors δ_q (k-th best probed score; −2 when a query
    * has fewer than k seed candidates) as a cacheable trained artifact
    * (|queries| doubles) — phase 1 of [[ivfExactTopK]], reusable across
    * repeated runs over the same corpus/queries.
    */
  def trainSeedFloors(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroids: Array[Array[Float]], nprobe: Int = 4): Map[Long, Double] =
    ivfTopK(embeddings, queryIds, k, centroids, nprobe)
      .groupBy("query_id")
      .agg(min(col("score")).as("kth"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(2) >= k) r.getDouble(1) else -2.0)).toMap

  /** Exact top-k with a non-quadratic plan — two bound-pruned phases over
    * three trained artifacts: the cell `radii` ([[trainCellRadii]]), the
    * query vectors `qvecs` ([[collectQueryVecs]]; they name the query set)
    * and the `seeds`:
    *
    *  1. seed floor ([[trainSeedFloors]]): [[ivfTopK]] over the `nprobe`
    *     nearest cells gives each query a LOWER bound δ_q = its k-th best
    *     candidate score (a ≤|q|-row collect; δ_q = −∞ when a query has
    *     fewer than k seed candidates).
    *  2. cell pruning: cell c can hold a better-than-δ_q neighbor only if
    *     its best POSSIBLE score cos(max(0, angle(q, c_c) − r_c)) ≥ δ_q − ε
    *     (reverse triangle inequality). Each query probes exactly its
    *     admissible cells via a broadcast (query, cell) build side,
    *     equi-joined to the cell-assigned corpus, re-scored EXACTLY, then
    *     bounded-top-k'd.
    *
    * Every true top-k member's cell is admissible (its exact score ≥ the
    * true k-th ≥ δ_q, and the bound over-approximates scores), so the
    * result is IDENTICAL to [[bruteForceTopK]] — same rounding, same
    * (score desc, id asc) tie-break — differential-tested in
    * SimilaritySpec against the same DuckDB oracle. ε covers the 6-dp
    * score rounding plus float slack, admitting (never dropping)
    * boundary candidates.
    */
  def ivfExactTopK(
      embeddings: DataFrame,
      k: Int,
      centroids: Array[Array[Float]],
      radii: Map[Int, Double],
      seeds: Map[Long, Double],
      qvecs: Seq[(Long, Array[Float])]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = assignCells(embeddings, centroids)
    val margin = 2e-6 // 6-dp rounding (5e-7) + float slack, admit-only
    val probe = for {
      (qid, qv) <- qvecs.toMap.toSeq.sortBy(_._1)
      (cell, r) <- radii.toSeq.sortBy(_._1)
      best = math.cos(math.max(0.0, driverAngle(qv, centroids(cell)) - r))
      if best >= seeds.getOrElse(qid, -2.0) - margin
    } yield (qid, qv.toSeq, cell)
    val queries = broadcast(
      probe.toDF("query_id", "qv", "cell")
        .select(col("query_id"), col("qv").cast("array<float>").as("qv"), col("cell"))
        .withColumn("qn", norm(col("qv"))))
    val corpus = assigned.select(col("vec_id").as("neighbor_id"),
      col("v").as("nv"), col("nrm").as("nn"), col("cell"))
    val scored = corpus.join(queries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining — for each anchor vector, the k MOST similar
    * corpus vectors with a DIFFERENT label: the contrastive-training data
    * op (the negatives that matter are the ones the model currently
    * confuses with the anchor — random negatives are too easy). Exact by
    * FULL-COVERAGE probe: every anchor probes every IVF cell, so each
    * corpus vector (one cell assignment each) is scored exactly once — the
    * cell key exists purely to keep the plan an equi-join (anchor side
    * broadcast, |anchors| × |corpus| scored rows, never a cartesian node).
    * The label constraint applies BEFORE the bounded top-k, so same-label
    * near-duplicates cannot crowd negatives out of the k slots.
    *
    * Scale shape: |anchors| is a training-batch-sized set (the op runs
    * per batch, not per corpus), so the scored stream is anchors × corpus
    * partitioned by cell; with a trained index swap the full probe for
    * [[ivfExactTopK]]-style floors + cell pruning computed against
    * DIFFERENT-label seeds only — the plan shape is unchanged.
    *
    * Returns (query_id, q_label, rank, neighbor_id, n_label, score),
    * ranked by (score desc, neighbor_id asc) per anchor.
    */
  def hardNegatives(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroids: Array[Array[Float]]): DataFrame = {
    val corpus = negCorpus(embeddings, centroids)
    val queries = broadcast(
      embeddings.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("qn"), col("label").as("q_label"))
        .select(col("query_id"), col("qv"), col("qn"), col("q_label"),
          explode(sequence(lit(0), lit(centroids.length - 1))).as("cell")))
    val scored = corpus.join(queries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("n_label") =!= col("q_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
    negOutput(embeddings, topKPerQuery(scored, k))
  }

  /** INDEX-PRUNED hard negatives — [[hardNegatives]] with the
    * [[ivfExactTopK]] two-phase bound instead of the full-coverage probe:
    *
    *  1. different-label seed floors: each anchor probes only its `nprobe`
    *     nearest cells, keeps the k best DIFFERENT-label scores, and the
    *     k-th becomes its floor δ_q (−2 when fewer than k seed negatives —
    *     a lower bound, since seed candidates are a subset of all
    *     different-label candidates);
    *  2. cell pruning: cell c is probed only if its best possible score
    *     cos(max(0, angle(q, c_c) − r_c)) ≥ δ_q − ε.
    *
    * Every true top-k negative's exact score ≥ the true k-th ≥ δ_q, and the
    * bound over-approximates every member's score, so its cell is always
    * admissible — the result is IDENTICAL to [[hardNegatives]]
    * (differential-tested in SimilaritySpec, which also measures the probe
    * reduction on a clustered fixture). The label constraint still
    * applies BEFORE the bounded top-k.
    */
  def hardNegativesPruned(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroids: Array[Array[Float]],
      radii: Map[Int, Double],
      nprobe: Int = 4): DataFrame = {
    val corpus = negCorpus(embeddings, centroids)
    val queries = hardNegativeProbes(
      embeddings, queryIds, k, centroids, radii, nprobe)
    val scored = corpus.join(queries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("n_label") =!= col("q_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
    negOutput(embeddings, topKPerQuery(scored, k))
  }

  /** The admissible (anchor, cell) probe set of [[hardNegativesPruned]] —
    * exposed so specs can measure the prune against the |anchors| × cells
    * full-coverage total. Returns
    * (query_id, qv, qn, q_label, cell), broadcast-sized.
    */
  def hardNegativeProbes(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      centroids: Array[Array[Float]],
      radii: Map[Int, Double],
      nprobe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // anchors are a training-batch-sized driver artifact (|q| × dim)
    val qVecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    // phase 1: different-label seed floors from the nprobe nearest cells
    val seedProbe = for {
      (qid, qv, ql) <- qVecs.toSeq
      cell <- nearestCellsDriver(qv, centroids, nprobe)
    } yield (qid, qv.toSeq, ql, cell)
    val seedQueries = broadcast(
      seedProbe.toDF("query_id", "qv", "q_label", "cell")
        .select(col("query_id"), col("qv").cast("array<float>").as("qv"),
          col("q_label"), col("cell"))
        .withColumn("qn", norm(col("qv"))))
    val seedScored = negCorpus(embeddings, centroids)
      .join(seedQueries, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("n_label") =!= col("q_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
    val floors = topKPerQuery(seedScored, k)
      .groupBy("query_id")
      .agg(min(col("score")).as("kth"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(2) >= k) r.getDouble(1) else -2.0)).toMap
    // phase 2: triangle-inequality cell admission per anchor (driver-side —
    // anchors × cells is a bounded loop over two model artifacts)
    val margin = 2e-6
    val probe = for {
      (qid, qv, ql) <- qVecs.toSeq
      cell <- centroids.indices
      best = math.cos(math.max(0.0,
        driverAngle(qv, centroids(cell)) - radii.getOrElse(cell, 0.0)))
      if best >= floors.getOrElse(qid, -2.0) - margin
    } yield (qid, qv.toSeq, ql, cell)
    broadcast(
      probe.toDF("query_id", "qv", "q_label", "cell")
        .select(col("query_id"), col("qv").cast("array<float>").as("qv"),
          col("q_label"), col("cell"))
        .withColumn("qn", norm(col("qv"))))
  }

  /** The cell-assigned, label-carrying corpus side of the negative-mining
    * joins. */
  private def negCorpus(
      embeddings: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      norm(col("embedding")).as("nn"), col("label").as("n_label"),
      nearestCell(col("embedding"), centroids).as("cell"))

  /** Attach both labels to a ranked (query_id, rank, neighbor_id, score)
    * frame — the shared output shape of the negative miners. */
  private def negOutput(embeddings: DataFrame, ranked: DataFrame): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    ranked
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label"))), Seq("query_id"))
      .join(broadcast(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))), Seq("neighbor_id"))
      .select(col("query_id"), col("q_label"), col("rank"),
        col("neighbor_id"), col("n_label"), col("score"))
  }

  /** The `nprobe` nearest cells by the same argmin arithmetic as
    * [[nearestCell]] — driver-side, ties to the lowest cell id. */
  private def nearestCellsDriver(
      v: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] =
    centroids.indices
      .map { i =>
        val c = centroids(i)
        var dp = 0.0; var c2 = 0.0
        var j = 0
        while (j < c.length) {
          dp += v(j).toDouble * c(j).toDouble
          c2 += c(j).toDouble * c(j).toDouble
          j += 1
        }
        (c2 - 2.0 * dp, i)
      }
      .sorted.take(nprobe).map(_._2)

  /** Symmetric max-abs int8 quantization of the embedding column — the
    * storage/bandwidth step a 100 TB vector corpus runs before indexing
    * (4 bytes/dim → 1): per vector, scale = max|x| / 127 and
    * q_i = round(x_i / scale) ∈ [-127, 127]. Everything is per-row expression
    * work (no shuffle); max|x| comes from `array_max`/`array_min` (native
    * collection ops), so only the element-wise requantization itself rides a
    * higher-order `transform` — acceptable here because quantization runs
    * ONCE per corpus (a materialization pass), not per query; if it ever
    * becomes a hot per-query path, the established native-kernel pattern
    * (Kernels + NativeExpressions + differential twin) applies directly.
    *
    * Returns (vec_id, scale, q) with q the int8 values as ints. The
    * registered query projects portable SCALAR audit columns over q (sum,
    * min, max) — see SparkEntry — while the array content itself is pinned by
    * SimilaritySpec (round-trip error bound).
    *
    * Arithmetic is pinned for engine portability: floats widen to double,
    * q_i = round(x·127/max|x|) (round half away from zero, both engines), a
    * zero vector quantizes to zeros with scale 0.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = col("embedding")
    val m = greatest(array_max(v).cast("double"), -array_min(v).cast("double"))
    embeddings
      .select(col("vec_id"), v, m.as("m"))
      .select(
        col("vec_id"),
        (col("m") / 127.0).as("scale"),
        when(col("m") === 0.0, transform(v, _ => lit(0)))
          .otherwise(transform(v,
            x => round(x.cast("double") * 127.0 / col("m")).cast("int")))
          .as("q"))
  }

  /** Per-label embedding-norm accounting — the embedding-space health profile
    * (collapsed or exploding norms per class are the standard training-data
    * red flag). One hash aggregate keyed by label (partial+final, a handful
    * of rows per label on the wire).
    *
    * Engine-portable arithmetic: per-row norms (sequential double
    * accumulation, like every scoring path here) round to 6 dp; the average
    * sums those rounded norms EXACTLY as DECIMAL(18,6) — a distributed
    * double sum would be partition-order-dependent and hash-unstable — then
    * divides in double.
    *
    * Returns (label, n_vecs, min_norm, max_norm, avg_norm).
    */
  def normStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), round(norm(col("embedding")), 6).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        round(sum(col("nrm").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_norm"))

  /** LSH bucket key for one hash table, Column-combinator form: `bits`
    * random-hyperplane sign bits; hyperplane (table, j)'s i-th component is
    * ±1 derived from xxhash64(table, j, i) — deterministic, no stored model.
    * Executable twin of the native `NativeExpressions.lshBuckets` (which computes every
    * table's key in one pass); differential-tested in NativeKernelsSpec.
    */
  def lshBucket(v: Column, table: Int, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x.cast("double") *
            when(pmod(xxhash64(lit(table), lit(j), i), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << j)).otherwise(0)
    }
    bitCols.reduce(_ + _)
  }

  /** Approximate top-k: candidates = corpus vectors sharing ANY of `tables`
    * LSH buckets with the query (equi-join on (table, bucket) — never
    * all-pairs), re-ranked with exact cosine, then bounded top-k.
    * Recall trades against candidate-set size via (tables, bits).
    */
  def annTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int,
      tables: Int = 8,
      bits: Int = 6): DataFrame =
    topKPerQuery(annScored(embeddings, queryIds, tables, bits), k)

  /** The LSH candidate set, scored and deduped: (query_id, neighbor_id,
    * score) for every corpus vector sharing at least one (table, bucket)
    * with the query. Exposed so the recall audit can count candidates
    * without re-deriving the join.
    */
  def annScored(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      tables: Int = 8,
      bits: Int = 6): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vName: String, nName: String): DataFrame =
      df.select(col(idName), col(vName), col(nName),
        posexplode(NativeExpressions.lshBuckets(col(vName), tables, bits))
          .as(Seq("tbl", "bkt")))

    val corpus = bucketed(
      embeddings.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        norm(col("embedding")).as("nn")),
      "neighbor_id", "nv", "nn")
    val queries = broadcast(bucketed(
      embeddings.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          norm(col("embedding")).as("qn")),
      "query_id", "qv", "qn"))

    // score BEFORE dedup: a duplicated candidate (shared buckets in several
    // tables) costs at most `tables` extra dots, while deduping first would
    // shuffle both full float vectors per candidate instead of one scalar
    corpus.join(queries, Seq("tbl", "bkt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6).as("score"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** Recall-as-data audit of an approximate top-k against the EXACT top-k
    * ([[ivfExactTopK]] — never the quadratic brute force inside a serving
    * plan): one row
    * (k, n_queries, n_exact, recall_beats_random) where the verdict is
    *   recall@k  >  candidate_fraction + 0.1
    * — the approximate method must beat blind random candidate selection by
    * a wide margin (the same contract SimilaritySpec pins; on a clustered
    * real-world corpus recall approaches 1 and the margin is huge, on this
    * adversarially isotropic synthetic corpus it is data-limited). The
    * recall NUMBER itself depends on the engine-specific sketch (hash
    * hyperplanes / trained cells), so like the sketch audits only
    * SQL-recomputable columns and the verdict are emitted; the oracle
    * asserts the verdict TRUE.
    */
  def recallAudit(
      exact: DataFrame, approx: DataFrame, candidates: DataFrame,
      embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val key = Seq("query_id", "neighbor_id")
    // single-row combination WITHOUT a join: combining 1-row aggregates on
    // a synthetic key constant-folds into a nested-loop join (which the
    // plan audit rightly bans), so every input flows through ONE tagged
    // union — pair-grained rows for exact/approx/candidates, corpus rows
    // keyed (vec_id, -1) — and two aggregation levels produce the one
    // audit row
    def pairs(df: DataFrame, tag: String): DataFrame =
      df.select(col("query_id"), col("neighbor_id"), lit(tag).as("src"))
    val tagged = pairs(exact.select(key.map(col): _*), "e")
      .unionByName(pairs(approx.select(key.map(col): _*), "a"))
      .unionByName(pairs(candidates.select(key.map(col): _*), "c"))
      .unionByName(embeddings.select(
        col("vec_id").as("query_id"), lit(-1L).as("neighbor_id"),
        lit("n").as("src")))
    val flags = tagged
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(
        max(when(col("src") === "e", 1).otherwise(0)).as("is_e"),
        max(when(col("src") === "a", 1).otherwise(0)).as("is_a"),
        sum(when(col("src") === "c", 1).otherwise(0)).as("n_c"),
        sum(when(col("src") === "n", 1).otherwise(0)).as("n_n"))
    flags
      .agg(
        countDistinct(when(col("is_e") === 1, col("query_id"))).as("n_queries"),
        sum(col("is_e")).as("n_exact"),
        sum(col("is_e") * col("is_a")).as("n_hit"),
        sum(col("n_c")).as("n_cand"),
        sum(col("n_n")).as("n_corpus"))
      .select(
        lit(k).as("k"),
        col("n_queries"),
        col("n_exact"),
        (col("n_hit").cast("double") / col("n_exact") >
          col("n_cand").cast("double") /
            (lit(queryIds.size) * (col("n_corpus") - 1)) + lit(0.1))
          .as("recall_beats_random"))
  }

  /** Per-label embedding OUTLIER detection — the noise-pruning signal a
    * curation pipeline runs before training on labeled embeddings: each
    * vector's L2 distance to its OWN label's centroid, flagged when it
    * exceeds the label's `q`-quantile distance.
    *
    * Engine-portability by construction, reusing the repo's proven moves:
    * per-dimension centroid means accumulate in DECIMAL (order-independent,
    * like [[trainIvfCentroids]]) and convert to double through one exact
    * decimal→double rounding + one IEEE division; per-dimension squared
    * diffs round to 12 dp and sum as DECIMAL(38,12) (order-independent);
    * `sqrt` is IEEE-correctly-rounded everywhere (where `pow`/`ln` are
    * not); the flag compares at the 6-dp rounded quantile cut.
    *
    * Shape at 100 TB: centroids are one hash-aggregate to ≤ labels rows
    * (broadcast back), distances are map-only, the quantile aggregate is ≤
    * labels rows (swap `percentile` → `approx_percentile` at the same call
    * shape when exactness is not required); nothing shuffles the vectors
    * themselves.
    *
    * Returns (vec_id, label, dist, cut, is_outlier).
    */
  def labelOutliers(embeddings: DataFrame, q: Double = 0.9): DataFrame = {
    val probe = embeddings.select(size(col("embedding")).as("dim")).limit(1).collect()
    require(probe.nonEmpty && !probe(0).isNullAt(0),
      "labelOutliers: empty corpus or null embedding — rejected loudly")
    val dim = probe(0).getInt(0)
    // float widens to double BEFORE the decimal cast: engines disagree on
    // float->decimal directly (a float's SHORTEST decimal representation has
    // ~9 digits, and some engines quantize that instead of the exact value);
    // via double, the 10-dp quantization is unambiguous everywhere
    val cent = embeddings.groupBy("label").agg(
      array((0 until dim).map { i =>
        sum(col("embedding")(i).cast("double").cast("decimal(27,10)"))
          .cast("double") / count(lit(1))
      }: _*).as("centroid"))
    // within-row accumulation over the dimension axis runs in ARRAY order on
    // both engines (Spark `aggregate` and DuckDB `list_sum` are sequential),
    // so plain double summation is already deterministic — decimal
    // accumulation is only needed where rows meet (the centroid above)
    val withDist = embeddings.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(sqrt(
          aggregate(
            zip_with(col("embedding"), col("centroid"), (x, c) => {
              val d = x.cast("double") - c
              d * d
            }),
            lit(0.0),
            (acc, v) => acc + v)), 6)
          .as("dist"))
    val cuts = withDist.groupBy("label")
      .agg(round(percentile(col("dist"), lit(q)), 6).as("cut"))
    withDist.join(broadcast(cuts), Seq("label"))
      .select(col("vec_id"), col("label"), col("dist"), col("cut"),
        (col("dist") > col("cut")).as("is_outlier"))
  }

  /** Squared L2 distance of an embedding column to a constant centroid,
    * accumulated left-to-right in double over the dimension axis — the same
    * sequential within-row arithmetic as [[labelOutliers]], so the value is
    * bit-reproducible against a DuckDB `list_sum(list_transform(...))` twin.
    */
  private def dist2To(v: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(v, array(c.toIndexedSeq.map(lit): _*), (x, cc) => {
        val d = x.cast("double") - cc
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Deterministic Lloyd k-means centroids over the embedding corpus —
    * clustering as a first-class curation primitive (mixture balancing,
    * per-cluster quality accounting, SemDeDup-style semantic grouping),
    * not just the internal IVF pruning artifact [[trainIvfCentroids]] is.
    *
    * Engine-portable by construction, so cluster ASSIGNMENTS (not just
    * derived audits) hash-match an independent replay of the same algorithm:
    * seeds are the k lowest-vec_id vectors; per-dimension centroid means
    * accumulate in DECIMAL across rows (order-independent) and convert to
    * double via one exact decimal→double rounding + one IEEE division
    * (the [[labelOutliers]] move); assignment distances fold sequentially
    * in double within each row; argmin ties resolve to the lowest cell id.
    * Empty cells keep their previous centroid.
    *
    * Shape at 100 TB: each Lloyd iteration is one broadcast-literal map-side
    * assignment + one hash-aggregate down to k×dim cells — no joins, nothing
    * shuffles the vectors; the centroid set is a bounded (k×dim) driver
    * artifact, trained on a sample at real scale.
    */
  private[graft] def trainKmeans(
      embeddings: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val probe = embeddings.select(size(col("embedding")).as("dim")).limit(1).collect()
    require(probe.nonEmpty && !probe(0).isNullAt(0),
      "trainKmeans: empty corpus or null embedding — rejected loudly")
    val dim = probe(0).getInt(0)
    val seedRows = embeddings.orderBy("vec_id").limit(k).select("embedding").collect()
    require(seedRows.forall(!_.isNullAt(0)),
      "trainKmeans: null embedding in corpus — null vectors are rejected loudly")
    require(seedRows.length == k,
      s"trainKmeans: corpus has only ${seedRows.length} vectors, need k=$k seeds")
    var cents: Array[Array[Double]] =
      seedRows.map(_.getSeq[Float](0).map(_.toDouble).toArray)
    (1 to iters).foreach { _ =>
      val assigned = embeddings.select(
        col("embedding"), nearestByDist2(col("embedding"), cents).as("cell"))
      val rows = assigned
        .groupBy("cell")
        .agg(array((0 until dim).map { i =>
          sum(col("embedding")(i).cast("double").cast("decimal(27,10)"))
            .cast("double") / count(lit(1))
        }: _*).as("mean"))
        .collect()
      val means = rows.map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      cents = cents.indices.map(c => means.getOrElse(c, cents(c))).toArray
    }
    cents
  }

  /** Argmin cell by full (x−c)² fold distance, first (lowest) cell wins
    * ties — the [[NativeExpressions.DoubleCentroidIndex]] kernel scans in
    * cell order with a strict-less comparison (the exact array_position-of-
    * min semantics of the Column form it replaced), and the compared doubles
    * are the identical accumulation, so the tie-break is exact, not
    * epsilon-fuzzy.
    */
  private def nearestByDist2(v: Column, cents: Array[Array[Double]]): Column =
    NativeExpressions.nearestCentroidDist(
      v, new NativeExpressions.DoubleCentroidIndex(cents)).getField("cell")

  /** Per-vector k-means cluster assignment: (vec_id, label, cell, dist)
    * with dist the L2 distance to the final centroid, rounded to 6 dp at
    * the very end (nothing downstream consumes the rounded value).
    */
  def kmeansAssignments(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val nd = NativeExpressions.nearestCentroidDist(
      col("embedding"), new NativeExpressions.DoubleCentroidIndex(centroids))
    embeddings
      .select(col("vec_id"), col("label"), nd.as("nd"))
      .select(
        col("vec_id"), col("label"), col("nd.cell").as("cell"),
        round(sqrt(col("nd.d2")), 6).as("dist"))
  }

  /** Exact cosine ε-pairs WITHIN cluster cells only — SemDeDup's candidate
    * generator, planned as the cluster-bounded self-join the algorithm is
    * DEFINED over (Abbas et al. compare embeddings within a k-means cluster,
    * never across): corpus ⋈ corpus on the cell id, exact cosine re-check,
    * a < b kept once. Identical output to filtering the GLOBAL ε-pair list
    * ([[cosinePairs]]) to same-cell pairs, but the cost is Σ_c m_c² instead
    * of the global pair search — and with k scaled ∝ N/target-cell-size (the
    * paper's tens-of-thousands-of-clusters regime) the per-cell quadratic
    * term is a CONSTANT, making the whole composition linear in the corpus
    * regardless of geometry. Same score arithmetic as [[cosinePairs]]: one
    * native float dot per candidate, norms computed once per row, threshold
    * on the unrounded cosine, 6-dp round on output. Cells come from the
    * trained k-means centroid matrix `cents` (see [[cellSides]]).
    */
  def cosinePairsWithinCells(
      embeddings: DataFrame, cents: Array[Array[Double]],
      threshold: Double): DataFrame =
    pairsOnceWithinCells(cellSides(embeddings, cents))
      .filter(col("raw") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("raw"), 6).as("score"))

  /** (vec_id, v, nrm, cell) candidate sides under a trained centroid model,
    * computed in the SCAN's own projection (r16, guide §2.4): cell is a pure
    * per-row function of the embedding under a fixed centroid matrix — the
    * identical [[NativeExpressions.DoubleCentroidIndex]] argmin
    * [[kmeansAssignments]] runs — so attaching it via
    * (embeddings ⋈ assignments-on-vec_id) would be a self-join of the same
    * scan: two extra exchanges + one join to recover a value the projection
    * already has in hand.
    */
  private def cellSides(embeddings: DataFrame, cents: Array[Array[Double]]): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"),
      norm(col("embedding")).as("nrm"),
      nearestByDist2(col("embedding"), cents).as("cell"))

  /** Block-decomposition factor for the within-cell pair join: each side is
    * salted by hash(vec_id) % S and replicated S times, so one cell's m²
    * scoring work splits into S² independent blocks — (a, b) lands in block
    * (h(a), h(b)), met exactly once. A constant, not a scale knob: it
    * multiplies SHUFFLE bytes by S (cheap — the exchange is input-sized)
    * to divide the per-task QUADRATIC work by S² at any scale.
    */
  private val PairBlocks = 4

  /** Every unordered same-cell pair scored EXACTLY ONCE (vec_a < vec_b, raw
    * = unrounded cosine). The cell equi-join enumerates each unordered pair
    * in both orders; keeping a < b halves the rows that reach the dot-product
    * projection — the scoring arithmetic is symmetric bit-for-bit (IEEE
    * multiplication commutes; [[NativeExpressions.vecDot]] accumulates in
    * the same index order on either side), so consumers needing both
    * directions mirror the scored row instead of re-scoring it
    * ([[knnJoinWithinCells]]).
    */
  private def pairsOnceWithinCells(sides0: DataFrame): DataFrame = {
    // Two measured pathologies at sf10 (plans/r16, OPTIMIZATION_r16.md):
    // (1) AQE sizes partitions by shuffle BYTES, but this exchange feeds a
    // join whose output is Σ_c m_c² — ~1000× its input — so advisory-size
    // coalescing collapsed the scoring stage to 6 tasks on a 32-core box;
    // an explicit-N repartition (N = the session's shuffle-partition count,
    // which the bench protocol scales with data) is exempt from coalescing
    // and satisfies the join's distribution, so no extra exchange follows.
    // (2) replica pile-up makes single cells quadratically hot (guide §2.5)
    // — invisible to AQE's byte-based skew splitting — so the join is
    // block-decomposed over (cell, h(a) % S, h(b) % S): every pair still
    // meets exactly once, and a hot cell's m² work spreads over S² tasks.
    val nParts = scala.util.Try(sides0.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt).getOrElse(200)
    val salts = array((0 until PairBlocks).map(lit): _*)
    val a = sides0.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na"), col("cell"),
        pmod(hash(col("vec_id")), lit(PairBlocks)).as("_blk_a"))
      .withColumn("_blk_b", explode(salts))
      .repartition(nParts, col("cell"), col("_blk_a"), col("_blk_b"))
    val b = sides0.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("cell"),
        pmod(hash(col("vec_id")), lit(PairBlocks)).as("_blk_b"))
      .withColumn("_blk_a", explode(salts))
      .repartition(nParts, col("cell"), col("_blk_a"), col("_blk_b"))
    a.join(b, Seq("cell", "_blk_a", "_blk_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (NativeExpressions.vecDot(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("raw"))
  }

  /** Cluster-bounded exact self-KNN — every vector's top-k cosine neighbors
    * AMONG ITS OWN CLUSTER'S members (k-means cells from the trained
    * centroid matrix `cents`, the cluster count scaled ∝ N/target-cell-size).
    * This is the kNN-graph serving form: the measured salted decades
    * (SCALING.md, rounds 9–10) showed exact UNBOUNDED self-KNN superlinear on
    * any geometry once true neighbor structure densifies with N — isotropic
    * data admits every cell, and clusterable data grows each cluster ∝ N
    * when the cluster count is fixed by geometry — so the only linear exact
    * form is the one whose candidate set is bounded by construction, the
    * move real kNN-graph builders make (cluster/bucket first, search
    * within).
    *
    * Plan: corpus ⋈ corpus on the cell id (Σ_c m_c² ≈ N × cell-size scored
    * candidates — linear when k ∝ N), size-capped [[topKPerQuery]] heaps.
    * Same score arithmetic and (score desc, neighbor_id asc) tie-break as
    * every other top-k here; singleton-cell vectors have no candidates and
    * are absent, like the brute force over the same candidate set.
    *
    * Scoring shape (r16, guide §1.2/§2.3): each unordered same-cell pair is
    * scored ONCE ([[pairsOnceWithinCells]]) and the scored row is MIRRORED
    * into both directed rows by a 2-element explode before the bounded
    * heaps — at sf10 the `query ≠ neighbor` join emitted 229.5M rows
    * through the dot-product projection where the unordered pair set is
    * half that; cosine symmetry makes the mirrored score bit-identical to
    * re-scoring (same-order accumulation, commuting IEEE multiplies), so
    * the heap input row set — and hence the ranking under the
    * (score desc, neighbor_id asc) tie-break — is unchanged.
    */
  def knnJoinWithinCells(
      embeddings: DataFrame, cents: Array[Array[Double]], k: Int): DataFrame = {
    val scored = pairsOnceWithinCells(cellSides(embeddings, cents))
      .select(col("vec_a"), col("vec_b"), round(col("raw"), 6).as("score"))
      .select(explode(array(
        struct(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"),
          col("score")),
        struct(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id"),
          col("score")))).as("p"))
      .select(col("p.query_id"), col("p.neighbor_id"), col("p.score"))
    topKPerQuery(scored, k)
  }

  /** SemDeDup keep/drop decisions — the full semantic-dedup composition
    * (Abbas et al.: cluster the embedding space, drop near-identical vectors
    * within each cluster, keep one representative). Inputs are two already-
    * verified artifacts: k-means [[kmeansAssignments]] cells and an exact
    * cosine ε-pair list (the registered query passes the within-cell pairs
    * of [[cosinePairsWithinCells]]). The keep rule is MIN-ID DOMINANCE, stated
    * exactly: drop v iff some same-cell u < v has cos(u, v) ≥ the pair
    * threshold. Deterministic, single-pass relational — no iteration, no
    * driver loop — and coarser than connected-components-min only on chains
    * whose middle link was itself dropped (documented choice: at 100 TB the
    * dominance rule is one distinct + one anti-join over the pair list,
    * while CC needs the label-propagation loop).
    *
    * Scale shape: pair list ⋈ assignments (two key equi-joins, pair-list-
    * sized), one distinct over dominated ids, one left-anti-shaped join back
    * to the corpus. Everything rides the already-pruned pair plan.
    *
    * Returns (vec_id, label, cell, keep).
    */
  def semDedupKeep(
      embeddings: DataFrame, assignments: DataFrame, pairs: DataFrame): DataFrame = {
    val sameCell = pairs
      .join(assignments.select(col("vec_id").as("vec_a"), col("cell").as("cell_a")),
        Seq("vec_a"))
      .join(assignments.select(col("vec_id").as("vec_b"), col("cell").as("cell_b")),
        Seq("vec_b"))
      .filter(col("cell_a") === col("cell_b"))
    val dominated = sameCell.select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dom", lit(true))
    embeddings.select(col("vec_id"), col("label"))
      .join(assignments, Seq("vec_id"))
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cell"),
        col("dom").isNull.as("keep"))
  }

  /** Per-cluster curation profile over the final k-means assignment:
    * size, majority label (ties to the lowest label), purity, and the
    * decimal-exact mean distance-to-centroid — the "is this cluster one
    * coherent topic or a junk drawer" signal a mixture-balancing pipeline
    * reads before sampling per cluster. One (cell,label) hash-aggregate +
    * one k-row reduction; empty cells simply have no row.
    */
  def kmeansProfile(
      embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val a = kmeansAssignments(embeddings, centroids)
    val byLabel = a.groupBy("cell", "label").agg(
      count(lit(1)).as("n"),
      sum(col("dist").cast("decimal(18,6)")).as("dist_sum"))
    byLabel.groupBy("cell").agg(
      sum(col("n")).as("n_vecs"),
      max_by(col("label"), struct(col("n"), (-col("label")).as("negl"))).as("majority_label"),
      max(col("n")).as("n_majority"),
      round(sum(col("dist_sum")).cast("double") / sum(col("n")), 6).as("avg_dist"))
      .withColumn("purity",
        round(col("n_majority").cast("double") / col("n_vecs"), 6))
      .select("cell", "n_vecs", "majority_label", "n_majority", "purity", "avg_dist")
  }

  /** Embedding-space health check: per DIMENSION, the population moments
    * and range across the whole corpus — dead dimensions (std ≈ 0),
    * mean-shifted dimensions, and blown-up ranges are the standard symptoms
    * of a broken encoder export, and they're invisible to any per-vector
    * audit.
    *
    * The same exactness discipline as the anomaly moments: each float
    * widens to double, rounds to DECIMAL(18,6), Σv and Σv² accumulate
    * exactly, and only the final mean/variance division drops to double
    * (identical IEEE sequence in the oracle). `posexplode` is map-side;
    * one hash aggregate on the dim key (a constant-size result: one row per
    * dimension).
    *
    * Returns (dim, n_vectors, mean, std, v_min, v_max).
    */
  def dimStats(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"),
        round(col("f").cast("double"), 6).cast("decimal(18,6)").as("v"))
    val m = e.groupBy("dim").agg(
      count(lit(1)).as("n_vectors"),
      sum(col("v")).as("s"),
      sum(col("v") * col("v")).as("ss"),
      min(col("v")).as("mn"),
      max(col("v")).as("mx"))
    val mean = col("s").cast("double") / col("n_vectors")
    m.select(
      col("dim"), col("n_vectors"),
      round(mean, 6).as("mean"),
      round(sqrt(greatest(
        col("ss").cast("double") / col("n_vectors") - mean * mean,
        lit(0.0))), 6).as("std"),
      col("mn").cast("double").as("v_min"),
      col("mx").cast("double").as("v_max"))
  }

  /** Matryoshka (prefix-truncation) fidelity audit — for each candidate
    * truncation width `d`, how faithfully the d-dimensional PREFIX of each
    * embedding preserves the full-dimension cosine (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022: nested prefixes as
    * progressively cheaper representations). The operational question for a
    * 100 TB embedding store is "how many dimensions can the first-pass index
    * drop": this audit answers it as data, the same error-as-data move as
    * the sketch and ANN recall audits.
    *
    * Pair sample: the deterministic (vec_id even, vec_id+1) pairing — one
    * equi-join, no sampling RNG, linear in N. Per pair and per d the
    * truncated cosine is computed over `slice(embedding, 1, d)` with the
    * same left-to-right double fold as every other cosine in this module;
    * a zero-norm prefix scores 0 (guarded identically in the oracle).
    * Errors round to DECIMAL(18,6) before the exact sum, so the mean is
    * reproducible bit-for-bit in SQL.
    *
    * Plan shape: one shuffled equi-join on the pair key, a |dims|-way
    * generate, map-side cosine arithmetic, one 4-group hash aggregate —
    * input-linear at any scale, output constant (one row per d).
    *
    * Returns (trunc_dim, n_pairs, mean_abs_err, max_abs_err,
    * close_pair_pct) where close_pair_pct is the share of pairs whose
    * truncated cosine lands within 0.05 of the full-dimension cosine.
    */
  def matryoshkaFidelity(
      embeddings: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val lhs = embeddings.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("va"))
    val rhs = embeddings
      .select((col("vec_id") - 1).as("pid"), col("embedding").as("vb"))
    def cosAt(d: Column): Column = {
      val xa = slice(col("va"), lit(1), d)
      val xb = slice(col("vb"), lit(1), d)
      when(dot(xa, xa) * dot(xb, xb) > 0,
        dot(xa, xb) / (norm(xa) * norm(xb))).otherwise(lit(0.0))
    }
    lhs.join(rhs, "pid")
      .select(explode(array(dims.map(lit): _*)).as("trunc_dim"),
        col("va"), col("vb"))
      .select(col("trunc_dim"),
        round(abs(cosAt(col("trunc_dim")) - cosAt(size(col("va")))), 6)
          .cast("decimal(18,6)").as("err"))
      .groupBy("trunc_dim")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("err")).as("se"),
        max(col("err")).cast("double").as("max_abs_err"),
        sum(when(col("err") <= 0.05, 1L).otherwise(0L)).as("nc"))
      .select(
        col("trunc_dim"), col("n_pairs"),
        round(col("se").cast("double") / col("n_pairs"), 6).as("mean_abs_err"),
        col("max_abs_err"),
        round(col("nc").cast("double") / col("n_pairs"), 6).as("close_pair_pct"))
  }

  /** Matryoshka retrieval-recall audit — the actionable half of the
    * truncation story: per prefix width `d`, the recall@k a d-dimensional
    * first-pass scan keeps against the full-dimension exact top-k for the
    * fixed query set. (64 is included as a built-in self-check: the full
    * prefix must score recall exactly 1.)
    *
    * Plan shape: the query set is a BOUNDED MODEL ARTIFACT — ≤|queryIds|
    * vectors collected once and shipped into the plan as literal structs,
    * the same move as the IVF centroids — so the scan is map-only (scan →
    * generate ×|queries| → generate ×|dims| → project), linear in N for a
    * fixed query set, then size-capped [[graft.functions.BoundedTopKAgg]]
    * heaps per (query, d) group: shuffle carries at most queries × dims ×
    * partitions × k entries and NO join appears anywhere in the plan.
    * Scores round to 6 dp BEFORE ranking with the neighbor-id tie-break,
    * the same engine-portable convention as [[bruteForceTopK]]; a
    * zero-norm prefix scores 0 (guarded identically in the oracle).
    *
    * Returns (trunc_dim, n_queries, mean_recall).
    */
  def matryoshkaRecall(
      embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    // bounded artifact: one ≤|queryIds|-row action, broadcast as literals
    val qvecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val qArtifact = array(qvecs.toIndexedSeq.map { case (id, v) =>
      struct(lit(id).as("query_id"), typedLit(v).as("qv"))
    }: _*)
    def cosAt(d: Column): Column = {
      val xe = slice(col("nv"), lit(1), d)
      val xq = slice(col("qv"), lit(1), d)
      when(dot(xe, xe) * dot(xq, xq) > 0,
        dot(xe, xq) / (norm(xe) * norm(xq))).otherwise(lit(0.0))
    }
    val scored = embeddings
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .select(col("neighbor_id"), col("nv"), explode(qArtifact).as("q"))
      .select(col("neighbor_id"), col("nv"),
        col("q.query_id").as("query_id"), col("q.qv").as("qv"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        explode(array(dims.map(lit): _*)).as("trunc_dim"),
        col("nv"), col("qv"))
      .select(col("query_id"), col("neighbor_id"), col("trunc_dim"),
        round(cosAt(col("trunc_dim")), 6).as("sd"),
        round(cosAt(size(col("nv"))), 6).as("sf"))
    def top(scoreCol: String, keys: Seq[Column]): DataFrame = {
      val item = struct(negate(col(scoreCol)).as("neg"),
        col("neighbor_id").as("id"))
      scored.groupBy(keys: _*)
        .agg(graft.functions.BoundedTopKAgg.boundedTopK(item, k).as("top"))
        .select(keys :+ explode(col("top")).as("t"): _*)
        .select(keys :+ col("t.id").as("neighbor_id"): _*)
    }
    val topD = top("sd", Seq(col("query_id"), col("trunc_dim")))
    // the full-dimension reference set is d-independent; dedup to one copy
    val topFull = top("sf", Seq(col("query_id"), col("trunc_dim")))
      .filter(col("trunc_dim") === dims.max).drop("trunc_dim")
      .withColumn("hit", lit(1L))
    topD.join(topFull, Seq("query_id", "neighbor_id"), "left")
      .groupBy("trunc_dim")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(coalesce(col("hit"), lit(0L))).as("nh"))
      .select(col("trunc_dim"), col("n_queries"),
        round(col("nh").cast("double") /
          (col("n_queries") * lit(k.toLong)), 6).as("mean_recall"))
  }

  // --------------------------------------------------------------------------
  // Product quantization (PQ) — the compressed-vector scale path for
  // embedding search at 100 TB: each vector is split into `m` subvectors and
  // every subvector is replaced by the id of its nearest centroid in a
  // per-subspace codebook (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search", TPAMI 2011). Storage per vector drops from
  // dim × 4 bytes of floats to m code bytes (64-dim float → 4 bytes at
  // m=4, k=16), and approximate distances are served from per-query lookup
  // tables without touching the floats at all — the asymmetric distance
  // computation (ADC) scan.
  // --------------------------------------------------------------------------

  /** Per-subspace PQ codebooks — `m` deterministic Lloyd runs (the exact
    * [[trainKmeans]] conventions: lowest-`vec_id` seeds, decimal-exact
    * centroid means, sequential double distance folds, argmin ties to the
    * lowest code) over the `dim/m`-wide subvector slices. A bounded model
    * artifact: m × k × (dim/m) doubles live on the driver and broadcast as
    * literals into every encode/scan plan, exactly like the IVF centroids.
    *
    * Returns codebooks(s)(c) = centroid c of subspace s.
    */
  private[graft] def trainPqCodebooks(
      embeddings: DataFrame, m: Int = 4, k: Int = 16,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    val probe = embeddings.select(size(col("embedding")).as("dim")).limit(1).collect()
    require(probe.nonEmpty && !probe(0).isNullAt(0),
      "trainPqCodebooks: empty corpus or null embedding — rejected loudly")
    val dim = probe(0).getInt(0)
    require(m > 0 && dim % m == 0,
      s"trainPqCodebooks: dim=$dim must be divisible by m=$m")
    val dsub = dim / m
    (0 until m).map { s =>
      trainKmeans(
        embeddings.select(col("vec_id"),
          slice(col("embedding"), s * dsub + 1, dsub).as("embedding")),
        k, iters)
    }.toArray
  }

  /** PQ-encode the corpus: (vec_id, label, code_0..code_{m-1}, quant_err)
    * where code_s is the nearest codebook centroid of subvector s (ties to
    * the lowest code, mirroring the Lloyd assignment) and quant_err is the
    * total reconstruction distance — sqrt of the left-to-right sum of the
    * per-subspace squared distances, rounded to 6 dp at the very end. The
    * per-vector distortion is the curation signal (a vector the codebook
    * cannot represent is an outlier to the corpus geometry) and the codes
    * are the compressed index a 100 TB ANN serving tier stores instead of
    * the floats.
    *
    * Map-only: codebooks ride in as literals; nothing shuffles.
    */
  def pqEncode(
      embeddings: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    def dists(s: Int): Column = {
      val sub = slice(col("embedding"), s * dsub + 1, dsub)
      array(codebooks(s).toIndexedSeq.map(c => dist2To(sub, c)): _*)
    }
    val codeCols = (0 until m).map { s =>
      val d = dists(s)
      (array_position(d, array_min(d)) - 1).cast("int").as(s"code_$s")
    }
    val err = round(sqrt(
      (0 until m).map(s => array_min(dists(s))).reduce(_ + _)), 6)
      .as("quant_err")
    embeddings.select(
      (Seq(col("vec_id"), col("label")) ++ codeCols :+ err): _*)
  }

  /** The |q|-row driver-side query-vector collect every probe pipeline
    * needs — exposed so one collect can feed several pipelines over the
    * same query set (ivf-exact, PQ shortlist, re-rank) instead of each
    * paying its own scan job. Sorted by id; a bounded probe artifact like
    * the seed floors.
    */
  def collectQueryVecs(
      embeddings: DataFrame, queryIds: Seq[Long]): Seq[(Long, Array[Float])] =
    embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq

  /** ADC shortlist: per query, the `l` corpus vectors with the highest
    * APPROXIMATE cosine — dot(q, x) estimated as the sum of per-subspace
    * lookup-table entries lut_s[code_s(x)] (the m×k table of
    * query-subvector · codebook-centroid dots, computed once per query on
    * the driver), divided by ‖q‖ and the EXACT stored ‖x‖ (the one extra
    * scalar per vector that makes IP-trained PQ serve cosine — codes alone
    * cannot carry the norm). `qvecs` ([[collectQueryVecs]]) must hold a
    * vector for every id in `queryIds`.
    *
    * Scale shape: the scan touches only the m code columns and the norm —
    * never the float vectors — as one map-only pass per query branch over
    * the shared encode, and the per-query top-l is the size-capped
    * [[graft.functions.BoundedTopKAgg]]; shuffle ≤ queries × partitions × l.
    */
  def pqShortlist(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      codebooks: Array[Array[Array[Double]]],
      qvecs: Seq[(Long, Array[Float])],
      l: Int = 50): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val codeCols = (0 until m).map { s =>
      val sub = slice(col("embedding"), s * dsub + 1, dsub)
      val d = array(codebooks(s).toIndexedSeq.map(c => dist2To(sub, c)): _*)
      (array_position(d, array_min(d)) - 1).cast("int").as(s"c$s")
    }
    val base = embeddings.select(
      (Seq(col("vec_id").as("neighbor_id"),
        norm(col("embedding")).as("nn")) ++ codeCols): _*)
    require(qvecs.length == queryIds.distinct.length,
      s"pqShortlist: ${queryIds.distinct.length} query ids, found ${qvecs.length}")
    // ONE scan for all queries: the code columns are query-INDEPENDENT, so
    // the per-query scores stack as an inline exploded array over the same
    // computed codes — where a union of per-query branches would re-scan
    // the corpus and recompute every m×k code distance |q| times
    val perQuery = qvecs.map { case (qid, v) =>
      val q = v.map(_.toDouble)
      val qn = math.sqrt(q.map(x => x * x).sum)
      val approxDot = (0 until m).map { s =>
        val lut = codebooks(s).map { c =>
          var acc = 0.0
          var i = 0
          while (i < dsub) { acc += q(s * dsub + i) * c(i); i += 1 }
          acc
        }
        element_at(array(lut.toIndexedSeq.map(lit): _*), col(s"c$s") + 1)
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"),
        round(approxDot / (lit(qn) * col("nn")), 6).as("score"))
    }
    val scored = base
      .select(col("neighbor_id"), explode(array(perQuery.toIndexedSeq: _*)).as("qs"))
      .filter(col("qs.query_id") =!= col("neighbor_id"))
      .select(col("qs.query_id").as("query_id"), col("neighbor_id"),
        col("qs.score").as("score"))
    topKPerQuery(scored, l)
  }

  /** Exact-cosine re-rank of candidate (query_id, neighbor_id) pairs —
    * the second PQ phase: only the shortlist's floats are ever read, one
    * equi-join on neighbor_id against the corpus plus a broadcast of the
    * query vectors, then the size-capped top-k. Same scoring arithmetic
    * (and 6-dp rounding before ranking) as every other cosine path.
    */
  def rerankExact(
      embeddings: DataFrame,
      candidates: DataFrame,
      queryIds: Seq[Long],
      k: Int): DataFrame = {
    val corpus = embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      norm(col("embedding")).as("nn"))
    val queries = broadcast(embeddings
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn")))
    val scored = broadcast(candidates.select("query_id", "neighbor_id"))
      .join(corpus, Seq("neighbor_id"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("nv"), col("qv")) / (col("nn") * col("qn")), 6)
          .as("score"))
    topKPerQuery(scored, k)
  }
}
