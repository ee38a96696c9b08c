package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine on hand-computed vectors") {
    val df = vecs(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(-1f, 0f)), (3L, Seq(1f, 1f)))
    val c = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(c((0L, 0L)) == 1.0)
    assert(c((0L, 1L)) == 0.0)
    assert(c((0L, 2L)) == -1.0)
    assert(math.abs(c((0L, 3L)) - 1.0 / math.sqrt(2)) < 1e-15)
  }

  test("brute-force top-k: an exact duplicate vector ranks first") {
    val base = (1 to 8).map(_.toFloat)
    val df = vecs(
      (0L, base), (1L, base), (2L, base.map(-_)), (3L, base.reverse),
      (4L, Seq.fill(8)(1f)))
    val top = Similarity.bruteForceTopK(df, Seq(0L), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.head == 1L) // identical vector: cosine 1
    assert(!top.contains(2L) || top.last == 2L) // antipode ranks last if present
  }

  test("top-k is deterministic under score ties (id tie-break)") {
    val v = Seq(1f, 0f)
    val df = vecs((0L, v), (5L, v), (3L, v), (9L, v))
    val top = Similarity.bruteForceTopK(df, Seq(0L), k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.sameElements(Array(3L, 5L, 9L))) // all score 1.0 -> id order
  }

  test("ann: bucketed candidates, no cartesian product, recall beats random") {
    val emb = Tables.embeddings(spark, sfDir)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    val ann = Similarity.annTopK(emb, queryIds, k = 10)
    val plan = ann.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in ANN plan:\n$plan")

    val brute = Similarity.bruteForceTopK(emb, queryIds, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ann.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size

    // candidate set must be a real subset of the corpus (bucketing bites)
    val n = emb.count()
    val candidates = Similarity.annTopK(emb, queryIds, k = n.toInt).count()
    assert(candidates < queryIds.size * (n - 1),
      s"ANN candidates ($candidates) must be smaller than all pairs")
    // embeddings are near-random (no cluster structure), so absolute recall
    // is data-limited; require it to beat the candidate fraction (random
    // bucketing) by a wide margin — deterministic hashes make this stable
    val candidateFraction = candidates.toDouble / (queryIds.size * (n - 1))
    assert(recall > candidateFraction + 0.1,
      s"recall $recall should beat random-candidate baseline $candidateFraction")
  }

  test("ivf: clustered corpus -> perfect recall within probed cells, no cartesian") {
    // Construct a corpus with REAL cluster structure (IVF's home turf): 4
    // well-separated directions, 12 points each with small deterministic
    // jitter on the remaining axes.
    val dirs = Seq(
      Seq(10f, 0f, 0f, 0f), Seq(0f, 10f, 0f, 0f),
      Seq(0f, 0f, 10f, 0f), Seq(0f, 0f, 0f, 10f))
    val rows = for {
      (d, c) <- dirs.zipWithIndex
      j <- 0 until 12
    } yield ((c * 12 + j).toLong,
      d.zipWithIndex.map { case (x, i) => x + 0.1f * ((j + i) % 3) })
    val df = vecs(rows: _*)
    val centroids = Similarity.trainIvfCentroids(df, k = 4, iters = 5)

    val ivf = Similarity.ivfTopK(df, Seq(0L, 12L, 24L, 36L), k = 5, centroids, nprobe = 1)
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"all-pairs join in IVF plan:\n$plan")

    val brute = Similarity.bruteForceTopK(df, Seq(0L, 12L, 24L, 36L), k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // top-5 neighbors of a cluster member are inside its own cluster, and
    // nprobe=1 probes exactly that cell -> recall 1.0
    assert(approx == brute, s"clustered IVF must find the exact top-k")
  }

  test("ivf on the real corpus: candidates are cell-bounded, recall beats candidate fraction") {
    val emb = Tables.embeddings(spark, sfDir)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    val centroids = Similarity.trainIvfCentroids(emb, k = 16, iters = 3)
    val ivf = Similarity.ivfTopK(emb, queryIds, k = 10, centroids, nprobe = 4)

    val brute = Similarity.bruteForceTopK(emb, queryIds, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size

    val n = emb.count()
    val candidates = Similarity.ivfTopK(emb, queryIds, k = n.toInt, centroids, nprobe = 4).count()
    assert(candidates < queryIds.size * (n - 1),
      s"IVF candidates ($candidates) must be smaller than all pairs")
    val candidateFraction = candidates.toDouble / (queryIds.size * (n - 1))
    assert(recall > candidateFraction + 0.1,
      s"recall $recall should beat random-candidate baseline $candidateFraction")
  }

  test("ivf centroid training is deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.trainIvfCentroids(emb.repartition(7), k = 8, iters = 2)
    val b = Similarity.trainIvfCentroids(emb.repartition(3), k = 8, iters = 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "decimal accumulation must make centroids partitioning-independent")
  }

  test("cosine pairs at threshold lists exactly the brute-force pairs") {
    val df = vecs(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(1f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(0.9f, 0.1f, 0.05f)))
    val pairs = Similarity.cosinePairs(df, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("global ε-closure labels == driver union-find over brute-force pairs " +
    "(spec-side exactness gate for the retired global q_similarity_dedup plan)") {
    // Round 11 re-planned q_similarity_dedup onto the within-cell pair
    // search; the GLOBAL closure — min-label propagation over the exact
    // unrestricted ε-pair graph — lives here as the exactness baseline the
    // bounded registered form is a stated approximation of.
    val emb = Tables.embeddings(spark, sfDir)
    val got = graft.operators.Dedup.nearDedupLabels(
      emb.select(col("vec_id")),
      Similarity.cosinePairs(emb, 0.45)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      idCol = "vec_id")
      .as[(Long, Long)].collect().toMap

    // driver-side union-find over the brute-force pair list
    val ids = emb.select("vec_id").as[Long].collect()
    val parent = scala.collection.mutable.Map(ids.toIndexedSeq.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    Similarity.cosinePairs(emb, 0.45)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val want = ids.map(i => i -> find(i)).toMap
    assert(got == want,
      s"global closure labels diverge: ${(got.toSet -- want.toSet).take(5)}")
  }

  test("ivfExactTopK == bruteForceTopK on the real corpus (plan is equi-join)") {
    val emb = Tables.embeddings(spark, sfDir)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    val centroids = Similarity.trainIvfCentroids(emb, k = 16, iters = 5)
    val exact = Similarity.ivfExactTopK(emb, k = 10, centroids,
      Similarity.trainCellRadii(emb, centroids),
      Similarity.trainSeedFloors(emb, queryIds, 10, centroids),
      Similarity.collectQueryVecs(emb, queryIds))

    val plan = exact.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"exact IVF top-k plan must not be all-pairs:\n$plan")

    val brute = Similarity.bruteForceTopK(emb, queryIds, k = 10)
      .select("query_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    val got = exact
      .select("query_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == brute,
      s"exact IVF top-k must match brute force rank-for-rank: " +
        s"missing=${brute -- got}, extra=${got -- brute}")
  }

  test("int8 quantization bounds round-trip error and handles zero vectors") {
    val df = vecs(
      (0L, Seq(0.5f, -1.0f, 0.25f)),
      (1L, Seq(0f, 0f, 0f)),               // zero vector → zeros, scale 0
      (2L, Seq(127f, -63.5f, 1f)))
    val rows = Similarity.quantizeInt8(df)
      .select("vec_id", "scale", "q").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).sortBy(_._1)

    val (_, s0, q0) = rows(0)
    assert(q0 == Seq(64, -127, 32)) // 0.5/1.0*127 = 63.5 → rounds away from zero
    assert(math.abs(s0 - 1.0 / 127) < 1e-15)
    // round-trip error bounded by half a quantization step
    Seq(0.5, -1.0, 0.25).zip(q0).foreach { case (x, q) =>
      assert(math.abs(x - q * s0) <= s0 / 2 + 1e-12)
    }

    val (_, s1, q1) = rows(1)
    assert(s1 == 0.0 && q1 == Seq(0, 0, 0))

    val (_, _, q2) = rows(2)
    assert(q2 == Seq(127, -64, 1) && q2.forall(q => q >= -127 && q <= 127))
  }

  test("ivf training rejects empty, null, and undersized corpora loudly") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(empty, k = 4)
    }
    assert(e1.getMessage.contains("empty"), e1.getMessage)

    val withNull = Seq((0L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(withNull, k = 1)
    }
    assert(e2.getMessage.contains("null embedding"), e2.getMessage)

    // null NOT in the first row: the check must be corpus-wide, not a probe
    // of the head (a later null previously slipped into the Lloyd iterations)
    val mixedNull = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e4 = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(mixedNull, k = 2)
    }
    assert(e4.getMessage.contains("null embedding"), e4.getMessage)

    val small = vecs((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(small, k = 4)
    }
    assert(e3.getMessage.contains("need k=4"), e3.getMessage)
  }

  test("label outliers: distance to own-label centroid, p90 cut flags the far vector") {
    // label 0: centroid (2.5, 0); dists 2.5, 2.5, 2.5, 7.5; interpolated p90
    // = 2.5 + 0.7*(7.5-2.5) = 6.0 -> only the far vector exceeds the cut.
    // label 1: all identical -> dist 0, cut 0, nothing flagged (strict >)
    val df = Seq(
      (0L, Seq(0f, 0f), 0), (1L, Seq(0f, 0f), 0), (2L, Seq(0f, 0f), 0),
      (3L, Seq(10f, 0f), 0),
      (4L, Seq(1f, 1f), 1), (5L, Seq(1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(df, q = 0.9)
      .select("vec_id", "dist", "cut", "is_outlier")
      .as[(Long, Double, Double, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(2.5, 2.5, 2.5, 7.5, 0.0, 0.0))
    assert(out.map(_._3).toSeq == Seq(6.0, 6.0, 6.0, 6.0, 0.0, 0.0))
    assert(out.map(_._4).toSeq == Seq(false, false, false, true, false, false))
  }

  test("label outliers on the real corpus: every label flags ~10% of its vectors") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.labelOutliers(emb, q = 0.9)
    assert(out.count() == emb.count())
    val rates = out.groupBy("label")
      .agg((sum(when(col("is_outlier"), 1).otherwise(0)).cast("double") /
        count(lit(1))).as("rate"))
      .select("rate").as[Double].collect()
    // with continuous (tie-free) distances, strict > of the interpolated p90
    // flags floor(0.1*(n-1)) + 1 vectors at most — for the ~45-60-vector
    // labels here that is bounded by 13% and bounded away from 0
    assert(rates.forall(r => r > 0.0 && r <= 0.13), rates.mkString(","))
  }

  private def lvecs(rows: (Long, Int, Seq[Float])*) =
    rows.toDF("vec_id", "label", "embedding")

  test("kmeans: two separated blobs with k=2 separate perfectly") {
    val df = lvecs(
      (0L, 0, Seq(10f, 10f)), (2L, 0, Seq(11f, 10f)), (4L, 0, Seq(10f, 11f)),
      (1L, 1, Seq(-10f, -10f)), (3L, 1, Seq(-11f, -10f)), (5L, 1, Seq(-10f, -11f)))
    val out = Similarity.kmeansAssignments(df, Similarity.trainKmeans(df, k = 2, iters = 3))
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    // seeds: vec 0 (blob A) -> cell 0, vec 1 (blob B) -> cell 1
    assert(Seq(0L, 2L, 4L).forall(out(_) == 0), out.toSeq.sorted)
    assert(Seq(1L, 3L, 5L).forall(out(_) == 1), out.toSeq.sorted)
  }

  test("kmeans: assignments invariant under repartitioning (decimal means)") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.kmeansAssignments(emb, Similarity.trainKmeans(emb, k = 4, iters = 2))
      .select("vec_id", "cell", "dist").as[(Long, Int, Double)].collect().toSet
    val emb7 = emb.repartition(7)
    val b = Similarity.kmeansAssignments(emb7, Similarity.trainKmeans(emb7, k = 4, iters = 2))
      .select("vec_id", "cell", "dist").as[(Long, Int, Double)].collect().toSet
    assert(a == b)
    assert(a.size == emb.count())
  }

  test("kmeans: a duplicate seed's empty cell keeps its centroid and revives") {
    // vec 0 and 1 are identical, so seeds 0 and 1 coincide; in iteration 1
    // every point tie-breaks to the LOWER cell and cell 1 goes empty — it
    // must survive the mean step (previous centroid retained, no NaN). In
    // iteration 2 cell 0's centroid has drifted toward vec 2, so the
    // retained cell-1 centroid (still exactly (1,1)) wins vecs 0 and 1
    // back — the retained centroid REVIVES, textbook Lloyd
    val df = lvecs(
      (0L, 0, Seq(1f, 1f)), (1L, 0, Seq(1f, 1f)), (2L, 0, Seq(1.5f, 1f)))
    val out = Similarity.kmeansAssignments(df, Similarity.trainKmeans(df, k = 2, iters = 2))
      .select("vec_id", "cell", "dist").as[(Long, Int, Double)].collect()
      .sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq(1, 1, 0), out.toSeq)
    assert(out.forall(r => !r._3.isNaN), out.toSeq)
  }

  test("kmeans profile: size, majority label (ties to lowest), purity") {
    val df = lvecs(
      (0L, 7, Seq(10f, 10f)), (2L, 7, Seq(11f, 10f)), (4L, 3, Seq(10f, 11f)),
      (1L, 5, Seq(-10f, -10f)), (3L, 5, Seq(-11f, -10f)))
    val p = Similarity.kmeansProfile(df, Similarity.trainKmeans(df, k = 2, iters = 2))
      .select("cell", "n_vecs", "majority_label", "n_majority", "purity")
      .as[(Int, Long, Int, Long, Double)].collect().sortBy(_._1)
    assert(p.toSeq == Seq((0, 3L, 7, 2L, 0.666667), (1, 2L, 5, 2L, 1.0)))

    // exact two-way label tie inside one cluster -> lowest label wins
    val tied = lvecs(
      (0L, 9, Seq(1f, 0f)), (2L, 4, Seq(1f, 0.1f)),
      (4L, 9, Seq(1f, -0.1f)), (6L, 4, Seq(1f, 0.2f)))
    val mj = Similarity.kmeansProfile(tied, Similarity.trainKmeans(tied, k = 1, iters = 1))
      .select("majority_label").as[Int].collect()
    assert(mj.toSeq == Seq(4))
  }

  test("cluster-balanced sample: quota caps each cell, small cells kept whole") {
    val emb = Tables.embeddings(spark, sfDir)
    val asg = Similarity.kmeansAssignments(emb, Similarity.trainKmeans(emb, k = 4, iters = 2))
      .select("vec_id", "label", "cell")
    val cellSizes = asg.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val quota = 10
    val sample = graft.operators.Sampling
      .stratifiedSampleBounded(asg, "cell", "vec_id", quota)
    val sampled = sample.select("cell", "vec_id").as[(Int, Long)].collect()
    val perCell = sampled.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell.keySet == cellSizes.keySet)
    perCell.foreach { case (cell, n) =>
      assert(n == math.min(cellSizes(cell), quota.toLong), s"cell $cell: $n")
    }
    // membership consistency: every sampled row is a real assignment
    val asgSet = asg.select("cell", "vec_id").as[(Int, Long)].collect().toSet
    assert(sampled.forall(asgSet.contains))
  }

  test("dimStats: exact moments per dimension, dead dim has std 0") {
    // dim 0: values 1, 3 -> mean 2, var 1, std 1; dim 1: constant 5 -> std 0
    val df = vecs((0L, Seq(1f, 5f)), (1L, Seq(3f, 5f)))
    val r = Similarity.dimStats(df).orderBy("dim").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("n_vectors") == 2L)
    assert(r(0).getAs[Double]("mean") == 2.0)
    assert(r(0).getAs[Double]("std") == 1.0)
    assert(r(0).getAs[Double]("v_min") == 1.0 && r(0).getAs[Double]("v_max") == 3.0)
    assert(r(1).getAs[Double]("std") == 0.0) // the dead-dimension signal
    assert(r(1).getAs[Double]("mean") == 5.0)
  }

  test("hard negatives: label filter before top-k, equi-join plan, brute parity") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, k = 8, iters = 3)
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.hardNegatives(emb, qids, k = 5, centroids)

    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"hard-negative plan must not be all-pairs:\n$plan")

    // every emitted negative carries a label different from its anchor's
    assert(got.filter(col("n_label") === col("q_label")).count() == 0)

    // brute force: same top-k with the label constraint applied pre-rank
    import org.apache.spark.sql.expressions.Window
    val sides = emb.select(col("vec_id"), col("embedding"), col("label"))
    val brute = sides.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
      .crossJoin(sides.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("label").as("n_label")))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("n_label") =!= col("q_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("nv")), 6).as("score"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    val gotSet = got.select("query_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(gotSet == brute,
      s"hard negatives must equal the label-filtered brute-force top-k: " +
        s"missing=${brute -- gotSet}, extra=${gotSet -- brute}")
  }

  test("pruned hard negatives == full-coverage probe, and prune engages on clusters") {
    // identical rows on the real (isotropic) corpus — exactness regardless
    // of whether the bound can bite
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = Similarity.trainIvfCentroids(emb, k = 8, iters = 3)
    val qids = Seq(0L, 1L, 2L)
    val full = Similarity.hardNegatives(emb, qids, k = 5, centroids)
      .as[(Long, Int, Int, Long, Int, Double)].collect().toSet
    val pruned = Similarity.hardNegativesPruned(emb, qids, k = 5, centroids,
      Similarity.trainCellRadii(emb, centroids))
      .as[(Long, Int, Int, Long, Int, Double)].collect().toSet
    assert(pruned == full,
      s"pruned negatives must be exact: missing=${full -- pruned}, extra=${pruned -- full}")

    // the prune engages when different-label floors are HIGH — i.e. when
    // some labels are confusable (the case hard-negative mining exists
    // for). Fixture: 4 direction PAIRS of labels (2j and 2j+1 a few
    // degrees apart), pairs mutually near-orthogonal: an anchor's best
    // negatives live in its twin label at cos ≈ 0.99, so every cell
    // outside its own direction pair is provably inadmissible.
    val rows = for {
      j <- 0 until 4; m <- 0 until 12; twin <- Seq(0, 1)
    } yield {
      val base = Array.fill(8)(0f)
      base(j) = 10f
      if (twin == 1) base(j + 4) = 1f // ~5.7° off the base axis
      val jit = base.indices.map(i => base(i) + 0.05f * ((m + i) % 3))
      (((j * 2 + twin) * 100 + m).toLong, 2 * j + twin, jit)
    }
    val cl = lvecs(rows: _*)
    val cQids = Seq(0L, 200L, 400L) // one anchor per even label 0, 2, 4
    val cCents = Similarity.trainIvfCentroids(cl, k = 8, iters = 5)
    val cRadii = Similarity.trainCellRadii(cl, cCents)
    val probes = Similarity.hardNegativeProbes(
      cl, cQids, k = 5, cCents, cRadii).count()
    val fullCoverage = cQids.size.toLong * cCents.length
    assert(probes < 0.5 * fullCoverage,
      s"negative-mining prune did not engage: $probes probes of $fullCoverage")
    val clFull = Similarity.hardNegatives(cl, cQids, k = 5, cCents)
      .as[(Long, Int, Int, Long, Int, Double)].collect().toSet
    val clPruned = Similarity.hardNegativesPruned(
      cl, cQids, k = 5, cCents, cRadii)
      .as[(Long, Int, Int, Long, Int, Double)].collect().toSet
    assert(clPruned == clFull,
      s"missing=${clFull -- clPruned}, extra=${clPruned -- clFull}")
  }

  test("hard negatives: a same-label near-duplicate cannot crowd out negatives") {
    // anchor 0 has an identical same-label twin (1); negatives must be the
    // other-label vectors ONLY, twin excluded even at cosine 1
    val df = Seq(
      (0L, Seq(1f, 0f, 0f), 7), (1L, Seq(1f, 0f, 0f), 7),
      (2L, Seq(0.9f, 0.1f, 0f), 3), (3L, Seq(0f, 1f, 0f), 3))
      .toDF("vec_id", "embedding", "label")
    val centroids = Similarity.trainIvfCentroids(df, k = 2, iters = 2)
    val r = Similarity.hardNegatives(df, Seq(0L), k = 2, centroids)
      .orderBy("rank").collect()
    assert(r.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(r.forall(_.getAs[Int]("n_label") == 3))
  }

  test("semDedupKeep: min-id dominance within cells, cross-cell pairs ignored") {
    val emb = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1), (5L, 1))
      .toDF("vec_id", "label")
    val asg = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 0), (5L, 1))
      .toDF("vec_id", "cell")
    // 1~2 and 2~3 inside cell 0: 2 and 3 both dominated (3 by the dropped 2
    // — the documented dominance-vs-CC choice); 4~5 crosses cells: ignored
    val pairs = Seq((1L, 2L, 0.99), (2L, 3L, 0.97), (4L, 5L, 0.98))
      .toDF("vec_a", "vec_b", "score")
    val keep = Similarity.semDedupKeep(emb, asg, pairs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(keep == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> true, 5L -> true))
  }

  test("knnJoinWithinCells == brute-force top-k over the same-cell candidate set") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.trainKmeans(emb, k = 8, iters = 3)
    val asg = Similarity.kmeansAssignments(emb, cents)
      .select(col("vec_id"), col("cell"))
    val got = Similarity.knnJoinWithinCells(emb, cents, k = 5)
    // brute-force twin: all same-cell ordered pairs scored, window-ranked
    val n = emb.select(col("vec_id"), col("embedding").as("v"),
      Similarity.norm(col("embedding")).as("nrm"))
      .join(asg, Seq("vec_id"))
    val scored = n.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qn"), col("cell"))
      .join(n.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("cell")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    val twin = scored
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
    assert(got.except(twin).isEmpty && twin.except(got).isEmpty)
    assert(got.count() > 0)
  }

  test("cosinePairsWithinCells == global exact pairs filtered to same cell") {
    // the SemDeDup candidate generator must produce EXACTLY the same-cell
    // subset of the global ε-pair list (the composition's previous input),
    // on the real corpus with a real k-means assignment
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.trainKmeans(emb, k = 8, iters = 3)
    val asg = Similarity.kmeansAssignments(emb, cents)
      .select(col("vec_id"), col("cell"))
    val within = Similarity.cosinePairsWithinCells(emb, cents, threshold = 0.45)
    val global = Similarity.cosinePairs(emb, threshold = 0.45)
      .join(asg.select(col("vec_id").as("vec_a"), col("cell").as("ca")), Seq("vec_a"))
      .join(asg.select(col("vec_id").as("vec_b"), col("cell").as("cb")), Seq("vec_b"))
      .filter(col("ca") === col("cb"))
      .select(col("vec_a"), col("vec_b"), col("score"))
    assert(within.except(global).isEmpty && global.except(within).isEmpty)
    assert(within.count() > 0, "fixture degenerate: no same-cell pairs at all")
  }

  test("matryoshka: hand-built pair, zero-norm prefix guard, exact full-dim") {
    // pair (0,1): 2-prefixes orthogonal, full vectors nearly parallel;
    // pair (2,3): identical vectors whose 2-prefix is all-zero (zero-norm
    // guard path). Full width must reproduce the full cosine exactly.
    val df = vecs(
      (0L, Seq(1f, 0f, 3f, 4f)), (1L, Seq(0f, 1f, 3f, 4f)),
      (2L, Seq(0f, 0f, 1f, 2f)), (3L, Seq(0f, 0f, 1f, 2f)))
    val r = Similarity.matryoshkaFidelity(df, dims = Seq(2, 4))
      .collect().map(x => x.getAs[Int]("trunc_dim") ->
        (x.getAs[Long]("n_pairs"), x.getAs[Double]("mean_abs_err"),
          x.getAs[Double]("close_pair_pct"))).toMap
    assert(r(4)._1 == 2L)
    assert(r(4)._2 == 0.0) // full width == full cosine, exactly
    assert(r(4)._3 == 1.0)
    assert(r(2)._1 == 2L)
    // pair (0,1): prefix-2 cosine 0 (orthogonal) vs a high full cosine;
    // pair (2,3): identical vectors with a zero-norm 2-prefix -> guarded
    // cos_2 = 0 vs cos_full = 1, err exactly 1 -> mean strictly positive
    assert(r(2)._2 > 0.0 && r(2)._2 <= 1.0)
  }

  test("matryoshka fidelity improves with width on the real corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val rows = Similarity.matryoshkaFidelity(emb).collect()
      .map(r => r.getAs[Int]("trunc_dim") -> r.getAs[Double]("mean_abs_err"))
      .toMap
    assert(rows.keySet == Set(8, 16, 32, 64))
    assert(rows(64) == 0.0) // the full prefix IS the full cosine
    assert(rows(8) >= rows(32)) // wider prefix, lower drift
    assert(rows(32) > 0.0)
    // n_pairs identical across widths (same pair sample exploded per d)
    val np = Similarity.matryoshkaFidelity(emb).collect()
      .map(_.getAs[Long]("n_pairs")).toSet
    assert(np.size == 1 && np.head > 0)
  }

  test("matryoshka recall: full width is exact, no nested-loop join") {
    val emb = Tables.embeddings(spark, sfDir)
    val df = Similarity.matryoshkaRecall(emb, Seq(0L, 1L, 2L, 3L, 4L), k = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"nested-loop in matryoshka recall plan:\n$plan")
    val r = df.collect().map(x => x.getAs[Int]("trunc_dim") ->
      (x.getAs[Long]("n_queries"), x.getAs[Double]("mean_recall"))).toMap
    assert(r.keySet == Set(8, 16, 32, 64))
    assert(r.values.forall { case (nq, rec) =>
      nq == 5L && rec >= 0.0 && rec <= 1.0 })
    assert(r(64)._2 == 1.0) // the full prefix reproduces the reference set
    assert(r(8)._2 <= r(64)._2)
  }
}
