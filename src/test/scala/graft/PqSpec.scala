package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Product-quantization family: codebook training conventions, encode
  * determinism, ADC shortlist quality, and the compressed-scan plan shape.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding").withColumn("label", lit(0))

  test("codebooks: m subspaces of k centroids over dim/m dims") {
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    assert(books.length == 4)
    assert(books.forall(_.length == 16))
    assert(books.forall(_.forall(_.length == 16))) // 64/4
  }

  test("dim not divisible by m is rejected loudly") {
    val df = vecs((0L, Seq(1f, 2f, 3f)), (1L, Seq(4f, 5f, 6f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.trainPqCodebooks(df, m = 2, k = 2, iters = 1)
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("two-blob subspaces: codes separate the blobs, centroid points have zero distortion") {
    // subvector space has exactly two values per subspace; k=2 Lloyd must
    // converge onto them, so every vector's reconstruction is exact
    val a = Seq(1f, 1f); val b = Seq(9f, 9f)
    val df = vecs(
      (0L, a ++ a), (1L, a ++ b), (2L, b ++ a), (3L, b ++ b),
      (4L, a ++ a), (5L, b ++ b))
    val books = Similarity.trainPqCodebooks(df, m = 2, k = 2, iters = 3)
    val enc = Similarity.pqEncode(df, books)
      .orderBy("vec_id")
      .select("code_0", "code_1", "quant_err")
      .as[(Int, Int, Double)].collect()
    assert(enc.forall(_._3 == 0.0), s"nonzero distortion: ${enc.mkString(",")}")
    // identical inputs -> identical codes; distinct blobs -> distinct codes
    assert(enc(0) == enc(4) && enc(3) == enc(5))
    assert(enc(0)._1 != enc(3)._1 && enc(0)._2 != enc(3)._2)
    assert(enc(1)._1 == enc(0)._1 && enc(1)._2 == enc(3)._2)
  }

  test("encode is invariant under repartitioning") {
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    val once = Similarity.pqEncode(emb, books).orderBy("vec_id").collect()
    val again = Similarity.pqEncode(emb.repartition(7), books)
      .orderBy("vec_id").collect()
    assert(once.sameElements(again))
  }

  test("encode is map-only: no Exchange in the plan") {
    val emb = Tables.embeddings(spark, sfDir)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    val plan = Similarity.pqEncode(emb, books).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PQ encode should not shuffle:\n$plan")
  }

  test("ADC shortlist + exact re-rank: no cartesian, recall beats random") {
    val emb = Tables.embeddings(spark, sfDir)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    val shortlist = Similarity.pqShortlist(emb, qids, books,
      Similarity.collectQueryVecs(emb, qids), l = 50)
    val rerank = Similarity.rerankExact(emb, shortlist, qids, k = 10)
    val plan = rerank.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"all-pairs in PQ plan:\n$plan")

    val brute = Similarity.bruteForceTopK(emb, qids, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = rerank
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val n = emb.count()
    val recall = (brute intersect approx).size.toDouble / brute.size
    val randomRecall = 50.0 * qids.size / (qids.size * (n - 1))
    assert(recall > randomRecall + 0.1,
      s"PQ recall $recall does not beat random $randomRecall")
  }

  test("shortlist scores every corpus vector exactly once per query") {
    val emb = Tables.embeddings(spark, sfDir)
    val qids = Seq(0L, 1L)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    val sl = Similarity.pqShortlist(emb, qids, books,
      Similarity.collectQueryVecs(emb, qids), l = 1000000)
    val counts = sl.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    val n = emb.count()
    assert(counts.values.forall(_ == n - 1), s"per-query candidate counts: $counts")
  }

  test("shortlist reads the corpus ONCE regardless of query count") {
    // plan-shape pin for the r11 single-scan rewrite: the query-independent
    // code columns are computed in one pass with the per-query scores
    // stacked by explode — a union of per-query branches would re-scan the
    // parquet (and recompute every code distance) |queries| times
    val emb = Tables.embeddings(spark, sfDir)
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val books = Similarity.trainPqCodebooks(emb, m = 4, k = 16, iters = 2)
    val plan = Similarity.pqShortlist(emb, qids, books,
      Similarity.collectQueryVecs(emb, qids), l = 50)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 corpus scan, plan has $scans:\n$plan")
  }
}
