package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Sketches, TextAnalysis}

/** Pins the sketch audits' verdicts and exact columns against their exact
  * twins on the real corpus.
  */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sfDir)

  test("approximate quantiles are returned elements within GK's rank guarantee") {
    // GK returns an ACTUAL element at rank-error <= n/accuracy; the exact
    // form interpolates BETWEEN elements, so a VALUE bound is unbounded on
    // gappy small groups (sf0.01's src19: elements ...72, 87... vs exact
    // p90 = 81). The portable contract is rank containment — exactly what
    // tokenDistributionAudit checks per group.
    val audit = Sketches.tokenDistributionAudit(docs).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("gk_within_bound")),
        s"${r.getString(0)}: GK estimate outside its rank guarantee")
    }
    // audit's exact columns must equal the exact twin's (same expressions)
    val exact = TextAnalysis.tokenDistribution(docs).collect()
      .map(r => r.getString(0) -> Seq("p25", "p50", "p75", "p90").map(r.getAs[Double])).toMap
    audit.foreach { r =>
      assert(Seq("p25", "p50", "p75", "p90").map(r.getAs[Double]) == exact(r.getString(0)))
    }
  }

  test("vocab audit: exact accounting carried, HLL verdict true on the real corpus") {
    val audit = Sketches.vocabAudit(docs).collect()
    val exact = Sketches.vocabBySource(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.map(_.getString(0)).toSet == exact.keySet)
    audit.foreach { r =>
      assert((r.getLong(1), r.getLong(2)) == exact(r.getString(0)))
      assert(r.getBoolean(r.fieldIndex("hll_within_bound")),
        s"${r.getString(0)}: HLL estimate outside 15% of exact")
    }
  }

  test("KMV: small groups return exact counts, estimates stay in bound") {
    import spark.implicits._
    // fewer distinct values than k -> the KMV rule returns the exact count
    val tiny = Seq(("S", "a"), ("S", "b"), ("S", "c"), ("S", "a"))
      .toDF("grp", "v")
    val t = Sketches.kmvDistinctAudit(tiny, "grp", "v", k = 256).head()
    assert(t.getAs[Double]("kmv_est") == 3.0)
    assert(t.getAs[Double]("rel_err") == 0.0 && t.getAs[Boolean]("within_bound"))
    // estimation path: 2000 distinct values, k=64 (stderr ~12.7%, bound 3x)
    val big = (1 to 2000).map(i => ("G", i)).toDF("grp", "v")
    val b = Sketches.kmvDistinctAudit(big, "grp", "v", k = 64, tolRel = 0.39).head()
    assert(b.getAs[Long]("n_distinct") == 2000L)
    assert(b.getAs[Double]("kmv_est") != 2000.0) // genuinely estimated
    assert(b.getAs[Boolean]("within_bound"),
      s"rel_err=${b.getAs[Double]("rel_err")}")
  }

  test("window users audit: exact distincts per hour, verdicts all true") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two hourly windows: h0 has users {1,2} over 3 events, h1 has {1}
    val df = Seq(
      (1L, 0L), (2L, 60L * 1000000L), (1L, 120L * 1000000L),
      (1L, 3600L * 1000000L))
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val r = Sketches.windowUsersAudit(df, "1 hour")
      .orderBy("window_start_s").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("window_start_s") == 0L)
    assert(r(0).getAs[Long]("n_users") == 2L)
    assert(r(0).getAs[Long]("n_events") == 3L)
    assert(r(1).getAs[Long]("window_start_s") == 3600L)
    assert(r(1).getAs[Long]("n_users") == 1L)
    assert(r.forall(_.getAs[Boolean]("hll_within_bound")))
  }

  test("CMS audit: estimates never undercount and verdicts hold on the real corpus") {
    val audit = Sketches.cmsHeavyHitters(docs).collect()
    assert(audit.length == 20)
    audit.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: CMS undercounted $est < $exact")
      assert(r.getBoolean(3), s"${r.getString(0)}: never_under column false")
      assert(r.getBoolean(4),
        s"${r.getString(0)}: estimate $est outside collision slack of exact $exact")
    }
  }

  test("CMS audit: overcount appears exactly when buckets collide") {
    import spark.implicits._
    // single-word docs: exact counts 3×a, 2×b, 1×c; depth-1 sketch would
    // collide sometimes, but depth-4 md5 buckets keep these three words
    // collision-free in at least one row → estimates exactly equal counts
    val docs = Seq(
      (1L, "wa wa wa"), (2L, "wb wb"), (3L, "wc")).toDF("doc_id", "text")
    val got = Sketches.cmsHeavyHitters(docs, topN = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("wa") == ((3L, 3L)) && got("wb") == ((2L, 2L)) && got("wc") == ((1L, 1L)))
  }
}
