package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("rollup emits per-pair, per-source, and grand-total rows that add up") {
    val docs = Seq(
      (1L, "a b c", "s1", "en"), (2L, "a b", "s1", "de"), (3L, "a", "s2", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val out = TextAnalysis.tokenRollup(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(("s1", "en")) == (1L, 3L) && out(("s1", "de")) == (1L, 2L))
    assert(out(("s1", "(all)")) == (2L, 5L) && out(("s2", "(all)")) == (1L, 1L))
    assert(out(("(all)", "(all)")) == (3L, 6L))
    assert(out.size == 6) // 3 pairs + 2 source subtotals + 1 grand total
  }

  test("pivot fills absent cells with zero and keeps the fixed column order") {
    val docs = Seq(
      (1L, "x", "s1", "en"), (2L, "y", "s1", "en"), (3L, "z", "s2", "de")
    ).toDF("doc_id", "text", "source", "lang")
    val out = TextAnalysis.langPivot(docs, Seq("de", "en", "fr"))
    assert(out.columns.toSeq == Seq("source", "de", "en", "fr"))
    val m = out.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m("s1") == (0L, 2L, 0L) && m("s2") == (1L, 0L, 0L))
  }

  test("textStats hand-computed") {
    val r = TextAnalysis.textStats(corpus((1L, "the cat sat on the mat"))).head()
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_distinct_tokens") == 5)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 17.0 / 6.0) < 1e-15)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 6.0) < 1e-15)
    assert(r.getAs[Int]("n_bpe_tokens") == 6)
  }

  test("BPE-ish regex splits punctuation and digits from words") {
    val r = TextAnalysis.textStats(corpus((1L, "ab3cd, x!"))).head()
    // tokens: ab | 3 | cd | , | x | !  -> 6
    assert(r.getAs[Int]("n_bpe_tokens") == 6)
  }

  test("topTerms orders by count desc then term asc") {
    val docs = corpus((1L, "b a a c b a"), (2L, "c b"))
    val top = TextAnalysis.topTerms(docs, 3)
      .as[(String, Long)].collect()
    assert(top.sameElements(Array(("a", 3L), ("b", 3L), ("c", 2L))))
  }

  test("languageId learns profiles and classifies by character n-grams") {
    val labeled = Seq(
      (1L, "aaab aaab aaba abaa baaa", "aa"),
      (2L, "abab aabb aaab baab abba", "aa"),
      (3L, "zzzy zzyz zyzz yzzz zzzz", "zz"),
      (4L, "zyzy zzyy zzzy yyzz zyyz", "zz")
    ).toDF("doc_id", "text", "lang")
    val unknown = corpus((10L, "aaba abab aaab"), (11L, "zzyz zyzz yzzy"))
    val pred = TextAnalysis.languageId(unknown, TextAnalysis.trainLanguageProfiles(labeled))
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(pred(10L) == "aa")
    assert(pred(11L) == "zz")
  }

  test("languageId over the real corpus predicts a language for every doc") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val preds = TextAnalysis.languageId(docs, TextAnalysis.trainLanguageProfiles(docs))
    assert(preds.count() == docs.count())
    assert(preds.filter(col("predicted_lang").isNull).count() == 0)
  }

  test("fingerprints: identical docs identical, disjoint docs disjoint") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "entirely different content with no overlapping substrings here"
    val df = corpus((1L, a), (2L, a), (3L, b))
      .select(col("doc_id"), TextAnalysis.fingerprintSet(col("text")).as("fps"))
    val sets = df.as[(Long, Seq[Long])].collect().toMap
    assert(sets(1L) == sets(2L))
    assert(sets(1L).toSet.intersect(sets(3L).toSet).isEmpty)
  }

  test("winnowing guarantee: docs sharing a substring of length k+w-1 share a fingerprint") {
    // k=8, w=4 -> any shared substring of length >= 11 must share a fingerprint
    val shared = "XYZQWERTYUI" // 11 chars
    val d1 = s"prefix one $shared suffix alpha"
    val d2 = s"totally other beginning $shared and a different end"
    val sets = corpus((1L, d1), (2L, d2))
      .select(col("doc_id"), TextAnalysis.fingerprintSet(col("text")).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sets(1L).toSet.intersect(sets(2L).toSet).nonEmpty)
  }

  test("short docs get empty fingerprint sets, not errors") {
    val r = TextAnalysis.fingerprintsPortable(corpus((1L, "tiny"))).head()
    assert(r.getAs[Int]("n_fingerprints") == 0)
    assert(r.isNullAt(r.fieldIndex("min_fingerprint")))
  }

  test("chunking: windows overlap correctly and the tail chunk may be short") {
    // 10 tokens, window 4, overlap 2 → stride 2 → starts 1,3,5,7,9 → 5 chunks
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val chunks = TextAnalysis.chunkDocuments(corpus((1L, text)), window = 4, overlap = 2)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "n_tokens")
      .as[(Int, String, Int)].collect()
    assert(chunks.length == 5)
    assert(chunks(0) == ((0, "t1 t2 t3 t4", 4)))
    assert(chunks(1) == ((1, "t3 t4 t5 t6", 4))) // overlaps the previous by 2
    assert(chunks(4) == ((4, "t9 t10", 2))) // short tail kept
    // every token is covered by at least one chunk
    val covered = chunks.flatMap(_._2.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)

    // a doc shorter than one window yields exactly one chunk of itself
    val one = TextAnalysis.chunkDocuments(corpus((2L, "a b")), window = 4, overlap = 2)
      .select("chunk_text", "n_tokens").as[(String, Int)].collect()
    assert(one.toSeq == Seq(("a b", 2)))

    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(corpus((3L, "x")), window = 2, overlap = 2)
    }
  }

  test("collocations: a bigram that always co-occurs outranks independent pairs") {
    // "san francisco" always adjacent; "the" is everywhere (low lift)
    val docs = corpus((1 to 10).map { i =>
      i.toLong -> s"the city of san francisco is the w$i of the coast"
    }: _*)
    val top = TextAnalysis.topCollocations(docs, k = 5, minCount = 5)
      .select("bigram", "lift").as[(String, Double)].collect()
    assert(top.nonEmpty)
    val lifts = top.toMap
    assert(lifts.contains("san francisco"))
    // perfect collocation: P(ab)=P(a)=P(b) → lift ≈ Nu²/(c·Nb) with c=10 —
    // strictly above any bigram involving 'the' (c_the = 30)
    val theBigrams = lifts.filter(_._1.split(" ").contains("the"))
    assert(theBigrams.values.forall(_ < lifts("san francisco")))
    // ranking is by lift desc
    assert(top.map(_._2).toSeq == top.map(_._2).sortBy(-_).toSeq)
  }

  test("inverted index: exact df, sorted postings, cap bounds the string") {
    val docs = corpus(
      (5L, "alpha beta"), (3L, "alpha beta beta"), (9L, "alpha gamma"))
    val idx = TextAnalysis.invertedIndex(docs, maxPostings = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(idx("alpha") == ((3L, "3,5"))) // df exact, postings capped at 2, sorted
    assert(idx("beta") == ((2L, "3,5"))) // within-doc dup counted once
    assert(idx("gamma") == ((1L, "9")))
  }

  test("retrieval: rarity weighting ranks rare-term matches first, ties break on doc_id") {
    import org.apache.spark.sql.functions.col
    // corpus of 4 docs; "rare" appears in 1, "common" in all 4
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common common"),
      (3L, "common"),
      (4L, "common common common")).toDF("doc_id", "text")
    val out = TextAnalysis.retrieve(docs, Seq("rare", "common"), k = 3)
      .select("doc_id", "n_terms_hit", "score")
      .as[(Long, Long, Double)].collect()
    // contributions: rare -> 1*4/1 = 4; common -> tf*4/4 = tf
    // doc1: 4 + 1 = 5 (2 terms); doc4: 3; doc2: 2 -> doc3 (score 1) cut by k
    assert(out.toSeq == Seq((1L, 2L, 5.0), (4L, 1L, 3.0), (2L, 1L, 2.0)))
    // determinism of the k-th row under ties: two docs at score 1 -> lower id
    val tied = Seq(
      (1L, "common rare"), (2L, "common"), (3L, "common"))
      .toDF("doc_id", "text")
    val last = TextAnalysis.retrieve(tied, Seq("rare", "common"), k = 2)
      .select(col("doc_id")).as[Long].collect()
    assert(last.toSeq == Seq(1L, 2L)) // doc 2 beats doc 3 on the tiebreak
  }

  test("lengthDeciles: SQL-standard remainder rule, exact per-bucket stats") {
    // 5 docs into 2 buckets: first bucket gets 3 (remainder rule), by
    // ascending token count with doc_id tiebreak
    val df = Seq(
      (1L, "a", "S"), (2L, "a b", "S"), (3L, "a b c", "S"),
      (4L, "a b c d", "S"), (5L, "a b c d e", "S"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.lengthDeciles(df, n = 2).orderBy("decile").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Long]("n_docs") == 3L)
    assert(r(0).getAs[Long]("min_tokens") == 1L)
    assert(r(0).getAs[Long]("max_tokens") == 3L)
    assert(r(0).getAs[Double]("avg_tokens") == 2.0)
    assert(r(1).getAs[Long]("n_docs") == 2L)
    assert(r(1).getAs[Long]("min_tokens") == 4L)
  }

  test("bm25Retrieve: doc-length normalization — same tf, shorter doc wins") {
    val docs = corpus(
      (1L, "hash pad"),
      (2L, "hash pad pad pad pad pad pad pad"))
    val r = TextAnalysis.bm25Retrieve(docs, Seq("hash"), k = 10).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    assert(r(0).getAs[Double]("score") > r(1).getAs[Double]("score"))
  }

  test("bm25Retrieve: higher tf wins at equal length; saturation keeps it bounded") {
    val docs = corpus(
      (1L, "hash hash hash pad"),
      (2L, "hash pad pad pad"))
    val r = TextAnalysis.bm25Retrieve(docs, Seq("hash"), k = 10)
      .orderBy("doc_id").collect()
    val (s1, s2) = (r(0).getAs[Double]("score"), r(1).getAs[Double]("score"))
    assert(s1 > s2)
    // tf saturation: tripling tf gains far less than 3x
    assert(s1 < 3 * s2)
  }

  test("bm25Retrieve: rare query term outscores a ubiquitous one") {
    val docs = corpus(
      (1L, "rare pad pad"), (2L, "common pad pad"),
      (3L, "common x y"), (4L, "common u v"))
    val r = TextAnalysis.bm25Retrieve(docs, Seq("rare", "common"), k = 10).collect()
    // doc 1 (the only 'rare' holder) beats every 'common' holder
    assert(r.head.getAs[Long]("doc_id") == 1L)
    assert(r.length == 4 && r.head.getAs[Long]("n_terms_hit") == 1L)
  }

  test("perplexity: hand-computed add-one bigram model, fixed-point mean") {
    // corpus: "a b", "a b", "a c" -> V = 3, c(a b)=2, c(a c)=1, c(a .)=3
    // P(b|a) = 3/6 = 0.5 -> contrib 0.693147; P(c|a) = 2/6 -> 1.098612
    val docs = corpus((1L, "a b"), (2L, "a b"), (3L, "a c"))
    val r = TextAnalysis.perplexity(docs).orderBy("doc_id").collect()
    assert(r.length == 3)
    assert(r(0).getAs[Long]("n_bigrams") == 1L)
    assert(r(0).getAs[Long]("avg_nll_micro") == 693147L)
    assert(r(0).getAs[Double]("avg_nll") == 0.693147)
    assert(r(2).getAs[Long]("avg_nll_micro") == 1098612L)
  }

  test("perplexity: sub-2-token docs excluded; tf weights repeated bigrams") {
    val docs = corpus((1L, "solo"), (2L, "a b a b"), (3L, "a b"))
    val r = TextAnalysis.perplexity(docs).orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 3L))
    assert(r(0).getAs[Long]("n_bigrams") == 3L) // "a b", "b a", "a b"
  }

  test("perplexity: boilerplate transitions score below rare ones") {
    val docs = corpus(
      (1L, "x y x y x y"), (2L, "x y x y x y"), (3L, "x y x y x y"),
      (4L, "q z"))
    val r = TextAnalysis.perplexity(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_nll")).toMap
    assert(r(1L) < r(4L))
  }

  test("approx-percentile audit: rank guarantee holds exact AND compressed") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // accuracy 10000 >> any group: the GK sketch stores everything (exact)
    val exact = TextAnalysis.approxPercentileAudit(docs, accuracy = 10000).collect()
    assert(exact.nonEmpty && exact.forall(r =>
      r.getAs[Boolean]("p50_within_bound") && r.getAs[Boolean]("p90_within_bound")))
    // accuracy 4: eps = 0.25 — the sketch genuinely compresses, and the
    // widened rank bound must still hold (the guarantee, not vacuous truth:
    // at eps 0.25 a wrong-by-half value WOULD fail the p90 check)
    val coarse = TextAnalysis.approxPercentileAudit(docs, accuracy = 4).collect()
    assert(coarse.forall(r =>
      r.getAs[Boolean]("p50_within_bound") && r.getAs[Boolean]("p90_within_bound")))
  }

  test("more-like-this: tf-idf cosine ranking, seed and no-overlap docs excluded") {
    // N=5; df: apple 3, banana 4, cherry 2, durian 1. Seed doc 0's vector is
    // (apple: 2·5/3, banana: 1·5/4). Doc 5 is an exact copy (cosine 1), doc 1
    // shares both terms (≈0.96), doc 2 one term (≈0.157), doc 3 none (absent
    // — a zero-cosine doc never even becomes a candidate row).
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian"),
      (5L, "apple banana apple")).toDF("doc_id", "text")
    val out = TextAnalysis.moreLikeThis(docs, Seq(0L), k = 10)
      .orderBy("rank").select("doc_id", "cosine", "rank")
      .as[(Long, Double, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(5L, 1L, 2L))
    assert(out.head._2 == 1.0)
    assert(out(1)._2 > 0.9 && out(2)._2 < 0.2)
    assert(out.map(_._3).toSeq == Seq(1, 2, 3))
  }

  test("more-like-this: k caps each seed's list independently") {
    val docs = Seq(
      (0L, "apple banana"),
      (1L, "apple cherry"),
      (2L, "apple durian"),
      (3L, "banana cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.moreLikeThis(docs, Seq(0L, 1L), k = 2).collect()
    val bySeed = out.groupBy(_.getAs[Long]("seed_id")).view.mapValues(_.length)
    assert(bySeed(0L) == 2 && bySeed(1L) == 2)
    assert(out.forall(r => r.getAs[Long]("seed_id") != r.getAs[Long]("doc_id")))
  }

  test("more-like-this: a repeated seed id gives the same rows as listing it once") {
    val docs = Seq(
      (0L, "apple banana"),
      (1L, "apple cherry"),
      (2L, "apple durian"),
      (3L, "banana cherry")).toDF("doc_id", "text")
    val once = TextAnalysis.moreLikeThis(docs, Seq(0L, 1L), k = 2)
    val repeated = TextAnalysis.moreLikeThis(docs, Seq(0L, 0L, 1L), k = 2)
    assert(repeated.count() == once.count())
    assert(repeated.exceptAll(once).isEmpty && once.exceptAll(repeated).isEmpty)
  }

  test("tfidf keywords: a doc-unique term outranks a corpus-wide term") {
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common filler words"),
      (3L, "common more filler")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, k = 2).collect()
    val doc1 = out.filter(_.getAs[Long]("doc_id") == 1L)
      .sortBy(_.getAs[Int]("rank"))
    // zebra: tf=1, df=1 -> 1*ln(4/2); common: tf=2, df=3 -> 2*ln(4/4)=0
    assert(doc1.head.getAs[String]("term") == "zebra")
    assert(doc1.head.getAs[Double]("score") ==
      math.rint(math.log(2.0) * 1e6) / 1e6)
    assert(out.forall(r => r.getAs[Int]("rank") <= 2))
    // every doc contributes exactly k rows when it has >= k distinct terms
    assert(out.groupBy(_.getAs[Long]("doc_id")).forall(_._2.length == 2))
  }

  test("tfidf keywords: rank ties break by term ascending") {
    val docs = Seq((1L, "b a"), (2L, "x y")).toDF("doc_id", "text")
    val doc1 = TextAnalysis.tfidfKeywords(docs, k = 2).collect()
      .filter(_.getAs[Long]("doc_id") == 1L).sortBy(_.getAs[Int]("rank"))
    // a and b have identical tf/df -> identical score; 'a' must rank first
    assert(doc1.map(_.getAs[String]("term")).toSeq == Seq("a", "b"))
  }
}
