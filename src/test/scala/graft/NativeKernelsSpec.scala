package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Differential spec for the native kernel expressions: each must be
  * BIT-IDENTICAL to its Column-combinator twin (the slow higher-order-function
  * form documents the semantics; the native form carries the hot path).
  * Run over the real documents/embeddings tables so the comparison covers the
  * corpus's actual token/length/byte distributions, plus adversarial fixtures
  * for boundary shapes (repeated separators, short texts, supplementary
  * characters).
  */
class NativeKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  private val fixtures = Seq(
    "a b c d e",
    "a  b   c", // repeated separators -> empty tokens, multi-space shingles
    " leading and trailing ",
    "ab", // shorter than any 3-gram
    "", // empty text
    "one",
    "é café 😀 x", // multi-byte + supplementary chars
    "x y", // exactly n-1 tokens for n=3
    "x y z" // exactly n tokens
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def fixturesDF = fixtures.toDF("doc_id", "text")

  test("shingleHashes == transform(shingles, xxhash64), docs corpus + fixtures") {
    for (df <- Seq(docs.select("text"), fixturesDF.select("text")); n <- Seq(2, 3, 5)) {
      val both = df.select(
        transform(Dedup.shingles(col("text"), n), s => xxhash64(s)).as("slow"),
        NativeExpressions.shingleHashes(col("text"), n).as("fast"))
      val bad = both.filter(not(col("slow") === col("fast"))).count()
      assert(bad == 0, s"n=$n shingle-hash mismatch")
    }
  }

  test("minhashSignature == per-permutation array_min of xxhash64(h, j)") {
    val hs = NativeExpressions.shingleHashes(col("text"), 3)
    val both = docs.select(hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(
        Dedup.minhashSignatureFromHashes(col("hs"), 16).as("slow"),
        NativeExpressions.minhashSignature(col("hs"), 16).as("fast"))
    assert(both.filter(not(col("slow") === col("fast"))).count() == 0)
  }

  test("native simhash64 == 64-vote aggregate form") {
    val hs = NativeExpressions.shingleHashes(col("text"), 3)
    val both = docs.select(hs.as("hs"))
      .select(
        Dedup.simhashFromHashes(col("hs")).as("slow"),
        NativeExpressions.simhash64(col("hs")).as("fast"))
    assert(both.filter(col("slow") =!= col("fast")).count() == 0)
  }

  test("vecDot == aggregate(zip_with(...)) on float and double arrays") {
    val slowF = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val pairsF = emb.select(col("embedding").as("a"))
      .crossJoin(emb.limit(3).select(col("embedding").as("b")))
    assert(pairsF.select(slowF.as("s"), NativeExpressions.vecDot(col("a"), col("b")).as("f"))
      .filter(col("s") =!= col("f")).count() == 0)

    val toD = (c: String) => transform(col(c), x => x.cast("double"))
    val pairsD = pairsF.select(toD("a").as("a"), toD("b").as("b"))
    val slowD = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    assert(pairsD.select(slowD.as("s"), NativeExpressions.vecDot(col("a"), col("b")).as("f"))
      .filter(col("s") =!= col("f")).count() == 0)
  }

  test("lshBuckets == per-table hyperplane-sign Column form") {
    val slow = array((0 until 4).map(t => Similarity.lshBucket(col("embedding"), t, 5)): _*)
    val both = emb.select(
      slow.as("slow"),
      NativeExpressions.lshBuckets(col("embedding"), 4, 5).as("fast"))
    assert(both.filter(not(col("slow") === col("fast"))).count() == 0)
  }

  test("charNgrams == array_distinct(transform(sequence, substr)), incl. unicode") {
    for (df <- Seq(docs.select("text"), fixturesDF.select("text")); n <- Seq(2, 3)) {
      val both = df.select(
        TextAnalysis.charNgrams(col("text"), n).as("slow"),
        NativeExpressions.charNgrams(col("text"), n).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0, s"n=$n ngram mismatch")
    }
  }

  test("deletionVariants == array_distinct combinator twin, names + fixtures") {
    val slow = array_distinct(concat(
      array(col("text")),
      expr("transform(sequence(1, length(text)), i -> " +
        "concat(substr(text, 1, i-1), substr(text, i+1, length(text))))")))
    val names = Tables.customer(spark, sfDir)
      .select(col("c_name").as("text"))
    for (df <- Seq(names, fixturesDF.select("text"))) {
      val both = df.select(slow.as("slow"),
        NativeExpressions.deletionVariants(col("text")).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0,
        "deletion-neighborhood mismatch")
    }
  }

  test("editWithin1 == thresholded levenshtein on candidate-shaped pairs") {
    // all fixture×fixture pairs (incl. unicode, empties, near-misses) plus
    // the real name-neighborhood candidates
    val fx = fixturesDF.select(col("text").as("na"))
      .crossJoin(fixturesDF.select(col("text").as("nb")))
    val names = Tables.customer(spark, sfDir).select(col("c_name"))
    val cand = names.select(col("c_name").as("na"),
      explode(NativeExpressions.deletionVariants(col("c_name"))).as("v"))
      .join(names.select(col("c_name").as("nb"),
        explode(NativeExpressions.deletionVariants(col("c_name"))).as("v")), "v")
      .select("na", "nb")
    for (df <- Seq(fx, cand)) {
      val bad = df.select(
        NativeExpressions.editWithin1(col("na"), col("nb")).as("fast"),
        expr("levenshtein(na, nb, 1)").as("slow"))
        .filter(not(col("fast") === col("slow"))).count()
      assert(bad == 0, "editWithin1 disagrees with thresholded levenshtein")
    }
  }

  test("wordBigrams == transform(sequence, concat_ws) twin, docs corpus + fixtures") {
    for (df <- Seq(docs.select("text"), fixturesDF.select("text"))) {
      val both = df.select(
        TextAnalysis.wordBigramsColumn(col("text")).as("slow"),
        NativeExpressions.wordBigrams(col("text")).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0)
    }
    // hand-pinned edges: empty tokens from doubled/leading/trailing spaces
    val edges = Seq("", "one", "a b", "a  b", " a b ", "é 日本 😀").toDF("text")
    val rows = edges.select(NativeExpressions.wordBigrams(col("text")))
      .as[Seq[String]].collect()
    assert(rows(0) == Seq())
    assert(rows(1) == Seq())
    assert(rows(2) == Seq("a b"))
    assert(rows(3) == Seq("a ", " b")) // doubled space → empty middle token
    assert(rows(4) == Seq(" a", "a b", "b ")) // leading/trailing empties
    assert(rows(5) == Seq("é 日本", "日本 😀"))
  }

  /** The corpus as one partition per core: the interpreted combinator
    * twins are the slowest specs in the suite, and the single-file
    * documents table would run each as one task. The split goes through
    * the RDD because Catalyst pushes the comparison filter, kernels and
    * all, below a `repartition` into the scan's single task.
    */
  private def spread(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(df.rdd.repartition(spark.sparkContext.defaultParallelism), df.schema)

  test("winnowingFingerprints == sliding array_min form, incl. short texts") {
    for (df <- Seq(spread(docs.select("text")), fixturesDF.select("text"))) {
      val both = df.select(
        TextAnalysis.fingerprintSet(col("text"), 8, 4).as("slow"),
        NativeExpressions.winnowingFingerprints(col("text"), 8, 4).as("fast"))
      // combinator form emits window minima in window order (dups possible
      // across windows are removed by array_distinct, keeping first
      // occurrence) — identical to the native first-occurrence dedup
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0)
    }
  }

  test("wordWindowMd5 == filter/slice/md5 combinator twin, docs corpus + fixtures") {
    for (df <- Seq(docs.select("text"), fixturesDF.select("text")); w <- Seq(1, 3, 8)) {
      val both = df.select(
        Dedup.wordWindowMd5Composed(col("text"), w).as("slow"),
        NativeExpressions.wordWindowMd5(col("text"), w).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0,
        s"w=$w window-md5 mismatch")
    }
    // hand-pinned: md5 of the joined window text, not of the raw byte span —
    // doubled separators collapse to the single-space joined form
    val one = Seq("a  b   c").toDF("text")
      .select(NativeExpressions.wordWindowMd5(col("text"), 2))
      .as[Seq[String]].head()
    val exp = Seq("a b", "b c").map { s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(one == exp)
  }

  test("shingleMd5Hashes60 == transform(shingles, conv(md5)) twin + hand-pinned") {
    for (df <- Seq(docs.select("text"), fixturesDF.select("text")); n <- Seq(2, 3, 5)) {
      val both = df.select(
        Dedup.portableShingleHashes(col("text"), n).as("slow"),
        NativeExpressions.shingleMd5Hashes60(col("text"), n).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0,
        s"n=$n portable shingle-hash mismatch")
    }
    // hand-pinned against MessageDigest directly: first 15 md5 hex chars of
    // each 2-gram, read base-16
    val one = Seq("a b c").toDF("text")
      .select(NativeExpressions.shingleMd5Hashes60(col("text"), 2))
      .as[Seq[Long]].head()
    val exp = Seq("a b", "b c").map { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    assert(one == exp)
  }

  test("minhashCw56 == per-hash array_min of h1 + j*h2 combinator twin") {
    def h(from: Int, s: org.apache.spark.sql.Column) =
      conv(substring(md5(s), from, 14), 16, 10).cast("long")
    for (df <- Seq(docs.select("text"), fixturesDF.select("text")); n <- Seq(2, 3)) {
      val sh = Dedup.shingles(col("text"), n)
      val slow = array((0 until 16).map { j =>
        array_min(transform(sh, s => h(1, s) + lit(j.toLong) * h(15, s)))
      }: _*)
      // the kernel returns [] below n tokens where the combinator's
      // array_min over an empty array yields nulls — compare where defined
      val both = df
        .filter(size(split(col("text"), " ")) >= n)
        .select(slow.as("slow"),
          NativeExpressions.minhashCw56(col("text"), n, 16).as("fast"))
      assert(both.filter(not(col("slow") === col("fast"))).count() == 0,
        s"n=$n carter-wegman signature mismatch")
    }
    // short text -> empty signature, not nulls
    val short = Seq("x y").toDF("text")
      .select(NativeExpressions.minhashCw56(col("text"), 3, 16))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
    // hand-pinned: single shingle -> sig(j) = h1 + j*h2 of that shingle
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest("a b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h1 = java.lang.Long.parseLong(digest.substring(0, 14), 16)
    val h2 = java.lang.Long.parseLong(digest.substring(14, 28), 16)
    val one = Seq("a b").toDF("text")
      .select(NativeExpressions.minhashCw56(col("text"), 2, 16))
      .as[Seq[Long]].head()
    assert(one == (0 until 16).map(j => h1 + j * h2))
  }

  test("winnowMd5Hex == two-projection md5 window-min combinator twin") {
    for (df <- Seq(spread(docs.select("doc_id", "text")), fixturesDF);
         (k, w) <- Seq((8, 4), (3, 2))) {
      val slow = TextAnalysis.portableFingerprintSet(df, k, w)
        .withColumnRenamed("fps", "slow")
      val fast = df.select(col("doc_id"),
        NativeExpressions.winnowMd5Hex(col("text"), k, w).as("fast"))
      val bad = slow.join(fast, "doc_id")
        .filter(not(col("slow") === col("fast"))).count()
      assert(bad == 0, s"k=$k w=$w winnow-md5 mismatch")
    }
  }

  test("bloomMightContain: no false negatives; contaminatedBloom == contaminated") {
    // direct expression probe: every inserted hash answers true
    val hashes = (1L to 2000L).map(_ * 2654435761L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(hashes.length, 0.01)
    hashes.foreach(bloom.putLong)
    val ref = NativeExpressions.BloomRef(bloom)
    val probed = hashes.toDF("h")
      .filter(NativeExpressions.bloomMightContain(col("h"), ref)).count()
    assert(probed == hashes.length, "a Bloom filter must never answer false for an inserted key")

    // operator-level: the prefiltered path is EXACTLY the broadcast-join path
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val plain = Dedup.contaminated(corpus, bench)
    val bloomed = Dedup.contaminatedBloom(corpus, bench)
    assert(plain.exceptAll(bloomed).isEmpty && bloomed.exceptAll(plain).isEmpty,
      "bloom-prefiltered decontamination diverges from the exact join")
  }

  test("repetitionStats (native kernel) == repetitionStatsColumns, docs corpus + fixtures") {
    for (df <- Seq(docs, fixturesDF)) {
      val fast = TextAnalysis.repetitionStats(df)
      val slow = TextAnalysis.repetitionStatsColumns(df)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        "native repetition ratios diverge from the HOF twin")
    }
  }

  test("property: random unicode texts — native == combinator for all text kernels") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import org.scalacheck.Test.{check, Parameters}
    // Texts over a hostile alphabet: ASCII words, multi-byte chars,
    // supplementary-plane chars, runs of separators, empty tokens.
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("é", "ß", "日本", "😀", "x", ""),
      Gen.const(" ")) // doubles a separator when joined
    val textGen = for {
      n <- Gen.choose(0, 25)
      ts <- Gen.listOfN(n, token)
    } yield ts.mkString(" ")

    val prop = forAll(Gen.listOfN(40, textGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bad = df.select(
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("s1"),
        NativeExpressions.shingleHashes(col("text"), 3).as("f1"),
        TextAnalysis.charNgrams(col("text"), 3).as("s2"),
        NativeExpressions.charNgrams(col("text"), 3).as("f2"),
        TextAnalysis.fingerprintSet(col("text"), 4, 3).as("s3"),
        NativeExpressions.winnowingFingerprints(col("text"), 4, 3).as("f3"),
        TextAnalysis.wordBigramsColumn(col("text")).as("s4"),
        NativeExpressions.wordBigrams(col("text")).as("f4"),
        Dedup.wordWindowMd5Composed(col("text"), 3).as("s5"),
        NativeExpressions.wordWindowMd5(col("text"), 3).as("f5"),
        Dedup.portableShingleHashes(col("text"), 3).as("s6"),
        NativeExpressions.shingleMd5Hashes60(col("text"), 3).as("f6"))
        .filter(not(col("s1") === col("f1")) or
          not(col("s2") === col("f2")) or
          not(col("s3") === col("f3")) or
          not(col("s4") === col("f4")) or
          not(col("s5") === col("f5")) or
          not(col("s6") === col("f6")))
        .count()
      bad == 0L
    }
    val res = check(Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("null array elements are rejected loudly (both array representations)") {
    // literal/generic path
    val e1 = intercept[Exception] {
      spark.sql("SELECT array(1.0F, CAST(NULL AS FLOAT)) AS v")
        .select(NativeExpressions.vecDot(col("v"), col("v"))).head()
    }
    assert(e1.getMessage.contains("null element") ||
      e1.getCause != null && e1.getCause.getMessage.contains("null element"))
    // unsafe path: arrays that crossed an exchange are UnsafeArrayData
    val df = Seq(Tuple1(Seq[java.lang.Long](1L, null, 3L))).toDF("hs").repartition(2)
    val e2 = intercept[Exception] {
      df.select(NativeExpressions.simhash64(col("hs"))).head()
    }
    assert(e2.getMessage.contains("null element") ||
      e2.getCause != null && e2.getCause.getMessage.contains("null element"))
  }

  test("profileBestMatch == per-language array_intersect + array_max form") {
    val profiles = TextAnalysis.trainLanguageProfiles(docs)
    assert(profiles.length > 1, "corpus should have several languages")
    for (df <- Seq(docs, fixturesDF.withColumn("lang", lit("xx")))) {
      val fast = TextAnalysis.languageId(df, profiles)
      val slow = TextAnalysis.languageIdColumns(df, profiles)
      assert(fast.count() == slow.count())
      assert(fast.except(slow).isEmpty && slow.except(fast).isEmpty,
        "native profile scorer diverged from the array_intersect twin")
    }
    // tie-break: a doc matching two profiles equally must pick the GREATER
    // language code (array_max struct ordering)
    val tied = Seq((1L, "abcd")).toDF("doc_id", "text")
    val p = Seq("aa" -> Seq("abc"), "zz" -> Seq("bcd"))
    val best = TextAnalysis.languageId(tied, p).select("predicted_lang").head().getString(0)
    assert(best == "zz")
    // duplicate trigrams inside a profile must count once (array_intersect's
    // set semantics) — the inverted index dedups them, so "aa" still ties
    // with "zz" here and loses only on the tie-break
    val pDup = Seq("aa" -> Seq("abc", "abc"), "zz" -> Seq("bcd"))
    val r = TextAnalysis.languageId(tied, pDup)
      .select("predicted_lang", "matched_ngrams").head()
    assert(r.getString(0) == "zz" && r.getLong(1) == 1L,
      s"duplicate profile entries must not inflate matched counts: $r")
  }

  test("null scan tolerates dirty padding bits in the final bitmap word") {
    // Spark's writers zero the null-bitmap padding, but a producer that
    // pointTo()'s an un-zeroed buffer is still handing over a VALID null-free
    // array — the word-scan must mask the final word to its live bits.
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.unsafe.Platform
    val clean = UnsafeArrayData.fromPrimitiveArray(Array(11L, 22L, 33L))
    val expected = graft.functions.Kernels.simhash64(clean)
    val nBytes = clean.getSizeInBytes
    val buf = new Array[Byte](nBytes)
    Platform.copyMemory(clean.getBaseObject, clean.getBaseOffset,
      buf, Platform.BYTE_ARRAY_OFFSET, nBytes)
    // dirty every padding bit of the (single) bitmap word at offset 8
    var word = Platform.getLong(buf, Platform.BYTE_ARRAY_OFFSET + 8)
    word |= ~((1L << 3) - 1)
    Platform.putLong(buf, Platform.BYTE_ARRAY_OFFSET + 8, word)
    val dirty = new UnsafeArrayData()
    dirty.pointTo(buf, Platform.BYTE_ARRAY_OFFSET, nBytes)
    assert(dirty.numElements() == 3)
    assert(graft.functions.Kernels.simhash64(dirty) == expected)
    // and a REAL null in the live bits still fails loudly
    val withNull = new Array[Byte](nBytes)
    Platform.copyMemory(clean.getBaseObject, clean.getBaseOffset,
      withNull, Platform.BYTE_ARRAY_OFFSET, nBytes)
    Platform.putLong(withNull, Platform.BYTE_ARRAY_OFFSET + 8, word | 2L)
    val nulled = new UnsafeArrayData()
    nulled.pointTo(withNull, Platform.BYTE_ARRAY_OFFSET, nBytes)
    val e = intercept[IllegalArgumentException] {
      graft.functions.Kernels.simhash64(nulled)
    }
    assert(e.getMessage.contains("null element"))
  }

  test("vecDot rejects mixed-dimension vectors loudly") {
    val df = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(NativeExpressions.vecDot(col("a"), col("b"))).head()
    }
    assert(e.getMessage.contains("length mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("length mismatch"))
  }

  test("null text yields null, not a crash") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("a b c d"))).toDF("doc_id", "text")
    val out = df.select(
      NativeExpressions.shingleHashes(col("text"), 3).as("sh"),
      NativeExpressions.charNgrams(col("text"), 3).as("cg"),
      NativeExpressions.winnowingFingerprints(col("text"), 2, 2).as("fp"))
      .collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(!out(1).isNullAt(0))
  }

  test("native functions are SQL-callable after registration") {
    graft.functions.NativeFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |  size(shingle_hashes('a b c d', 3)) AS nsh,
        |  size(char_ngrams('abcd', 2)) AS ncg,
        |  simhash64(shingle_hashes('a b c d', 3)) AS fp,
        |  size(minhash_signature(shingle_hashes('a b c d', 3), 8)) AS nsig,
        |  size(winnowing_fingerprints('abcdefghij', 3, 2)) AS nfp
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2) // "a b c", "b c d"
    assert(r.getInt(2) == 3) // ab bc cd
    assert(r.getInt(4) == 8)
    assert(r.getInt(5) >= 1)
    // SQL results equal the Column-API forms
    val viaColumns = spark.range(1).select(
      NativeExpressions.simhash64(
        NativeExpressions.shingleHashes(lit("a b c d"), 3)).as("fp")).head().getLong(0)
    assert(r.getLong(3) == viaColumns)
  }

  test("SQL registration rejects non-literal static parameters loudly") {
    graft.functions.NativeFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b c', CAST(id AS INT)) FROM range(1)").head()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("GraftExtensions injects the same function set at session build") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // must not throw
  }

  test("FloatCentroidIndex.nearest == literal array-of-structs argmin form") {
    // the retired Column form, rebuilt verbatim: per-cell struct
    // (|c|²−2·v·c, cell, dot), array_min, lexicographic tie to lowest cell
    val cents = Similarity.trainIvfCentroids(emb, k = 23, iters = 2)
    val idx = new NativeExpressions.FloatCentroidIndex(cents)
    val v = col("embedding")
    val scored = array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      val cLit = typedlit(c)
      val c2 = c.map(x => x.toDouble * x.toDouble).sum
      struct((lit(c2) - lit(2.0) * NativeExpressions.vecDot(v, cLit)).as("d"),
        lit(i).as("cell"), NativeExpressions.vecDot(v, cLit).as("dt"))
    }: _*)
    val m = array_min(scored)
    val rows = emb.select(
      col("vec_id"),
      NativeExpressions.nearestCellInfo(v, idx).as("nc"),
      m.getField("cell").as("twin_cell"),
      m.getField("dt").as("twin_dot")).collect()
    rows.foreach { r =>
      val nc = r.getStruct(1)
      assert(nc.getInt(0) == r.getInt(2), s"cell mismatch at vec ${r.getLong(0)}")
      assert(nc.getDouble(1) == r.getDouble(3), s"dot mismatch at vec ${r.getLong(0)}")
    }
  }

  test("DoubleCentroidIndex.nearest == dist2To fold + array_position argmin form") {
    val cents = Similarity.trainKmeans(emb, k = 8, iters = 2)
    val idx = new NativeExpressions.DoubleCentroidIndex(cents)
    val v = col("embedding")
    def dist2To(c: Array[Double]) =
      aggregate(
        zip_with(v, array(c.toIndexedSeq.map(lit): _*), (x, cc) => {
          val d = x.cast("double") - cc
          d * d
        }),
        lit(0.0), (acc, x) => acc + x)
    val dists = array(cents.toIndexedSeq.map(dist2To): _*)
    val rows = emb.select(
      col("vec_id"),
      NativeExpressions.nearestCentroidDist(v, idx).as("nd"),
      (array_position(dists, array_min(dists)) - 1).cast("int").as("twin_cell"),
      array_min(dists).as("twin_d2")).collect()
    rows.foreach { r =>
      val nd = r.getStruct(1)
      assert(nd.getInt(0) == r.getInt(2), s"cell mismatch at vec ${r.getLong(0)}")
      assert(nd.getDouble(1) == r.getDouble(3), s"d2 mismatch at vec ${r.getLong(0)}")
    }
  }

  test("DoubleCentroidIndex two-level routing (k > 64): deterministic, near-exact, self-consistent") {
    // k = 100 > the exact-scan threshold → assignment goes through the
    // coarse quantizer. The bounded operators only need a DETERMINISTIC
    // partition, but the routing should also be near-exact on real data.
    val cents = Similarity.trainKmeans(emb, k = 100, iters = 2)
    val idx = new NativeExpressions.DoubleCentroidIndex(cents)
    val v = col("embedding")
    val got = emb.select(col("vec_id"),
      NativeExpressions.nearestCentroidDist(v, idx).as("nd")).collect()
      .map(r => r.getLong(0) -> (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1)))
      .toMap
    // deterministic across a different partitioning
    val again = emb.repartition(7).select(col("vec_id"),
      NativeExpressions.nearestCentroidDist(v, idx).as("nd")).collect()
      .map(r => r.getLong(0) -> (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1)))
      .toMap
    assert(got == again)
    // self-consistency + near-exactness vs the flat exact argmin
    val vecs = emb.select(col("vec_id"), v).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def d2(c: Array[Double], x: Array[Float]): Double = {
      var acc = 0.0; var j = 0
      while (j < c.length) { val d = x(j).toDouble - c(j); acc += d * d; j += 1 }
      acc
    }
    var exactMatches = 0
    got.foreach { case (id, (cell, dist)) =>
      val x = vecs(id)
      assert(math.abs(d2(cents(cell), x) - dist) < 1e-12,
        s"returned d2 is not the distance to the returned cell (vec $id)")
      val best = cents.indices.minBy(c => d2(cents(c), x))
      if (best == cell) exactMatches += 1
      else assert(dist <= 4.0 * d2(cents(best), x) + 1e-9,
        s"two-level routing grossly suboptimal at vec $id")
    }
    assert(exactMatches >= (got.size * 0.7).toInt,
      s"two-level matched exact argmin on only $exactMatches/${got.size}")
  }

  test("DoubleCentroidIndex two-level routing at production-shaped k (1024): exact-subset, near-exact vs forced-flat") {
    // the serving regime the k>64 branch exists for is k ≈ N/250 (sf10 →
    // k ≈ 2000); this pins the routing at k=1024 (32 coarse cells) over the
    // 5000-vector sf0.1 corpus against the SAME kernel with forceFlat=true
    // — one boolean away from the production path, exact at any k.
    // BENCH_r12_route_k.jsonl records the same differential (plus the
    // alternating cost samples) on the scaled sf1/sf10 corpora.
    val emb01 = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding")
    val cents = Similarity.trainKmeans(emb01, k = 1024, iters = 2)
    val two = new NativeExpressions.DoubleCentroidIndex(cents)
    val flat = new NativeExpressions.DoubleCentroidIndex(cents, forceFlat = true)
    val rows = emb01.select(col("vec_id"),
      NativeExpressions.nearestCentroidDist(col("embedding"), two).as("t"),
      NativeExpressions.nearestCentroidDist(col("embedding"), flat).as("f"))
      .collect()
    var matches = 0
    var sumTd = 0.0
    var sumFd = 0.0
    rows.foreach { r =>
      val (tc, td) = (r.getStruct(1).getInt(0), r.getStruct(1).getDouble(1))
      val (fc, fd) = (r.getStruct(2).getInt(0), r.getStruct(2).getDouble(1))
      // the two-level result can never beat the exact argmin — strictly
      // smaller d2 would mean the flat scan missed a cell (a kernel bug)
      assert(td >= fd - 1e-9,
        s"two-level d2 below the exact argmin at vec ${r.getLong(0)}")
      if (tc == fc) { assert(td == fd); matches += 1 }
      sumTd += td; sumFd += fd
    }
    // near-exactness is an AGGREGATE property: at k=1024 over 5000 vectors
    // the cells are tiny, so no per-row multiplicative d2 bound holds (a
    // boundary row whose exact argmin is (near) its own seed centroid has
    // near-zero optimal d2 and an unbounded ratio). What the bounded
    // operators rely on is that MOST rows route to their exact argmin and
    // the total quantization error barely inflates — the standard IVF
    // quality metric Σ routed-d2 / Σ optimal-d2 (measured 0.77 match /
    // 1.27× inflation on this near-random corpus — the hard case for
    // routing; floors set with margin)
    val inflation = sumTd / sumFd
    assert(matches >= (rows.length * 0.7).toInt,
      s"two-level matched the exact argmin on only $matches/${rows.length}")
    assert(inflation <= 1.5,
      f"routed quantization error inflated ${inflation}%.3f× over exact")
    info(f"k=1024 match rate ${matches.toDouble / rows.length}%.3f, " +
      f"quantization-error inflation ${inflation}%.4f×")
  }

  test("registered auto-k keeps two-level routing in the exact occupancy regime") {
    // the r12 regime study (BENCH_r12_route_k.jsonl): two-level routing is
    // exact at serving occupancy (N/k ≈ 100+: match 1.000, sf10 at k=N/250)
    // and degrades over-clustered (N/k ≈ 20: match 0.773, 1.27× inflation —
    // the floors the test above pins). Every registered auto-k caller
    // (q_similarity_dedup, q_similarity_knn_bounded, q_pipeline_semdedup,
    // SemDeDup/bounded-KNN operators) sizes k via SparkEntry.semdedupK =
    // max(8, ceil(N/250)); this pins that the two-level branch (k > 64)
    // can only ever activate at occupancy ≈250 — never the over-clustered
    // regime. (q_embed_route_fine deliberately exercises the coarse
    // quantizer at fixed k=80; its EXACTNESS there is proven per-row by
    // its own oracle hash gate every round, not by occupancy.)
    for (n <- Seq(100L, 2000L, 16000L, 16001L, 100000L, 10000000L,
        400000000000L)) {
      val k = SparkEntry.semdedupK(n)
      // ceil rounds k up, so occupancy dips just under 250 right above the
      // threshold (16001/65 = 246.2) and rises toward 250 with N — the
      // analytic floor is 250·N/(N+250) ≥ 246.1 for every two-level N
      if (k > 64)
        assert(n.toDouble / k >= 246.0,
          s"N=$n -> k=$k: two-level at occupancy ${n.toDouble / k} < 246")
      else
        assert(n <= 16384,
          s"N=$n -> k=$k stayed flat above the two-level threshold")
    }
    // the boundary itself: two-level turns on strictly above N=16000, the
    // last flat corpus size (k(16000)=64, k(16001)=65)
    assert(SparkEntry.semdedupK(16000L) == 64 && SparkEntry.semdedupK(16001L) == 65)
  }

  test("interpreted eval matches codegen (eval path exercised via filter on driver)") {
    // Expression.eval is exercised when Catalyst constant-folds literals
    val lit1 = NativeExpressions.shingleHashes(lit("a b c d"), 3)
    val lit2 = NativeExpressions.vecDot(
      transform(array(lit(1.0f), lit(2.0f)), x => x),
      transform(array(lit(3.0f), lit(4.0f)), x => x))
    val row = spark.range(1).select(lit1.as("sh"), lit2.as("d")).head()
    assert(row.getSeq[Long](0).length == 2)
    assert(row.getDouble(1) == 11.0)
  }

  test("every kernel call compiles inside whole-stage codegen; bad input types fail analysis") {
    import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.functions.{BpeMemoKernel, NativeFunctions}
    val cents = emb.select("embedding").limit(4).collect().map(_.getSeq[Float](0).toArray)
    val floatIdx = new NativeExpressions.FloatCentroidIndex(cents)
    val doubleIdx = new NativeExpressions.DoubleCentroidIndex(cents.map(_.map(_.toDouble)))
    val bloom = NativeExpressions.BloomRef(
      org.apache.spark.util.sketch.BloomFilter.create(100, 0.01))
    val memo = new BpeMemoKernel(Array("a"), Array(Array("a")))
    val text = col("text")
    val hs = NativeExpressions.shingleHashes(text, 3)
    val v = col("embedding")
    val onDocs = Seq(
      "shingleHashes" -> hs,
      "minhashSignature" -> NativeExpressions.minhashSignature(hs, 16),
      "simhash64" -> NativeExpressions.simhash64(hs),
      "wordBigrams" -> NativeExpressions.wordBigrams(text),
      "charNgrams" -> NativeExpressions.charNgrams(text, 3),
      "winnowingFingerprints" -> NativeExpressions.winnowingFingerprints(text, 4, 3),
      "deletionVariants" -> NativeExpressions.deletionVariants(text),
      "editWithin1" -> NativeExpressions.editWithin1(text, text),
      "repetitionRatios" -> NativeExpressions.repetitionRatios(text),
      "bloomMightContain" -> NativeExpressions.bloomMightContain(col("doc_id"), bloom),
      "wordWindowMd5" -> NativeExpressions.wordWindowMd5(text, 3),
      "shingleMd5Hashes60" -> NativeExpressions.shingleMd5Hashes60(text, 3),
      "minhashCw56" -> NativeExpressions.minhashCw56(text, 3, 16),
      "winnowMd5Hex" -> NativeExpressions.winnowMd5Hex(text, 4, 3),
      "profileBestMatch" -> NativeExpressions.profileBestMatch(
        NativeExpressions.charNgrams(text, 3), Seq("aa" -> Seq("abc"), "zz" -> Seq("bcd"))),
      "firstIndexEqual" -> NativeExpressions.firstIndexEqual(hs, hs),
      "bpeEncodeStats" -> NativeExpressions.bpeEncodeStats(text, memo),
      "bpeTokenCount" -> NativeExpressions.bpeTokenCount(text, memo))
    val onEmb = Seq(
      "vecDot" -> NativeExpressions.vecDot(v, v),
      "lshBuckets" -> NativeExpressions.lshBuckets(v, 4, 5),
      "nearestCellInfo" -> NativeExpressions.nearestCellInfo(v, floatIdx),
      "nearestCentroidDist" -> NativeExpressions.nearestCentroidDist(v, doubleIdx))
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    for ((frame, calls) <- Seq(docs -> onDocs, emb -> onEmb); (name, call) <- calls) {
      val out = frame.select(call.as("k"))
      out.collect()
      val plan = finalPlan(out.queryExecution.executedPlan)
      val holders = plan.collect {
        case p: ProjectExec if p.projectList.exists(_.exists {
          case _: StaticInvoke | _: Invoke => true
          case _ => false
        }) => p
      }
      assert(holders.nonEmpty, s"$name: no ProjectExec holds the kernel call\n$plan")
      val inCodegen = plan.collect { case w: WholeStageCodegenExec => w.child.collect {
        case p: ProjectExec => p
      } }.flatten
      holders.foreach(h => assert(inCodegen.exists(_ eq h),
        s"$name: kernel projection is outside whole-stage codegen\n$plan"))
    }

    NativeFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes(array(1L, 2L), 3)").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    // a castable input is implicitly cast, as for a built-in function
    assert(spark.sql("SELECT size(char_ngrams(12345, 2))").head().getInt(0) == 4)
  }
}
