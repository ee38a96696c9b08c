package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Similarity, TextAnalysis}
import graft.state.ArtifactStore

/** The load-or-train seam: artifacts persist as parquet, a second lookup
  * (standing in for a second session — the persistent store is exactly what
  * outlives the JVM) LOADS instead of retraining, and every codec
  * round-trips its artifact bit-for-bit.
  */
class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` against an empty artifact root and an empty in-JVM memo,
    * and leaves no temp-rooted artifact memoized behind it.
    */
  private def withTempRoot[T](body: => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-artifacts-").toString
    spark.conf.set("spark.graft.artifacts.dir", tmp)
    ArtifactStore.clearMemoForTest()
    try body
    finally {
      ArtifactStore.clearMemoForTest()
      spark.conf.unset("spark.graft.artifacts.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("second lookup loads from parquet without retraining (train counter)") {
    withTempRoot {
      val emb = Tables.embeddings(spark, sfDir)
      var trains = 0
      def trained(): Array[Array[Float]] = {
        trains += 1
        Similarity.trainIvfCentroids(emb, k = 4, iters = 1)
      }
      val first = ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "corpusA", "ivf_test_k4")(trained())
      assert(trains == 1)
      val storeTrains = ArtifactStore.trainsThisJvm.get()
      // "second session": no in-JVM memo sits in front of loadOrTrain, only
      // parquet remains — the store must serve the load path, not re-run the thunk
      val second = ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "corpusA", "ivf_test_k4")(trained())
      assert(trains == 1, "second lookup retrained instead of loading")
      assert(ArtifactStore.trainsThisJvm.get() == storeTrains)
      assert(first.length == second.length)
      first.zip(second).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    }
  }

  test("a parameter change trains a NEW artifact (name embeds the params)") {
    withTempRoot {
      val emb = Tables.embeddings(spark, sfDir)
      var trains = 0
      def trained(k: Int): Array[Array[Float]] = {
        trains += 1
        Similarity.trainIvfCentroids(emb, k = k, iters = 1)
      }
      ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "corpusA", "ivf_test_k4")(trained(4))
      ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "corpusA", "ivf_test_k5")(trained(5))
      assert(trains == 2, "different params must not share an artifact")
    }
  }

  test("codec round-trips: matrices, tensor3, maps, strings, profiles, bpe") {
    withTempRoot {
      val docs = Tables.documents(spark, sfDir)
      val emb = Tables.embeddings(spark, sfDir)

      val fm = Similarity.trainIvfCentroids(emb, k = 5, iters = 2)
      ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "c", "fm")(fm)
      val fmL = ArtifactStore.loadOrTrain[Array[Array[Float]]](spark, "c", "fm")(sys.error("must load"))
      assert(fmL.map(_.toSeq).toSeq == fm.map(_.toSeq).toSeq)

      val dm = Similarity.trainKmeans(emb, k = 3, iters = 1)
      ArtifactStore.loadOrTrain[Array[Array[Double]]](spark, "c", "dm")(dm)
      val dmL = ArtifactStore.loadOrTrain[Array[Array[Double]]](spark, "c", "dm")(sys.error("must load"))
      assert(dmL.map(_.toSeq).toSeq == dm.map(_.toSeq).toSeq)

      val t3 = Similarity.trainPqCodebooks(emb, m = 2, k = 4, iters = 1)
      ArtifactStore.loadOrTrain[Array[Array[Array[Double]]]](spark, "c", "t3")(t3)
      val t3L = ArtifactStore.loadOrTrain[Array[Array[Array[Double]]]](spark, "c", "t3")(sys.error("must load"))
      assert(t3L.map(_.map(_.toSeq).toSeq).toSeq == t3.map(_.map(_.toSeq).toSeq).toSeq)

      val im = Map(0 -> 1.5, 3 -> -2.25, 7 -> 0.0)
      ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "c", "im")(im)
      assert(ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "c", "im")(sys.error("must load")) == im)

      val lm = Map(0L -> 1.5, 99L -> -2.0)
      ArtifactStore.loadOrTrain[Map[Long, Double]](spark, "c", "lm")(lm)
      assert(ArtifactStore.loadOrTrain[Map[Long, Double]](spark, "c", "lm")(sys.error("must load")) == lm)

      val vocab = TextAnalysis.trainVocab(docs, 10)
      ArtifactStore.loadOrTrain[Seq[String]](spark, "c", "vocab")(vocab)
      assert(ArtifactStore.loadOrTrain[Seq[String]](spark, "c", "vocab")(sys.error("must load")) == vocab)

      val profiles = TextAnalysis.trainLanguageProfiles(docs)
      ArtifactStore.loadOrTrain[Seq[(String, Seq[String])]](spark, "c", "profiles")(profiles)
      assert(ArtifactStore.loadOrTrain[Seq[(String, Seq[String])]](spark, "c", "profiles")(sys.error("must load"))
        == profiles)

      val model = Bpe.train(docs, "text", numMerges = 8)
      ArtifactStore.loadOrTrain[Bpe.Model](spark, "c", "bpe")(model)
      val mL = ArtifactStore.loadOrTrain[Bpe.Model](spark, "c", "bpe")(sys.error("must load"))
      assert(mL.merges == model.merges)
      assert(mL.memo == model.memo)
    }
  }

  test("end-to-end: a second session loads every artifact instead of retraining") {
    // first "session": run registered queries that train IVF centroids,
    // radii, seed floors, k-means, PQ codebooks, profiles, vocab and BPE —
    // each lookup writes its parquet artifact under the temp root
    withTempRoot {
      def runAll(): Seq[Long] = Seq(
        SparkEntry.queries("q_similarity_topk")(spark, sfDir).count(),
        SparkEntry.queries("q_pipeline_semdedup")(spark, sfDir).count(),
        SparkEntry.queries("q_embed_pq")(spark, sfDir).count(),
        SparkEntry.queries("q_text_langid")(spark, sfDir).count(),
        SparkEntry.queries("q_text_oov")(spark, sfDir).count(),
        SparkEntry.queries("q_text_bpe_vocab")(spark, sfDir).count())
      ArtifactStore.clearMemoForTest()
      val first = runAll()
      val trainsAfterFirst = ArtifactStore.trainsThisJvm.get()
      assert(trainsAfterFirst > 0, "first session trained nothing?")
      // "second session": the in-JVM memo is gone, only the parquet store
      // remains — every artifact must LOAD (train counter frozen), and the
      // query outputs must be unchanged
      ArtifactStore.clearMemoForTest()
      val second = runAll()
      assert(ArtifactStore.trainsThisJvm.get() == trainsAfterFirst,
        "second session retrained instead of loading from the artifact store")
      assert(second == first)
    }
  }

  test("a concurrent complete publish is left in place — a reader holding " +
    "the artifact open across our publish never loses its files") {
    withTempRoot {
      val im = Map(1 -> 1.0, 2 -> 2.5)
      val p = ArtifactStore.artifactPath(spark, "corpusR", "im")
      def listing(): Seq[(String, Long)] = {
        val d = new java.io.File(p)
        d.listFiles().toSeq.map(f => f.getName -> f.lastModified).sorted
      }
      // The race, deterministically: OUR train thunk runs after the initial
      // _SUCCESS probe missed, and while it runs a CONCURRENT session
      // publishes a complete artifact at the same path (the nested
      // loadOrTrain below) and a reader binds to those files. Our publish
      // step must then leave dst untouched (delete only our tmp) — with the
      // delete-before-rename behavior, the reader's files vanish mid-read
      // and the re-published part files have different names.
      var concurrentFiles: Seq[(String, Long)] = Nil
      var readerDf: org.apache.spark.sql.DataFrame = null
      val got = ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "corpusR", "im") {
        ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "corpusR", "im")(im) // their publish
        concurrentFiles = listing()
        readerDf = spark.read.parquet(p) // reader binds to THEIR files
        im
      }
      assert(got == im) // we served our in-memory value
      assert(listing() == concurrentFiles,
        "publish replaced a complete concurrent artifact; a mid-read reader would fail")
      // the open reader still resolves, and reads the whole artifact (one row)
      assert(readerDf.as(ExpressionEncoder[Map[Int, Double]]()).collect().toSeq == Seq(im))
      // and no tmp debris was left behind
      val parent = new java.io.File(p).getParentFile
      assert(!parent.listFiles().exists(_.getName.contains(".tmp-")),
        "loser's tmp dir not cleaned up")
    }
  }

  test("a half-written artifact (no _SUCCESS) is ignored and retrained") {
    withTempRoot {
      val p = ArtifactStore.artifactPath(spark, "corpusB", "im")
      // simulate a crashed writer: directory exists, no _SUCCESS marker
      new java.io.File(p).mkdirs()
      val im = Map(1 -> 1.0)
      assert(ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "corpusB", "im")(im) == im)
      // and the retrain PUBLISHED over it: now it loads
      assert(ArtifactStore.loadOrTrain[Map[Int, Double]](spark, "corpusB", "im")(
        sys.error("must load")) == im)
    }
  }

  test("a corpus rewritten under the same path is retrained in a fresh JVM, " +
    "never served its old artifact") {
    withTempRoot {
      val dir = java.nio.file.Files.createTempDirectory("graft-corpus-").toString
      val table = s"$dir/documents.parquet"
      try {
        spark.read.parquet(s"$sfDir/documents.parquet").write.parquet(table)
        SparkEntry.queries("q_text_oov")(spark, dir).collect()
        val stale = TextAnalysis.trainVocab(spark.read.parquet(table), 20)
        // rewrite the table in place with a subset of its rows
        val staged = s"$dir/staged.parquet"
        spark.read.parquet(table).filter(col("lang") === "de").write.parquet(staged)
        FileUtils.deleteDirectory(new File(table))
        assert(new File(staged).renameTo(new File(table)))
        val fresh = TextAnalysis.trainVocab(spark.read.parquet(table), 20)
        assert(fresh != stale, "fixture: the subset must change the vocabulary")
        // a fresh JVM: nothing in memory, only the persistent store remains
        ArtifactStore.clearMemoForTest()
        val trains = ArtifactStore.trainsThisJvm.get()
        SparkEntry.queries("q_text_oov")(spark, dir).collect()
        assert(ArtifactStore.trainsThisJvm.get() > trains,
          "the rewritten corpus loaded its old artifact instead of retraining")
        val served = ArtifactStore.memo[Seq[String]](spark, table, "vocab_top20")(
          sys.error("q_text_oov did not memoize its vocabulary"))
        assert(served == fresh)
      } finally FileUtils.deleteDirectory(new File(dir))
    }
  }

  test("concurrent first lookups of one artifact share one training") {
    withTempRoot {
      val table = s"$sfDir/documents.parquet"
      val trained = new AtomicInteger(0)
      val before = ArtifactStore.trainsThisJvm.get()
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(4)
      try {
        val lookups = (1 to 4).map(_ => pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            ArtifactStore.memo[Seq[String]](spark, table, "spec_shared") {
              trained.incrementAndGet()
              Thread.sleep(200) // hold the training open while the others arrive
              Seq("a", "b")
            }
          }
        }))
        start.countDown()
        assert(lookups.map(_.get(120, TimeUnit.SECONDS)).distinct == Seq(Seq("a", "b")))
      } finally pool.shutdown()
      assert(trained.get == 1)
      assert(ArtifactStore.trainsThisJvm.get() == before + 1)
    }
  }

  test("a training that asks for another artifact returns (the radii -> cents shape)") {
    withTempRoot {
      val table = s"$sfDir/documents.parquet"
      // A chain, not one nested call: a map lock held across training only
      // fails when a nested key lands in a held bin, and 24 held keys all
      // missing each other's bins in a table this small is vanishingly rare.
      def level(i: Int): Seq[String] =
        ArtifactStore.memo[Seq[String]](spark, table, s"spec_chain_$i")(
          if (i == 0) Seq("0") else level(i - 1) :+ i.toString)
      assert(level(23) == (0 to 23).map(_.toString))
    }
  }
}
