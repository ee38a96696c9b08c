package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.StockAggregation
import graft.state.{MaterializedState, ParquetRelations}
import graft.streaming.StreamingState
import graft.util.Fs

/** Derived tables (the materialized snapshot, the bucketed serving tables,
  * the streaming runs) are a function of the listing of their inputs'
  * directory: a rewritten input is served its new rows, an unchanged one
  * is never rebuilt, and two directories never share a derived table.
  */
class DerivedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val source = "/root/testdata/sf0.001/events.parquet"
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body` over `n` fresh input directories; afterwards drops the catalog
    * tables and state directories derived from them.
    */
  private def withInputDirs(n: Int)(body: Seq[String] => Unit): Unit = {
    val root = Files.createTempDirectory("graft-derived-")
    val dirs = (0 until n).map(i => Files.createDirectories(root.resolve(s"s$i")).toString)
    try body(dirs) finally {
      spark.catalog.listTables().collect().map(_.name).filter(_.contains("graft_derived_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val tag = root.toString.replaceAll("[^A-Za-z0-9.]+", "_")
      Seq(Paths.get("target", "state"), Paths.get("target", "streamstate")).foreach { parent =>
        Option(parent.toFile.listFiles()).toSeq.flatten
          .filter(_.getName.contains(tag)).foreach(f => Fs.deleteRecursively(f.toPath))
      }
      Fs.deleteRecursively(root)
    }
  }

  private def writeEvents(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def aggregate(dir: String): DataFrame =
    StockAggregation.aggregate(Tables.transactions(spark, dir))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty

  test("an input rewritten under the same directory is served its new rows by every derived table") {
    withInputDirs(3) { case Seq(dir, before, after) =>
      val events = spark.read.parquet(source)
      // the rewrite drops a third of the users, so every derived table changes
      val rewritten = events.filter(col("user_id") % 3 =!= 0)
      writeEvents(events, dir)
      writeEvents(events, before)
      writeEvents(rewritten, after)
      def served(): Seq[(String, DataFrame)] = Seq(
        "MaterializedState.read" -> MaterializedState.read(spark, dir),
        "bucketedJoin" -> MaterializedState.bucketedJoin(spark, dir),
        "StreamingState.snapshot" -> StreamingState.snapshot(spark, dir),
        "streamingDedupKeys" -> StreamingState.streamingDedupKeys(spark, dir))
      def expected(ref: String): Seq[DataFrame] = {
        val maxTs = Tables.transactionsWithTs(spark, ref).groupBy("symbol")
          .agg(max(unix_millis(col("ts"))).as("max_ts_ms"))
        Seq(aggregate(ref), aggregate(ref).join(maxTs, "symbol"), aggregate(ref),
          aggregate(ref).select("symbol"))
      }
      def wrong(want: Seq[DataFrame]): Seq[String] =
        served().zip(want).collect { case ((name, got), w) if !same(got, w) => name }
      expected(before).zip(expected(after)).foreach { case (b, a) => assert(!same(b, a)) }
      assert(wrong(expected(before)).isEmpty, "before the rewrite")
      writeEvents(rewritten, dir)
      assert(wrong(expected(after)).isEmpty, "serve rows derived from the old input")
    }
  }

  test("a session without nanosAsLong preset reads the snapshot twice and builds it once") {
    withInputDirs(1) { case Seq(dir) =>
      Files.copy(Paths.get(source), Paths.get(dir, "events.parquet"))
      val fresh: SparkSession = spark.newSession()
      fresh.conf.unset(nanosAsLong)
      assert(fresh.conf.get(nanosAsLong) == "false")
      val first = MaterializedState.read(fresh, dir)
      val path = MaterializedState.stateDir(dir)
      // (relative file, length, mtime in ns): a rebuild rewrites every file
      val files = ParquetRelations.localFiles(path)
      assert(files.exists(_.nonEmpty))
      // the first build set the conf, which changes the full fingerprint
      assert(fresh.conf.get(nanosAsLong) == "true")
      val second = MaterializedState.read(fresh, dir)
      val rebuilt = ParquetRelations.localFiles(path) != files
      assert(!rebuilt, "the second read rebuilt the snapshot")
      assert(MaterializedState.ensure(fresh, dir) == path.toString)
      assert(same(first, aggregate(dir)) && same(second, aggregate(dir)))
    }
  }

  test("two directories holding hard links to one events file each get their own snapshot") {
    withInputDirs(2) { case Seq(a, b) =>
      val (linkA, linkB) = (Paths.get(a, "events.parquet"), Paths.get(b, "events.parquet"))
      Files.copy(Paths.get(source), linkA)
      Files.createLink(linkB, linkA)
      assert(ParquetRelations.fingerprint(spark, a) == ParquetRelations.fingerprint(spark, b),
        "hard links must list identically for this spec to mean anything")
      val (pathA, pathB) = (MaterializedState.ensure(spark, a), MaterializedState.ensure(spark, b))
      assert(pathA != pathB)
      assert(same(MaterializedState.read(spark, a), aggregate(a)))
      assert(same(MaterializedState.read(spark, b), aggregate(b)))
      // each directory's snapshot follows its own input
      Files.delete(linkB)
      writeEvents(spark.read.parquet(source).filter(col("user_id") % 3 =!= 0), b)
      assert(!same(aggregate(a), aggregate(b)))
      assert(same(MaterializedState.read(spark, a), aggregate(a)))
      assert(same(MaterializedState.read(spark, b), aggregate(b)))
    }
  }
}
