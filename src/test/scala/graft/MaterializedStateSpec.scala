package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.{InteractiveQueries, StockAggregation}
import graft.state.{MaterializedState, ParquetRelations}
import graft.util.Fs

/** Serving-path checks: the IQ functions read the materialized snapshot, the
  * snapshot equals the raw-recompute aggregate, a snapshot within Spark's
  * broadcast threshold answers from the driver with no Spark job, and above
  * it key predicates actually reach the parquet scan (pushdown + file
  * pruning via the sorted layout).
  */
class MaterializedStateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val state = MaterializedState.read(spark, sfDir)
  private lazy val raw = StockAggregation.aggregate(Tables.transactions(spark, sfDir))

  /** `body` with Spark's broadcast threshold off, so that
    * `MaterializedState.read` serves the file-skipping scan.
    */
  private def scanning[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The snapshot as the scan path serves it. */
  private lazy val scanned = scanning(MaterializedState.read(spark, sfDir))

  test("snapshot equals the raw-recompute aggregate") {
    assert(state.count() == raw.count())
    assert(state.except(raw).isEmpty && raw.except(state).isEmpty)
  }

  test("snapshot directory is not hidden from Spark's file listing") {
    // Spark skips a path whose name starts with `_` or `.`; an absolute
    // sfDir sanitized naively starts with `_`
    val leaf = java.nio.file.Paths.get(MaterializedState.ensure(spark, sfDir))
      .getFileName.toString
    assert(!leaf.startsWith("_") && !leaf.startsWith("."), s"hidden snapshot dir: $leaf")
    assert(MaterializedState.read(spark, sfDir).count() == raw.count())
  }

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no file scan in plan"))

  test("key query pushes the symbol predicate into the parquet scan") {
    val scan = scanOf(InteractiveQueries.keyQuery(scanned, "U000007"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(symbol,U000007)"), s"PushedFilters=$pushed")
  }

  test("range bounds push down, and the layout gives disjoint per-file key intervals") {
    val bounded = InteractiveQueries.rangeQuery(scanned, Some("U000004"), Some("U000009"))
    val pushed = scanOf(bounded).metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(symbol,U000004)") &&
      pushed.contains("LessThanOrEqual(symbol,U000009)"), s"PushedFilters=$pushed")
    // The range-partition + sort layout means every parquet file covers a
    // disjoint symbol interval — the property that lets the pushed bounds
    // skip whole row groups via column min/max statistics.
    val intervals = scanned
      .select(input_file_name().as("f"), col("symbol"))
      .groupBy("f").agg(min("symbol").as("lo"), max("symbol").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
    assert(intervals.length > 1, s"snapshot should span multiple files, got ${intervals.length}")
    intervals.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file intervals overlap: $hi1 >= $lo2")
      case _ =>
    }
  }

  test("bucketed serving tables join with no shuffle on either side") {
    // At test SF the planner rightly broadcasts the small side (also
    // shuffle-free); the bucketing exists for the large-large case, so
    // disable broadcast to expose it: the sort-merge join must read both
    // bucketed layouts directly, with NO hash-partitioning exchange.
    val joined = MaterializedState.bucketedJoin(spark, sfDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined.queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
      s"expected a bucketed sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed co-located join must not shuffle:\n$plan")
    // and it is the vat-join relational content
    val viaRecompute = raw.join(
      Tables.transactionsWithTs(spark, sfDir)
        .groupBy("symbol").agg(max(unix_millis(col("ts"))).as("max_ts_ms")),
      "symbol")
    assert(joined.count() == viaRecompute.count())
    assert(joined.except(viaRecompute).isEmpty && viaRecompute.except(joined).isEmpty)
  }

  test("bucketed tables rebuild cleanly in a fresh catalog over a stale directory") {
    // Simulate a new JVM run against leftover state: the in-memory catalog
    // forgets the tables but the bucketed directories persist. The build path
    // must clear the stale location before its CTAS (a blind saveAsTable
    // fails on a non-empty location since Spark 3.2).
    // materialize first's rows up front: the rebuild rewrites the underlying
    // files, invalidating the old DataFrame's resolved file listing
    val firstRows = MaterializedState.bucketedJoin(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val tables = spark.catalog.listTables()
      .collect().map(_.name).filter(_.startsWith("graft_"))
    assert(tables.nonEmpty, "expected bucketed graft_* tables in catalog")
    tables.foreach(t => spark.sql(s"DROP TABLE $t"))
    ParquetRelations.forgetDerivedForTest(sfDir, "bucketed")
    val againRows = MaterializedState.bucketedJoin(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(againRows == firstRows)
  }

  /** Tags of the Spark jobs `body` starts, read from a local property the
    * calling threads set. The listener bus delivers events in order, so once
    * a tagged barrier job has arrived every job started before it has too.
    */
  private def jobsStartedBy(body: => Unit): Seq[String] = {
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.probe"))).foreach(tags.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.probe", "barrier")
      spark.range(1).count()
      sc.setLocalProperty("graft.probe", null)
      val end = System.nanoTime() + 30000000000L
      while (!tags.contains("barrier") && System.nanoTime() < end) Thread.sleep(10)
      assert(tags.contains("barrier"), "listener never saw the barrier job")
      tags.asScala.toSeq.filterNot(_ == "barrier")
    } finally sc.removeSparkListener(listener)
  }

  private def tagged[T](tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty("graft.probe", tag)
    try body finally spark.sparkContext.setLocalProperty("graft.probe", null)
  }

  test("a second read of the same snapshot launches no Spark job and still prunes by key") { scanning {
    val path = MaterializedState.ensure(spark, sfDir)
    MaterializedState.read(spark, sfDir)
    // the listener does see a read's schema-inference job
    assert(jobsStartedBy(tagged("plain")(spark.read.parquet(path))).nonEmpty)
    var again: DataFrame = null
    assert(jobsStartedBy { again = tagged("memo")(MaterializedState.read(spark, sfDir)) }.isEmpty)
    val pushed = scanOf(InteractiveQueries.keyQuery(again, "U000007")).metadata("PushedFilters")
    assert(pushed.contains("EqualTo(symbol,U000007)"), s"PushedFilters=$pushed")
    assert(InteractiveQueries.keyQuery(again, "U000007").collect().toSet ==
      raw.filter(col("symbol") === "U000007").collect().toSet)
  } }

  test("four threads making a session's first read at once share one resolution") {
    MaterializedState.ensure(spark, sfDir)
    val fresh: SparkSession = spark.newSession()
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val go = new CountDownLatch(1)
    val frames = new ConcurrentLinkedQueue[DataFrame]()
    val jobs = jobsStartedBy {
      val threads = (0 until 4).map(i => new Thread(() => {
        go.await()
        tagged(s"reader$i")(frames.add(MaterializedState.read(fresh, sfDir)))
      }))
      threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
    }
    assert(frames.size == 4)
    assert(jobs.size == 1, s"expected one schema-inference job, got $jobs")
    val expected: Set[Row] = raw.collect().toSet
    frames.asScala.foreach(df => assert(df.collect().toSet == expected))
  }

  test("filtered range collapses key bounds and compiled predicate into one scan") {
    val df = InteractiveQueries.filteredRangeQuery(
      state, Some("U000000"), Some("U000099"), "@.buys > @.sells")
    val plan = df.queryExecution.executedPlan.toString
    // exactly one scan, no shuffle: predicate evaluated inside the scan stage
    assert(!plan.contains("Exchange"), s"unexpected shuffle in serving plan:\n$plan")
  }

  /** The rows of `df` and the number of files its scans read, from the
    * executed scans' `numFiles` metric.
    */
  private def rowsAndFiles(df: DataFrame): (Set[Row], Long) = {
    val rows = df.collect().toSet
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, "no file scan in plan")
    (rows, scans.map(_.metrics("numFiles").value).sum)
  }

  /** Each snapshot file's (lo, hi) symbol, in key order, from a plain read. */
  private lazy val fileIntervals: Seq[(String, String)] =
    spark.read.parquet(MaterializedState.ensure(spark, sfDir))
      .groupBy(input_file_name()).agg(min("symbol"), max("symbol"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq.sortBy(_._1)

  private def rawWhere(cond: Column): Set[Row] =
    raw.filter(cond).collect().toSet

  test("a key outside every interval reads no file and returns no rows") {
    val key = "A000000"
    assert(key < fileIntervals.head._1)
    val (rows, files) = rowsAndFiles(InteractiveQueries.keyQuery(scanned, key))
    assert(rows.isEmpty && rawWhere(col("symbol") === key).isEmpty)
    assert(files == 0, s"read $files files")
  }

  test("a key query reads the one file whose interval holds the key") {
    val key = fileIntervals(fileIntervals.length / 2)._1
    val (rows, files) = rowsAndFiles(InteractiveQueries.keyQuery(scanned, key))
    assert(rows.size == 1 && rows == rawWhere(col("symbol") === key))
    assert(files == 1, s"read $files files")
  }

  test("a range that straddles two file intervals reads two files") {
    val i = fileIntervals.length / 2
    val (lower, upper) = (fileIntervals(i - 1)._2, fileIntervals(i)._1)
    val (rows, files) = rowsAndFiles(InteractiveQueries.rangeQuery(scanned, Some(lower), Some(upper)))
    assert(rows.size == 2 && rows == rawWhere(col("symbol").between(lower, upper)))
    assert(files == 2, s"read $files files")
  }

  test("a 12-symbol multi-key query (an InSet) reads only the files that hold its keys") {
    val (first, last) = (fileIntervals.head, fileIntervals.last)
    // two keys held by the snapshot, ten below every interval
    val keys = Seq(first._1, last._2) ++ (1 to 10).map(n => f"A$n%06d")
    val df = InteractiveQueries.multiKeyQuery(scanned, keys)
    assert(df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[InSet])),
      s"expected an InSet:\n${df.queryExecution.optimizedPlan}")
    val (rows, files) = rowsAndFiles(df)
    assert(rows.size == 2 && rows == rawWhere(col("symbol").isin(keys: _*)))
    assert(files == 2, s"read $files files")
  }

  test("a key predicate ORed with a non-key predicate keeps every file") {
    val key = fileIntervals.head._1
    val cond = col("symbol") === key || col("buys") > 1000000.0
    val (rows, files) = rowsAndFiles(scanned.filter(cond))
    assert(rows == rawWhere(cond))
    assert(files == fileIntervals.length, s"read $files of ${fileIntervals.length} files")
  }

  test("a UTF8_LCASE comparison on symbol answers as an unpruned read does") {
    val key = fileIntervals(fileIntervals.length / 2)._1
    val cond = collate(col("symbol"), "UTF8_LCASE") === key.toLowerCase
    val unpruned = spark.read.parquet(MaterializedState.ensure(spark, sfDir)).filter(cond)
      .collect().toSet
    val (rows, _) = rowsAndFiles(scanned.filter(cond))
    assert(rows.size == 1 && rows == unpruned)
    assert(rows == rawWhere(col("symbol") === key))
  }

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-skipping-")
    try body(dir.toString) finally Fs.deleteRecursively(dir)
  }

  test("a snapshot rewritten under the same directory is pruned against its new intervals") {
    withTempDir { dir =>
      val path = s"$dir/snap"
      val key = fileIntervals.last._1
      def write(df: DataFrame): Unit =
        df.repartitionByRange(4, col("symbol")).sortWithinPartitions("symbol")
          .write.mode("overwrite").parquet(path)
      write(raw.filter(col("symbol") < key))
      def keyOn() = rowsAndFiles(ParquetRelations.read(spark, path).filter(col("symbol") === key))
      val (before, beforeFiles) = keyOn()
      assert(before.isEmpty && beforeFiles == 0, s"read $beforeFiles files")
      write(raw)
      val (after, afterFiles) = keyOn()
      assert(after.size == 1 && after == rawWhere(col("symbol") === key))
      assert(afterFiles == 1, s"read $afterFiles files")
    }
  }

  test("a mergeSchema change on the same files keeps the index answering") {
    withTempDir { dir =>
      val s = spark.newSession()
      val path = s"$dir/snap"
      val (lowKey, highKey) = (fileIntervals.head._1, fileIntervals.last._1)
      raw.filter(col("symbol") < highKey).write.parquet(path)
      raw.filter(col("symbol") >= highKey).withColumn("extra", lit(1L))
        .write.mode("append").parquet(path)
      val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
      // the raw aggregate's columns of each row, whichever footer set the schema
      def keyOn(key: String): (Set[Row], Long) = {
        val (rows, n) = rowsAndFiles(ParquetRelations.read(s, path).filter(col("symbol") === key))
        (rows.map(r => Row.fromSeq(r.toSeq.take(raw.columns.length))), n)
      }
      val (narrow, narrowFiles) = keyOn(highKey)
      assert(narrow == rawWhere(col("symbol") === highKey))
      assert(narrowFiles < files, s"read $narrowFiles of $files files")
      s.conf.set("spark.sql.parquet.mergeSchema", "true")
      val merged = ParquetRelations.read(s, path)
      assert(merged.columns.contains("extra"))
      val (high, highFiles) = keyOn(highKey)
      assert(high == rawWhere(col("symbol") === highKey))
      assert(highFiles < files, s"read $highFiles of $files files")
      assert(keyOn(lowKey)._1 == rawWhere(col("symbol") === lowKey))
      // files without `extra` have no statistics for it, so they are kept
      val (withExtra, extraFiles) = rowsAndFiles(merged.filter(col("extra") === 1L))
      assert(withExtra.map(_.getString(0)) == raw.filter(col("symbol") >= highKey)
        .collect().map(_.getString(0)).toSet)
      assert(extraFiles == files, s"read $extraFiles of $files files")
    }
  }

  /** Whether `df` answers from a driver-resident relation: no file scan. */
  private def resident(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.isEmpty

  test("a read snapshot serves key, multi-key, range and filtered-range queries with no Spark job") {
    val symbols = raw.select("symbol").collect().map(_.getString(0)).sorted
    val (key, i) = (symbols(symbols.length / 2), symbols.length / 3)
    val keys = Seq(symbols.head, key, symbols.last)
    val (lower, upper) = (symbols(i), symbols(i + 5))
    val cases: Seq[(String, DataFrame => DataFrame, Column)] = Seq(
      ("key", InteractiveQueries.keyQuery(_, key), col("symbol") === key),
      ("multi-key", InteractiveQueries.multiKeyQuery(_, keys), col("symbol").isin(keys: _*)),
      ("range", InteractiveQueries.rangeQuery(_, Some(lower), Some(upper)),
        col("symbol").between(lower, upper)),
      ("filtered range",
        InteractiveQueries.filteredRangeQuery(_, Some(symbols.head), Some(upper), "@.buys > @.sells"),
        col("symbol") <= upper && col("buys") > col("sells")))
    MaterializedState.read(spark, sfDir)
    cases.foreach { case (name, query, cond) =>
      var rows = Set.empty[Row]
      val jobs = jobsStartedBy {
        rows = tagged(name)(query(MaterializedState.read(spark, sfDir)).collect().toSet)
      }
      assert(jobs.isEmpty, s"$name started $jobs")
      assert(rows.nonEmpty && rows == rawWhere(cond), name)
    }
  }

  test("with the broadcast threshold off, read serves the parquet scan") {
    scanOf(scanned)
    assert(resident(state), s"expected a driver-resident snapshot:\n${state.queryExecution.executedPlan}")
  }

  test("a driver-resident snapshot rewritten under the same directory is served its new rows") {
    withTempDir { dir =>
      val path = s"$dir/snap"
      val key = fileIntervals.last._1
      raw.filter(col("symbol") < key).write.parquet(path)
      def keyOn(): Set[Row] = {
        val df = InteractiveQueries.keyQuery(MaterializedState.serve(spark, path), key)
        assert(resident(df), s"expected a driver-resident read:\n${df.queryExecution.executedPlan}")
        df.collect().toSet
      }
      assert(keyOn().isEmpty)
      raw.write.mode("overwrite").parquet(path)
      val after = keyOn()
      assert(after.size == 1 && after == rawWhere(col("symbol") === key))
    }
  }

  test("a deleted driver-resident snapshot drops its rows and raises Spark's missing-path error") {
    withTempDir { dir =>
      val path = s"$dir/snap"
      raw.write.parquet(path)
      assert(resident(MaterializedState.serve(spark, path)))
      assert(MaterializedState.resident.containsKey(path))
      Fs.deleteRecursively(java.nio.file.Paths.get(path))
      val e = intercept[AnalysisException](MaterializedState.serve(spark, path))
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      assert(!MaterializedState.resident.containsKey(path))
    }
  }

  test("four threads making a snapshot's first driver-resident read at once start one collect job") {
    withTempDir { dir =>
      val path = s"$dir/snap"
      raw.write.parquet(path)
      // the session's schema inference is its own job, outside the count
      ParquetRelations.read(spark, path)
      val go = new CountDownLatch(1)
      val frames = new ConcurrentLinkedQueue[DataFrame]()
      val jobs = jobsStartedBy {
        val threads = (0 until 4).map(i => new Thread(() => {
          go.await()
          tagged(s"reader$i")(frames.add(MaterializedState.serve(spark, path)))
        }))
        threads.foreach(_.start()); go.countDown(); threads.foreach(_.join())
      }
      assert(frames.size == 4)
      assert(jobs.size == 1, s"expected one collect job, got $jobs")
      val expected: Set[Row] = raw.collect().toSet
      frames.asScala.foreach { df =>
        assert(resident(df))
        assert(df.collect().toSet == expected)
      }
    }
  }
}
