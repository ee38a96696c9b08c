package perfbench

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfBenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.functions.JsonPathPredicate
import graft.operators.{InteractiveQueries, StockAggregation}
import graft.sources.{Serdes, Transport}
import graft.state.MaterializedState

/** The benchmark's JVM: sets up one workload, runs it for the measured
  * window, and writes raw observations (per-query timings, answers, stream
  * progress, spans) to its work directory. `perfbench/run.py` computes the
  * metrics and checks every answer against aggregates it computes itself.
  *
  * Usage: `perfbench.PerfBench key=value...` with keys workload, data, work,
  * seconds, seed, trace, cpus and the workload's own keys (see run.py).
  */
object PerfBench {

  final case class Sample(qid: Long, client: String, kind: String, t0: Long, t1: Long, error: String)

  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val answers = new ConcurrentLinkedQueue[String]()
  private val nextQid = new AtomicLong(1)
  @volatile private var windowStart = 0L

  def main(args: Array[String]): Unit = {
    val c = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val work = Paths.get(c("work")).toAbsolutePath
    Trace.on = c("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c("cpus").toInt, work)
    val res = mutable.LinkedHashMap[String, Any](
      "session_ready_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
    if (Trace.on) spark.sparkContext.addSparkListener(Counts.Listener)
    try c("workload") match {
      case "lookup" => Lookup.run(spark, c, res)
      case "live" => Live.run(spark, c, res)
      case "recompute" => Recompute.run(spark, c, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      if (Trace.on) PerfBenchBridge.drainListeners(spark.sparkContext)
      res("samples") = samples.asScala.toSeq.sortBy(_.t0).map(s => Seq(s.qid, s.client, s.kind,
        ms(s.t0 - windowStart), ms(s.t1 - s.t0), Option(s.error).getOrElse("")))
      if (Trace.on) {
        res("counts") = Counts.all.map { case (q, m) => q.toString -> m }
        Files.writeString(work.resolve("trace.json"), Json(Map(
          "fields" -> Seq("id", "parent", "qid", "name", "start_ms", "end_ms"),
          "spans" -> Trace.spans.asScala.toSeq.map(s =>
            Seq(s.id, s.parent, s.qid, s.name, ms(s.startNs - windowStart), ms(s.endNs - windowStart))))))
      }
      Files.write(work.resolve("answers.jsonl"), answers.asScala.toSeq.asJava, UTF_8)
      Files.writeString(work.resolve("result.json"), Json(res))
      spark.stop()
    }
  }

  def ms(ns: Long): Double = ns / 1e6

  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded status-store retention: without it the retained heap grows
      // with the number of queries a run completes, not with what it holds
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.streaming.ui.retainedQueries", "4")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use after a full collection. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `body` on `n` client threads until each returns; a client's own
    * loop decides when the window is over.
    */
  def clients(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map(i => new Thread(() => body(i), s"perfbench-client-$i"))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  /** Times one query: the untraced run measures exactly `run`; the traced
    * run also opens a root span and, after it closes, attaches the Catalyst
    * phases and the plan's counts. Returns the rows, or None on failure.
    */
  def timed(spark: SparkSession, qid: Long, kind: String)(
      run: => (DataFrame, Array[Row])): Option[(DataFrame, Array[Row])] = {
    if (Trace.on) spark.sparkContext.setLocalProperty(Counts.QidProperty, qid.toString)
    val t0 = System.nanoTime()
    try {
      val out = Trace.query(qid, s"query.$kind")(run)
      samples.add(Sample(qid, Thread.currentThread.getName, kind, t0, System.nanoTime(), null))
      if (Trace.on) { Trace.phases(out._1, qid); Counts.plan(out._1, qid, out._2.length) }
      Some(out)
    } catch {
      case e: Exception =>
        samples.add(Sample(qid, Thread.currentThread.getName, kind, t0, System.nanoTime(),
          e.toString.take(300)))
        None
    } finally if (Trace.on) spark.sparkContext.setLocalProperty(Counts.QidProperty, null)
  }

  def logAnswer(fields: Map[String, Any]): Unit = answers.add(Json(fields))

  def startWindow(): Unit = windowStart = System.nanoTime()
  def sinceWindowMs(ns: Long): Double = ms(ns - windowStart)

  /** Aggregate rows as (symbol, buys, sells, number_shares). */
  def aggRows(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(r => Seq(
    r.getAs[String]("symbol"), r.getAs[Double]("buys"), r.getAs[Double]("sells"),
    r.getAs[Number]("number_shares").longValue))

  // ---- the interactive-query mix shared by `lookup` and `live` ----

  /** One generated query. `tmpl`, `n` and `k` parameterise the JSONPath
    * predicate of a filtered range; the checker evaluates the same template
    * on its own aggregates.
    */
  final case class Q(kind: String, keys: Seq[String], lo: String, hi: String,
      tmpl: Int, n: Long, k: String) {
    def predicate: String = tmpl match {
      case 0 => "@.buys > @.sells"
      case 1 => s"@.number_shares > $n"
      case _ => s"@.sells >= @.buys && @.number_shares > $n || @.symbol == '$k'"
    }
    def fields: Map[String, Any] = Map("kind" -> kind, "keys" -> keys, "lo" -> lo,
      "hi" -> hi, "tmpl" -> tmpl, "n" -> n, "k" -> k)
  }

  final class QueryGen(nSymbols: Int, rnd: Random) {
    private def sym(i: Int) = f"U$i%06d"
    private def range(): (String, String) = {
      val i = rnd.nextInt(nSymbols)
      (sym(i), sym(math.min(nSymbols - 1, i + rnd.nextInt(64))))
    }
    private var round = rnd.nextInt(4)
    /** Kinds come round-robin so every client's mix is the same; keys,
      * bounds and predicate parameters are seeded draws.
      */
    def next(): Q = { round += 1; round % 4 } match {
      case 0 => Q("key", Seq(sym(rnd.nextInt(nSymbols))), "", "", 0, 0, "")
      case 1 =>
        val ks = Seq.fill(2 + rnd.nextInt(9))(sym(rnd.nextInt(nSymbols))).distinct.sorted
        Q("multi_key", ks, "", "", 0, 0, "")
      case 2 => val (lo, hi) = range(); Q("range", Nil, lo, hi, 0, 0, "")
      case _ =>
        val (lo, hi) = range()
        Q("filtered_range", Nil, lo, hi, rnd.nextInt(3), 20000L + rnd.nextInt(30000),
          sym(rnd.nextInt(nSymbols)))
    }
  }

  /** The query through the program's own interactive-query functions. */
  def build(q: Q, agg: DataFrame): DataFrame = Trace.span("InteractiveQueries.build") {
    q.kind match {
      case "key" => InteractiveQueries.keyQuery(agg, q.keys.head)
      case "multi_key" => InteractiveQueries.multiKeyQuery(agg, q.keys)
      case "range" => InteractiveQueries.rangeQuery(agg, Some(q.lo), Some(q.hi))
      case _ => InteractiveQueries.filteredRangeQuery(agg, Some(q.lo), Some(q.hi), q.predicate)
    }
  }

  /** A query against `agg()`: the predicate compile is timed beside the
    * query in the traced run (it also runs inside `filteredRangeQuery`).
    */
  def interactive(spark: SparkSession, q: Q, label: String, agg: => DataFrame)
      : Option[(DataFrame, Array[Row])] = {
    val qid = nextQid.getAndIncrement()
    if (q.kind == "filtered_range")
      Trace.side("JsonPathPredicate.compile")(JsonPathPredicate.compile(q.predicate))
    timed(spark, qid, label) {
      val relation = agg
      val df = build(q, relation)
      (df, Trace.span("exec.run")(df.collect()))
    }
  }

  // ---- lookup: closed-loop clients on the materialized snapshot ----

  object Lookup {
    def run(spark: SparkSession, c: Map[String, String], res: mutable.Map[String, Any]): Unit = {
      val seed = c("seed").toLong
      val nSymbols = c("symbols").toInt
      val seconds = c("seconds").toDouble
      // three clean set-ups, each on its own data directory so each builds
      // its own snapshot; the last one serves the measured window
      val dirs = (0 until 3).map(i => s"${c("data")}/s$i")
      val ensure = mutable.ArrayBuffer[Double]()
      res("prepare_s") = dirs.zipWithIndex.map { case (dir, i) =>
        val t0 = System.nanoTime()
        MaterializedState.ensure(spark, dir)
        ensure += (System.nanoTime() - t0) / 1e9
        val gen = new QueryGen(nSymbols, new Random(seed * 31 + i))
        (0 until 4).foreach { _ =>
          val q = gen.next(); interactive(spark, q, q.kind, MaterializedState.read(spark, dir))
        }
        (System.nanoTime() - t0) / 1e9
      }
      res("ensure_s") = ensure.toSeq
      samples.clear(); Trace.spans.clear()
      val dir = dirs.last
      val nClients = c("clients").toInt
      val gc0 = gcMs()
      startWindow()
      val deadline = windowStart + (seconds * 1e9).toLong
      clients(nClients) { i =>
        val gen = new QueryGen(nSymbols, new Random(seed * 7919 + i))
        while (System.nanoTime() < deadline) {
          val q = gen.next()
          interactive(spark, q, q.kind,
            Trace.span("MaterializedState.read")(MaterializedState.read(spark, dir))).foreach {
            case (_, rows) => logAnswer(q.fields ++ Map("rows" -> aggRows(rows)))
          }
        }
      }
      res("window_s") = ms(System.nanoTime() - windowStart) / 1000
      res("gc_ms") = gcMs() - gc0
      res("heap_mb") = retainedHeapMb()
    }
  }

  // ---- live: open-loop chunk appends into the streaming aggregation ----

  object Live {
    private val txnSchema = StructType(Seq(
      StructField("symbol", StringType), StructField("buy", BooleanType),
      StructField("amount", DoubleType), StructField("number_shares", IntegerType)))

    /** Progress of every streaming query, by query id. */
    private val progress = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[Map[String, Any]]]()
    private val rowsIn = new ConcurrentHashMap[UUID, AtomicLong]()

    private object Listener extends StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.headOption
        progress.computeIfAbsent(p.id, _ => new ConcurrentLinkedQueue()).add(Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows, "t_ns" -> System.nanoTime(),
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
          "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
          "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L)))
        rowsIn.computeIfAbsent(p.id, _ => new AtomicLong()).addAndGet(p.numInputRows)
      }
    }

    final class Pipeline(val root: Path, val query: StreamingQuery, chunkEvents: Int) {
      val source: Path = root.resolve("source")
      val changelog: String = root.resolve("changelog").toString
      val appended = new AtomicInteger(0)
      def committedChunks: Int =
        (Option(rowsIn.get(query.id)).map(_.get).getOrElse(0L) / chunkEvents).toInt
      def append(chunk: Int): Long = {
        val staged = root.resolve("staged").resolve(f"chunk_$chunk%05d.parquet")
        Files.setLastModifiedTime(staged, FileTime.fromMillis(System.currentTimeMillis()))
        Files.move(staged, source.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
        val t = System.nanoTime()
        appended.incrementAndGet()
        t
      }
    }

    /** Stages every chunk as one parquet file, through the program's own
      * chunked transaction mapping.
      */
    private def stage(spark: SparkSession, data: String, nChunks: Int, root: Path): Unit = {
      val tmp = root.resolve("stage_tmp")
      Tables.transactionsChunked(spark, data, nChunks)
        .repartition(col("chunk")).write.partitionBy("chunk").parquet(tmp.toString)
      val staged = Files.createDirectories(root.resolve("staged"))
      (0 until nChunks).foreach { i =>
        val files = Files.list(tmp.resolve(s"chunk=$i")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        require(files.size == 1, s"chunk $i staged as ${files.size} files")
        Files.move(files.head, staged.resolve(f"chunk_$i%05d.parquet"))
      }
    }

    /** The streaming seam as `StreamingState.runToCompletion` assembles it,
      * on a processing-time trigger.
      */
    private def start(spark: SparkSession, root: Path, c: Map[String, String]): StreamingQuery = {
      Files.createDirectories(root.resolve("source"))
      val wire = Transport.readTransactionStream(spark, Transport.SourceFormat.FileReplay(
        root.resolve("source").toString, txnSchema, c("max_files").toInt))
      val agg = StockAggregation.aggregate(Transport.decodeWire(wire))
      Transport.changelogWriter(agg, Transport.SinkFormat.FileChangelog(root.resolve("changelog").toString))
        .outputMode("update")
        .option("checkpointLocation", root.resolve("checkpoint").toString)
        .trigger(Trigger.ProcessingTime(c("trigger_ms").toLong))
        .start()
    }

    /** The live latest-value-per-key relation, as `StreamingState.snapshot`
      * defines it over the changelog.
      */
    def snapshot(spark: SparkSession, changelog: String): DataFrame = Trace.span("snapshot.read") {
      val latest = spark.read.parquet(changelog).drop("p_batch")
        .groupBy(col("key")).agg(max_by(col("value"), col("batch_id")).as("value"))
      Serdes.decodeAggregation(latest)
    }

    private def await(what: String, timeoutS: Int)(cond: => Boolean): Unit = {
      val end = System.nanoTime() + timeoutS * 1000000000L
      while (!cond) {
        if (System.nanoTime() > end) throw new IllegalStateException(s"timed out waiting for $what")
        Thread.sleep(10)
      }
    }

    def run(spark: SparkSession, c: Map[String, String], res: mutable.Map[String, Any]): Unit = {
      val seed = c("seed").toLong
      val nSymbols = c("symbols").toInt
      val nChunks = c("chunks").toInt
      val chunkEvents = c("chunk_events").toInt
      val intervalNs = c("interval_ms").toLong * 1000000L
      val seconds = c("seconds").toDouble
      val probeKey = c("probe_key")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.streams.addListener(Listener)

      // set-up: stage, start, commit the warm-up chunk, read twice
      val pipes = mutable.ArrayBuffer[Pipeline]()
      res("prepare_s") = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        val root = Paths.get(c("work")).toAbsolutePath.resolve(s"live$i")
        stage(spark, c("data"), nChunks, root)
        val p = new Pipeline(root, start(spark, root, c), chunkEvents)
        pipes += p
        p.append(0)
        await("warm-up batch", 120)(p.committedChunks >= 1)
        val gen = new QueryGen(nSymbols, new Random(seed * 31 + i))
        (0 until 2).foreach { _ =>
          val q = gen.next(); interactive(spark, q, q.kind, snapshot(spark, p.changelog))
        }
        if (i < 2) { p.query.stop(); p.query.awaitTermination() }
        (System.nanoTime() - t0) / 1e9
      }
      samples.clear(); Trace.spans.clear()
      val p = pipes.last
      val nReaders = c("clients").toInt
      val appearMs = new ConcurrentLinkedQueue[Seq[Double]]()
      val backlogMax = new AtomicInteger(0)
      // start the window an eighth of a trigger interval after a trigger
      // tick (the processing-time trigger ticks on multiples of its interval
      // since the epoch), so every run appends at the same trigger phases
      val trigger = c("trigger_ms").toLong
      val now = System.currentTimeMillis()
      Thread.sleep((now / trigger + 1) * trigger + trigger / 8 - now)
      val gc0 = gcMs()
      startWindow()
      val deadline = windowStart + (seconds * 1e9).toLong

      // lo: chunks committed before the read began; hi: chunks appended
      // when it ended — the answer must reflect a prefix in between
      def read(q: Q, label: String): Unit = {
        val lo = p.committedChunks
        interactive(spark, q, label, snapshot(spark, p.changelog)).foreach { case (_, rows) =>
          logAnswer(q.fields ++ Map("label" -> label, "p_lo" -> lo, "p_hi" -> p.appended.get,
            "t_ms" -> sinceWindowMs(System.nanoTime()), "rows" -> aggRows(rows)))
        }
      }

      val generator = new Thread(() => {
        var chunk = 1
        while (chunk < nChunks && windowStart + (chunk - 1) * intervalNs < deadline) {
          val due = windowStart + (chunk - 1) * intervalNs
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val t = p.append(chunk)
          appearMs.add(Seq(chunk, sinceWindowMs(t), ms(t - due)))
          backlogMax.accumulateAndGet(p.appended.get - p.committedChunks, math.max)
          chunk += 1
        }
      }, "perfbench-generator")
      generator.start()
      // readers run the query mix; the last client is the freshness probe,
      // which polls one key that every chunk touches until it has seen the
      // last appended chunk (a few seconds past the window at most)
      clients(nReaders + 1) { i =>
        if (i < nReaders) {
          val gen = new QueryGen(nSymbols, new Random(seed * 7919 + i))
          while (System.nanoTime() < deadline) read(gen.next(), "reader")
        } else {
          val probe = Q("key", Seq(probeKey), "", "", 0, 0, "")
          val end = deadline + 15000000000L
          var seenAll = false
          while (!seenAll && System.nanoTime() < end) {
            seenAll = !generator.isAlive && p.committedChunks >= p.appended.get
            read(probe, "probe")
          }
        }
      }
      generator.join()
      res("window_s") = (seconds * 1e9).toLong / 1e9
      res("gc_ms") = gcMs() - gc0
      res("heap_mb") = retainedHeapMb()
      res("appear") = appearMs.asScala.toSeq.sortBy(_.head)
      res("backlog_max_files") = backlogMax.get
      // drain, then the whole snapshot must equal the aggregate of every
      // appended chunk
      p.query.processAllAvailable()
      val all = p.appended.get
      val rows = snapshot(spark, p.changelog).collect()
      logAnswer(Map("kind" -> "all", "label" -> "final", "p_lo" -> all, "p_hi" -> all,
        "rows" -> aggRows(rows)))
      res("appended") = all
      res("progress") = progress.getOrDefault(p.query.id, new ConcurrentLinkedQueue()).asScala.toSeq
        .map(e => e - "t_ns" + ("t_ms" -> sinceWindowMs(e("t_ns").asInstanceOf[Long])))
      p.query.stop(); p.query.awaitTermination()
    }
  }

  // ---- recompute: registered queries that rebuild results from events ----

  object Recompute {
    /** Order-independent fingerprint of a result: columns in name order,
      * each value in a canonical text form (doubles as their IEEE bits),
      * rows hashed with MD5 and the first 8 bytes summed.
      */
    def fingerprint(names: Seq[String], rows: Array[Row]): Long = {
      val order = names.zipWithIndex.sortBy(_._1).map(_._2)
      val md = MessageDigest.getInstance("MD5")
      rows.foldLeft(0L) { (acc, r) =>
        val s = order.map(i => canon(r.get(i))).mkString("\u001f")
        acc + ByteBuffer.wrap(md.digest(s.getBytes(UTF_8)), 0, 8).getLong
      }
    }

    def canon(v: Any): String = v match {
      case null => "\\N"
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d).toString
      case f: Float => canon(f.toDouble)
      case o => o.toString
    }

    def run(spark: SparkSession, c: Map[String, String], res: mutable.Map[String, Any]): Unit = {
      val dir = c("data")
      val seconds = c("seconds").toDouble
      val names = c("queries").split(",").toSeq
      res("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap

      def one(name: String, log: Boolean): Unit = {
        Trace.side("Tables.events")(Tables.events(spark, dir))
        timed(spark, nextQid.getAndIncrement(), name) {
          val df = Trace.span("SparkEntry.queries")(SparkEntry.queries(name)(spark, dir))
          (df, Trace.span("exec.run")(df.collect()))
        }.foreach { case (df, rows) =>
          if (log) logAnswer(Map("kind" -> name, "columns" -> df.schema.fieldNames.toSeq.sorted,
            "rows" -> rows.length, "fingerprint" -> fingerprint(df.schema.fieldNames.toSeq, rows)))
        }
      }

      res("prepare_s") = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        names.foreach(one(_, log = false))
        (System.nanoTime() - t0) / 1e9
      }
      samples.clear(); Trace.spans.clear()
      val gc0 = gcMs()
      startWindow()
      val deadline = windowStart + (seconds * 1e9).toLong
      // whole rounds of the query list, one closed-loop client
      while (System.nanoTime() < deadline) names.foreach(one(_, log = true))
      res("window_s") = ms(System.nanoTime() - windowStart) / 1000
      res("gc_ms") = gcMs() - gc0
      res("heap_mb") = retainedHeapMb()
    }
  }
}

/** Minimal JSON writer for the benchmark's output files. */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
        case ch => sb.append(ch)
      }
      sb.append('"')
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case b: Boolean => sb.append(b)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(','); write(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      it.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case o => write(sb, o.toString)
  }
}
