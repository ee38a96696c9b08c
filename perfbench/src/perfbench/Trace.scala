package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** One timed interval. `parent` is 0 for a query's root span and -1 for a
  * side span: a measurement taken next to a query (same `qid`) that is not
  * part of its blocking path.
  */
final case class Span(id: Long, parent: Long, qid: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. When `on` is false every
  * entry point is a plain call of its body: the untraced run records nothing.
  */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val qidOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall-clock milliseconds (as Spark's trackers report them) on the
    * nanoTime axis the spans use.
    */
  def msToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  private def currentId: Long = stack.get.headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = currentId
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, qidOf.get, name, t0, t1))
      }
    }

  /** The root span of one query: every span opened inside shares `qid`. */
  def query[T](qid: Long, name: String)(body: => T): T =
    if (!on) body
    else {
      qidOf.set(qid)
      try span(name)(body) finally qidOf.set(0L)
    }

  /** A side measurement: timed like a span, kept out of the query's tree. */
  def side[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(nextId.getAndIncrement(), -1, qidOf.get, name, t0, System.nanoTime()))
    }

  /** Adds a child span of `parent` from wall-clock times, clamped into the
    * parent's interval (the trackers tick in whole milliseconds).
    */
  def child(name: String, parent: Span, startMs: Long, endMs: Long): Unit = {
    val s = math.max(parent.startNs, math.min(parent.endNs, msToNs(startMs)))
    val e = math.max(s, math.min(parent.endNs, msToNs(endMs)))
    spans.add(Span(nextId.getAndIncrement(), parent.id, parent.qid, name, s, e))
  }

  /** The most recent span of this name closed by the calling thread's query. */
  def last(name: String, qid: Long): Option[Span] =
    spans.asScala.filter(s => s.qid == qid && s.name == name).lastOption

  /** Catalyst phases of `df` as child spans: analysis ran eagerly inside the
    * DataFrame's construction, optimization and planning inside the action.
    */
  def phases(df: DataFrame, qid: Long): Unit = if (on) {
    val ph = df.queryExecution.tracker.phases
    for (build <- last("InteractiveQueries.build", qid).orElse(last("SparkEntry.queries", qid));
         s <- ph.get("analysis")) child("catalyst.analysis", build, s.startTimeMs, s.endTimeMs)
    for (run <- last("exec.run", qid); p <- Seq("optimization", "planning"); s <- ph.get(p))
      child(s"catalyst.$p", run, s.startTimeMs, s.endTimeMs)
  }
}

/** Per-query execution counts, gathered at the same boundaries as the spans:
  * jobs and tasks from a [[SparkListener]] (jobs carry the query id as a
  * local property), the rest from the executed plan's SQL metrics.
  */
object Counts {
  val QidProperty = "perfbench.qid"
  val Fields = Seq("jobs", "tasks", "spill_bytes", "shuffle_bytes",
    "files_read", "scan_rows", "result_rows", "exchanges")
  private val byQid = new ConcurrentHashMap[Long, Array[Long]]()
  private val stageQid = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(qid: Long, field: String, v: Long): Unit = {
    val a = byQid.computeIfAbsent(qid, _ => new Array[Long](Fields.size))
    a.synchronized { a(Fields.indexOf(field)) += v }
  }

  def all: Map[Long, Map[String, Long]] =
    byQid.asScala.map { case (q, a) => q -> Fields.zip(a).toMap }.toMap

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(QidProperty))).foreach { q =>
        val qid = q.toLong
        add(qid, "jobs", 1)
        e.stageIds.foreach(s => stageQid.put(s, qid))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val qid = stageQid.get(e.stageId)
      if (qid != null && e.taskMetrics != null) {
        add(qid, "tasks", 1)
        add(qid, "spill_bytes", e.taskMetrics.memoryBytesSpilled + e.taskMetrics.diskBytesSpilled)
        add(qid, "shuffle_bytes", e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Walks the final (adaptive) plan of an executed query. */
  def plan(df: DataFrame, qid: Long, resultRows: Long): Unit = {
    add(qid, "result_rows", resultRows)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => add(qid, "exchanges", 1)
        case _ =>
      }
      if (p.nodeName.contains("Scan")) {
        p.metrics.get("numFiles").foreach(m => add(qid, "files_read", m.value))
        p.metrics.get("numOutputRows").foreach(m => add(qid, "scan_rows", m.value))
      }
      val kids = p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      })
      kids.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
