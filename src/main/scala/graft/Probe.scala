package graft

/** Single-pass profiling main — the scale-investigation tool Bench is not:
  * runs ONE registered query ONCE, prints wall time plus every non-zero
  * SQL metric per physical node (spill bytes, shuffle bytes, rows), so a
  * superlinear bench point can be attributed to a concrete operator
  * instead of guessed at. Extra session confs ride in via
  * `SPARK_GRAFT_CONF="k=v;k=v"`.
  *
  * Usage: runMain graft.Probe <sfDir> <queryName>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val cpus = GraftSession.cpus
    val b = GraftSession.builder(cpus, cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      b.config(k, v)
    })
    val spark = b.getOrCreate()
    // CONSTRUCTION is timed separately (r16): queries that build session
    // artifacts (label propagation, eager checkpoints) run jobs inside the
    // registration lambda, and a probe that starts its clock after
    // construction reports a 0.05 s "cold" cost for a query whose labels
    // took seconds to build. build + exec = the true cold cost.
    val tb = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val buildSec = (System.nanoTime() - tb) / 1e9
    // drive the Dataset's OWN physical plan (a .write would wrap it in a
    // fresh QueryExecution and leave these metrics empty); RDD count()
    // fully materializes every UnsafeRow the plan produces
    val t0 = System.nanoTime()
    val n = df.queryExecution.executedPlan.execute().count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"PROBE $name%s ${sec}%.2f sec rows=$n%d build=${buildSec}%.2f sec cold=${buildSec + sec}%.2f sec")
    // walk the final (AQE-resolved) plan, printing non-zero metrics
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val m = p.metrics.collect {
        case (k, v) if v.value > 0 => s"$k=${v.value}"
      }.mkString(" ")
      println("  " * depth + p.nodeName + (if (m.nonEmpty) s"  [$m]" else ""))
      val kids = p.children ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
        case _ => Seq.empty
      })
      kids.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
