package graft

/** Plan-capture main (r15 optimization evidence): dumps
  * `.explain("formatted")` for the named registered queries to
  * `<outDir>/<query>_<tag>.txt`. AQE keeps `isFinalPlan=false` in a
  * pre-execution explain; this is the documented before/after artifact
  * shape for plan-diff claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema), not a timing tool.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <tag> <q1,q2,...|all>
  */
// (Plans and Probe are the two local profiling mains; neither is the
// driver-facing bench.)
object Plans {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.Plans <sfDir> <outDir> <tag> <q1,q2,...|all>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag, qlist) = args.take(4)
    if (qlist != "all") {
      val unknown = qlist.split(",").filterNot(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(s"unknown queries: ${unknown.mkString(", ")} " +
          s"(registered: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
        sys.exit(2)
      }
    }
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus, cpus).getOrCreate()
    val names =
      if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted
      else qlist.split(",").toSeq
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$tag.txt")
      try w.write(txt) finally w.close()
      System.err.println(s"[plans] wrote $name")
    }
    spark.stop()
  }
}
