package graft

/** Cold end-to-end benchmark for the STREAMING twins. `graft.Bench` medians
  * re-reads of the cached snapshot (each streaming run executes once per
  * input listing), so its numbers measure the serving read, not the
  * stream. This main times each query's FIRST invocation — replay
  * staging + the full micro-batch stream + snapshot materialization — once
  * per query in a fresh JVM-wide cache, which IS the streaming cost a scale
  * study needs.
  *
  * OUTPUT (r13 protocol, metric renamed r14): one JSON line PER QUERY in the
  * solo-record shape (`"queries"` holds that single query; `"value"` = its
  * seconds; metric `"streaming_cold"` — pre-r14 records say
  * `"streaming_cold_total"`, a misnomer once lines became per-query), tagged
  * `"jvm_seq"` = the query's position in this JVM. A FAILED query's line has
  * NO `"value"` key at all — an error sentinel must never be eligible for
  * the protocol's min-over-passes estimator. Only `jvm_seq: 0` lines
  * are comparable across rounds: the r12 shared-JVM record
  * (`BENCH_r12_streaming_sf10.json`) measured cdc at 110 s where adjacent
  * solo runs read 27–33 s — a query's RocksDB/staging residue contaminates
  * every query after it. The committed cross-round artifact is therefore
  * the interleaved SOLO protocol — one query per JVM, sides alternating
  * within minutes, min as estimator (`scripts/run_streaming_solo.sh`) —
  * the format the r12 tws2/trending decade records already use; shared-JVM
  * multi-query runs remain available for local iteration only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… [SPARK_GRAFT_ONLY=q_a,q_b] runMain
  * graft.StreamingBench
  */
object StreamingBench {
  private val DefaultQueries = Seq(
    "q_streaming_funnel", "q_streaming_cdc", "q_streaming_trending",
    "q_streaming_rate_limit", "q_streaming_per_record",
    // both state-API forms of trending and the rate limiter + the restore
    // path: cold-benched by default so a perf regression in EITHER state
    // API (or the initial-state bootstrap) shows up in the artifact of
    // record. Since r12 q_streaming_trending IS the transformWithState
    // MapState form (_fmgws = the flatMapGroupsWithState twin) and
    // q_streaming_rate_limit_tws is the epoch-SWEPT re-plan (the original
    // per-group-timer form, 4.0×/decade, lives spec-side only).
    // Totals are not comparable across rounds; per-query values are.
    "q_streaming_trending_fmgws", "q_streaming_rate_limit_tws",
    "q_streaming_restore")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftSession.builder(cpus, shufflePartitions).getOrCreate()

    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val errors = scala.collection.mutable.Map.empty[String, String]
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    val config = s"""{"cpus":${q(cpus)},"shuffle_partitions":${q(shufflePartitions)},""" +
      f""""max_heap_gb":$heapGb%.1f,"passes":1,"estimator":"cold-first-run"}"""
    names.zipWithIndex.foreach { case (name, seq) =>
      System.gc()
      val t0 = System.nanoTime()
      // On failure the line carries NO "value" key (and empty "queries") so a
      // min-over-passes aggregation can never pick up an error sentinel — an
      // error is visible only in "errors" and the process exit code.
      val (qs, errJson, valueField) =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          val t = (System.nanoTime() - t0) / 1e9
          (s"{${q(name)}:$t}", "{}", s""""value":$t,""")
        } catch {
          case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            errors(name) = msg
            ("{}", s"{${q(name)}:${q(msg)}}", "")
        }
      println(s"""{"metric":"streaming_cold",$valueField""" +
        s""""unit":"sec","queries":$qs,"errors":$errJson,""" +
        s""""jvm_seq":$seq,"config":$config,"sf":"$sfDir"}""")
    }
    spark.stop()
    if (errors.nonEmpty) {
      errors.foreach { case (k, v) => System.err.println(s"[sbench] FAILED $k: $v") }
      sys.exit(1)
    }
  }
}
