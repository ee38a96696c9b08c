package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-testing stager: derives an N×-scale copy of the driver's test
  * substrate (the three tables the registered queries read — events,
  * documents, embeddings) by unioning id-shifted replicas, so Bench can
  * produce a data point one decade above the largest driver-provided scale
  * factor and SCALING.md can compare measured per-family scaling against the
  * designed plan shapes.
  *
  * Replication choices, and what they mean for the measurement:
  *   - `events`: event_id and user_id shift per replica → 10× rows AND 10×
  *     key cardinality (the symbol space grows with the data, as a real
  *     ingest's would). ts stays — 10 same-timestamp events are ordinary.
  *     The raw nanosecond ts column is copied verbatim (read with
  *     `nanosAsLong`), preserving the TIMESTAMP(NANOS) long-read path.
  *   - `documents`: doc_id shifts; replica i>0 appends a ' repl<i>' token.
  *     Exact-dup classes stay within-replica (the suffix differs), while
  *     every original doc gains 9 NEAR-duplicates at jaccard ≈ 0.95 — the
  *     boilerplate-heavy profile of a real crawl. Near-dup outputs therefore
  *     grow ~45 pairs per original doc BY CONSTRUCTION; SCALING.md accounts
  *     for that when reading those queries' times.
  *   - `embeddings`: vec_id shifts, vectors copy verbatim — every vector
  *     gains 9 exact duplicates (cosine 1.0), the densest possible ε-graph,
  *     an adversarial stress for the pair listing.
  *   - `orders`/`lineitem`: orderkey shifts per replica (custkey stays, so
  *     the customer dimension keeps its size and the orders-per-customer
  *     fan-out grows — the realistic fact/dimension asymmetry); lineitem
  *     rides the same orderkey shift so referential integrity holds by
  *     construction at every factor.
  *   - `customer`/`nation`/`region`/`supplier`/`part`: copied verbatim —
  *     dimensions don't scale with the fact tables.
  *
  * CONSTANT-DENSITY mode (`salted` as the 4th arg): the default replication
  * above is deliberately adversarial — every original doc gains 9 NEAR
  * duplicates and every vector 9 EXACT duplicates, so the true-pair output
  * of the dedup/similarity families grows ~quadratically in the factor and
  * their measured times conflate plan cost with output volume. Salted mode
  * makes each replica an INDEPENDENT epoch with the same internal duplicate
  * structure, so true pairs grow ~linearly and the measurement isolates plan
  * cost:
  *   - `documents`: replica i>0 RENAMES the whole vocabulary — every word
  *     w becomes `w~i`. The renaming is a token-space isomorphism, so every
  *     within-replica shingle-set relationship (jaccard, containment,
  *     span/chunk hashes, term frequencies) is EXACTLY the base corpus's,
  *     while replicas share zero shingles and zero terms (disjoint
  *     vocabularies — zero cross-replica candidates even at the
  *     prefix-filter stage). An earlier variant that replaced every 3rd
  *     word with one shared replica token measured 9–14× on 10× data: the
  *     high-frequency salt token manufactured spurious within-replica
  *     shingle overlap. n_chars tracks the rewritten text.
  *   - `embeddings`: replica i applies a SIGNED PERMUTATION of the 64
  *     dimensions (rotate by 7·i, flip sign on alternating indices) — an
  *     orthogonal transform, so every within-replica cosine is bit-exact
  *     preserved (pair structure replicates exactly) while cross-replica
  *     cosines scatter to ~0 (no cross-replica pairs at any sane ε).
  *   - events and the TPC-H tables replicate as in the default mode.
  *
  * FIXED-KEYS mode (`fixedkeys` as the 4th arg): the events table
  * replicates WITHOUT shifting user_id (event_id still shifts, so rows stay
  * unique) — N× the event volume over the BASE key population. This is the
  * resample analogue of the salted span study: output-grid-bounded plans
  * (keys × time-steps, e.g. `Features.resampleFill`) hold their output
  * CONSTANT while input grows, so an alternated fixed-keys decade isolates
  * the non-output term of their cost — if time stays ~flat, the default
  * substrate's ~10×/decade is measured (not argued) to be output rows, not
  * plan degradation. All other tables replicate as in the default mode.
  *
  * Usage: ScaleData <srcSfDir> <destDir> <factor> [salted|fixedkeys]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleData <srcSfDir> <destDir> <factor> [salted|fixedkeys]")
    val Array(src, dest, factorStr) = args.take(3)
    val mode = if (args.length == 4) args(3) else ""
    require(mode == "" || mode == "salted" || mode == "fixedkeys",
      s"unknown mode '$mode' (expected 'salted' or 'fixedkeys')")
    val salted = mode == "salted"
    val fixedKeys = mode == "fixedkeys"
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus, cpus).getOrCreate()

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_ unionByName _)

    val ev = spark.read.parquet(s"$src/events.parquet")
    val evN = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val userN = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    replicate(ev) { (d, i) =>
      val uid =
        if (fixedKeys) col("user_id") // key population pinned to the base
        else col("user_id") + lit(i) * userN
      d.select(
        (col("event_id") + lit(i) * evN).as("event_id"), col("ts"),
        uid.as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$dest/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docN = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    replicate(docs) { (d, i) =>
      val text =
        if (i == 0) col("text")
        else if (!salted) concat(col("text"), lit(s" repl$i"))
        else array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"~$i"))),
          " ")
      d.select(
        (col("doc_id") + lit(i) * docN).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        (if (i == 0) col("n_chars")
         else if (!salted) col("n_chars") + lit(s" repl$i".length)
         else length(text).cast("long")).as("n_chars"))
    }.write.mode("overwrite").parquet(s"$dest/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecN = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    replicate(emb) { (d, i) =>
      val vec =
        if (i == 0 || !salted) col("embedding")
        else transform(sequence(lit(0), lit(dims - 1)), j =>
          element_at(col("embedding"), ((j + lit(i * 7)) % dims) + 1) *
            when((j + lit(i)) % 2 === 0, lit(1.0f)).otherwise(lit(-1.0f)))
      d.select((col("vec_id") + lit(i) * vecN).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    val ordN = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    replicate(ord) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i) * ordN)
    }.write.mode("overwrite").parquet(s"$dest/orders.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    replicate(li) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i) * ordN)
    }.write.mode("overwrite").parquet(s"$dest/lineitem.parquet")

    Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }

    println(s"staged ${factor}x of $src at $dest" +
      (if (salted) " (salted: constant duplicate density)"
       else if (fixedKeys) " (fixedkeys: base event-key population)"
       else ""))
    spark.stop()
  }
}
