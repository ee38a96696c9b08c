package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Subword (BPE) tokenization — the one first-class LLM-pipeline stage the
  * corpus operators previously lacked: everywhere else token accounting is
  * whitespace-word based, but sequence packing and context-window budgeting
  * are written in MODEL tokens. This module trains greedy byte-pair merge
  * rules over the corpus and encodes documents with them, so downstream
  * budgets (see `q_pack_greedy_tokens`) can be expressed in subword tokens.
  *
  * Training is the repo's bounded-model-artifact move: word TYPES and their
  * frequencies are one distributed hash aggregate (top `vocabCap` types by
  * frequency, deterministic tie-break), then the merge loop runs driver-side
  * over ≤ vocabCap short strings with INCREMENTAL pair-count maintenance
  * (inverted pair→type index + lazy-invalidation heap), so each merge costs
  * only the types containing the winning pair — measured: 32,768 merges
  * over a 100k-type vocabulary in 74 s (`BENCH_r12_bpe_probe.txt`; the
  * original rescan-everything loop, kept as the spec baseline, is
  * O(numMerges · Σ|type|) ≈ hours at that depth) — and the cost is
  * independent of corpus row count, exactly like the language-ID profiles
  * and IVF centroids. The *corpus-sized* work (the encode pass) stays fully
  * distributed.
  *
  * Encoding at scale: real tokenizer runtimes memoize word → tokens; here
  * the memo IS the model artifact (type-level tokenization of the training
  * vocabulary), applied map-side by the compiled
  * [[graft.functions.BpeMemoKernel]] — per-doc cost is split + one memo
  * lookup per word, no shuffle, and the memo is bounded by vocabCap
  * regardless of corpus size. Out-of-vocabulary words take an explicit
  * `<unk>` token (the capped-vocab policy; `encodeWord` remains exact for
  * any string and is what a memo-miss fallback pass would run).
  *
  * Semantics (mirrored nibble-for-nibble by the DuckDB oracle, which
  * re-trains the same merges in unrolled SQL iterations):
  *   - words = text split on single spaces, empties dropped;
  *   - initial tokens = the word's characters (no end-of-word marker);
  *   - each iteration counts ALL adjacent token pairs (overlapping included)
  *     weighted by word frequency, picks the most frequent pair with ties to
  *     the lexicographically least (left, right), and merges its
  *     occurrences left-to-right non-overlapping in every word;
  *   - training stops at `numMerges` or when no adjacent pair remains.
  */
object Bpe {

  /** One trained merge rule: `rank` is 1-based selection order and
    * `pairCount` the frequency-weighted adjacent-pair count that won the
    * iteration (part of the artifact so the oracle checks the training
    * trajectory, not just the end state).
    */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** A trained BPE model: the ranked merge table plus the type-level memo
    * (word → final tokens) for the training vocabulary.
    */
  final case class Model(merges: Seq[Merge], memo: Map[String, Seq[String]]) {

    /** Encode an arbitrary word by replaying the merge table from its
      * characters — exact for any string (used for memo misses and specs);
      * for training-vocabulary words this equals `memo(word)` by
      * construction.
      */
    def encodeWord(word: String): Seq[String] = {
      var toks: Vector[String] = word.map(_.toString).toVector
      merges.foreach { m => toks = applyMerge(toks, m.left, m.right) }
      toks
    }
  }

  /** Left-to-right greedy application of one merge rule to a token vector —
    * the ONE apply function shared by training (both trainers), encodeWord
    * and the oracle's unrolled replay, so "aaa" under (a,a) always becomes
    * ("aa","a") everywhere.
    */
  private def applyMerge(toks: Vector[String], a: String, b: String): Vector[String] = {
    if (toks.length < 2) toks
    else {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
  }

  /** Adjacent-pair frequency table of one token vector (pair → occurrences
    * WITHIN the word), used by the incremental trainer's delta updates.
    */
  private def adjacentPairs(toks: Vector[String]): Map[(String, String), Int] = {
    if (toks.length < 2) Map.empty
    else {
      val m = collection.mutable.Map.empty[(String, String), Int]
      var i = 0
      while (i + 1 < toks.length) {
        val k = (toks(i), toks(i + 1))
        m(k) = m.getOrElse(k, 0) + 1
        i += 1
      }
      m.toMap
    }
  }

  /** Train `numMerges` merge rules from the corpus. One distributed
    * aggregate builds the (word type, frequency) table — capped at
    * `vocabCap` types by (frequency desc, word asc), the same deterministic
    * cut the oracle replays — then the merge loop is pure driver compute
    * over the bounded type table.
    *
    * The loop maintains pair counts INCREMENTALLY: a pair → count map, a
    * pair → containing-type inverted index, and a lazy-invalidation priority
    * queue ordered by (count desc, left asc, right asc) — each merge touches
    * only the types that actually contain the winning pair, so training a
    * real 32k-merge vocabulary is minutes, not the hours the original
    * rescan-everything loop (kept as [[trainRescan]], the differential spec
    * baseline) would take. Identical merge trajectory by construction: the
    * counts are the same quantities, the winner is the unique minimum under
    * the same total order, and stale queue entries are discarded on pop by
    * checking them against the live count map.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      vocabCap: Int = 100000): Model = {
    require(numMerges > 0, s"train: numMerges must be positive, got $numMerges")
    val types: Array[(String, Long)] = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(vocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    val freqs: Array[Long] = types.map(_._2)
    val toks: Array[Vector[String]] = types.map(_._1.map(_.toString).toVector)
    val counts = collection.mutable.Map.empty[(String, String), Long]
    val occurs = collection.mutable.Map.empty[(String, String), collection.mutable.Set[Int]]
    val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String, Ordering.String)
    val pq = new java.util.PriorityQueue[(Long, String, String)](
      math.max(16, types.length), ord)
    def bump(p: (String, String), delta: Long, wi: Int, nowPresent: Boolean): Unit = {
      val n = counts.getOrElse(p, 0L) + delta
      if (n <= 0L) counts.remove(p) else counts(p) = n
      val set = occurs.getOrElseUpdate(p, collection.mutable.Set.empty[Int])
      if (nowPresent) set += wi else set -= wi
      if (n > 0L) pq.add((n, p._1, p._2))
    }
    toks.indices.foreach { wi =>
      adjacentPairs(toks(wi)).foreach { case (p, c) =>
        counts(p) = counts.getOrElse(p, 0L) + c * freqs(wi)
        occurs.getOrElseUpdate(p, collection.mutable.Set.empty[Int]) += wi
      }
    }
    counts.foreach { case ((l, r), n) => pq.add((n, l, r)) }

    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // pop until a live entry: stale entries (superseded counts, exhausted
      // pairs) are discarded by comparing against the live map
      var best: Option[(String, String, Long)] = None
      while (best.isEmpty && !pq.isEmpty) {
        val (n, l, r) = pq.poll()
        if (counts.getOrElse((l, r), 0L) == n) best = Some((l, r, n))
      }
      best match {
        case None => done = true
        case Some((a, b, c)) =>
          merges += Merge(rank, a, b, c)
          occurs.getOrElse((a, b), collection.mutable.Set.empty[Int])
            .toArray.foreach { wi =>
              val oldT = toks(wi)
              val newT = applyMerge(oldT, a, b)
              val f = freqs(wi)
              val oldP = adjacentPairs(oldT)
              val newP = adjacentPairs(newT)
              oldP.foreach { case (p, cOld) =>
                val cNew = newP.getOrElse(p, 0)
                if (cNew != cOld) bump(p, (cNew - cOld).toLong * f, wi, cNew > 0)
              }
              newP.foreach { case (p, cNew) =>
                if (!oldP.contains(p)) bump(p, cNew.toLong * f, wi, nowPresent = true)
              }
              toks(wi) = newT
            }
          occurs.remove((a, b))
          counts.remove((a, b))
          rank += 1
      }
    }
    Model(merges.result(),
      types.indices.map(wi => (types(wi)._1, toks(wi): Seq[String])).toMap)
  }

  /** The original rescan-everything trainer — O(numMerges × Σ|type|), kept
    * ONLY as the differential baseline BpeSpec checks [[train]]'s
    * incremental bookkeeping against (same merge table, same memo).
    */
  private[graft] def trainRescan(docs: DataFrame, textCol: String, numMerges: Int,
      vocabCap: Int = 100000): Model = {
    require(numMerges > 0, s"train: numMerges must be positive, got $numMerges")
    val types: Array[(String, Long)] = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(vocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

    var state: Array[(String, Long, Vector[String])] =
      types.map { case (w, f) => (w, f, w.map(_.toString).toVector) }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (_, f, toks) =>
        var i = 0
        while (i + 1 < toks.length) {
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // most frequent pair; ties to the lexicographically least (left, right)
        val ((a, b), c) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        merges += Merge(rank, a, b, c)
        state = state.map { case (w, f, toks) => (w, f, applyMerge(toks, a, b)) }
        rank += 1
      }
    }
    Model(merges.result(),
      state.map { case (w, _, toks) => (w, toks: Seq[String]) }.toMap)
  }

  /** The merge table as a DataFrame — the model artifact itself, registered
    * so the oracle verifies the full training trajectory (rank order, pair
    * choices, winning counts).
    */
  def mergeTable(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(model.merges.map(m =>
        Row(m.rank, m.left, m.right, m.left + m.right, m.pairCount)): _*),
      schema)
  }

  /** Encode `docs` with the trained model: per document, words in order are
    * mapped through the type→tokens memo (OOV → `<unk>`) and the flattened
    * token stream is fingerprinted. Returns
    * (doc_id, n_words, n_tokens, tokens_hash) where tokens_hash is
    * md5 of the space-joined token stream — a bit-exact witness of the full
    * encoding, not just its length.
    *
    * Shape (r16, guide §2.3/§2.4): the encode is a PURE PER-ROW function of
    * (text, memo), so it runs as one compiled map-side pass — the memo
    * rides as a reference object inside whole-stage codegen
    * ([[graft.functions.BpeMemoKernel]]), and the plan is scan → project →
    * filter with NO shuffle at all. The previous explode → broadcast-join →
    * collect_list/array_sort reassembly shuffled one struct row per corpus
    * WORD into a doc-keyed aggregate (measured at sf10: 27.5M exploded
    * rows, a 2.76 GB exchange) to rebuild an order the scan already had.
    * Zero-word documents are absent.
    */
  def encode(docs: DataFrame, textCol: String, model: Model): DataFrame = {
    val kernel = memoKernel(model)
    docs
      // zero-word exclusion BEFORE the kernel projection: n_words > 0 ⟺ the
      // text has a non-space character ⟺ trim(text) ≠ '' — filtering on the
      // raw column keeps the predicate below the (expensive) kernel, where a
      // filter on e.n_words would be rewritten through the Project and
      // evaluate the whole encode twice per row (once in Filter, once in
      // Project — cross-operator CSE does not fire in codegen)
      .filter(trim(col(textCol)) =!= "")
      .select(col("doc_id"),
        graft.functions.NativeExpressions.bpeEncodeStats(col(textCol), kernel).as("e"))
      .select(col("doc_id"), col("e.n_words").as("n_words"),
        col("e.n_tokens").as("n_tokens"), col("e.tokens_hash").as("tokens_hash"))
  }

  /** The memo as a compiled-kernel carrier — entries sorted by word so the
    * carrier (and any plan containing it) is deterministic.
    */
  private def memoKernel(model: Model): graft.functions.BpeMemoKernel = {
    val entries = model.memo.toSeq.sortBy(_._1)
    new graft.functions.BpeMemoKernel(
      entries.map(_._1).toArray, entries.map(_._2.toArray).toArray)
  }

  /** Per-document subword token counts only — the packing/budgeting input
    * (doc_id, n_tokens). Same map-side kernel as [[encode]] minus the
    * fingerprint: scan → project, no shuffle (r16; was explode → broadcast
    * join → doc-keyed sum). Zero-word docs are absent, like the aggregate
    * form it replaced.
    */
  def tokenCounts(docs: DataFrame, textCol: String, model: Model): DataFrame = {
    val kernel = memoKernel(model)
    docs
      // zero tokens ⟺ zero words ⟺ trim(text) = '' (every word ≥ 1 token);
      // raw-column filter for the same single-evaluation reason as [[encode]]
      .filter(trim(col(textCol)) =!= "")
      .select(col("doc_id"),
        graft.functions.NativeExpressions.bpeTokenCount(col(textCol), kernel)
          .cast("int").as("n_tokens"))
  }

  /** Tokenizer-efficiency audit per source: chars-per-token and
    * tokens-per-word under the trained merge table — the fertility /
    * compression numbers a training pipeline tracks per corpus slice when
    * sizing token budgets (a source whose chars-per-token is far below the
    * corpus norm is either a different script or junk the tokenizer can't
    * compress). Composes [[tokenCounts]] (broadcast memo, one doc-keyed
    * aggregate) with one thin doc_id join back to the per-doc char/word
    * projection, then a bounded per-source aggregate — integer-exact sums,
    * two rounded divisions at the end.
    *
    * Returns (source, n_docs, sum_chars, sum_words, sum_tokens,
    * chars_per_token, tokens_per_word).
    */
  def compressionStats(
      docs: DataFrame, textCol: String, model: Model): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        size(split(col(textCol), " ")).cast("long").as("n_words"))
      .join(tokenCounts(docs, textCol, model), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        round(sum(col("n_chars")).cast("double") /
          sum(col("n_tokens").cast("long")), 6).as("chars_per_token"),
        round(sum(col("n_tokens").cast("long")).cast("double") /
          sum(col("n_words")), 6).as("tokens_per_word"))
}
