package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions

/** Deduplication operators for a training-data pipeline — beyond-reference
  * extensions (SURVEY §2.5 north star) over the `documents` table.
  *
  * Design constraints at 100 TB:
  *   - exact dedup is one hash-aggregate keyed by a compact content hash —
  *     never a window sort over full text;
  *   - near-dup candidate generation is an equi-join on LSH bucket keys —
  *     never an all-pairs cross join. The only pairs materialized are those
  *     sharing a bucket, and the exact similarity re-check runs on that
  *     candidate set alone.
  *
  * The per-row kernels (shingle-hashing, minhash signatures, simhash votes)
  * are native Catalyst expressions with codegen
  * ([[graft.functions.NativeExpressions]]) — Spark's higher-order functions
  * evaluate their lambdas interpreted per element, which dominated the profile
  * at corpus scale. The Column-combinator twins remain here as the executable
  * semantics (differential-tested against the native forms); no UDFs anywhere.
  */
object Dedup {

  /** Whitespace tokens of a document (the corpus is space-separated text). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles. Documents shorter than n tokens get an
    * empty shingle set.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** Distinct word n-gram shingles of an already-tokenized column — the
    * array-input twin of [[shingles]], for callers that slice or rewrite
    * the token array before shingling (e.g. [[lshCalibration]]'s prefix
    * truncations).
    */
  def shinglesOfTokens(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - lit(n)),
      i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + lit(j))): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** Benchmark DECONTAMINATION — flag corpus documents sharing any word
    * n-gram shingle with an evaluation/benchmark set (the overlap check every
    * training pipeline runs so eval data doesn't leak into training data).
    *
    * Shape at 100 TB: the benchmark side is small by nature — its DISTINCT
    * shingle hashes broadcast (8 bytes each, not strings), and the corpus
    * side is one explode + broadcast-hash-join + per-doc count, no shuffle of
    * corpus text. Joining on 64-bit xxhash64 shingle hashes instead of the
    * strings trades a ~n²/2⁶⁵ false-flag probability (vanishing, and
    * conservative in the flagging direction) for an 8-byte join key; swap
    * [[NativeExpressions.shingleHashes]] for [[shingles]] at the same call
    * shape if exact strings are required.
    *
    * Returns (doc_id, n_matched) — contaminated corpus docs with their
    * distinct matched-shingle counts.
    */
  def contaminated(
      corpus: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val bench = broadcast(
      benchmark
        .select(explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
        .distinct())
    corpus
      .select(col("doc_id"),
        explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
      .join(bench, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched")) // shingle hashes are distinct per doc
  }

  /** Contamination SCORE — [[contaminated]]'s flag refined to a fraction:
    * per corpus document, what share of its distinct shingles appears in
    * the benchmark set. The score (not just the flag) is what a curation
    * pipeline thresholds on — a 2% incidental overlap and a 90% verbatim
    * leak are different decisions. Same broadcast-hashed-shingle shape as
    * [[contaminated]], with a LEFT join so clean documents keep score 0;
    * documents too short to shingle (< n tokens) have no overlap defined
    * and are absent, exactly like [[contaminated]].
    *
    * Returns (doc_id, n_shingles, n_matched, contamination).
    */
  def contaminationScore(
      corpus: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val bench = broadcast(
      benchmark
        .select(explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
        .distinct()
        .withColumn("hit", lit(1)))
    corpus
      .select(col("doc_id"),
        explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
      .join(bench, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"), // shingle hashes are distinct per doc
        sum(coalesce(col("hit"), lit(0))).as("n_matched"))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** [[contaminated]] with a BLOOM PREFILTER on the corpus side — the shape
    * for benchmark sets too large to broadcast-join comfortably. A Bloom
    * filter over the benchmark's distinct shingle hashes (a bounded model
    * artifact: ~1.2 MB per million shingles at 1% fpp) rides inside codegen
    * via [[NativeExpressions.bloomMightContain]] and prunes corpus
    * shingles MAP-SIDE, before any join: only true matches plus an fpp
    * fraction of the corpus ever reach the exact re-check join, so when that
    * join must shuffle (benchmark beyond broadcast size), the shuffled volume
    * is ≈ matches + fpp × corpus instead of the whole exploded corpus.
    *
    * The exact hash join after the prefilter re-checks every survivor — no
    * false negatives exist by Bloom construction, so the output is
    * EXACTLY [[contaminated]]'s (same oracle).
    */
  def contaminatedBloom(
      corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val bench = benchmark
      .select(explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
      .distinct()
    // training phase: cache the distinct set across the two eager passes
    // (size, fill), then release — the lazy re-check join below rebuilds it
    // once at execution rather than pinning executor memory indefinitely
    bench.persist()
    val bloomRef =
      try {
        val nItems = math.max(bench.count(), 1L)
        NativeExpressions.BloomRef(bench.stat.bloomFilter("h", nItems, fpp))
      } finally bench.unpersist(blocking = false)
    corpus
      .select(col("doc_id"),
        explode(NativeExpressions.shingleHashes(col("text"), n)).as("h"))
      .filter(NativeExpressions.bloomMightContain(col("h"), bloomRef))
      // NO broadcast hint: a small bench side broadcasts under the planner's
      // threshold anyway, and a bench too large for broadcast — the case this
      // variant exists for — must be allowed to plan a shuffle join over the
      // bloom-pruned (≈ matches + fpp × corpus) survivor set
      .join(bench, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"))
  }

  /** Exact dedup by full content: keep the lowest-id row per distinct text.
    * Hash-groupBy on a 256-bit content hash (single shuffle, compact key);
    * `min_by` picks the deterministic survivor — no window sort, no second
    * pass over the corpus. SHA-256, not md5: this runs over untrusted
    * web-scale corpora where md5 collisions are trivially constructible, and
    * a collision here silently DELETES a document.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val allCols = struct(docs.columns.toIndexedSeq.map(col): _*)
    docs
      .groupBy(sha2(col(textCol).cast("binary"), 256).as("content_hash"))
      .agg(min_by(allCols, col(idCol)).as("kept"))
      .select(col("content_hash"), col("kept.*"))
  }

  /** Order-insensitive BAG-fingerprint duplicate groups — the template /
    * shuffled-boilerplate detector [[exact]] structurally misses: two
    * documents built from the same word set in a different order hash to
    * different content hashes but the SAME bag hash (md5 of the sorted
    * distinct token list). On the test corpus exact dedup finds 0 groups
    * while the bag fingerprint finds 21 at sf0.01 — generated boilerplate
    * and field-reordered records are exactly this shape in real crawls.
    *
    * Scale shape: one narrow map-side projection (split → array_distinct →
    * array_sort → md5, all codegen'd built-ins — the sort is per-row over a
    * document's distinct tokens, not a shuffle) and one hash aggregate keyed
    * by the 32-char hash. Identical single-shuffle profile to [[exact]].
    *
    * Returns (bag_hash, n_docs, survivor_id) for groups of ≥ 2 documents,
    * survivor = lowest doc_id (the repo's deterministic survivor rule).
    */
  def bagDuplicateGroups(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(concat_ws(" ",
        array_sort(array_distinct(split(col(textCol), " "))))).as("bag_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("survivor_id"))
      .filter(col("n_docs") >= 2)

  /** MinHash signature, Column-combinator form: for each of k hash
    * permutations, the minimum `xxhash64(h, j)` over a shingle-hash array.
    * Null for documents with no shingles. This is the executable definition
    * of the native `NativeExpressions.minhashSignature` (bit-identical, differential-tested)
    * — the hot path uses the native kernel.
    *
    * A note on expression structure, which dominates cost at scale: a Column
    * built from a reused Scala `val` DUPLICATES its expression tree at every
    * use site — there is no Catalyst-level sharing. Expensive derived arrays
    * must therefore be materialized as their own projection alias and
    * referenced as an attribute (CollapseProject deliberately refuses to
    * inline non-cheap aliases referenced more than once).
    */
  def minhashSignatureFromHashes(hs: Column, k: Int): Column =
    when(size(hs) > 0,
      array((0 until k).map { j =>
        array_min(transform(hs, h => xxhash64(h, lit(j))))
      }: _*))

  /** Near-duplicate pairs by word-n-gram Jaccard, via banded MinHash LSH.
    *
    * Candidate generation: the k-permutation signature splits into bands of
    * `bandSize` (r) rows each; docs agreeing on ALL r minhashes of any band
    * (bucket key = hash of the band's minhash slice) become candidates — an
    * equi-join on bucket keys, never all-pairs. A pair with Jaccard J misses
    * every band with probability (1 - J^r)^(k/r): with the defaults r=3,
    * b=21 that is 1.5e-4 at J=0.7 and 6e-13 at J=0.9.
    *
    * r > 1 matters on corpora with a small shared vocabulary (like this
    * substrate, 31 words): with r=1 the globally-common shingles make a few
    * buckets hold most of the corpus, and the candidate join degenerates
    * toward quadratic with extreme skew. Requiring r simultaneous minima to
    * agree shrinks false-candidate probability from J to J^r per band —
    * the difference between a skew-bound join and a sparse one at 100 TB.
    *
    * Every candidate pair is then re-checked with EXACT Jaccard over the
    * shingle sets, so the output is precisely the candidate pairs with
    * jaccard >= threshold — SQL-oracle-checkable by brute force wherever the
    * corpus's similarity histogram keeps the banding's miss probability
    * negligible at the threshold (pairs just above threshold are the ones at
    * risk; here the nearest pair sits at J=0.90).
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  /** (id, sh) shingle-hash sets of the non-empty docs — the shared front of
    * every MinHash path. Native one-pass kernels (graft.functions.Kernels):
    * shingle hashes straight off the text bytes. The exact-Jaccard re-checks
    * downstream also run on these hashed shingle SETS
    * (array_intersect/array_union over longs — codegen'd, an order of
    * magnitude cheaper than string-set operations); |A∩B|/|A∪B| over 64-bit
    * hashes equals the string-shingle Jaccard unless two distinct shingles of
    * the same pair collide (P < |A∪B|² / 2^64 ≈ 1e-14 per pair).
    */
  private def shingled(df: DataFrame, n: Int, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        NativeExpressions.shingleHashes(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (id, bkts, band, bkt) banded-MinHash bucket keys over a [[shingled]]
    * frame: all k permutation minima in one native scan, then one bucket key
    * per band — hash of the band's r-minhash slice (+ band id so equal
    * slices in different bands stay distinct buckets). Each exploded row
    * also CARRIES the doc's full bucket array `bkts` (nBands longs), which
    * is what lets the candidate joins dedup pairs join-side (below) instead
    * of through a pair-keyed distinct aggregate. SHARED by the self-join
    * ([[nearDuplicatePairs]]) and cross-side ([[incrementalNearDedup]])
    * candidate generators — tuning the banding scheme in one place cannot
    * desynchronize their candidate recall.
    *
    * The rows come from exploding the literal band ids and reading each
    * band's key with `element_at`, not from `posexplode(bkts)`: for a
    * generator over a column Catalyst infers `size(bkts) > 0` and pushes it
    * below these projections with the aliases substituted, and that Filter
    * (no common-subexpression elimination) recomputed the shingle hashes
    * and MinHash signature once per band, 21 times per document. Over a
    * literal array it infers nothing. Every index is in range, so a key is
    * never null; `coalesce` says so to Catalyst when ANSI mode is off (where
    * `element_at` is nullable), so the bucket joins infer no `IsNotNull`
    * filter either.
    */
  private def bandBuckets(withSh: DataFrame, k: Int, bandSize: Int): DataFrame = {
    require(k % bandSize == 0, s"k=$k must be a multiple of bandSize=$bandSize")
    val nBands = k / bandSize
    withSh
      .select(col("id"), NativeExpressions.minhashSignature(col("sh"), k).as("sig"))
      .select(col("id"),
        array((0 until nBands).map { b =>
          xxhash64(lit(b), slice(col("sig"), b * bandSize + 1, bandSize))
        }: _*).as("bkts"))
      .select(col("id"), col("bkts"), explode(array((0 until nBands).map(lit): _*)).as("band"))
      .withColumn("bkt", coalesce(element_at(col("bkts"), col("band") + 1), lit(0L)))
  }

  /** The join-side candidate dedup (r16, guide §2.3/§2.4): a pair agreeing
    * in m bands is emitted by the bucket equi-join m times, and the old
    * `.distinct()` paid for that multiplicity as an aggregate over the RAW
    * candidate stream — measured at sf10 (100-replica groups): 488M
    * pre-distinct rows, a 33 GB spill in the partial aggregate (22 GB peak,
    * 32 tasks falling back to sort) and a 382M-row exchange, for 28M
    * distinct pairs. Keeping a candidate only where its band equals the
    * pair's FIRST agreeing band ([[NativeExpressions.firstIndexEqual]] over
    * the two carried bucket arrays — one compiled ≤nBands-long loop) emits
    * every candidate pair EXACTLY once inside the join stage: no aggregate,
    * no spillable state, no extra exchange. The candidate SET is identical
    * by construction (each true candidate agrees somewhere, and its first
    * agreement is unique).
    */
  private def firstAgreeingBand(a: String, b: String): Column =
    col(s"$a.band") ===
      NativeExpressions.firstIndexEqual(col(s"$a.bkts"), col(s"$b.bkts"))

  def nearDuplicatePairs(
      docs: DataFrame,
      n: Int = 3,
      k: Int = 63,
      bandSize: Int = 3,
      threshold: Double = 0.7,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val withShingles = shingled(docs, n, textCol, idCol)
    val buckets = bandBuckets(withShingles, k, bandSize)
    // merge hint: with the carried bkts arrays the bucket side crosses the
    // broadcast threshold at SMALL scale, and a broadcast here is strictly
    // worse than the shuffle — the two join inputs are the SAME subtree, so
    // the shuffled form computes the shingle+minhash pipeline ONCE and
    // serves both sides from a ReusedExchange, while a broadcast computes
    // it twice (build side + streamed side) and collects it to the driver.
    // At scale the join is sort-merge anyway; the hint just pins the small
    // end to the same shape.
    val candidates = buckets.as("a")
      .join(buckets.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .filter(firstAgreeingBand("a", "b"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))

    // exact re-check: the two set joins build their hash table from the
    // bounded per-partition sets side and STREAM the pair side
    // (shuffled-hash, guide §3.1) — the sort-merge default sorted the
    // array-carrying pair stream (measured sf10: 22 GB sort peak over a
    // 13.3 GB exchange before the second join)
    val sets = withShingles.select(col("id"), col("sh"))
    candidates
      .join(sets.select(col("id").as("doc_a"), col("sh").as("sh_a"))
        .hint("shuffle_hash"), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directional containment pairs: (doc_a, doc_b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold — doc_a is
    * (near-)CONTAINED in doc_b. This is the dedup axis Jaccard-banded LSH
    * structurally misses: a truncated copy (300-word excerpt of a 10k-word
    * original) has containment ≈ 1 but Jaccard ≈ 0.03, so no Jaccard band
    * fires; catching subset copies needs its own candidate generator.
    *
    * Candidates come from a PPJoin-style rarest-prefix filter, which is
    * EXACT (never drops a true pair, by pigeonhole): if containment(a→b) ≥ t
    * then |A∩B| ≥ ceil(t·|A|), while A minus its prefix (the
    * |A| − ceil(t·|A|) + 1 globally-rarest shingles of A) has only
    * ceil(t·|A|) − 1 elements — so at least one SHARED shingle lies in a's
    * prefix, and the prefix ⋈ all-instances equi-join on the shingle hash
    * emits the pair. Every candidate is then re-checked with the exact
    * containment over the full shingle-hash sets.
    *
    * Between candidate generation and the array re-check sit PPJoin's two
    * cheap EXACT prunes (both provably never drop a true pair):
    *
    *  - length filter: |A∩B| ≤ |B|, so containment(a→b) ≥ t needs
    *    |B| ≥ ceil(t·|A|) — applied per matched row, inside the join.
    *  - positional filter: both docs' shingle lists are ranked by the SAME
    *    global total order (df asc, hash asc). For a candidate pair let
    *    m = |prefix(A) ∩ B| (the join emits exactly these matches), and let
    *    e* be the matched element ranked LAST in A (rank i* in A, j* in B).
    *    Every shared shingle outside A's prefix is ordered strictly after
    *    e* — in A by prefix construction, hence in B too, both lists being
    *    sorted by the one global order — so it occupies a B-rank in
    *    (j*, |B|]. Thus |A∩B| ≤ m + min(|A|−i*, |B|−j*), and a pair with
    *    that bound below ceil(t·|A|) is pruned before any array is shuffled.
    *
    * Why this matters at scale: the candidate join is input-linear, but the
    * re-check attaches the full shingle arrays (~0.5 KB/pair) through two
    * shuffling joins — measured at 100× (sf10s, 500k docs) the unfiltered
    * re-check moved 69M candidate pairs / 39 GB through the doc_b exchange
    * and spilled 36 GB in its sort, for 51k true rows. The two prunes cost
    * one narrow groupBy (replacing the distinct() the plan needed anyway)
    * and cut the array-carrying joins to the near-survivors.
    *
    * The prunes above are rank-arithmetic and go soft when candidate docs
    * have near-identical length/rarity profiles (measured: only 57M → 46M
    * on the 100× corpus), so a third EXACT prune sits between them and the
    * array re-check: a 256-bit per-doc Bloom mask (4 long columns, bit
    * index = low 8 bits of the shingle hash). Every bit set in
    * bloom_a & ~bloom_b is witnessed only by elements of A∖B, so
    * |A∖B| ≥ popcount(bloom_a & ~bloom_b) and
    * |A∩B| ≤ |A| − popcount(bloom_a & ~bloom_b) — a sound upper bound that
    * costs two 32-byte-payload joins instead of two 0.5-KB-payload joins,
    * entirely in codegen'd bitwise ops. Only its survivors (true pairs plus
    * hash-collision borderliners) ever see a shingle array.
    *
    * Scale shape: one document-frequency aggregate, one per-doc sort to rank
    * shingles by global rarity (window keyed by doc — partition-bounded by
    * the doc's own shingle count), then the candidate equi-join. The probe
    * side carries only RAREST shingles — the prefix filter is also the skew
    * guard, since high-df (stopword-like) shingles are exactly the ones the
    * prefix excludes; the containing side must keep all instances
    * (containment is directional). Candidate volume is Σ_h df_prefix(h) ·
    * df(h) — bounded far below the Σ df² of a naive shingle self-join.
    *
    * OUTPUT WALL (measured r14): on the adversarial replica substrate at
    * sf10 (every base doc with 100 mutual near-duplicates) the exact
    * re-check's shuffle spill exceeded a 69 GB disk — true-pair output is
    * ∝ duplicate-group-size², and NO execution strategy makes a quadratic
    * output linear. Deploy-scale guidance: run exact/near dedup FIRST (all
    * registered pipelines do) so containment sees bounded duplicate
    * groups; on salted (bounded-group) substrates the identical plan reads
    * 1.9–2.8×/decade, and the dedup-first order is itself MEASURED on the
    * wall's own substrate (r14, `BENCH_r14_containment_guarded.jsonl`): containment
    * over the 4,756 near-dup survivors of the same 500k-doc corpus costs
    * 4.6 s with zero disk pressure. Since r15 that guarded composition is
    * a REGISTERED, oracle-backed query — `q_dedup_containment_guarded`
    * ([[nearDedupLabels]] → [[survivorsOf]] → this) — so uncurated-corpus
    * callers have a first-class scale-safe surface; this unguarded form
    * stays registered for the already-deduplicated input it assumes.
    *
    * Returns (doc_a, doc_b, containment), containment rounded to 6 dp and
    * thresholded on the unrounded value (same contract as cosinePairs).
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.6,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    val withSz = shingled(docs, n, textCol, idCol)
      .select(col("id"), col("sh"), size(col("sh")).as("n_sh"))
    val exploded = withSz.select(col("id"), col("n_sh"), explode(col("sh")).as("h"))
    val dfreq = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    // every shingle of every doc, ranked by the one global rarity order —
    // feeds BOTH join sides so the positional filter's rank comparison is
    // against a shared total order (the window exchange is reused)
    val ranked = exploded.join(dfreq, "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .select(col("id"), col("n_sh"), col("h"), col("rn"))
    val prefix = ranked.filter(col("rn") <=
      col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
    val minOverlap = ceil(lit(threshold) * col("n_a"))
    val candidates = prefix
      .select(col("id").as("doc_a"), col("n_sh").as("n_a"),
        col("h"), col("rn").as("rn_a"))
      .join(ranked.select(col("id").as("doc_b"), col("n_sh").as("n_b"),
        col("h"), col("rn").as("rn_b")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b") && col("n_b") >= minOverlap)
      .groupBy("doc_a", "n_a", "doc_b", "n_b")
      .agg(count(lit(1)).as("m"),
        max(col("rn_a")).as("i_star"),
        max_by(col("rn_b"), col("rn_a")).as("j_star"))
      .filter(col("m") +
        least(col("n_a") - col("i_star"), col("n_b") - col("j_star")) >=
        minOverlap)
    // 256-bit Bloom mask per doc as four long words; bit = low 8 bits of
    // the 64-bit shingle hash (uniform by construction of the hash)
    def bloomWords(shCol: String): Seq[Column] = (0 until 4).map { w =>
      expr(s"aggregate(filter($shCol, x -> ((x & 255L) div 64) = $w), 0L," +
        s" (acc, x) -> acc | shiftleft(1L, int(x & 63L)))").as(s"bf$w")
    }
    val bloomTbl = withSz.select(col("id") +: bloomWords("sh"): _*)
    def rename(suffix: String) = bloomTbl.select(
      col("id").as(s"doc_$suffix") +:
        (0 until 4).map(w => col(s"bf$w").as(s"bf${w}_$suffix")): _*)
    val diffBits = (0 until 4).map(w =>
      bit_count(col(s"bf${w}_a").bitwiseAND(bitwise_not(col(s"bf${w}_b")))))
      .reduce(_ + _)
    val survivors = candidates
      .join(rename("a"), "doc_a")
      .join(rename("b"), "doc_b")
      .filter(col("n_a") - diffBits >= minOverlap)
      .select(col("doc_a"), col("doc_b"))
    val sets = withSz.select(col("id"), col("sh"))
    survivors
      .join(sets.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a"))).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("raw"), 6).as("containment"))
  }

  /** Brute-force containment — every ordered pair re-checked via a cross
    * join. Spec-side differential baseline for [[containmentPairs]] ONLY
    * (quadratic by construction; never registered as a serving plan).
    */
  def bruteForceContainmentPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.6,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val sets = shingled(docs, n, textCol, idCol)
    sets.select(col("id").as("doc_a"), col("sh").as("sh_a"))
      .crossJoin(sets.select(col("id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a"))).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("raw"), 6).as("containment"))
  }

  /** Incremental (cross-snapshot) near-dedup: score an INCOMING batch against
    * an already-curated EXISTING corpus without re-deduplicating the corpus —
    * the shape every continuously-ingesting pipeline runs per batch. Each
    * incoming document is matched to its best near-duplicate in the existing
    * corpus (highest exact n-gram Jaccard >= threshold, ties to the lowest
    * existing id), or marked new.
    *
    * Candidates come from the same banded-MinHash bucket join as
    * [[nearDuplicatePairs]], but joined CROSS-SIDE only (incoming buckets ⋈
    * existing buckets) — batch × corpus candidate generation never compares
    * corpus rows to each other, so the per-batch cost scales with the batch,
    * not the corpus. Every candidate is re-checked with exact Jaccard over
    * the shingle-hash sets.
    *
    * Returns one row per incoming document: (doc_id, matched_id, jaccard)
    * with matched_id = -1 and jaccard = 0.0 for new documents (sentinels, not
    * NULLs, so the output is join- and comparison-friendly downstream).
    */
  def incrementalNearDedup(
      existing: DataFrame,
      incoming: DataFrame,
      n: Int = 3,
      k: Int = 63,
      bandSize: Int = 3,
      threshold: Double = 0.7,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val exSh = shingled(existing, n, textCol, idCol)
    val incSh = shingled(incoming, n, textCol, idCol)
    // pairs dedup'd join-side by the first-agreeing band (see
    // [[firstAgreeingBand]]) — same candidate set as the old `.distinct()`,
    // no pair-keyed aggregate
    val candidates = bandBuckets(incSh, k, bandSize).as("i")
      .join(bandBuckets(exSh, k, bandSize).as("e"),
        col("i.band") === col("e.band") && col("i.bkt") === col("e.bkt"))
      .filter(firstAgreeingBand("i", "e"))
      .select(col("i.id").as("inc_id"), col("e.id").as("ex_id"))

    val best = candidates
      .join(incSh.select(col("id").as("inc_id"), col("sh").as("sh_i")), "inc_id")
      .join(exSh.select(col("id").as("ex_id"), col("sh").as("sh_e")), "ex_id")
      .select(col("inc_id"), col("ex_id"),
        (size(array_intersect(col("sh_i"), col("sh_e"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_e")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy("inc_id")
      // best match on the UNROUNDED jaccard; -ex_id breaks ties toward the
      // lowest existing id under max_by's greatest-key semantics
      .agg(max_by(struct(col("ex_id"), col("jaccard")),
        struct(col("jaccard"), negate(col("ex_id")))).as("m"))
      .select(col("inc_id"), col("m.ex_id").as("matched_id"),
        col("m.jaccard").as("jaccard"))

    incoming.select(col(idCol))
      .join(best.withColumnRenamed("inc_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("matched_id"), lit(-1L)).as("matched_id"),
        round(coalesce(col("jaccard"), lit(0.0)), 6).as("jaccard"))
  }

  /** Canonical-id labeling of the near-duplicate graph: every document gets
    * the MINIMUM doc id reachable through near-duplicate pairs (connected
    * components via min-label propagation), so "keep one per near-dup
    * cluster" = keep rows where doc_id == canonical_id. This is the actual
    * dedup operation a training pipeline runs on the pair list — pairs alone
    * under-delete when A~B and B~C but A!~C.
    *
    * Distributed shape: iterative label propagation — per round, each node
    * takes the min of its own label and its neighbors' labels (one join +
    * one hash-aggregate), converging in graph-diameter rounds; near-dup
    * components are shallow in practice (duplicates of a common source).
    * Convergence is detected by the (monotonically decreasing) label sum;
    * lineage is cut per round with localCheckpoint, the standard Spark
    * pattern for iterative graph algorithms. Never materializes the
    * transitive closure — the DuckDB oracle does, which is fine at oracle
    * scale and would be wrong at 100 TB.
    *
    * r15 plan trims (guide §2.4/§1.2): the edge set is checkpointed
    * HASH-PARTITIONED on the join key `u`, and LogicalRDD keeps that
    * outputPartitioning, so each round's edges⋈labels join moves only the
    * |V|-row label side — the |2E| edge shuffle is paid once, not per
    * round. Each round's labels checkpoint is LAZY and materialized by the
    * same job that computes the convergence sum: one job per round where
    * there were two.
    *
    * Returns (doc_id, canonical_id) for EVERY document (singletons map to
    * themselves).
    */
  def nearDedupLabels(
      docs: DataFrame,
      pairs: DataFrame,
      maxIterations: Int = 50,
      idCol: String = "doc_id"): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .repartition(col("u"))
      .localCheckpoint(true)
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("lbl"))
      .localCheckpoint(false)
    // coalesce: sum over ZERO rows is SQL NULL — an empty corpus must yield
    // the empty labeling, not an unboxing NPE. The agg is also the action
    // that materializes the lazy checkpoint — one job, not two.
    var prevSum = labels.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      val msgs = edges.join(labels, edges("u") === labels("id"))
        .select(col("v").as("id"), col("lbl"))
      labels = labels.union(msgs)
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(false)
      val s = labels.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    require(converged, s"label propagation did not converge in $maxIterations rounds")
    labels.select(col("id").as(idCol), col("lbl").as("canonical_id"))
  }

  /** Canonical (survivor) rows of a corpus under a [[nearDedupLabels]]
    * labeling: keep exactly the rows whose id IS their cluster's canonical
    * id. This is the dedup-first guard the r14 containment study measured:
    * any pair-listing operator whose true-pair output grows with
    * duplicate-group-size² ([[containmentPairs]], [[nearDuplicatePairs]])
    * becomes group-bounded when fed survivors instead of the raw corpus,
    * because every duplicate cluster collapses to ONE representative before
    * pairs are enumerated. One broadcast-or-shuffle equi-join on the id —
    * no text moves, labels are a 2-column long frame.
    */
  def survivorsOf(docs: DataFrame, labels: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.join(
      labels.filter(col(idCol) === col("canonical_id")).select(idCol),
      Seq(idCol))

  /** 64-bit SimHash over the document's word-3-gram shingles: bit b of the
    * fingerprint is the sign of sum over shingles of (+1 if bit b of
    * xxhash64(shingle) else -1). Shingles, not unigram tokens: on corpora
    * with a small shared vocabulary every document contains nearly the same
    * token SET, which collapses token-level simhashes onto a few values and
    * blows up the banded join; shingles carry word order and keep the
    * fingerprints spread.
    *
    * Convenience single-Column form — the 64 per-bit votes each re-derive the
    * shingle pipeline, fine for fixtures. The served form is
    * [[fingerprintDFPortable]], which materializes the shingle-hash array
    * once per row (see the expression-structure note on
    * [[minhashSignatureFromHashes]]).
    */
  def simhash64(text: Column, n: Int = 3): Column =
    simhashFromHashes(transform(shingles(text, n), t => xxhash64(t)))

  /** The 64 per-bit majority votes over a materialized hash-array column —
    * the Column-combinator twin of the native `NativeExpressions.simhash64` kernel
    * (differential-tested in NativeKernelsSpec).
    */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** (id, fp) simhash fingerprints from ENGINE-PORTABLE shingle hashes: each
    * distinct word-n-gram shingle hashes to the first 15 hex chars of its md5
    * read as a base-16 integer — a 60-bit value both Spark (`conv`) and a SQL
    * oracle (hex-nibble arithmetic) can recompute exactly. The 60-bit hashes
    * feed the one-pass native vote kernel (`NativeExpressions.simhash64`):
    * bits 60–63 are 0 in every hash, so their votes are all −1 and those
    * fingerprint bits come out 0 — i.e. the kernel computes precisely the
    * 60-bit simhash. md5, not xxhash64, so that the oracle can replay it;
    * same move as [[graft.functions.NativeExpressions.wordWindowMd5]].
    */
  def fingerprintDFPortable(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol).as("id"),
        NativeExpressions.shingleMd5Hashes60(col(textCol), n).as("hs"))
      // docs with no shingles have no content signal: without this filter
      // they would all fingerprint to 0 and emit each other as hamming-0
      // "near-duplicates"
      .filter(size(col("hs")) > 0)
      .select(col("id"), NativeExpressions.simhash64(col("hs")).as("fp"))

  /** Column-combinator twin of the native `NativeExpressions.shingleMd5Hashes60` kernel
    * (bit-identical, differential-tested in NativeKernelsSpec) — the
    * executable definition of the portable 60-bit shingle hash; the serving
    * path above uses the fused kernel (the per-shingle interpreted
    * md5-lambda made the registered query ~20× slower at sf0.1).
    */
  def portableShingleHashes(text: Column, n: Int): Column =
    transform(shingles(text, n),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))

  /** Near-duplicate pairs by SimHash hamming distance <= maxHamming over
    * the md5-derived portable fingerprints ([[fingerprintDFPortable]]), with
    * band-join candidate generation: the fingerprint splits into
    * (maxHamming + 1) bands, and by pigeonhole any pair within maxHamming
    * bit flips agrees exactly on at least one band — so the band equi-join
    * has GUARANTEED recall, no all-pairs comparison anywhere. 60-bit
    * fingerprints band exactly like 64-bit ones whose top 4 bits are
    * constant-0, and the DuckDB oracle replays the whole pipeline.
    *
    * Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    */
  def simhashNearDuplicatesPortable(
      docs: DataFrame,
      maxHamming: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    simhashBandPairs(
      fingerprintDFPortable(docs, textCol = textCol, idCol = idCol), maxHamming)

  /** The banded pair join over an (id, fp) fingerprint table (see
    * [[simhashNearDuplicatesPortable]]).
    */
  def simhashBandPairs(fps: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming " +
        "(>= 64 would zero the band keys and degrade the join to all-pairs)")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands

    val bands = fps.select(
      col("id"), col("fp"),
      posexplode(array((0 until nBands).map { b =>
        // band b: bits [b*bandBits, (b+1)*bandBits) (last band takes the rest)
        val width = if (b == nBands - 1) 64 - b * bandBits else bandBits
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftright(col("fp"), b * bandBits).bitwiseAND(mask)
      }: _*)).as(Seq("band", "key")))

    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One (doc_id, whash) row per `w`-word sliding window — the exploded
    * window-fingerprint table behind SPAN-level exact dedup (finding
    * verbatim w-token passages repeated across documents, the
    * substring-granularity complement of [[exact]] whole-doc dedup and the
    * [[nearDuplicatePairs]] doc-level near-dup family; the classic
    * single-node tool is a suffix array over the whole corpus, which does
    * not distribute — sliding window hashes do).
    *
    * Shape at 100 TB: a map-side explode (×~tokens-per-doc rows, each a
    * 32-byte hash — not text), feeding hash-partitioned aggregates. No join
    * of raw text, no driver state; `w` sets the granularity/blowup
    * trade-off. Window hashes are md5 of the window TEXT (portable across
    * engines, like the Sampling coordinates), computed by the codegen'd
    * [[NativeExpressions.wordWindowMd5]] kernel.
    *
    * MEASURED CONSTANT (r13, both decades, replica AND salted substrates —
    * `BENCH_r13_triage2.jsonl` / `BENCH_r13_spans_salted.jsonl`): the span
    * family's wall-clock trend is ~4.3–4.8× per 10× data, identical on the
    * zero-shared-shingle salted substrate, so the cost is the exploded
    * linear floor itself — ≈1 window-hash row shuffled PER CORPUS WORD
    * (each ~16 B binary hash + 8 B id on the wire; ~5 rows per corpus word
    * only in the sense that the downstream agg/join touches each hash a
    * handful of times). Sublinear per decade but within a decade of the
    * wall: a 100 TB (~15T-word) corpus shuffles ~15T hash rows ≈ 300+ TB
    * through one exchange. Deploy-scale mitigations, in preference order:
    * (a) per-partition PRE-AGGREGATION of window counts before the exchange
    * (partial_count(whash) — cuts shuffle rows by the within-partition
    * duplication factor; free to add, Catalyst already plans the partial
    * agg for [[duplicateSpans]]); (b) a coarser STRIDE (hash every s-th
    * window instead of every window — shuffle volume ÷ s, detection
    * granularity w+s−1 words); (c) a cheap 8-byte xxhash64 in place of md5
    * when cross-engine portability is not needed (halves wire bytes).
    */
  def spanWindows(
      docs: DataFrame, w: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      explode(NativeExpressions.wordWindowMd5(col(textCol), w)).as("whash"))

  /** Column-combinator twin of [[NativeExpressions.wordWindowMd5]] — the
    * executable definition (differential-tested in NativeKernelsSpec): \s+
    * tokens, windows of `w` joined by single spaces, md5 hex each.
    */
  def wordWindowMd5Composed(text: Column, w: Int): Column = {
    val toks = filter(split(text, "\\s+"), t => t =!= lit(""))
    // outer when: null text stays null (matching the native null-intolerant
    // expression), not an empty window set
    when(text.isNotNull,
      when(size(toks) >= w,
        transform(
          sequence(lit(0), size(toks) - w),
          i => md5(array_join(slice(toks, i + lit(1), lit(w)), " ")).cast("string")))
        .otherwise(array().cast("array<string>")))
  }

  /** Spans (w-word windows) appearing verbatim in at least `minDocs`
    * DISTINCT documents: (span_hash, n_docs, n_occ, first_doc). One
    * hash-aggregate over [[spanWindows]]; output is bounded by the
    * duplicated-span count, so the driver-visible result stays small even
    * when the window table is corpus-sized.
    */
  def duplicateSpans(
      docs: DataFrame, w: Int, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spanWindows(docs, w, textCol, idCol)
      .groupBy(col("whash").as("span_hash"))
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document duplicated-span coverage — the curation signal from
    * span-level dedup: how much of each document is verbatim-repeated
    * elsewhere in the corpus. Returns (doc_id, n_windows, n_dup_windows,
    * dup_ratio) for every document of at least `w` tokens, where a window
    * is "dup" when its hash occurs in >= 2 distinct documents.
    *
    * Shape at 100 TB: the window table is computed once and reused for both
    * sides; the dup-hash side is an aggregate projected to the hash alone,
    * and the flagging join is a hash equi-join on the 32-byte span hash
    * (both sides partition by it — no broadcast assumption: the duplicated
    * set is corpus-dependent and can be large). This is the steepest
    * registered trend in the engine (~4.8×/decade, measured identical on
    * replica and salted substrates — the [[spanWindows]] linear floor times
    * the two passes over the window table; see the constant and the
    * stride/pre-aggregation mitigations documented there before running it
    * at 100 TB).
    */
  def spanCoverage(
      docs: DataFrame, w: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val win = spanWindows(docs, w, textCol, idCol)
    val dup = win.groupBy(col("whash"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("whash"), lit(1).as("is_dup"))
    win.join(dup, Seq("whash"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("is_dup")).as("n_dup_windows"))
      .withColumn("dup_ratio",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
  }

  /** Incremental SPAN coverage — the continuous-ingest twin of
    * [[spanCoverage]], the same move [[incrementalNearDedup]] makes for
    * doc-level near-dup: for each INCOMING document, what fraction of its
    * w-word windows already exists verbatim anywhere in the EXISTING
    * corpus (the "how much of this crawl batch is old text" signal that
    * decides whether a batch is worth keeping).
    *
    * Shape at 100 TB: candidates are CROSS-SIDE only — per-batch cost
    * scales with the batch, never batch². The corpus side reduces to its
    * DISTINCT 32-byte window hashes once (incrementally maintainable as an
    * append-only hash table), and the flagging join is hash-partitioned on
    * the window hash — never broadcast, the corpus-side hash set is
    * corpus-scale.
    *
    * Returns (doc_id, n_windows, n_known_windows, known_ratio) for every
    * incoming doc of at least `w` tokens.
    */
  def incrementalSpanCoverage(
      existing: DataFrame, incoming: DataFrame, w: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val known = spanWindows(existing, w, textCol, idCol)
      .select(col("whash")).distinct()
      .withColumn("known", lit(1))
    spanWindows(incoming, w, textCol, idCol)
      .join(known, Seq("whash"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("known")).as("n_known_windows"))
      .withColumn("known_ratio",
        round(col("n_known_windows").cast("double") / col("n_windows"), 6))
  }

  /** SPAN-level decontamination — [[contaminated]]'s shingle-count flag
    * upgraded to leak LOCALIZATION: per corpus document, how many of its
    * w-word windows appear verbatim in the benchmark set, and the LONGEST
    * contiguous matched run in tokens. A 2-shingle incidental overlap and a
    * 90-token verbatim benchmark leak are different curation decisions, and
    * run length is what separates them.
    *
    * Shape at 100 TB: benchmark window hashes broadcast (distinct, 32 bytes
    * each — benchmark sets are small by nature; swap in the Bloom-prefilter
    * shape of [[contaminatedBloom]] at the same call shape if not); corpus
    * side is one posexplode + broadcast-hash-join. The run computation
    * (gaps-and-islands: pos − row_number over (doc, pos-order)) windows ONLY
    * over matched rows, partitioned per document — per-partition cardinality
    * is bounded by tokens-per-doc, never corpus-sized.
    *
    * Returns (doc_id, n_matched_windows, longest_span_tokens) for corpus
    * docs with at least one matched window.
    */
  def decontaminatedSpans(
      corpus: DataFrame, benchmark: DataFrame, w: Int = 4): DataFrame = {
    val bench = broadcast(
      benchmark
        .select(explode(NativeExpressions.wordWindowMd5(col("text"), w)).as("whash"))
        .distinct())
    val matched = corpus
      .select(col("doc_id"),
        posexplode(NativeExpressions.wordWindowMd5(col("text"), w)).as(Seq("pos", "whash")))
      .join(bench, Seq("whash"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    matched
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("run")).as("n_matched_windows"),
        (max(col("run")) + lit(w - 1)).as("longest_span_tokens"))
  }

  /** Cross-source overlap matrix over span fingerprints: for every unordered
    * source pair, how many distinct w-word-window hashes the two sources
    * share, plus the Jaccard of their span-fingerprint sets — the
    * mirror/scrape detection signal a provenance-aware pipeline reads to
    * decide which source to demote before document-level dedup (exact
    * content hashes miss this entirely: a mirror that rewraps or truncates
    * shares no full-document hash but thousands of spans).
    *
    * Shape at 100 TB: distinct (source, whash) is one hash-aggregate over
    * the exploded windows; the pair join is an equi-join on `whash` where
    * each hash matches at most #sources rows (the distinct step bounds
    * per-hash fan-out — a boilerplate span in every source contributes
    * sources² pairs, not occurrences²); per-source totals are a tiny
    * broadcast. Output ≤ sources² rows.
    */
  def sourceOverlap(
      docs: DataFrame, w: Int = 8,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val hs = docs
      .select(col(sourceCol).as("source"),
        explode(NativeExpressions.wordWindowMd5(col(textCol), w)).as("whash"))
      .distinct()
    val perSource = hs.groupBy("source").agg(count(lit(1)).as("n_spans"))
    hs.as("a")
      .join(hs.as("b"),
        col("a.whash") === col("b.whash") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perSource.select(
        col("source").as("source_a"), col("n_spans").as("n_a"))), Seq("source_a"))
      .join(broadcast(perSource.select(
        col("source").as("source_b"), col("n_spans").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** Storage-style fixed-size chunk dedup: slice every document into
    * `chunkChars`-codepoint chunks (the last one ragged), md5 each chunk,
    * and report the chunks that recur across DISTINCT documents — the
    * "which 64-char blocks does the corpus store more than once"
    * accounting a content-addressed store or a copy-provenance audit runs,
    * complementary to [[duplicateSpans]] (word windows catch rephrased
    * overlap; fixed chunks catch byte-for-byte storage redundancy and give
    * the dedup RATIO a chunked store would achieve).
    *
    * Chunk boundaries are CODEPOINT offsets, not byte offsets — both
    * engines slice strings by codepoint, so the md5 inputs (the chunk's
    * UTF-8 bytes) agree exactly.
    *
    * Scale shape: explode is map-side (rows × len/chunkChars, each row a
    * 32-hex string + id), the aggregate hash-shuffles once on chunk_md5;
    * the distinct-doc count is the standard two-phase distinct aggregate.
    * No joins, no windows — at 100 TB this is the same shape as exact
    * dedup, just on a finer grain.
    *
    * Returns (chunk_md5, n_occurrences, n_docs, example_doc_id) for chunks
    * seen in more than one distinct document.
    */
  def chunkDedup(docs: DataFrame, chunkChars: Int = 64,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    chunkHashes(docs, chunkChars, textCol, idCol)
      .groupBy("chunk_md5")
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("example_doc_id"))
      .filter(col("n_docs") > 1)

  /** The (doc_id, chunk_md5) expansion behind [[chunkDedup]],
    * [[chunkOverlapPairs]] and [[chunkDedupRatio]]: one md5 per
    * `chunkChars`-codepoint slice, map-side only. `carryCols` ride along
    * unchanged (e.g. `source` for per-source rollups). */
  def chunkHashes(docs: DataFrame, chunkChars: Int,
      textCol: String = "text", idCol: String = "doc_id",
      carryCols: Seq[String] = Nil): DataFrame = {
    val c = chunkChars
    val carry = carryCols.map(col)
    docs
      .select(col(idCol).as("doc_id") +: col(textCol).as("text") +:
        expr(s"CAST((length($textCol) + ${c - 1}) DIV $c AS INT)").as("n_chunks") +:
        carry: _*)
      .filter(col("n_chunks") > 0) // sequence(0, -1) would step DOWN
      .select(col("doc_id") +: col("text") +:
        explode(sequence(lit(0), col("n_chunks") - 1)).as("i") +: carry: _*)
      .select(col("doc_id") +:
        md5(expr(s"CAST(substring(text, i * $c + 1, $c) AS BINARY)")).as("chunk_md5") +:
        carry: _*)
  }

  /** The headline a content-addressed store quotes: per source, how many
    * chunk slots it would store vs how many distinct chunks actually exist —
    * `saved_ratio = 1 - distinct/total` is the fraction of chunk WRITES
    * dedup eliminates. One hash aggregate over the map-side chunk expansion
    * (the distinct is the standard two-phase distinct-agg).
    *
    * Returns (source, n_chunks, n_distinct, saved_ratio).
    */
  def chunkDedupRatio(docs: DataFrame, chunkChars: Int = 64): DataFrame =
    chunkHashes(docs, chunkChars, carryCols = Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        count_distinct(col("chunk_md5")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_chunks"), 6)
          .as("saved_ratio"))

  /** Asset/document near-dup by SHARED CHUNK COUNT: pairs of documents
    * sharing at least `minShared` distinct chunk fingerprints — the
    * chunk-level analogue of frame-fingerprint video dedup (two encodes of
    * the same footage share most frames; two docs sharing many 64-char
    * blocks are partial copies even when neither contains the other).
    *
    * Candidate discipline (the LSH move, applied to chunks): pairs are
    * generated ONLY through an equi-join on chunk_md5, and chunks shared by
    * more than `maxPostings` distinct documents are dropped first — a
    * boilerplate chunk in d documents would otherwise fan out C(d,2) pairs
    * (the posting-list cap every prefix-filter join uses; the cap is part
    * of the operator's contract so the oracle applies it identically).
    *
    * Returns (doc_a, doc_b, n_shared), doc_a < doc_b.
    */
  def chunkOverlapPairs(docs: DataFrame, chunkChars: Int = 64,
      minShared: Int = 2, maxPostings: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE chunk-keyed exchange serves everything (r15, guide §2.4): the
    // (doc, chunk) dedup runs on it (hash-partitioning by chunk_md5 alone
    // satisfies the distinct's clustering — equal pairs co-locate), the
    // posting-list length is a window count over the same layout (the old
    // groupBy + join-back paid a second chunk-keyed exchange to re-attach
    // one integer), and the pair self-join consumes the window's
    // partitioning with no further shuffle of the postings.
    val hf = chunkHashes(docs, chunkChars)
      .repartition(col("chunk_md5"))
      .distinct()
      .select(col("doc_id"), col("chunk_md5"),
        count(lit(1)).over(Window.partitionBy("chunk_md5")).as("nd"))
      .filter(col("nd") > 1 && col("nd") <= maxPostings)
      .select("doc_id", "chunk_md5")
    hf.as("a")
      .join(hf.as("b"),
        col("a.chunk_md5") === col("b.chunk_md5") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Typo-tolerant entity-resolution join: every pair of entity names
    * within edit distance 1, via the SymSpell/FastSS DELETION-NEIGHBORHOOD
    * scheme — the scale-safe shape for fuzzy matching, where LSH-style
    * banding has no analogue and the naive form is an all-pairs
    * `levenshtein` cross join.
    *
    * D(s) = {s} ∪ {s with one character deleted}. For edit distance ≤ 1,
    * D(A) ∩ D(B) ≠ ∅ is a COMPLETE candidate test (substitution at i ⇒
    * both sides share the delete-at-i variant; insertion/deletion ⇒ the
    * shorter string itself sits in the longer one's neighborhood; equality
    * trivially) — and only near-misses collide, so the exact
    * `levenshtein ≤ 1` re-check pays per candidate, never per pair.
    *
    * Scale shape: the neighborhood explode is map-side (≤ |name|+1
    * variants per entity — `array_distinct` first collapses the duplicate
    * variants a character RUN produces (deleting any char of "000" yields
    * the same string), which otherwise multiply the candidate join
    * quadratically in the run length); candidates come
    * from ONE equi-join on the variant string (hash-partitionable,
    * AQE-balanceable); per-variant fan-out is bounded by how many entities
    * collapse onto one deletion (alphabet-sized in id-like keys), so
    * candidates grow ∝ N·L, never N². The same scheme extends to distance
    * k by deleting up to k characters (neighborhood (L choose ≤k)).
    *
    * Returns (custkey_a, custkey_b, name_a, name_b, distance), key-ordered
    * pairs.
    */
  def fuzzyNamePairs(
      entities: DataFrame, idCol: String, nameCol: String): DataFrame = {
    // native one-pass neighborhood kernel — the combinator twin
    // (array_distinct(concat(array(name), transform(sequence(1, len), i ->
    // concat(substr(...), substr(...)))))) evaluates its lambda interpreted
    // per element and costs ~4× the whole query; differential-tested in
    // NativeKernelsSpec
    val variants = entities
      .select(col(idCol).as("id"), col(nameCol).as("name"))
      .select(col("id"), col("name"),
        explode(NativeExpressions.deletionVariants(col("name"))).as("variant"))
    variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") && col("a.id") < col("b.id"))
      .select(col("a.id").as("custkey_a"), col("b.id").as("custkey_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      // the native O(L) lcp+lcs ed≤1 check (≈100× a Levenshtein matrix
      // call on these candidates) filters BEFORE the distinct, so the
      // dedup shuffle carries true pairs only, not the candidate set
      .withColumn("distance",
        NativeExpressions.editWithin1(col("name_a"), col("name_b")))
      .filter(col("distance") >= 0)
      .distinct()
  }

  /** LSH banding calibration curve — measured band-collision rate vs the
    * analytic S-curve 1-(1-j^r)^b, per exact-Jaccard decile, over a
    * SYSTEMATIC pair grid (doc_id offsets +1, +2, +5 — linear in the corpus,
    * never all-pairs). This is the tuning audit behind
    * [[nearDuplicatePairs]]: before committing a (bands, rows) choice at
    * 100 TB you want the collision probability it actually delivers at each
    * similarity level, measured on your own corpus's shingle geometry, next
    * to the theory curve the parameters were picked from (Leskovec et al.,
    * Mining of Massive Datasets §3.4, the standard banding analysis).
    *
    * The signature here uses a PORTABLE Carter-Wegman double-hash family
    * served by the fused [[graft.functions.NativeExpressions.minhashCw56]]
    * kernel (the engine's production path uses xxhash64 —
    * [[minhashSignatureFromHashes]]): ONE md5 per shingle yields two
    * independent 56-bit halves h1 (digest bytes 0–6) and h2 (bytes 7–13),
    * and hash function j is h1 + j·h2 (the standard two-universal
    * construction for multi-permutation minhash — Kirsch & Mitzenmacher's
    * double hashing; 56 bits so h1 + 15·h2 < 2^63 stays in BIGINT on every
    * engine). One md5 call per shingle regardless of numHashes — an
    * earlier seed-prefixed variant paid numHashes md5 calls per shingle
    * and measured 47 s at sf0.1; a Column-combinator double-hash form
    * still measured ~10 s; the kernel runs the query in ~1 s. md5 keeps
    * the family bit-replayable by a SQL oracle; the audit's subject is the
    * banding GEOMETRY (b, r), hash-family-independent. The exact Jaccard
    * compares the 60-bit shingle-hash SETS ([[graft.functions
    * .NativeExpressions.shingleMd5Hashes60]] — set ops over longs, the
    * oracle replays the same hex60 values), and the analytic curve is
    * computed with explicit multiplication chains (j·j·j·j), not pow() —
    * repeated IEEE multiplies are deterministic across engines where libm
    * pow is not; per-pair values round to 6 dp into DECIMAL(18,6) before
    * the mean so the aggregation is exact.
    *
    * The pair sample unions two linear-size families: a cross-document
    * OFFSET GRID (doc_id +1/+2/+5 — the honest dissimilar baseline, one
    * explode + one equi-join) and per-document PREFIX TRUNCATIONS (each doc
    * vs its first 25/50/75/95% of tokens — computed entirely map-side, no
    * join), which sweep Jaccard across the deciles by construction so the
    * S-curve's transition region is actually populated; a grid of unrelated
    * documents alone collapses into decile 0.
    *
    * Distributed shape: one projection computes each doc's hash set and
    * signature once (|shingles| md5 calls per side, fused kernels); the
    * offset grid is one explode (3 rows per doc) + ONE equi-join on
    * doc_id+offset; truncation pairs hash only their truncated side and
    * pick the full side up from the shared signature projection via one
    * doc_id equi-join; then one hash aggregate onto ≤10 decile keys. No
    * candidate blowup anywhere — the sample is (|offsets|+|fracs|)·N pairs
    * by construction.
    *
    * Returns (decile, n_pairs, n_collide, collide_rate, theory_rate).
    */
  /** The single source of truth for [[lshCalibration]]'s default parameters —
    * the registered query's ORACLE is generated from these same values
    * (SparkEntry.lshCurveOracle), so changing a default here re-derives the
    * oracle instead of silently desyncing engine and replay.
    */
  object LshCalibrationDefaults {
    val N = 3
    val NumHashes = 16
    val Bands = 4
    val Offsets: Seq[Int] = Seq(1, 2, 5)
    val Fracs: Seq[Int] = Seq(25, 50, 75, 95)
  }

  def lshCalibration(
      docs: DataFrame,
      n: Int = LshCalibrationDefaults.N,
      numHashes: Int = LshCalibrationDefaults.NumHashes,
      bands: Int = LshCalibrationDefaults.Bands,
      offsets: Seq[Int] = LshCalibrationDefaults.Offsets,
      fracs: Seq[Int] = LshCalibrationDefaults.Fracs): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(offsets.nonEmpty && offsets.forall(_ > 0), "offsets must be positive")
    require(fracs.forall(q => q > 0 && q <= 100), "fracs must be in (0,100]")
    val r = numHashes / bands
    // one fused pass per side: the 60-bit shingle-hash SET (for the exact
    // jaccard — set ops over longs, bit-replayed by the oracle's hex60
    // ladder) and the Carter-Wegman signature (NativeExpressions.minhashCw56: one md5
    // per shingle, k running minima of h1 + j*h2)
    val base = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= n)
    // sigd feeds THREE pipelines (the probe stream, the grid join's build
    // side, and the truncation branch's full-side join); checkpointing it
    // runs the fused md5 shingle/minhash kernels once per corpus pass
    // instead of once per consumer — the kernels ARE this operator's cost
    // (r15, guide §1.2 per-task work)
    val sigd = base
      .select(col("doc_id"),
        NativeExpressions.shingleMd5Hashes60(col("text"), n).as("hs"),
        NativeExpressions.minhashCw56(col("text"), n, numHashes).as("sig"))
      .localCheckpoint()
    val probes = sigd
      .select(col("doc_id").as("ida"), col("hs").as("sa"), col("sig").as("siga"),
        explode(array(offsets.map(d => lit(d.toLong)): _*)).as("d"))
      .withColumn("idb", col("ida") + col("d"))
    val gridPairs = probes
      .join(
        sigd.select(col("doc_id").as("idb"), col("hs").as("sb"),
          col("sig").as("sigb")),
        Seq("idb"))
      .select(col("sa"), col("sb"), col("siga"), col("sigb"))
    val truncPairs = base
      .select(col("doc_id"), col("tk"),
        explode(array(fracs.map(q => lit(q)): _*)).as("q"))
      .withColumn("m",
        greatest(lit(n),
          floor(size(col("tk")).cast("double") * col("q") / lit(100.0))
            .cast("int")))
      .select(col("doc_id"),
        array_join(slice(col("tk"), lit(1), col("m")), " ").as("txt"))
      .select(col("doc_id"),
        NativeExpressions.shingleMd5Hashes60(col("txt"), n).as("sb"),
        NativeExpressions.minhashCw56(col("txt"), n, numHashes).as("sigb"))
      // full side rides the shared signature projection: one doc_id
      // equi-join instead of re-hashing the whole document per fraction
      .join(sigd.select(col("doc_id"), col("hs").as("sa"),
        col("sig").as("siga")), Seq("doc_id"))
      .select(col("sa"), col("sb"), col("siga"), col("sigb"))
    val pairs = gridPairs.union(truncPairs)
    val jac = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_distinct(concat(col("sa"), col("sb")))).cast("double")
    val collide = (0 until bands).map { i =>
      (0 until r).map { j =>
        element_at(col("siga"), i * r + j + 1) ===
          element_at(col("sigb"), i * r + j + 1)
      }.reduce(_ && _)
    }.reduce(_ || _)
    // 1-(1-j^r)^b via explicit multiply chains (deterministic IEEE)
    def powChain(c: Column, e: Int): Column =
      (1 until e).foldLeft(c)((acc, _) => acc * c)
    val theory = lit(1.0) - powChain(lit(1.0) - powChain(col("jac"), r), bands)
    pairs
      .select(jac.as("jac"), collide.cast("long").as("hit"))
      .select(
        least(floor(col("jac") * 10), lit(9.0)).cast("int").as("decile"),
        col("hit"),
        round(theory, 6).cast("decimal(18,6)").as("p6"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("hit")).as("n_collide"),
        round(sum(col("hit")).cast("double") / count(lit(1)), 6)
          .as("collide_rate"),
        round(sum(col("p6")).cast("double") / count(lit(1)), 6)
          .as("theory_rate"))
  }

  /** All-pairs `levenshtein` baseline for [[fuzzyNamePairs]] — spec-side
    * differential only (quadratic by construction; never registered).
    */
  def bruteForceFuzzyPairs(
      entities: DataFrame, idCol: String, nameCol: String): DataFrame = {
    def side(suffix: String) = entities.select(
      col(idCol).as(s"custkey_$suffix"), col(nameCol).as(s"name_$suffix"))
    side("a").crossJoin(side("b"))
      .filter(col("custkey_a") < col("custkey_b"))
      .withColumn("distance", levenshtein(col("name_a"), col("name_b")))
      .filter(col("distance") <= 1)
  }
}
