package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Column functions for the hot per-row kernels. Each one is a single call
  * into [[Kernels]] or into a trained carrier object, built from Catalyst's
  * own invoke expressions: a static kernel is a `StaticInvoke` on `Kernels`,
  * and a carrier kernel (Bloom filter, language profiles, centroid index,
  * BPE memo) is an `Invoke` on the carrier held as an object `Literal`,
  * which whole-stage codegen ships in its references array. Both compile to
  * one direct method call inside whole-stage codegen and fall back to a
  * reflective call in interpreted mode. Preference order per the
  * Spark-first design: built-in functions where they're fast; a kernel call
  * where the built-in path is interpreted (higher-order functions); UDFs
  * never.
  *
  * Each kernel is bit-compatible with a Column-combinator twin in
  * `Dedup` / `Similarity` / `TextAnalysis` (differential-tested in
  * `NativeKernelsSpec`), so the combinator form documents the semantics and
  * the kernel form carries the hot path.
  *
  * Input types. Every column argument declares the type the kernel reads
  * (`string`, `array<bigint>`, `array<float>`, ...). An input that Spark
  * can implicitly cast to it is cast, as for a built-in function (an int
  * passed as text becomes a string); one that it cannot cast (an
  * `array<bigint>` passed as text) fails analysis with Spark's
  * `DATATYPE_MISMATCH` error. A null input gives a null result. Static
  * parameters (shingle width, signature length, ...) are checked here, when
  * the Column is built.
  */
object NativeExpressions {

  private def kernel(method: String, dataType: DataType,
      args: (Column, DataType)*): Column =
    ColumnBridge.column(StaticInvoke(Kernels.getClass, dataType, method,
      args.map(a => expr(a._1)), inputTypes = args.map(_._2),
      returnNullable = false))

  private def carrier(target: AnyRef, method: String, dataType: DataType,
      args: (Column, DataType)*): Column =
    ColumnBridge.column(Invoke(Literal.fromObject(target), method, dataType,
      args.map(a => expr(a._1)), methodInputTypes = args.map(_._2),
      returnNullable = false))

  private def expr(c: Column): Expression = ColumnBridge.expression(c)
  // parameters as catalyst Literals, not `lit`: a `lit` node is converted
  // only when a Dataset resolves the Column, and the SQL builders hand the
  // expression straight to the analyzer
  private def param(v: Any, t: DataType): (Column, DataType) =
    ColumnBridge.column(Literal(v, t)) -> t
  private def int(v: Int): (Column, DataType) = param(v, IntegerType)

  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)
  // input types accept either element nullability
  private val hashArray = ArrayType(LongType)
  private val floatVector = ArrayType(FloatType)

  /** Serializable carrier for a trained [[org.apache.spark.util.sketch.BloomFilter]]
    * riding inside generated code (reference-object pattern, like
    * [[ProfileMatcher]]): the filter ships as its serialized bytes and
    * rebuilds lazily per executor JVM.
    */
  final class BloomRef(bytes: Array[Byte]) extends Serializable {
    @transient private lazy val filter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
    def mightContainLong(h: Long): Boolean = filter.mightContainLong(h)
  }

  object BloomRef {
    def apply(filter: org.apache.spark.util.sketch.BloomFilter): BloomRef = {
      val bos = new java.io.ByteArrayOutputStream()
      filter.writeTo(bos)
      new BloomRef(bos.toByteArray)
    }
  }
  /** Serializable carrier for a trained FLOAT centroid matrix (reference-
    * object pattern like [[ProfileMatcher]]): nearest-cell assignment runs
    * as ONE compiled loop over the matrix instead of a k-element literal
    * array-of-structs expression. At hundreds to thousands of cells the
    * literal form is a ~30k-node expression tree per use (serialized per
    * task, codegen-split, interpreted-fallback risk); the carrier keeps plan
    * size O(1) while the row cost stays k·dim fused multiply-adds.
    *
    * Arithmetic is BIT-IDENTICAL to the Column-combinator forms it replaces
    * (differential-pinned in NativeKernelsSpec): |c|² accumulates left-to-
    * right in double; the per-cell score is |c|² − 2.0·dot(v,c) with
    * [[Kernels.dotFloat]]'s accumulation order; argmin ties go to the lowest
    * cell (struct-min / first-position semantics).
    */
  final class FloatCentroidIndex(val centroids: Array[Array[Float]]) extends Serializable {
    @transient private lazy val c2: Array[Double] = centroids.map { c =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j).toDouble * c(j).toDouble; j += 1 }
      s
    }

    /** (cell, dot-with-that-centroid) of the nearest centroid by
      * |c|² − 2 v·c, ties to the lowest cell id.
      */
    def nearest(v: org.apache.spark.sql.catalyst.util.ArrayData)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val dim = v.numElements()
      var bestCell = -1
      var bestD = Double.MaxValue
      var bestDot = 0.0
      var cell = 0
      while (cell < centroids.length) {
        val c = centroids(cell)
        if (c.length != dim) throw new IllegalArgumentException(
          s"nearest_cell: vector dim $dim != centroid dim ${c.length}")
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v.getFloat(j).toDouble * c(j).toDouble; j += 1 }
        val d = c2(cell) - 2.0 * dot
        if (bestCell < 0 || d < bestD) { bestCell = cell; bestD = d; bestDot = dot }
        cell += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestCell, bestDot))
    }
  }

  /** Serializable carrier for a trained DOUBLE centroid matrix (k-means):
    * nearest-centroid by full squared L2 distance, accumulated in
    * `dist2To`'s fold order ((x−c)² left-to-right from 0.0), ties to the
    * lowest cell (array_position-of-min semantics). Returns (cell, d2).
    *
    * At k ≤ 64 the scan is EXACT over all centroids (bit-parity with the
    * Column-combinator form — every oracle-gate clustering runs here). At
    * k > 64 assignment goes TWO-LEVEL: a ⌈√k⌉-cell coarse quantizer (Lloyd
    * over the centroid matrix itself, driver-side, deterministic) routes
    * each row to one coarse branch whose children are then scanned — ~2√k
    * distance evaluations per row instead of k. With the cluster count
    * scaled ∝ N (the SemDeDup / bounded-KNN regime) a flat scan is an
    * N·k = N²/const term that re-creates the very quadratic the bounded
    * operators exist to avoid; the measured r10 decade (sf1s→sf10s) showed
    * it dominating at 5.8×/10×. Two-level assignment may route a boundary
    * row to a near-optimal rather than optimal cell — the bounded operators
    * consume ANY deterministic partition (their semantics are "within the
    * cell a vector is assigned to"), and determinism is preserved exactly.
    *
    * `forceFlat = true` disables the two-level branch at any k — the exact
    * flat scan used ONLY as the A/B baseline by the routing differentials
    * (`NativeKernelsSpec`, `BENCH_r12_route_k.jsonl`); no registered plan sets it.
    *
    * REGIME BOUNDARY (r12 study, `BENCH_r12_route_k.jsonl`): two-level
    * routing is measured EXACT at serving occupancy — N/k ≳ 100 rows per
    * cell (sf10, k = N/250: match_rate 1.000 vs the flat argmin, 1.9×
    * faster end-to-end) — and degrades in the OVER-clustered regime: at
    * N/k ≈ 20 (k = 1024 on a 20k corpus) match drops to 0.773 with 1.27×
    * aggregate quantization-error inflation (floors pinned in
    * `NativeKernelsSpec`). Callers that scale k with N should keep
    * N/k ≥ ~50, preferring the flat scan (k ≤ 64, or `forceFlat`) below
    * that. Every registered auto-k caller uses `SparkEntry.semdedupK`
    * (k = max(8, ⌈N/250⌉)), whose two-level activations sit at N/k ≈ 250
    * — inside the exact regime by construction; a spec pins this
    * (`NativeKernelsSpec` "registered auto-k keeps two-level routing in
    * the exact occupancy regime").
    */
  final class DoubleCentroidIndex(
      val centroids: Array[Array[Double]], forceFlat: Boolean = false)
      extends Serializable {
    private val coarseK =
      if (!forceFlat && centroids.length > 64)
        math.ceil(math.sqrt(centroids.length.toDouble)).toInt
      else 0

    private def pointD2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var j = 0
      while (j < a.length) { val d = a(j) - b(j); acc += d * d; j += 1 }
      acc
    }

    private def nearestPoint(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = pointD2(cs(i), v)
        if (best < 0 || d < bestD) { best = i; bestD = d }
        i += 1
      }
      best
    }

    /** Coarse quantizer over the centroid matrix: 3 Lloyd iterations seeded
      * by the first ⌈√k⌉ centroids, then child lists in ascending cell
      * order (so the in-branch scan's strict-less tie-break keeps the
      * lowest cell id, like the flat scan). Built lazily per JVM —
      * deterministic, so every executor builds the identical structure.
      */
    @transient private lazy val coarseIndex
        : (Array[Array[Double]], Array[Array[Int]]) = {
      val k = centroids.length
      val dim = centroids(0).length
      var coarse: Array[Array[Double]] =
        Array.tabulate(coarseK)(i => centroids(i).clone())
      var iter = 0
      while (iter < 3) {
        val sums = Array.fill(coarseK)(new Array[Double](dim))
        val cnt = new Array[Int](coarseK)
        var i = 0
        while (i < k) {
          val a = nearestPoint(coarse, centroids(i))
          cnt(a) += 1
          var j = 0
          while (j < dim) { sums(a)(j) += centroids(i)(j); j += 1 }
          i += 1
        }
        coarse = Array.tabulate(coarseK)(c =>
          if (cnt(c) == 0) coarse(c)
          else { val m = sums(c); var j = 0; while (j < dim) { m(j) /= cnt(c); j += 1 }; m })
        iter += 1
      }
      val groups = Array.fill(coarseK)(scala.collection.mutable.ArrayBuffer.empty[Int])
      var i = 0
      while (i < k) { groups(nearestPoint(coarse, centroids(i))) += i; i += 1 }
      (coarse, groups.map(_.toArray))
    }

    private def rowD2(c: Array[Double], v: org.apache.spark.sql.catalyst.util.ArrayData,
        dim: Int): Double = {
      if (c.length != dim) throw new IllegalArgumentException(
        s"nearest_centroid: vector dim $dim != centroid dim ${c.length}")
      var acc = 0.0
      var j = 0
      while (j < dim) { val d = v.getFloat(j).toDouble - c(j); acc += d * d; j += 1 }
      acc
    }

    def nearest(v: org.apache.spark.sql.catalyst.util.ArrayData)
        : org.apache.spark.sql.catalyst.InternalRow = {
      val dim = v.numElements()
      var bestCell = -1
      var bestD = Double.MaxValue
      if (coarseK == 0) {
        var cell = 0
        while (cell < centroids.length) {
          val acc = rowD2(centroids(cell), v, dim)
          if (bestCell < 0 || acc < bestD) { bestCell = cell; bestD = acc }
          cell += 1
        }
      } else {
        val (coarse, children) = coarseIndex
        // best coarse branch that actually has children
        var bestC = -1
        var bestCD = Double.MaxValue
        var c = 0
        while (c < coarseK) {
          if (children(c).nonEmpty) {
            val d = rowD2(coarse(c), v, dim)
            if (bestC < 0 || d < bestCD) { bestC = c; bestCD = d }
          }
          c += 1
        }
        val kids = children(bestC)
        var i = 0
        while (i < kids.length) {
          val cell = kids(i)
          val acc = rowD2(centroids(cell), v, dim)
          if (bestCell < 0 || acc < bestD) { bestCell = cell; bestD = acc }
          i += 1
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestCell, bestD))
    }
  }

  /** `double` dot product of two float or two double arrays (element-wise
    * double widening, left-to-right accumulation).
    *
    * The one kernel that stays an expression class: the element type picks
    * `Kernels.dotFloat` or `Kernels.dotDouble`, and a column's type is only
    * known once analysis has resolved it. A single `StaticInvoke` would have
    * to cast float vectors to `array<double>`, a per-row array copy on the
    * similarity hot path. So the class only checks the types and then
    * replaces itself with the matching `StaticInvoke`.
    */
  case class VecDotExpr(left: Expression, right: Expression)
      extends BinaryExpression with RuntimeReplaceable {
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b && (a == FloatType || a == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"expected two array<float> or two array<double>, got ${a.sql} and ${b.sql}")
    }
    override def dataType: DataType = DoubleType
    override lazy val replacement: Expression = StaticInvoke(Kernels.getClass, DoubleType,
      left.dataType match {
        case ArrayType(FloatType, _) => "dotFloat"
        case _ => "dotDouble"
      },
      Seq(left, right), returnNullable = false)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ------------------------------------------------------------ Column API

  /** `array<bigint>` of distinct xxhash64 word-n-gram shingle hashes. */
  def shingleHashes(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    kernel("shingleHashes", longs, text -> StringType, int(n))
  }

  /** `array<bigint>` k-permutation MinHash signature of a hash array. */
  def minhashSignature(hashes: Column, k: Int): Column = {
    require(k >= 1, s"signature length must be >= 1, got $k")
    kernel("minhashSignature", longs, hashes -> hashArray, int(k))
  }

  /** `bigint` SimHash fingerprint of a hash array. */
  def simhash64(hashes: Column): Column =
    kernel("simhash64", LongType, hashes -> hashArray)

  /** See [[VecDotExpr]]. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDotExpr(expr(a), expr(b)))

  /** `array<int>` of all random-hyperplane LSH bucket keys of a float vector. */
  def lshBuckets(v: Column, tables: Int, bits: Int): Column = {
    require(tables >= 1 && bits >= 1 && bits <= 30, s"bad LSH shape ($tables tables, $bits bits)")
    kernel("lshBuckets", ints, v -> floatVector, int(tables), int(bits))
  }

  /** `array<string>` of adjacent word bigrams (single-space separator). */
  def wordBigrams(text: Column): Column =
    kernel("wordBigrams", strings, text -> StringType)

  /** `array<string>` of distinct character n-grams. */
  def charNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    kernel("charNgrams", strings, text -> StringType, int(n))
  }

  /** `array<bigint>` of distinct winnowing fingerprints (k-gram size, window w). */
  def winnowingFingerprints(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"bad winnowing shape (k=$k, w=$w)")
    kernel("winnowingFingerprints", longs, text -> StringType, int(k), int(w))
  }

  /** `array<string>` SymSpell deletion neighborhood (self + distinct
    * single-code-point deletions).
    */
  def deletionVariants(text: Column): Column =
    kernel("deletionVariants", strings, text -> StringType)

  /** `int` edit distance capped at 1: 0, 1, or −1 meaning "more than 1". */
  def editWithin1(a: Column, b: Column): Column =
    kernel("editWithin1", IntegerType, a -> StringType, b -> StringType)

  /** `struct<n_tokens:int, u:double, b:double, tr:double>` — token count and
    * top unigram/bigram/trigram multiset fractions, one pass over the text
    * bytes (see [[Kernels.repetitionRatios]]).
    */
  def repetitionRatios(text: Column): Column =
    kernel("repetitionRatios", StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("u", DoubleType, nullable = false),
      StructField("b", DoubleType, nullable = false),
      StructField("tr", DoubleType, nullable = false))), text -> StringType)

  /** `boolean` — membership probe of a long column against a trained Bloom
    * filter (no false negatives; false positives at the filter's fpp). The
    * filter is a bounded model artifact riding the references array, so the
    * probe is a single virtual call inside whole-stage codegen — never a UDF.
    */
  def bloomMightContain(h: Column, bloom: BloomRef): Column =
    carrier(bloom, "mightContainLong", BooleanType, h -> LongType)

  /** `array<string>` md5 hex of every `w`-word sliding window (see
    * [[Kernels.wordWindowMd5]]) — portable span fingerprints for
    * substring-level dedup.
    */
  def wordWindowMd5(text: Column, w: Int): Column = {
    require(w >= 1, s"window width must be >= 1, got $w")
    kernel("wordWindowMd5", strings, text -> StringType, int(w))
  }

  /** `array<bigint>` of distinct 60-bit md5-prefix word-n-gram shingle
    * hashes — the ENGINE-PORTABLE twin of [[shingleHashes]] (see
    * [[Kernels.shingleMd5Hashes60]]).
    */
  def shingleMd5Hashes60(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    kernel("shingleMd5Hashes60", longs, text -> StringType, int(n))
  }

  /** `array<bigint>` Carter-Wegman minhash signature over word-n-gram
    * shingles — one md5 per shingle, k running minima of h1 + j·h2 in one
    * pass (see [[Kernels.minhashCw56]]). Empty array when the text has
    * fewer than n tokens.
    */
  def minhashCw56(text: Column, n: Int, k: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(k >= 1 && k <= 64, s"signature length must be in [1,64], got $k")
    kernel("minhashCw56", longs, text -> StringType, int(n), int(k))
  }

  /** `array<string>` of distinct md5-hex winnowing window minima — the
    * ENGINE-PORTABLE twin of [[winnowingFingerprints]] (see
    * [[Kernels.winnowMd5Hex]]).
    */
  def winnowMd5Hex(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"bad winnowing shape (k=$k, w=$w)")
    kernel("winnowMd5Hex", strings, text -> StringType, int(k), int(w))
  }

  /** `struct<matched:int, cand_lang:string>` — best-scoring language of a
    * distinct-gram array against a fixed profile set (see [[ProfileMatcher]]).
    * The profile set rides along as a reference object (it is a model
    * artifact, not a literal), so the row path is still a single call
    * inside whole-stage codegen.
    */
  def profileBestMatch(grams: Column, profiles: Seq[(String, Seq[String])]): Column =
    carrier(new ProfileMatcher(profiles.map(_._1).toArray, profiles.map(_._2.toArray).toArray),
      "bestMatch", StructType(Seq(
        StructField("matched", IntegerType, nullable = false),
        StructField("cand_lang", StringType, nullable = false))),
      grams -> ArrayType(StringType))

  /** `struct<cell:int, dot:double>` — nearest float-centroid cell of a float
    * vector plus the dot with that centroid (see [[FloatCentroidIndex.nearest]]).
    */
  def nearestCellInfo(v: Column, index: FloatCentroidIndex): Column =
    carrier(index, "nearest", StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("dot", DoubleType, nullable = false))), v -> floatVector)

  /** `struct<cell:int, d2:double>` — nearest double-centroid (k-means) cell
    * of a float vector plus the squared L2 distance to it.
    */
  def nearestCentroidDist(v: Column, index: DoubleCentroidIndex): Column =
    carrier(index, "nearest", StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("d2", DoubleType, nullable = false))), v -> floatVector)

  /** `int` — first index at which two equal-length long arrays agree, -1
    * when none (see [[Kernels.firstIndexEqual]]): the banded-LSH join-side
    * candidate dedup predicate.
    */
  def firstIndexEqual(a: Column, b: Column): Column =
    kernel("firstIndexEqual", IntegerType, a -> hashArray, b -> hashArray)

  /** `struct<n_words:bigint, n_tokens:bigint, tokens_hash:string>` — the
    * whole per-document BPE encode as one compiled pass (memo rides as a
    * reference object; see [[BpeMemoKernel]]).
    */
  def bpeEncodeStats(text: Column, memo: BpeMemoKernel): Column =
    carrier(memo, "encodeStats", StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("tokens_hash", StringType, nullable = false))), text -> StringType)

  /** `bigint` — per-document BPE token count under the memo (OOV words
    * count 1); the [[bpeEncodeStats]] value without the fingerprint.
    */
  def bpeTokenCount(text: Column, memo: BpeMemoKernel): Column =
    carrier(memo, "tokenCount", LongType, text -> StringType)
}
