package graft.functions

import java.util.{HashSet => JHashSet}

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-row kernels backing the native expressions in
  * [[NativeExpressions]]. Spark's higher-order functions (`transform` /
  * `aggregate` / `zip_with`) evaluate their lambda per element on the
  * interpreted path — fine for cold columns, but 10–100× slower than a fused
  * loop on hot kernels that run per candidate pair or per shingle. Each method
  * here is called once per row from generated code (whole-stage codegen emits
  * a single static-forwarder call), so the per-element work is a tight JIT'd
  * loop with no per-element boxing or array allocation.
  *
  * Hash compatibility: everything hashes through [[XXH64]] with seed 42 —
  * Spark's own `xxhash64` kernel — folding multi-argument hashes in argument
  * order exactly as the `XxHash64` expression does. The fused forms are
  * bit-identical to their Column-combinator equivalents (asserted by
  * differential specs), so either path yields the same buckets, signatures,
  * and scores.
  */
object Kernels {

  private final val Seed = 42L

  /** Null elements in a kernel input are data corruption — reject loudly
    * (the Column twins would null-propagate or skip; a kernel silently
    * reading the zeroed slot would produce a wrong signature/score).
    *
    * Cost matters: this guards loops that run per candidate PAIR, where a
    * per-element isNullAt doubled the dot kernel's memory traffic (observed
    * 2× on the ε-pair bench). For UnsafeArrayData — the format every
    * operator boundary produces — the null bitmap is scanned a WORD at a
    * time (one long per 64 elements, layout: 8-byte count ‖ bitmap words ‖
    * values); other ArrayData forms fall back to the per-element scan.
    */
  private def checkNoNull(a: ArrayData, what: String): Unit = a match {
    case u: UnsafeArrayData =>
      val n = u.numElements()
      val words = (n + 63) / 64
      val base = u.getBaseObject
      val off = u.getBaseOffset + 8
      var w = 0
      while (w < words) {
        var bits = org.apache.spark.unsafe.Platform.getLong(base, off + w * 8L)
        // final word: mask off padding bits past numElements — Spark's writers
        // zero them, but a pointTo()'d buffer with dirty padding is still a
        // valid null-free array and must not fail as corrupt
        if (w == words - 1 && (n & 63) != 0) bits &= (1L << (n & 63)) - 1
        if (bits != 0L) failNull(u, what)
        w += 1
      }
    case other =>
      var i = 0
      val m = other.numElements()
      while (i < m) {
        if (other.isNullAt(i)) failNull(other, what)
        i += 1
      }
  }

  private def failNull(a: ArrayData, what: String): Nothing = {
    var i = 0
    while (i < a.numElements() && !a.isNullAt(i)) i += 1
    throw new IllegalArgumentException(
      s"$what: null element at index $i — null array elements are rejected loudly")
  }

  /** Distinct xxhash64 values of all word n-gram shingles of `text`, where
    * tokens are the `split(text, " ")` slices. Consecutive tokens re-joined
    * with single spaces are exactly the original byte range from the first
    * token's start to the last token's end (empty tokens from repeated spaces
    * included), so each shingle hash is computed directly over that byte
    * slice of the input — no substring or join is ever materialized.
    * Equals `transform(shingles(text, n), xxhash64)` up to 64-bit hash
    * collisions (first-occurrence order, distinct values).
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes()
    // token boundaries: starts[i], ends[i) over byte offsets
    var nTokens = 1
    var i = 0
    while (i < len) { if (text.getByte(i) == ' ') nTokens += 1; i += 1 }
    if (nTokens < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (text.getByte(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len

    val nShingles = nTokens - n + 1
    val seen = new JHashSet[java.lang.Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var k = 0
    var s = 0
    while (s < nShingles) {
      val from = starts(s)
      val until = ends(s + n - 1)
      val h = XXH64.hashUnsafeBytes(base, off + from, until - from, Seed)
      if (seen.add(h)) { out(k) = h; k += 1 }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (k == nShingles) out else java.util.Arrays.copyOf(out, k))
  }

  /** k-permutation MinHash signature over a shingle-hash array: entry j is
    * `min over h of xxhash64(h, j)` (long then int folded, matching
    * `xxhash64(col, lit(j))` on a long column and an int literal). A null
    * ARRAY yields null (expression-level); an EMPTY array yields an empty
    * signature (no shingles → no banding keys — never a sentinel value that
    * would make all empty docs collide); null ELEMENTS are rejected loudly.
    */
  def minhashSignature(hashes: ArrayData, k: Int): ArrayData = {
    checkNoNull(hashes, "minhash_signature")
    val m = hashes.numElements()
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < m) {
      val base = XXH64.hashLong(hashes.getLong(i), Seed)
      var j = 0
      while (j < k) {
        val v = XXH64.hashInt(j, base)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash over a shingle-hash array: bit b of the result is set iff
    * strictly more elements have bit b set than clear. Bit-identical to the
    * 64 per-bit `aggregate` votes in the Column form.
    */
  def simhash64(hashes: ArrayData): Long = {
    checkNoNull(hashes, "simhash64")
    val m = hashes.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < m) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  private def checkSameLength(a: ArrayData, b: ArrayData): Int = {
    val m = a.numElements()
    if (m != b.numElements()) throw new IllegalArgumentException(
      s"vec_dot: length mismatch ($m vs ${b.numElements()}) — mixed-dimension " +
        "vectors are data corruption, rejected loudly (the zip_with twin " +
        "yields null here; a silent prefix dot would hide the corruption)")
    m
  }

  /** Dot product of two float arrays: element-wise double widening,
    * accumulated left-to-right — bit-identical to
    * `aggregate(zip_with(a, b, (x,y) => x.cast(double)*y.cast(double)), 0.0, _+_)`
    * for equal-length inputs; length mismatch throws.
    */
  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    checkNoNull(a, "vec_dot"); checkNoNull(b, "vec_dot")
    val m = checkSameLength(a, b)
    var acc = 0.0
    var i = 0
    while (i < m) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Dot product of two double arrays, accumulated left-to-right (see
    * [[dotFloat]] for the length-mismatch policy).
    */
  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    checkNoNull(a, "vec_dot"); checkNoNull(b, "vec_dot")
    val m = checkSameLength(a, b)
    var acc = 0.0
    var i = 0
    while (i < m) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** All `tables` random-hyperplane LSH bucket keys of a float vector in one
    * pass: bucket t packs `bits` sign bits, bit j = sign of
    * sum_i v[i] * (+1 if xxhash64(t, j, i) even else -1) — the int-fold chain
    * matching `xxhash64(lit(t), lit(j), i)` over int arguments.
    */
  def lshBuckets(v: ArrayData, tables: Int, bits: Int): ArrayData = {
    checkNoNull(v, "lsh_buckets")
    val m = v.numElements()
    val vd = new Array[Double](m)
    var i = 0
    while (i < m) { vd(i) = v.getFloat(i).toDouble; i += 1 }
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      val ht = XXH64.hashInt(t, Seed)
      var key = 0
      var j = 0
      while (j < bits) {
        val hj = XXH64.hashInt(j, ht)
        var proj = 0.0
        i = 0
        while (i < m) {
          val h = XXH64.hashInt(i, hj)
          // pmod(h, 2) == 0  <=>  lowest bit clear (pmod result is 0 or 1)
          proj += (if ((h & 1L) == 0L) vd(i) else -vd(i))
          i += 1
        }
        // Spark SQL orders NaN above every double, so the Column twin's
        // `proj >= 0` is TRUE for NaN — match it (Java's NaN compare is false)
        if (proj >= 0 || java.lang.Double.isNaN(proj)) key |= (1 << j)
        j += 1
      }
      out(t) = key
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Byte offset of each code-point start, plus a trailing `numBytes` entry —
    * computed in one scan so n-gram extraction is O(len·n), not the O(len²)
    * of per-gram `substringSQL` (which rescans from the string start).
    */
  /** The SymSpell deletion neighborhood of `text`: the string itself plus
    * every single-code-point deletion, DISTINCT — equals
    * `array_distinct(concat(array(s), transform(sequence(1, len), i ->
    * concat(substr(s,1,i-1), substr(s,i+1,len)))))`, which evaluates its
    * lambda interpreted per element; this is one byte scan. Dedup is exact
    * and hashset-free: del_i(s) = del_j(s) (i<j) iff s[i..j] is one
    * code-point run, so only the FIRST position of each run emits.
    */
  def deletionVariants(text: UTF8String): ArrayData = {
    val offs = codePointOffsets(text)
    val cp = offs.length - 1
    val bytes = text.getBytes
    val out = new Array[Any](cp + 1)
    out(0) = UTF8String.fromBytes(bytes)
    var k = 1
    var i = 0
    while (i < cp) {
      // run detection: same code point as the previous position?
      val runStart = i == 0 || {
        val l0 = offs(i) - offs(i - 1)
        val l1 = offs(i + 1) - offs(i)
        l0 != l1 || {
          var d = 0
          var same = true
          while (same && d < l0) {
            same = bytes(offs(i - 1) + d) == bytes(offs(i) + d); d += 1
          }
          !same
        }
      }
      if (runStart) {
        val delLen = offs(i + 1) - offs(i)
        val arr = new Array[Byte](bytes.length - delLen)
        System.arraycopy(bytes, 0, arr, 0, offs(i))
        System.arraycopy(bytes, offs(i + 1), arr, offs(i),
          bytes.length - offs(i + 1))
        out(k) = UTF8String.fromBytes(arr)
        k += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == out.length) out else out.take(k))
  }

  /** Edit distance capped at 1: returns 0 (equal), 1, or −1 (more than 1)
    * — the O(L) replacement for a full Levenshtein matrix on
    * neighborhood-join candidates, via the exact characterization
    * ed(A,B) ≤ 1 ⟺ |la−lb| ≤ 1 ∧ lcp + lcs ≥ max(la,lb) − 1, where
    * lcp/lcs are common prefix/suffix lengths in CODE POINTS and lcs is
    * capped at min(la,lb) − lcp so the two ranges never double-count
    * ("aaa" vs "aa"). Code-point comparison (not bytes) keeps multi-byte
    * substitutions with different encoded lengths ("é" → "a") correct.
    */
  def editWithin1(a: UTF8String, b: UTF8String): Int = {
    if (a.equals(b)) return 0
    val oa = codePointOffsets(a)
    val ob = codePointOffsets(b)
    val la = oa.length - 1
    val lb = ob.length - 1
    if (math.abs(la - lb) > 1) return -1
    val ab = a.getBytes
    val bb = b.getBytes
    def cpEq(i: Int, j: Int): Boolean = {
      val l0 = oa(i + 1) - oa(i)
      if (l0 != ob(j + 1) - ob(j)) return false
      var d = 0
      while (d < l0) {
        if (ab(oa(i) + d) != bb(ob(j) + d)) return false
        d += 1
      }
      true
    }
    val minL = math.min(la, lb)
    var lcp = 0
    while (lcp < minL && cpEq(lcp, lcp)) lcp += 1
    var lcs = 0
    val lcsCap = minL - lcp
    while (lcs < lcsCap && cpEq(la - 1 - lcs, lb - 1 - lcs)) lcs += 1
    if (lcp + lcs >= math.max(la, lb) - 1) 1 else -1
  }

  private def codePointOffsets(text: UTF8String): Array[Int] = {
    val len = text.numBytes()
    var cp = 0
    var i = 0
    while (i < len) { if ((text.getByte(i) & 0xC0) != 0x80) cp += 1; i += 1 }
    val offs = new Array[Int](cp + 1)
    var j = 0
    i = 0
    while (i < len) {
      if ((text.getByte(i) & 0xC0) != 0x80) { offs(j) = i; j += 1 }
      i += 1
    }
    offs(cp) = len
    offs
  }

  /** Distinct character n-grams (by code point) of `text`, first-occurrence
    * order — equals `array_distinct(transform(sequence(1, len-(n-1)),
    * i => substr(text, i, n)))` for texts of at least n code points, else
    * empty.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val offs = codePointOffsets(text)
    val cp = offs.length - 1
    if (cp < n) return new GenericArrayData(Array.empty[Any])
    // getBytes copies unless the string owns its exact backing array (in
    // which case that array is stable for the row); grams are zero-copy
    // views into it either way, and consumers copy them into output rows
    // before the next row is read
    val bytes = text.getBytes
    val count = cp - n + 1
    val seen = new JHashSet[UTF8String](count * 2)
    val out = new Array[Any](count)
    var k = 0
    var i = 0
    while (i < count) {
      val g = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      if (seen.add(g)) { out(k) = g; k += 1 }
      i += 1
    }
    new GenericArrayData(if (k == count) out else out.take(k))
  }

  /** Adjacent word bigrams of a single-space-separated text, in order —
    * equals `transform(sequence(1, n_tokens − 1), i => concat_ws(" ",
    * tok[i], tok[i+1]))` over `split(text, " ")` (which keeps empty tokens,
    * including trailing ones). Because consecutive tokens are separated by
    * EXACTLY one 0x20 byte, bigram j is the zero-copy byte span from the
    * start of token j to the end of token j+1 — one scan for the space
    * positions, no per-element lambda, no intermediate token array. 0x20
    * never occurs inside a UTF-8 multi-byte sequence, so byte scanning is
    * code-point safe.
    */
  def wordBigrams(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' '.toByte) spaces += 1; i += 1 }
    if (spaces == 0) return new GenericArrayData(Array.empty[Any])
    // token j spans [starts(j), ends(j)); bigram j spans token j..j+1
    val starts = new Array[Int](spaces + 1)
    val ends = new Array[Int](spaces + 1)
    starts(0) = 0
    var tok = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' '.toByte) {
        ends(tok) = i; tok += 1; starts(tok) = i + 1
      }
      i += 1
    }
    ends(tok) = n
    val out = new Array[Any](spaces)
    var j = 0
    while (j < spaces) {
      out(j) = UTF8String.fromBytes(bytes, starts(j), ends(j + 1) - starts(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (MOSS): distinct sliding-window (`w`) minima of
    * the rolling k-gram xxhash64 sequence, first-occurrence order. Character
    * k-grams are code-point substrings hashed over their UTF-8 bytes —
    * bit-identical to `xxhash64(substr(text, i, k))`. Texts shorter than
    * k + w - 1 code points yield an empty set.
    */
  def winnowingFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val offs = codePointOffsets(text)
    val cp = offs.length - 1
    if (cp < k + w - 1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nGrams = cp - k + 1
    val gh = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      gh(i) = XXH64.hashUnsafeBytes(base, off + offs(i), offs(i + k) - offs(i), Seed)
      i += 1
    }
    val nWin = nGrams - w + 1
    val seen = new JHashSet[java.lang.Long](nWin * 2)
    val out = new Array[Long](nWin)
    var m = 0
    var j = 0
    while (j < nWin) {
      var mn = gh(j)
      var x = j + 1
      while (x < j + w) { if (gh(x) < mn) mn = gh(x); x += 1 }
      if (seen.add(mn)) { out(m) = mn; m += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (m == nWin) out else java.util.Arrays.copyOf(out, m))
  }

  /** One-pass repetition-ratio kernel backing `NativeExpressions.repetitionRatios`:
    * struct(n_tokens, u, b, tr) where u/b/tr are the fractions of the
    * token / word-2-gram / word-3-gram MULTISETS taken by their most
    * frequent element (0.0 when the document is too short for that order).
    * Tokens are `split(text, " ")` slices; each gram is hashed directly over
    * its byte range (like [[shingleHashes]]) and multiplicities are counted
    * per hash — equal to counting the strings themselves up to 64-bit
    * collisions WITHIN one document (P < n²/2⁶⁴ ≈ 1e-14 per doc, and a
    * collision only matters if it beats the true mode). Semantically equal to
    * the nested higher-order-function twin in
    * `TextAnalysis.repetitionStatsColumns`, whose interpreted lambdas cost
    * O(distinct × n) per row and dominated the query's profile.
    */
  def repetitionRatios(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val len = text.numBytes()
    var nTokens = 1
    var i = 0
    while (i < len) { if (text.getByte(i) == ' ') nTokens += 1; i += 1 }
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (text.getByte(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    val base = text.getBaseObject
    val off = text.getBaseOffset

    def topRatio(n: Int): Double = {
      val m = nTokens - n + 1
      if (m <= 0) return 0.0
      val counts = new java.util.HashMap[java.lang.Long, Integer](m * 2)
      var best = 0
      var s = 0
      while (s < m) {
        val from = starts(s)
        val h = XXH64.hashUnsafeBytes(base, off + from, ends(s + n - 1) - from, Seed)
        val c: Int = counts.merge(h, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
        if (c > best) best = c
        s += 1
      }
      best.toDouble / m
    }

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, topRatio(1), topRatio(2), topRatio(3)))
  }

  // MessageDigest is stateful and not thread-safe; one per executor thread,
  // reset implicitly by digest() between windows.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private final val HexDigits = "0123456789abcdef".getBytes

  /** md5 hex (lowercase) of every `w`-word sliding window of `text`, in
    * order — tokens are maximal runs of non-whitespace (Java regex `\s`
    * class: space, \t, \n, \x0B, \f, \r), window text is the tokens joined
    * by a single space. Equals `transform(sequence(0, n_tokens - w),
    * i => md5(array_join(slice(tokens, i + 1, w), ' ')))` over
    * `filter(split(text, '\\s+'), t -> t <> '')` — and, deliberately, what
    * `md5(array_to_string(t[i:i+w-1], ' '))` computes in ANSI-ish SQL, so a
    * SQL oracle can replicate the hashes exactly. Texts shorter than `w`
    * tokens yield an empty array.
    *
    * md5 (not xxhash64) is the point: span hashes must be portable across
    * engines, runs, and partitionings, like the sampling coordinates in
    * [[graft.operators.Sampling]]. The digest cost is per WINDOW (bounded by
    * tokens per doc), not per candidate pair — this feeds a hash-aggregate,
    * never a join of raw text.
    */
  def wordWindowMd5(text: UTF8String, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
    // count tokens (runs of non-ws bytes; UTF-8 continuation bytes are >= 0x80
    // and never match the ASCII ws set, so byte scanning is code-point safe)
    var tokens = 0
    var i = 0
    var inTok = false
    while (i < n) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) tokens += 1
      inTok = !ws
      i += 1
    }
    if (tokens < w) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](tokens)
    val ends = new Array[Int](tokens)
    var t = 0
    i = 0
    inTok = false
    while (i < n) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) { starts(t) = i; t += 1 }
      if (ws && inTok) ends(t - 1) = i
      inTok = !ws
      i += 1
    }
    if (inTok) ends(tokens - 1) = n
    val md = md5Local.get()
    val space = Array(' '.toByte)
    val windows = tokens - w + 1
    val out = new Array[Any](windows)
    var j = 0
    while (j < windows) {
      var k = j
      while (k < j + w) {
        md.update(bytes, starts(k), ends(k) - starts(k))
        if (k < j + w - 1) md.update(space, 0, 1)
        k += 1
      }
      val digest = md.digest() // 16 bytes; resets the digest
      val hex = new Array[Byte](32)
      var d = 0
      while (d < 16) {
        hex(2 * d) = HexDigits((digest(d) >> 4) & 0xF)
        hex(2 * d + 1) = HexDigits(digest(d) & 0xF)
        d += 1
      }
      out(j) = UTF8String.fromBytes(hex)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Portable shingle hashing backing `NativeExpressions.shingleMd5Hashes60`: the word
    * n-gram shingles of [[shingleHashes]] (same ' '-split token boundaries —
    * a shingle's bytes are exactly the `concat_ws(" ")` of its n tokens, so
    * the raw byte slice IS the shingle string), each hashed to its md5
    * digest's first 60 bits — the integer value of the first 15 md5 hex
    * chars, the engine-portable hash that both Spark's
    * `conv(substring(md5(s), 1, 15), 16, 10)` and a SQL oracle's nibble
    * arithmetic recompute exactly. Distinctness matches `array_distinct`
    * over the shingle STRINGS: the dedup key is the full 128-bit digest
    * (divergence would take an md5 collision), order is first occurrence.
    * Fused twin of the `transform(shingles(text, n), md5→conv)` combinator
    * pipeline — differential-tested in NativeKernelsSpec.
    */
  def shingleMd5Hashes60(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var nTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nTokens += 1; i += 1 }
    if (nTokens < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    val md = md5Local.get()
    val nShingles = nTokens - n + 1
    val seen = new JHashSet[java.nio.ByteBuffer](nShingles * 2)
    val out = new Array[Long](nShingles)
    var k = 0
    var s = 0
    while (s < nShingles) {
      md.update(bytes, starts(s), ends(s + n - 1) - starts(s))
      val digest = md.digest() // fresh array; resets the digest
      if (seen.add(java.nio.ByteBuffer.wrap(digest))) {
        var v = 0L
        var d = 0
        while (d < 7) { v = (v << 8) | (digest(d) & 0xFFL); d += 1 }
        out(k) = (v << 4) | ((digest(7) >> 4) & 0xFL)
        k += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (k == nShingles) out else java.util.Arrays.copyOf(out, k))
  }

  /** Portable Carter-Wegman minhash signature backing `NativeExpressions.minhashCw56`:
    * over the word n-gram shingles (same ' '-split boundaries as
    * [[shingleMd5Hashes60]]), ONE md5 per shingle yields two independent
    * 56-bit values — h1 from digest bytes 0–6 (hex chars 1–14) and h2 from
    * bytes 7–13 (hex chars 15–28) — and hash function j is h1 + j·h2
    * (two-universal double hashing; 56 bits keeps h1 + 15·h2 < 2^63). The
    * k running minima update incrementally (hj += h2), so the whole
    * signature is one pass over the shingles with k compares each —
    * duplicates need no dedup (a repeated shingle cannot change a minimum).
    * A SQL oracle replays the family from `substr(md5(s), 1, 14)` /
    * `substr(md5(s), 15, 14)` nibble arithmetic.
    *
    * Returns the k-element signature, or an empty array when the text has
    * fewer than n tokens (no shingles — callers filter those rows).
    */
  def minhashCw56(text: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    var nTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nTokens += 1; i += 1 }
    if (nTokens < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = len
    val md = md5Local.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nShingles = nTokens - n + 1
    var s = 0
    while (s < nShingles) {
      md.update(bytes, starts(s), ends(s + n - 1) - starts(s))
      val digest = md.digest() // fresh array; resets the digest
      var h1 = 0L
      var h2 = 0L
      var d = 0
      while (d < 7) {
        h1 = (h1 << 8) | (digest(d) & 0xFFL)
        h2 = (h2 << 8) | (digest(d + 7) & 0xFFL)
        d += 1
      }
      var j = 0
      var hj = h1
      while (j < k) {
        if (hj < mins(j)) mins(j) = hj
        hj += h2
        j += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Portable winnowing backing `NativeExpressions.winnowMd5Hex`: character-k-gram md5 HEX
    * strings (code-point slicing, like [[winnowingFingerprints]]) with
    * lexicographic sliding-window minima. The hex rendering is monotonic in
    * the digest's unsigned byte order ('0' < … < '9' < 'a' < … < 'f'), so
    * windows compare raw 16-byte digests and only the winning minima render
    * to hex. Distinct minima in first-occurrence order, matching the
    * `array_distinct(transform(…, array_min(slice(kh, j, w))))` combinator
    * twin (differential-tested in NativeKernelsSpec).
    */
  def winnowMd5Hex(text: UTF8String, k: Int, w: Int): ArrayData = {
    val offs = codePointOffsets(text)
    val cp = offs.length - 1
    if (cp < k + w - 1) return new GenericArrayData(Array.empty[Any])
    val bytes = text.getBytes
    val md = md5Local.get()
    val nGrams = cp - k + 1
    val digests = new Array[Array[Byte]](nGrams)
    var i = 0
    while (i < nGrams) {
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      digests(i) = md.digest()
      i += 1
    }
    val nWin = nGrams - w + 1
    val seen = new JHashSet[java.nio.ByteBuffer](nWin * 2)
    val out = new Array[AnyRef](nWin)
    var m = 0
    var j = 0
    while (j < nWin) {
      var mn = digests(j)
      var x = j + 1
      while (x < j + w) {
        val c = java.util.Arrays.compareUnsigned(digests(x), mn)
        if (c < 0) mn = digests(x)
        x += 1
      }
      if (seen.add(java.nio.ByteBuffer.wrap(mn))) {
        val hex = new Array[Byte](32)
        var d = 0
        while (d < 16) {
          hex(2 * d) = HexDigits((mn(d) >> 4) & 0xF)
          hex(2 * d + 1) = HexDigits(mn(d) & 0xF)
          d += 1
        }
        out(m) = UTF8String.fromBytes(hex)
        m += 1
      }
      j += 1
    }
    new GenericArrayData(
      if (m == nWin) out else java.util.Arrays.copyOf(out, m))
  }

  /** First index at which two equal-length long arrays hold the same value,
    * or -1 when they disagree at every position — the join-side candidate
    * dedup predicate behind `nearDuplicatePairs` (a banded pair is kept only
    * where its band equals the pair's FIRST agreeing band, so every
    * candidate pair is emitted exactly once and the 10⁸-row pair `distinct`
    * aggregate disappears). Equals `array_position(zip_with(a, b,
    * (x, y) -> x = y), true) - 1` for equal-length null-free inputs; a
    * length mismatch is data corruption and throws loudly.
    */
  def firstIndexEqual(a: ArrayData, b: ArrayData): Int = {
    checkNoNull(a, "first_index_equal"); checkNoNull(b, "first_index_equal")
    val m = a.numElements()
    if (m != b.numElements()) throw new IllegalArgumentException(
      s"first_index_equal: length mismatch ($m vs ${b.numElements()})")
    var i = 0
    while (i < m) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }
}

/** One-pass multi-profile n-gram scorer backing `NativeExpressions.profileBestMatch`: the
  * per-language profiles are inverted ONCE into a trigram → language-indices
  * map (a bounded model artifact, languages × profileSize entries), so
  * scoring a document is a single pass over its grams — O(|grams|) — instead
  * of the per-language `array_intersect` form's O(langs × (|grams| +
  * profile)) with a per-row, per-language hash-set rebuild of the same
  * literal profile.
  *
  * Bit-compatible with `array_max(array(struct(size(array_intersect(grams,
  * profile_l)), lang_l), ...))`: max matched count, ties to the greatest
  * language code under Spark's binary string order (UTF8String.compareTo) —
  * differential-tested in NativeKernelsSpec.
  *
  * Serializable (shipped inside the codegen references array); the inverted
  * index rebuilds lazily on each executor JVM.
  */
final class ProfileMatcher(langs: Array[String], profiles: Array[Array[String]])
    extends Serializable {
  require(langs.nonEmpty, "profile_best_match: empty profile set")
  require(langs.length == profiles.length,
    s"profile_best_match: ${langs.length} languages but ${profiles.length} profiles")

  @transient private lazy val langU: Array[UTF8String] =
    langs.map(UTF8String.fromString)

  @transient private lazy val index: java.util.HashMap[UTF8String, Array[Int]] = {
    val acc = new java.util.HashMap[UTF8String, java.util.ArrayList[Integer]]()
    var l = 0
    while (l < profiles.length) {
      profiles(l).foreach { g =>
        val ls = acc.computeIfAbsent(
          UTF8String.fromString(g), _ => new java.util.ArrayList[Integer]())
        // dedup: a gram repeated within profile l would double-count every
        // match, diverging from array_intersect's set semantics. Language l's
        // entries are all appended during this l-iteration, so a duplicate is
        // always at the tail.
        if (ls.isEmpty || ls.get(ls.size() - 1) != l) ls.add(l)
      }
      l += 1
    }
    val m = new java.util.HashMap[UTF8String, Array[Int]](acc.size() * 2)
    acc.forEach { (g, ls) =>
      val a = new Array[Int](ls.size())
      var i = 0
      while (i < a.length) { a(i) = ls.get(i); i += 1 }
      m.put(g, a)
    }
    m
  }

  /** struct(matched, cand_lang) of the best-scoring language for this gram
    * set. Called once per row from generated code.
    *
    * Precondition: `grams` holds DISTINCT grams (as `charNgrams` produces) —
    * a repeated input gram counts once per occurrence, matching
    * `array_intersect`'s semantics only for distinct inputs.
    */
  def bestMatch(grams: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val counts = new Array[Int](langs.length)
    val n = grams.numElements()
    var i = 0
    while (i < n) {
      if (grams.isNullAt(i))
        throw new IllegalArgumentException(
          s"profile_best_match: null element at index $i — null array elements are rejected loudly")
      val ls = index.get(grams.getUTF8String(i))
      if (ls != null) {
        var j = 0
        while (j < ls.length) { counts(ls(j)) += 1; j += 1 }
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < counts.length) {
      if (counts(l) > counts(best) ||
        (counts(l) == counts(best) && langU(l).compareTo(langU(best)) > 0)) best = l
      l += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](counts(best), langU(best)))
  }
}

/** Serializable carrier for a trained BPE type→tokens memo (the
  * reference-object pattern of [[ProfileMatcher]]): per document, the whole
  * subword encode — `split(text, " ")` words (empties dropped), memo lookup
  * with OOV → `<unk>`, token counting, and the md5 fingerprint of the
  * space-joined token stream — runs as ONE compiled pass over the text
  * bytes. The explode → broadcast-join → collect_list/array_sort reassembly
  * it replaces shuffled one struct row per corpus WORD (measured sf10:
  * 27.5M exploded rows, a 2.76 GB exchange) to recompute a value that is a
  * pure per-row function of (text, memo).
  *
  * Bit-compatible with the combinator form (differential-tested in
  * NativeKernelsSpec): per word the memo's token list (or ["<unk>"]),
  * tokens_hash = md5 hex of `concat_ws(" ", flatten(tokens in word order))`
  * over the UTF-8 bytes. The memo is a bounded model artifact (vocab-capped
  * at training); the per-word joined-token bytes rebuild lazily per
  * executor JVM.
  */
final class BpeMemoKernel(words: Array[String], tokenLists: Array[Array[String]])
    extends Serializable {
  require(words.length == tokenLists.length,
    s"bpe_memo: ${words.length} words but ${tokenLists.length} token lists")

  @transient private lazy val unkBytes: Array[Byte] =
    "<unk>".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** word → index; joined(i)/nTok(i) are the word's space-joined token bytes
    * and token count.
    */
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](words.length * 2)
    var i = 0
    while (i < words.length) { m.put(UTF8String.fromString(words(i)), i); i += 1 }
    m
  }
  @transient private lazy val joined: Array[Array[Byte]] =
    tokenLists.map(_.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  @transient private lazy val nTok: Array[Int] = tokenLists.map(_.length)

  @transient private lazy val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private final val HexDigits = "0123456789abcdef".getBytes

  // token boundaries under split(text, " "): slices between single spaces,
  // empty slices dropped (UTF-8 continuation bytes are >= 0x80, never 0x20,
  // so byte scanning is code-point safe)
  private def eachWord(text: UTF8String)(f: UTF8String => Unit): Long = {
    val bytes = text.getBytes
    val len = bytes.length
    var nWords = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        if (i > start) {
          f(UTF8String.fromBytes(bytes, start, i - start))
          nWords += 1
        }
        start = i + 1
      }
      i += 1
    }
    nWords
  }

  /** struct(n_words, n_tokens, tokens_hash) — the registered encode row.
    * Zero-word texts return (0, 0, md5("")); callers filter them to match
    * the aggregate form's absent-group semantics.
    */
  def encodeStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val md = md5Local.get()
    var nTokens = 0L
    var emitted = false
    val nWords = eachWord(text) { w =>
      val idx = index.get(w)
      val bytes = if (idx == null) unkBytes else joined(idx)
      // concat_ws separators go between emitted TOKENS, so a (degenerate)
      // empty token list contributes neither bytes nor a separator
      if (bytes.length > 0) {
        if (emitted) md.update(' '.toByte)
        md.update(bytes)
        emitted = true
      }
      nTokens += (if (idx == null) 1 else nTok(idx))
    }
    val digest = md.digest() // resets the digest for the next row
    val hex = new Array[Byte](32)
    var d = 0
    while (d < 16) {
      hex(2 * d) = HexDigits((digest(d) >> 4) & 0xF)
      hex(2 * d + 1) = HexDigits(digest(d) & 0xF)
      d += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nTokens, UTF8String.fromBytes(hex)))
  }

  /** Σ token counts over the words (OOV words count 1) — the
    * [[graft.operators.Bpe.tokenCounts]] value without the fingerprint.
    */
  def tokenCount(text: UTF8String): Long = {
    var nTokens = 0L
    eachWord(text) { w =>
      val idx = index.get(w)
      nTokens += (if (idx == null) 1 else nTok(idx))
    }
    nTokens
  }
}
