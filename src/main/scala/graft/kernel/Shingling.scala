package graft.kernel

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shingling + MinHash + SimHash + banding kernel.
  *
  * The graft analog of the reference's pairwise title matching
  * (/root/reference/src/dedupe.rs:608-648): instead of Jaro over normalized
  * titles, web-scale near-dup detection hashes each document's k-shingles
  * (xxhash64), summarizes them with n MinHash values / one 64-bit SimHash,
  * and buckets signatures with LSH banding (b bands × r rows). Published
  * technique: Broder 1997 (MinHash), Charikar 2002 (SimHash), banding per
  * Leskovec/Rajaraman/Ullman "Mining of Massive Datasets" ch.3.
  *
  * All randomness is derived from a caller-supplied seed via SplitMix64
  * (Steele et al. 2014) so signatures are deterministic across JVMs and
  * executors.
  */
object Shingling {

  final val DefaultSeed = 42L

  /** SplitMix64 mix — deterministic stateless PRNG step. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** xxhash64 of a string's UTF-8 bytes (same primitive Spark's `xxhash64`
    * SQL function uses).
    */
  def hashString(s: String, seed: Long): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, seed)
  }

  /** Sort ascending in place, return the deduplicated prefix copy. */
  private def sortedDistinct(a: Array[Long], n: Int): Array[Long] = {
    if (n == 0) return Array.emptyLongArray
    java.util.Arrays.sort(a, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(a, 0, w)
  }

  private def sortedDistinctInt(a: Array[Int], n: Int): Array[Int] = {
    if (n == 0) return Array.emptyIntArray
    java.util.Arrays.sort(a, 0, n)
    var w = 1
    var i = 1
    while (i < n) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOfRange(a, 0, w)
  }

  /** Truncate 64-bit shingle hashes to their low 32 bits (sorted distinct).
    * Jaccard over 32-bit hashes is indistinguishable from 64-bit at document
    * scale (cross-collision probability per ~50-shingle pair ≈ 50²/2³² ≈
    * 6·10⁻⁷) and HALVES the dominant column of the signature checkpoint and
    * the verification-join shuffles. MinHash/SimHash still mix from the full
    * 64-bit hashes upstream.
    */
  def truncate32(h64: Array[Long]): Array[Int] = {
    if (h64 == null || h64.isEmpty) return Array.emptyIntArray
    val out = new Array[Int](h64.length)
    var i = 0
    while (i < h64.length) { out(i) = h64(i).toInt; i += 1 }
    sortedDistinctInt(out, out.length)
  }

  /** Exact Jaccard over two sorted distinct int arrays (linear merge). */
  def jaccardSortedInt(a: Array[Int], b: Array[Int]): Double = {
    if (a == null || b == null || (a.isEmpty && b.isEmpty)) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Inclusive codepoint ranges segmented as singleton tokens by
    * [[wordShingles]]: scripts written WITHOUT word-delimiting spaces, where
    * whitespace tokenization would collapse a whole document into one token
    * and near-dup detection would degrade to exact-match only. Treating each
    * Han/kana codepoint as its own "word" is standard CJK IR practice (cf.
    * Lucene's CJK analysis, which indexes unigrams/bigrams of ideographs);
    * it makes k-word shingles behave as k-character shingles over CJK runs
    * while leaving space-delimited scripts untouched.
    *
    * Policy notes: Hangul (U+AC00–D7AF) is EXCLUDED — Korean is written with
    * spaces, so whitespace tokenization already works; halfwidth katakana
    * (U+FF65–FF9F) is excluded — normalize width upstream. Ranges included:
    * CJK radicals/Kangxi, hiragana+katakana, CJK Unified Ideographs + ext A,
    * compatibility ideographs, and the supplementary ideographic planes
    * (ext B–F + compat supplement).
    */
  val CjkRanges: Seq[(Int, Int)] = Seq(
    (0x2E80, 0x2FDF), (0x3040, 0x30FF), (0x3400, 0x4DBF),
    (0x4E00, 0x9FFF), (0xF900, 0xFAFF), (0x20000, 0x2FA1F))

  /** Whether `cp` is in [[CjkRanges]] (hand-ordered: unified-ideograph range
    * first — the hot case on CJK text). Kept in sync with CjkRanges by a
    * KernelSpec exhaustiveness test.
    */
  @inline def isCjk(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) ||
    (cp >= 0x3400 && cp <= 0x4DBF) ||
    (cp >= 0x3040 && cp <= 0x30FF) ||
    (cp >= 0x2E80 && cp <= 0x2FDF) ||
    (cp >= 0xF900 && cp <= 0xFAFF) ||
    (cp >= 0x20000 && cp <= 0x2FA1F)

  /** Byte length (3 or 4) of the UTF-8 sequence starting at byte `i` IF it
    * encodes a [[CjkRanges]] codepoint; 0 otherwise (ASCII, 2-byte
    * sequences, continuation bytes, non-CJK codepoints, truncated tails,
    * and INVALID sequences — all of which stay inside the surrounding
    * space-delimited token). Continuation bytes are validated (`10xxxxxx`):
    * without the check, raw Latin-1 mojibake like the bytes `E4 61 62`
    * ('ä' + "ab" mis-encoded — the exact corruption class EncodingFix
    * models) would decode to U+4862 inside CJK ext A and swallow the ASCII
    * letters into a phantom singleton, breaking the byte-identical-on-
    * non-CJK-text contract. CJK starts at U+2E80, so only 3-byte sequences
    * (lead 0xE0–0xEF) and the first supplementary plane pair's lead 0xF0
    * can ever match; `b0` is the already-masked lead byte so the ASCII hot
    * path pays one compare.
    */
  @inline private def cjkSeqLen(base: AnyRef, off: Long, nb: Int, i: Int, b0: Int): Int =
    if (b0 < 0xE0) 0
    else if (b0 < 0xF0) {
      if (i + 2 >= nb) 0
      else {
        val c1 = Platform.getByte(base, off + i + 1) & 0xFF
        val c2 = Platform.getByte(base, off + i + 2) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (c2 & 0xC0) != 0x80) 0
        else {
          val cp = ((b0 & 0x0F) << 12) | ((c1 & 0x3F) << 6) | (c2 & 0x3F)
          if (isCjk(cp)) 3 else 0
        }
      }
    } else if (b0 == 0xF0) {
      // lead F0 ⇒ cp ∈ [U+10000, U+3FFFF]: (b0 & 7) == 0, so the codepoint
      // is carried entirely by the three continuation bytes
      if (i + 3 >= nb) 0
      else {
        val c1 = Platform.getByte(base, off + i + 1) & 0xFF
        val c2 = Platform.getByte(base, off + i + 2) & 0xFF
        val c3 = Platform.getByte(base, off + i + 3) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (c2 & 0xC0) != 0x80 || (c3 & 0xC0) != 0x80) 0
        else {
          val cp = ((c1 & 0x3F) << 12) | ((c2 & 0x3F) << 6) | (c3 & 0x3F)
          if (isCjk(cp)) 4 else 0
        }
      }
    } else 0

  /** Distinct, sorted shingle hashes of the k-word shingles of `text`.
    * Shorter-than-k documents hash the whole token sequence as one shingle
    * (so no document has an empty shingle set unless its text is empty).
    * Sorted output makes downstream set ops (Jaccard) linear merges.
    *
    * Tokenization is script-aware: a token is a maximal run of non-space,
    * non-CJK bytes, or a single [[CjkRanges]] codepoint — so unsegmented
    * Chinese/Japanese text shingles per character instead of collapsing to
    * one document-sized token (see [[CjkRanges]] for the policy). Output is
    * byte-identical to plain space splitting on any text without CJK
    * codepoints (the classifier only ever fires on lead bytes ≥ 0xE0).
    *
    * Allocation-free hot path: tokens are split on the single byte 0x20
    * directly over the UTF-8 bytes (the upstream [[TextNorm.normalizeTokens]]
    * emits single-space-separated tokens; multi-byte UTF-8 code units never
    * contain 0x20), each token is xxhash64'd in place, and a shingle hash is
    * an xxhash64 chain over its k token hashes — no per-shingle string is
    * ever materialized. This was the dominant allocation source of the
    * signature stage (GC-bound at 32 executor threads).
    */
  def wordShingles(text: UTF8String, k: Int, seed: Long): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val nb = text.numBytes
    if (nb == 0) return Array.emptyLongArray
    val base = text.getBaseObject
    val off = text.getBaseOffset
    // pass 1: count tokens (maximal non-space non-CJK runs + CJK singletons)
    var t = 0
    var i = 0
    while (i < nb) {
      val b = Platform.getByte(base, off + i) & 0xFF
      if (b == 0x20) i += 1
      else {
        t += 1
        val cl = cjkSeqLen(base, off, nb, i, b)
        if (cl > 0) i += cl
        else {
          i += 1
          var run = true
          while (i < nb && run) {
            val bj = Platform.getByte(base, off + i) & 0xFF
            if (bj == 0x20 || cjkSeqLen(base, off, nb, i, bj) > 0) run = false
            else i += 1
          }
        }
      }
    }
    if (t == 0) return Array.emptyLongArray
    // pass 2: hash each token in place (same walk as pass 1)
    val tok = new Array[Long](t)
    var ti = 0
    i = 0
    while (i < nb) {
      val b = Platform.getByte(base, off + i) & 0xFF
      if (b == 0x20) i += 1
      else {
        val start = i
        val cl = cjkSeqLen(base, off, nb, i, b)
        if (cl > 0) i += cl
        else {
          i += 1
          var run = true
          while (i < nb && run) {
            val bj = Platform.getByte(base, off + i) & 0xFF
            if (bj == 0x20 || cjkSeqLen(base, off, nb, i, bj) > 0) run = false
            else i += 1
          }
        }
        tok(ti) = XXH64.hashUnsafeBytes(base, off + start, i - start, seed)
        ti += 1
      }
    }
    // sliding windows of k token hashes, chained with xxhash64
    val m = math.max(1, t - k + 1)
    val hashes = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = seed
      var j = i
      val end = math.min(t, i + k)
      while (j < end) { h = XXH64.hashLong(tok(j), h); j += 1 }
      hashes(i) = h
      i += 1
    }
    sortedDistinct(hashes, m)
  }

  def wordShingles(text: String, k: Int, seed: Long = DefaultSeed): Array[Long] =
    if (text == null) Array.emptyLongArray
    else wordShingles(UTF8String.fromString(text), k, seed)

  /** Distinct, sorted xxhash64 values of the k-character shingles (over code
    * points) — finer-grained alternative for short texts.
    */
  def charShingles(text: String, k: Int, seed: Long = DefaultSeed): Array[Long] = {
    if (text == null || text.isEmpty) return Array.emptyLongArray
    val cps = text.codePoints().toArray
    val n = math.max(1, cps.length - k + 1)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val end = math.min(cps.length, i + k)
      hashes(i) = hashString(new String(cps, i, end - i), seed)
      i += 1
    }
    sortedDistinct(hashes, n)
  }

  /** Per-(numHashes, seed) affine coefficients (a, b) of the MinHash
    * permutations h_i(x) = a(i)*x + b(i), computed once per JVM —
    * regenerating them per row was the dominant fixed cost of the signature
    * stage at 10⁵ rows/executor.
    */
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  private[graft] def coefficients(numHashes: Int, seed: Long): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent((numHashes, seed), { key =>
      val (n, s) = key
      val a = new Array[Long](n)
      val b = new Array[Long](n)
      var i = 0
      while (i < n) {
        a(i) = splitmix64(s + 2L * i) | 1L // odd multiplier ⇒ bijection mod 2^64
        b(i) = splitmix64(s + 2L * i + 1L)
        i += 1
      }
      (a, b)
    })

  /** MinHash signature: n independent affine permutations h_i(x)=a_i*x+b_i
    * over the 64-bit shingle-hash space; signature[i] = min over shingles.
    * Empty shingle set → signature of Long.MaxValue (never collides with a
    * real signature's bands because band hashing includes the band values).
    */
  def minHash(shingleHashes: Array[Long], numHashes: Int,
              seed: Long = DefaultSeed): Array[Long] =
    minHash(shingleHashes, coefficients(numHashes, seed))

  /** [[minHash]] under `coeffs` from [[coefficients]] — the one signature
    * loop; the Catalyst MinHash expressions take their coefficients once
    * per instance and call it per row.
    */
  def minHash(shingleHashes: Array[Long], coeffs: (Array[Long], Array[Long])): Array[Long] = {
    val a = coeffs._1 // not `val (a, b) = …`, which allocates a tuple per call
    val b = coeffs._2
    val numHashes = a.length
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (shingleHashes == null) return sig
    var s = 0
    while (s < shingleHashes.length) {
      val x = shingleHashes(s)
      var i = 0
      while (i < numHashes) {
        val v = a(i) * x + b(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** 64-bit SimHash: per-bit vote over the shingle hashes. */
  def simHash(shingleHashes: Array[Long]): Long = {
    if (shingleHashes == null || shingleHashes.isEmpty) return 0L
    val votes = new Array[Int](64)
    var s = 0
    while (s < shingleHashes.length) {
      val h = shingleHashes(s)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      s += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** LSH band keys: split the signature into `bands` bands of `rows` values
    * and hash each band (band index folded in so cross-band buckets never
    * collide). Requires bands*rows == signature length.
    */
  def bandKeys(signature: Array[Long], bands: Int, rows: Int,
               seed: Long = DefaultSeed): Array[Long] = {
    require(signature.length == bands * rows,
      s"signature length ${signature.length} != bands*rows ${bands * rows}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b.toLong, seed)
      var r = 0
      while (r < rows) {
        h = XXH64.hashLong(signature(b * rows + r), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Exact Jaccard over two sorted distinct long arrays (linear merge). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a == null || b == null || (a.isEmpty && b.isEmpty)) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Estimated Jaccard from two equal-length MinHash signatures. */
  def minHashJaccardEstimate(s1: Array[Long], s2: Array[Long]): Double = {
    require(s1.length == s2.length && s1.length > 0)
    var eq = 0
    var i = 0
    while (i < s1.length) { if (s1(i) == s2(i)) eq += 1; i += 1 }
    eq.toDouble / s1.length
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Length of the longest common substring of two strings, linear time via
    * a suffix automaton of `s1` walked with `s2` (Blumer et al. 1985;
    * role equivalent to the suffix-array LCS named in SURVEY.md §2.6 —
    * the verification-side structural check complementing exact Jaccard).
    */
  def longestCommonSubstring(s1: String, s2: String): Int = {
    if (s1 == null || s2 == null || s1.isEmpty || s2.isEmpty) return 0
    // suffix automaton over chars (UTF-16 units; consistent both sides)
    val maxStates = 2 * s1.length + 4
    val len = new Array[Int](maxStates)
    val link = new Array[Int](maxStates)
    val trans = new Array[java.util.HashMap[Character, Integer]](maxStates)
    var size = 1
    var last = 0
    link(0) = -1
    trans(0) = new java.util.HashMap[Character, Integer]()
    var i = 0
    while (i < s1.length) {
      val c = s1.charAt(i)
      val cur = size
      size += 1
      len(cur) = len(last) + 1
      trans(cur) = new java.util.HashMap[Character, Integer]()
      var p = last
      while (p != -1 && !trans(p).containsKey(c)) {
        trans(p).put(c, cur)
        p = link(p)
      }
      if (p == -1) link(cur) = 0
      else {
        val q = trans(p).get(c)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = size
          size += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          trans(clone) = new java.util.HashMap[Character, Integer](trans(q))
          while (p != -1 && trans(p).get(c) == q) {
            trans(p).put(c, clone)
            p = link(p)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
      i += 1
    }
    // walk s2
    var v = 0
    var l = 0
    var best = 0
    var j = 0
    while (j < s2.length) {
      val c = s2.charAt(j)
      while (v != 0 && !trans(v).containsKey(c)) {
        v = link(v)
        l = len(v)
      }
      if (trans(v).containsKey(c)) {
        v = trans(v).get(c)
        l += 1
      }
      if (l > best) best = l
      j += 1
    }
    best
  }

  /** Pack the low `b` bits of each value into a little-endian long array. */
  def packLowBits(values: Array[Long], b: Int): Array[Long] = {
    require(b > 0 && 64 % b == 0, s"b must divide 64, got $b")
    val mask = if (b == 64) -1L else (1L << b) - 1L
    val out = new Array[Long]((values.length * b + 63) / 64)
    var i = 0
    while (i < values.length) {
      val bit = i * b
      out(bit >> 6) |= (values(i) & mask) << (bit & 63)
      i += 1
    }
    out
  }

  /** Cell `i` of a packed b-bit sketch. */
  def bbitCell(packed: Array[Long], i: Int, b: Int): Long = {
    val mask = if (b == 64) -1L else (1L << b) - 1L
    val bit = i * b
    (packed(bit >> 6) >>> (bit & 63)) & mask
  }

  /** Unbiased Jaccard estimate from two b-bit sketches: with match rate
    * P̂ = (equal cells)/n and accidental-collision floor c = 2^-b,
    * Ĵ = (P̂ − c)/(1 − c), clamped to [0, 1] (the r→0 form of Li & König's
    * eq. 3 — the density correction terms vanish for 64-bit hash spaces).
    * Identical shingle sets estimate exactly 1.0 (all cells equal).
    */
  def bbitJaccardEstimate(x: Array[Long], y: Array[Long], numHashes: Int,
                          b: Int): Double = {
    require(x.length == y.length && x.length == (numHashes * b + 63) / 64)
    var eq = 0
    var i = 0
    while (i < numHashes) {
      if (bbitCell(x, i, b) == bbitCell(y, i, b)) eq += 1
      i += 1
    }
    val phat = eq.toDouble / numHashes
    val c = if (b == 64) 0.0 else 1.0 / (1L << b).toDouble
    math.max(0.0, math.min(1.0, (phat - c) / (1.0 - c)))
  }
}
