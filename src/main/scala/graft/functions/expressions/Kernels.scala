package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-scan JVM kernels behind the native expressions. Top-level object →
  * scalac emits static forwarders, so generated (whole-stage codegen) Java
  * calls these directly: `Kernels.dot(a, b, true, true)`. */
object Kernels {

  private val SEED = 42L
  val P31 = 2147483647L // 2^31-1

  def xx(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SEED)

  /** Prefix-filter prefix of ONE document, row-locally: the first
    * `|toks| − ⌈t·|toks|⌉ + 1` of its tokens under the canonical
    * (cnt, token-bytes) order, where cnt comes from the driver-collected
    * frequency map and tokens ABSENT from the map drop out of the ranking
    * (the single-side order of Dedup.jaccardCrossJoin). Must match the
    * window formulation exactly: k from the FULL distinct size (epsilon as
    * in prefixLenCol), ties by binary UTF8 comparison (Spark's string
    * ordering), selection over present tokens only. One row-local sort —
    * the stored side of an incremental cross join pays NO shuffle for its
    * prefix extraction.
    *
    * Returns VIEWS, not copies: each element is a `UTF8String` pointing into
    * the input row's `toks` buffer, which the scan reuses for the next row.
    * Safe only under a consumer that copies an element before the next row
    * arrives — as the `explode` in Dedup.jaccardCrossJoin does (each
    * generated row is written into its own output row). Never keep the
    * returned array, or its strings, across rows. */
  def prefixTokens(toks: ArrayData, threshold: Double,
                   freq: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val k = (n - math.ceil(n * threshold - 1e-9) + 1).toInt
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val present = new java.util.ArrayList[UTF8String](math.min(n, 64))
    val cnts = new java.util.ArrayList[java.lang.Long](math.min(n, 64))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val c = freq.get(t)
      if (c != null) { present.add(t); cnts.add(c) }
      i += 1
    }
    val m = present.size()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val idx = Array.tabulate(m)(j => j)
    val sorted = idx.sortBy(j => (cnts.get(j).longValue(), present.get(j)))(
      Ordering.Tuple2(Ordering.Long, Ordering.comparatorToOrdering(
        new java.util.Comparator[UTF8String] {
          override def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
        })))
    val take = math.min(k, m)
    val out = new Array[Any](take)
    var j = 0
    while (j < take) { out(j) = present.get(sorted(j)); j += 1 }
    new GenericArrayData(out)
  }

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Distinct word n-gram shingle STRINGS ("w1 w2 … wn"), first-occurrence
    * order — the codegen replacement for the slice+array_join HOF form of
    * SimilarityFunctions.wordShingles, whose lambda re-evaluates the token
    * split per ELEMENT (no CSE across HOF boundaries; measured ~10 s of a
    * 5k-doc corpus build). Tokenization must stay bit-compatible with
    * S.tokens: lowercase, strip leading/trailing java-\s (NOT String.trim,
    * which also strips non-\s control chars ≤ 0x20), split on \s+. */
  def shingleStrings(text: UTF8String, n: Int): ArrayData = {
    // UTF8String.toLowerCase, not String.toLowerCase: the latter is
    // default-locale (tr/az 'I'→'ı') and would diverge from Spark's lower().
    val s = text.toLowerCase.toString
    def isWs(ch: Char): Boolean =
      ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r'
    var st = 0
    var en = s.length
    while (st < en && isWs(s.charAt(st))) st += 1
    while (en > st && isWs(s.charAt(en - 1))) en -= 1
    if (st >= en) return new GenericArrayData(Array.empty[Any])
    val tokens = s.substring(st, en).split("\\s+")
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** 2-D Hilbert curve index (xy2d) over a 2^bits × 2^bits grid — the
    * locality-tighter alternative to the Morton code: CONSECUTIVE indices
    * are always grid-adjacent (|Δx|+|Δy| = 1), where the Z curve jumps at
    * quadrant seams. Level reduction keeps (x, y) in [0, s) before each
    * rotation, so every step is bounded integer arithmetic a SQL oracle
    * replays verbatim. */
  def hilbertIndex(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      val xm = x & (s - 1)
      val ym = y & (s - 1)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - ym; y = s - 1 - xm }
        else { x = ym; y = xm }
      } else { x = xm; y = ym }
      s >>= 1
    }
    d
  }

  /** Bridge for [[MultiDictCounter]] — ArrayData result for codegen.
    * Lowercases via UTF8String (locale-independent, matches Spark's
    * lower()) before handing the counter pre-lowercased text. */
  def dictScores(text: UTF8String, mc: MultiDictCounter): ArrayData =
    new GenericArrayData(mc.count(text.toLowerCase.toString))

  /** Weighted lower quantile over a kll_sketch (v, w) pair array — the
    * codegen replacement for the two-fold HOF formulation (interpreted HOFs
    * allocate a struct per element; measured ~0.4 s per quantile column on
    * a 2k-pair sketch — the q95/q107 lesson). Arithmetic is EXACTLY the HOF
    * version's: W = Σw, target = min(⌊q·W⌋+1, W), first v whose cumulative
    * weight reaches target. Empty array → NaN (the Column wrapper maps it
    * to the HOF's null). */
  def kllQuantile(pairs: ArrayData, q: Double): Double = {
    val n = pairs.numElements()
    if (n == 0) return Double.NaN
    var w = 0L
    var i = 0
    while (i < n) { w += pairs.getStruct(i, 2).getLong(1); i += 1 }
    val target = math.min(math.floor(q * w.toDouble).toLong + 1L, w)
    var cum = 0L
    i = 0
    while (i < n) {
      val row = pairs.getStruct(i, 2)
      cum += row.getLong(1)
      if (cum >= target) return row.getDouble(0)
      i += 1
    }
    pairs.getStruct(n - 1, 2).getDouble(0) // unreachable for target <= W
  }

  /** Intersection size of two ASCENDING long arrays — one merge walk, no
    * per-row set allocation (array_intersect builds a hash set per call;
    * at millions of candidate pairs that allocation dominates the verify
    * stage of the similarity joins). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = xx(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def minhashSignature(arr: ArrayData, elementsAreLong: Boolean,
                       as: Array[Long], bs: Array[Long]): ArrayData = {
    val numHashes = as.length
    val sig = Array.fill(numHashes)(P31)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = if (elementsAreLong) arr.getLong(i) else xx(arr.getUTF8String(i))
      val h0 = ((h % P31) + P31) % P31
      var j = 0
      while (j < numHashes) {
        val v = (as(j) * h0 + bs(j)) % P31
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def hyperplaneBucket(arr: ArrayData, matrix: Array[Array[Double]], dim: Int,
                       isFloat: Boolean): Long = {
    val n = math.min(dim, arr.numElements())
    var bucket = 0L
    var p = 0
    while (p < matrix.length) {
      val row = matrix(p)
      var acc = 0.0
      var d = 0
      while (d < n) {
        acc += (if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)) * row(d)
        d += 1
      }
      if (acc > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Jaro-Winkler — same algorithm as SimilarityFunctions.jaroWinkler
    * (floored transpositions, boost gated at jaro > 0.7). */
  def jaroWinkler(s1: UTF8String, s2: UTF8String): Double =
    graft.functions.SimilarityFunctions.jaroWinkler(s1.toString, s2.toString)

  /** Index of the nearest centroid (max dot product ≙ min cosine distance for
    * normalized vectors); deterministic first-wins tie-break. */
  def nearestCentroid(arr: ArrayData, centroids: Array[Array[Double]],
                      isFloat: Boolean): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var cIdx = 0
    while (cIdx < centroids.length) {
      val c = centroids(cIdx)
      val n = math.min(c.length, arr.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * c(i)
        i += 1
      }
      if (acc > bestScore) { bestScore = acc; best = cIdx }
      cIdx += 1
    }
    best
  }

  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toLowerCase.toString.trim
    if (s.isEmpty) return new GenericArrayData(Array.empty[Long])
    val tokens = s.split("\\s+")
    if (tokens.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= tokens.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(tokens(i + j)); j += 1 }
      seen.add(xx(UTF8String.fromString(sb.toString)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Keep only the allowed ASCII characters of a string — byte-level filter,
    * exactly equivalent to `regexp_replace(c, "[^<allowed>]", "")` for an
    * ASCII allow-set: every byte of a multibyte UTF-8 char is ≥ 0x80 and so
    * dropped, just as the char-class regex drops the char. */
  def keepChars(s: UTF8String, allowed: Array[Boolean]): UTF8String = {
    val bytes = s.getBytes
    val out = new Array[Byte](bytes.length)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 0 && allowed(b)) { out(n) = b; n += 1 }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, n))
  }

  /** Jaccard similarity of two arrays with array_intersect semantics in ONE
    * hash pass (no intersection-array allocation): distinct common elements /
    * (rawLenA + rawLenB − distinct common). NULL elements compare equal, as
    * in array_intersect. Works on string and long element types. */
  def jaccard(a: ArrayData, b: ArrayData, isLong: Boolean): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return 0.0
    val setA = new java.util.HashSet[Any](na * 2)
    var i = 0
    while (i < na) {
      setA.add(if (a.isNullAt(i)) null
        else if (isLong) java.lang.Long.valueOf(a.getLong(i)) else a.getUTF8String(i))
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nb) {
      val v = if (b.isNullAt(i)) null
        else if (isLong) java.lang.Long.valueOf(b.getLong(i)) else b.getUTF8String(i)
      if (setA.remove(v)) inter += 1 // remove ⇒ each common element counts once
      i += 1
    }
    val u = na + nb - inter
    if (u == 0) 0.0 else inter.toDouble / u
  }

  /** Rolling polynomial hash (Rabin-Karp, base 257 mod 2^31−1) of every
    * char-k-gram in ONE scan: h' = (h − cp·257^(k−1))·257 + cp_new (mod p).
    * Value-identical to the per-position HOF rebuild (which is O(n²·k):
    * char-indexed substr on UTF8String is O(position)) — this is O(n).
    * Code-point semantics match `ascii()` of a 1-char substring. */
  def rollingHashes(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val p = P31
    var pow = 1L // 257^(k-1) mod p
    var j = 1
    while (j < k) { pow = pow * 257L % p; j += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 257L + cps(i)) % p; i += 1 }
    out(0) = h
    i = k
    while (i < n) {
      h = ((h - cps(i - k) * pow % p + p) % p * 257L + cps(i)) % p
      out(i - k + 1) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------ per-doc text stats

  /** One-pass line-repetition stats over a document:
    * [n_lines, n_distinct_lines, total_chars, dup_chars] (chars = code
    * points, matching SQL length()). Per-row — documents are rows, so the
    * whole Gopher line-repetition filter needs NO shuffle. */
  def lineStats(text: UTF8String): ArrayData = {
    val lines = text.toString.split("\n", -1)
    val counts = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < lines.length) {
      counts.merge(lines(i), 1L, (a, b) => a + b)
      i += 1
    }
    var distinct = 0L; var chars = 0L; var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val len = e.getKey.codePointCount(0, e.getKey.length).toLong
      val c = e.getValue
      distinct += 1
      chars += len * c
      if (c > 1) dupChars += len * c
    }
    new GenericArrayData(Array(lines.length.toLong, distinct, chars, dupChars))
  }

  /** Keep the FIRST occurrence of every line, in order — per-row repeated-
    * line scrub. */
  def dropRepeatedLines(text: UTF8String): UTF8String = {
    val lines = text.toString.split("\n", -1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < lines.length) { seen.add(lines(i)); i += 1 }
    UTF8String.fromString(String.join("\n", seen))
  }

  /** Most frequent word n-gram in one pass: [countStr, covStr, gram] packed
    * as (count, count*gramChars, gram) with the SAME argmax order as a
    * struct max — (count, coverage, gram-binary-UTF8) — so results match the
    * DataFrame/DuckDB struct-max formulations bit for bit. Returns null gram
    * (count 0) when the doc has fewer than n tokens. Tokenization replicates
    * SimilarityFunctions.tokens: trim, lowercase, split on \\s+. */
  def topNgram(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val trimmed = text.toLowerCase.toString.replaceAll("^\\s+|\\s+$", "")
    def empty = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](0L, 0L, null))
    if (trimmed.isEmpty) return empty
    val toks = trimmed.split("\\s+")
    if (toks.length < n) return empty
    val counts = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      counts.merge(sb.toString, 1L, (a, b) => a + b)
      i += 1
    }
    var bestC = -1L; var bestCov = -1L; var best: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = UTF8String.fromString(e.getKey)
      val c = e.getValue
      val cov = c * g.numChars()
      if (c > bestC || (c == bestC && (cov > bestCov ||
          (cov == bestCov && (best == null || g.compareTo(best) > 0))))) {
        bestC = c; bestCov = cov; best = g
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestC, bestCov, best))
  }

  // -------------------------------------------------------------- mojibake

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")
  private val Utf8Strict = new ThreadLocal[java.nio.charset.CharsetDecoder] {
    override def initialValue(): java.nio.charset.CharsetDecoder =
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
  }
  private val Cp1252Strict = new ThreadLocal[java.nio.charset.CharsetEncoder] {
    override def initialValue(): java.nio.charset.CharsetEncoder =
      Cp1252.newEncoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
  }

  /** Strong mojibake markers — characters that appear when UTF-8 lead
    * bytes are mis-decoded as cp1252: "Ã"/"Â" (C3/C2, every garbled
    * 2-byte Latin char), the "â€" digraph (E2 80, garbled general
    * punctuation), and "ðŸ" (F0 9F, garbled emoji). EVERY repair round is
    * gated on these: a clean round trip alone is NOT evidence of mojibake —
    * genuine text like "é–…" has cp1252 bytes (E9 96 85) that form valid
    * UTF-8, and an ungated "repair" would destroy it (confirmed by
    * execution, round-6 review). The cost of the gate is that marker-less
    * 3-byte mojibake (bare CJK garble like "æˆ¦") is left untouched — the
    * conservative trade: never corrupt plausible text. */
  private def looksGarbled(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == 0xC3 || c == 0xC2) return true
      if (i + 1 < s.length) {
        val d = s.charAt(i + 1)
        if (c == 0xE2 && d == 0x20AC) return true // â€
        if (c == 0xF0 && d == 0x0178) return true // ðŸ
      }
      i += 1
    }
    false
  }

  /** Repair the classic mojibake class — UTF-8 bytes mis-decoded as
    * Windows-1252/Latin-1 ("Ã©" for "é", "â€™" for "'"): re-encode the
    * string back to its cp1252 bytes and strictly re-decode them as UTF-8.
    * A round applies ONLY when the string carries a strong garbled-lead
    * marker ([[looksGarbled]]) AND the full round trip is clean — any
    * character with no cp1252 byte, or any byte sequence that is not valid
    * UTF-8, returns the input unchanged. Up to two rounds unwind double
    * encoding (each gated). Pure text-in/text-out — the ftfy move, minus
    * the heuristics that need a language model. */
  def fixMojibake(s: UTF8String): UTF8String = {
    // zero-allocation fast path: pure-ASCII rows (the common case in a
    // corpus-wide cleanup pass) never materialize a java String
    val nb = s.numBytes
    var bi = 0
    var anyHigh = false
    while (bi < nb && !anyHigh) {
      if (s.getByte(bi) < 0) anyHigh = true
      bi += 1
    }
    if (!anyHigh) return s
    def roundTrip(in: String): String =
      if (!looksGarbled(in)) null
      else try {
        val bytes = Cp1252Strict.get().reset().encode(java.nio.CharBuffer.wrap(in))
        val out = Utf8Strict.get().reset().decode(bytes).toString
        if (out == in) null else out
      } catch { case _: java.nio.charset.CharacterCodingException => null }
    val first = roundTrip(s.toString)
    if (first == null) return s
    val second = roundTrip(first)
    UTF8String.fromString(if (second == null) first else second)
  }

  // ------------------------------------------------------------------- BPE

  /** One greedy left-to-right non-overlapping merge pass of (l,r) → l+r —
    * value-identical to the mergeOnce aggregate() fold and the trainer's
    * driver-side pass ("a a a" under (a,a) → [aa, a]). */
  def bpeMergePass(syms: Array[String], l: String, r: String): Array[String] = {
    val b = Array.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { b += (l + r); i += 2 }
      else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Apply the ORDERED merge list (later merges see earlier merges' output).
    * A cheap adjacency presence scan skips the rebuild for merges that don't
    * occur — the common case once a word is mostly merged — so cost tracks
    * applied merges, not merges × length. */
  private def bpeApplyAll(syms0: Array[String], lefts: Array[String],
                          rights: Array[String]): Array[String] = {
    var syms = syms0
    var j = 0
    while (j < lefts.length && syms.length > 1) {
      val l = lefts(j); val r = rights(j)
      var i = 0; var found = false
      while (i + 1 < syms.length && !found) {
        if (syms(i) == l && syms(i + 1) == r) found = true
        i += 1
      }
      if (found) syms = bpeMergePass(syms, l, r)
      j += 1
    }
    syms
  }

  /** Per-CODEPOINT symbols (supplementary-plane safe — matches the
    * `regexp_extract_all(w, "(?s).")` splitter and the DuckDB oracle). */
  private def codepointSyms(w: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      b += w.substring(i, i + n); i += n
    }
    b.result()
  }

  /** PQ encode: per contiguous subspace j, the argmin-squared-L2 centroid
    * index (FIRST index on ties — matches the oracle's ORDER BY d2, c).
    * Distances accumulate diff² sequentially from 0.0, the same order as
    * [[dot]] over a difference array, so argmins agree bit-for-bit with the
    * subL2 expression formulation and the DuckDB replay. */
  def pqEncode(vec: ArrayData, books: Array[Array[Array[Double]]],
               isFloat: Boolean): ArrayData = {
    val m = books.length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val sub = book(0).length
      val off = j * sub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var i = 0
        while (i < sub) {
          val t = (if (isFloat) vec.getFloat(off + i).toDouble
                   else vec.getDouble(off + i)) - cent(i)
          acc += t * t
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Luhn checksum over a digit buffer (rightmost digit undoubled). */
  private def luhnOk(d: java.lang.StringBuilder): Boolean = {
    var sum = 0
    var alt = false
    var i = d.length - 1
    while (i >= 0) {
      var v = d.charAt(i) - '0'
      if (alt) { v *= 2; if (v > 9) v -= 9 }
      sum += v
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }

  /** Mask Luhn-VALID payment-card candidates: candidates are the maximal
    * runs the greedy regex `[0-9]([ -]?[0-9])*` matches (digits separated
    * by at most one space or dash — the manual scan below consumes exactly
    * that language, so the SQL replay via regexp_extract_all is
    * candidate-identical); a candidate with 13–19 digits whose digits pass
    * the Luhn checksum is replaced by `[CARD-<last4>]`, everything else is
    * copied through. Checksum validation is what keeps recall useful:
    * phone numbers, ids and timestamps share the digit-run SHAPE but fail
    * Luhn 90% of the time, so a regex-only masker (q112's posture) would
    * have to choose between missing cards and shredding every number. */
  def maskCardNumbers(s: UTF8String): UTF8String = {
    val str = s.toString
    val n = str.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') {
        var j = i
        val digits = new java.lang.StringBuilder(24)
        var go = true
        while (j < n && go) {
          val cj = str.charAt(j)
          if (cj >= '0' && cj <= '9') { digits.append(cj); j += 1 }
          else if ((cj == ' ' || cj == '-') && j + 1 < n && {
            val ck = str.charAt(j + 1); ck >= '0' && ck <= '9'
          }) j += 1
          else go = false
        }
        val nd = digits.length
        if (nd >= 13 && nd <= 19 && luhnOk(digits))
          out.append("[CARD-").append(digits.substring(nd - 4)).append(']')
        else out.append(str, i, j)
        i = j
      } else { out.append(c); i += 1 }
    }
    UTF8String.fromString(out.toString)
  }

  /** Dense matrix-vector product y = M·x in one fused loop, sequential
    * accumulation per output row (j ascending from 0.0 — the order the
    * oracle's list_reduce replays). The JL-projection hot kernel. */
  def matVec(vec: ArrayData, m: Array[Array[Double]], isFloat: Boolean): ArrayData = {
    val k = m.length
    // bounds check, not a silent wrap: UnsafeArrayData.getDouble past the
    // end reads garbage memory without throwing, which would corrupt every
    // projection downstream instead of failing the mis-sized row
    if (k > 0 && vec.numElements() != m(0).length)
      throw new IllegalArgumentException(
        s"mat_vec: vector has ${vec.numElements()} elements, matrix expects ${m(0).length}")
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < row.length) {
        s += row(j) * (if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j))
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Symmetric code distance (SDC) between two PQ codes: Σ_j
    * flat(j·k² + a(j)·k + b(j)) over the precomputed subspace
    * centroid-distance table. Left-to-right accumulation from 0.0 — the
    * exact add order the q172 oracle unrolls, so this kernel and the SQL
    * replay agree bit-for-bit. */
  def sdcSum(a: ArrayData, b: ArrayData, flat: Array[Double], kk: Int): Double = {
    val m = a.numElements()
    val kk2 = kk * kk
    var s = 0.0
    var j = 0
    while (j < m) {
      s += flat(j * kk2 + a.getInt(j) * kk + b.getInt(j))
      j += 1
    }
    s
  }

  /** Whole ordered merge table over a symbol ARRAY in one native call
    * (replaces a chain of per-merge aggregate() folds). */
  def bpeApply(symbols: ArrayData, lefts: Array[String],
               rights: Array[String]): ArrayData = {
    val n = symbols.numElements()
    val in = new Array[String](n)
    var i = 0
    while (i < n) { in(i) = symbols.getUTF8String(i).toString; i += 1 }
    new GenericArrayData(
      bpeApplyAll(in, lefts, rights).map(UTF8String.fromString): Array[Any])
  }

  /** Unicode normalization (java.text.Normalizer) with an allocation-free
    * fast path: `isNormalized` scans without building the normalized copy,
    * so the overwhelmingly-common already-normal (e.g. pure-ASCII) row costs
    * one read-only pass and returns the input value unchanged. */
  def unicodeNormalize(s: UTF8String, form: java.text.Normalizer.Form): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, form))
  }

  /** Mask every dictionary occurrence in `s` with `token`, leftmost-longest
    * non-overlapping ([[AcAutomaton.mask]]). */
  def acMask(s: UTF8String, ac: AcAutomaton, token: UTF8String): UTF8String =
    UTF8String.fromString(ac.mask(s.toString, token.toString))

  /** Count of masked regions under the same leftmost-longest policy. */
  def acCount(s: UTF8String, ac: AcAutomaton): Int = ac.count(s.toString)

  /** Encode a WORDS array: each word → codepoint symbols → ordered merges →
    * symbols joined by `sep`. One native call per row. */
  def bpeSegments(words: ArrayData, lefts: Array[String],
                  rights: Array[String], sep: UTF8String): ArrayData = {
    val s = sep.toString
    val n = words.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i).toString
      out(i) = UTF8String.fromString(
        bpeApplyAll(codepointSyms(w), lefts, rights).mkString(s))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Shared tokenization for the span-scrub/bigram/bloom kernel family —
    * replicates SimilarityFunctions.tokens (lowercase, regex trim, split
    * \\s+) in ONE place so the kernels cannot silently diverge from the
    * Column path. Returns the empty array for blank text. */
  private def tokensOf(text: UTF8String): Array[String] = {
    val trimmed = text.toLowerCase.toString.replaceAll("^\\s+|\\s+$", "")
    if (trimmed.isEmpty) Array.empty[String] else trimmed.split("\\s+")
  }

  // ---------------------------------------------------------- span scrub

  private val SEED2 = 0x9747b28cL // second independent xxhash64 stream

  /** Positional 128-bit word-n-gram hashes in ONE pass: element i =
    * struct(h1, h2) of the i-th n-token window (tokens space-joined), hashed
    * under two xxhash64 seeds. Empty below n tokens. Tokenization replicates
    * SimilarityFunctions.tokens (lowercase, trim, split \\s+). 128 bits keeps
    * cross-gram collisions at ~m²/2¹²⁸ across a whole corpus — a single
    * 64-bit key WOULD collide at 100 TB gram counts (~10¹³ grams → ~10⁶
    * expected collisions), each one a spuriously-masked span. */
  def gramHashPairs(text: UTF8String, n: Int): ArrayData = {
    val toks = tokensOf(text)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val g = UTF8String.fromString(sb.toString)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, SEED),
          XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, SEED2)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-position CHARACTER-window rolling hashes in ONE pass: element i =
    * 64-bit polynomial hash (mod 2^64, odd base) of the `minLen`-CODE-POINT
    * window starting at code-point index i. Empty below `minLen` code
    * points. Unlike [[gramHashPairs]], 64 bits is enough here: the hash
    * only NOMINATES candidates — an exact string compare verifies every
    * hot class before anything is masked, so a collision costs verify
    * work, never a spurious mask. Code points (not UTF-16 units) keep
    * positions aligned with SQL `substring`, which the verify stage uses
    * to re-extract the window text. */
  def charWindowHashes(text: UTF8String, minLen: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < minLen) return new GenericArrayData(Array.empty[Any])
    val B = 0x100000001b3L // FNV-1a prime (odd)
    var bPow = 1L
    var j = 0
    while (j < minLen - 1) { bPow *= B; j += 1 } // B^(minLen-1) mod 2^64
    val out = new Array[Long](n - minLen + 1)
    var h = 0L
    var i = 0
    while (i < minLen) { h = h * B + cps(i); i += 1 }
    out(0) = h
    i = 1
    while (i <= n - minLen) {
      h = (h - cps(i - 1) * bPow) * B + cps(i + minLen - 1)
      out(i) = h
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[charWindowHashes]] plus the window TEXT: element i =
    * struct(h, w) of the `minLen`-code-point window at index i — the
    * one-pass form the persisted window INDEX needs (the index is keyed
    * by content, so hash collisions can never merge distinct windows). */
  def charWindows(text: UTF8String, minLen: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    if (n < minLen) return new GenericArrayData(Array.empty[Any])
    val B = 0x100000001b3L
    var bPow = 1L
    var j = 0
    while (j < minLen - 1) { bPow *= B; j += 1 }
    val out = new Array[Any](n - minLen + 1)
    var h = 0L
    var i = 0
    while (i < minLen) { h = h * B + cps(i); i += 1 }
    out(0) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](h, UTF8String.fromString(new String(cps, 0, minLen))))
    i = 1
    while (i <= n - minLen) {
      h = (h - cps(i - 1) * bPow) * B + cps(i + minLen - 1)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h, UTF8String.fromString(new String(cps, i, minLen))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Scrub `minLen`-code-point spans starting at each 1-based position in
    * `starts` (sorted ascending, possibly overlapping): returns
    * struct(n_masked, scrubbed) in one pass — the per-document rebuild of
    * the exact-substring scrub without ever materializing per-character
    * rows. */
  def maskCharSpans(text: UTF8String, starts: ArrayData,
                    minLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val ns = starts.numElements()
    val sb = new java.lang.StringBuilder(s.length)
    var masked = 0L
    var idx = 0
    var coverEnd = 0L // exclusive end of the current covered run, 1-based
    var cp = 1L       // current code-point position, 1-based
    var i = 0         // UTF-16 index
    while (i < s.length) {
      val c = s.codePointAt(i)
      while (idx < ns && starts.getLong(idx) <= cp) {
        val e = starts.getLong(idx) + minLen
        if (e > coverEnd) coverEnd = e
        idx += 1
      }
      if (cp < coverEnd) masked += 1L
      else sb.appendCodePoint(c)
      cp += 1L
      i += Character.charCount(c)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](masked, UTF8String.fromString(sb.toString)))
  }

  /** Per-position bigram hash pairs in ONE pass: element i =
    * struct(xxhash64(w_i), xxhash64("w_i w_i+1")) — the (condition-word,
    * bigram) keys a bigram LM needs, as 8-byte longs instead of the string
    * pairs the zip_with HOF formulation carried (interpreted, and evaluated
    * once per downstream use). Empty below 2 tokens. Tokenization replicates
    * SimilarityFunctions.tokens. */
  def bigramHashes(text: UTF8String): ArrayData = {
    val toks = tokensOf(text)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - 1)
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < toks.length - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](xx(UTF8String.fromString(toks(i))),
          xx(UTF8String.fromString(sb.toString))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-position bigram hash TRIPLES in one pass: element i =
    * struct(xxhash64(w_i), xxhash64(w_i+1), xxhash64("w_i w_i+1")) — the
    * (condition-word, continuation-word, bigram) keys interpolated
    * Kneser-Ney needs (the continuation distribution is keyed by the RIGHT
    * word, which [[bigramHashes]] doesn't carry). Empty below 2 tokens.
    * Tokenization replicates SimilarityFunctions.tokens. */
  def knBigramHashes(text: UTF8String): ArrayData = {
    val toks = tokensOf(text)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](toks.length)
    var j = 0
    while (j < toks.length) { hs(j) = xx(UTF8String.fromString(toks(j))); j += 1 }
    val out = new Array[Any](toks.length - 1)
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < toks.length - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](hs(i), hs(i + 1), xx(UTF8String.fromString(sb.toString))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm) in
    * ONE pass: over the k-char-gram rolling hashes, each window of `w`
    * consecutive hashes selects its RIGHTMOST minimum; consecutive windows
    * selecting the same position record it once. Guarantees: any shared
    * substring of length ≥ w+k−1 between two documents yields at least one
    * shared (local) fingerprint, and density is ~2/(w+1) — the robust
    * middle ground between full k-gram sets (huge) and one global min
    * (fragile). Monotonic min-deque (O(n)); `>=` eviction makes the
    * rightmost of equal minima win, matching the paper's tie rule.
    * Returns array<struct(pos int, fp long)>; empty below k+w−1 chars. */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val hsData = rollingHashes(text, k)
    val m = hsData.numElements()
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val hs = hsData.toLongArray()
    val deque = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail) holds candidate indices
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var lastSel = -1
    var i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1 && deque(head) != lastSel) {
        lastSel = deque(head)
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](lastSel, hs(lastSel)))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-position TRIGRAM hash tuples in one pass: element i =
    * struct(xxhash64(w_i+1), xxhash64(w_i+2), xxhash64("w_i w_i+1"),
    * xxhash64("w_i+1 w_i+2"), xxhash64("w_i w_i+1 w_i+2")) — the
    * (middle-word, last-word, left-bigram, right-bigram, trigram) keys
    * recursive Kneser-Ney backoff needs; w1's own hash is never consulted
    * (only through the left-bigram key), so it is not carried. Empty below
    * 3 tokens. Tokenization replicates SimilarityFunctions.tokens. */
  def knTrigramHashes(text: UTF8String): ArrayData = {
    val toks = tokensOf(text)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](toks.length)
    var j = 0
    while (j < toks.length) { hs(j) = xx(UTF8String.fromString(toks(j))); j += 1 }
    val bg = new Array[Long](toks.length - 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < toks.length - 1) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1))
      bg(i) = xx(UTF8String.fromString(sb.toString))
      i += 1
    }
    val out = new Array[Any](toks.length - 2)
    i = 0
    while (i < toks.length - 2) {
      sb.setLength(0)
      sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ').append(toks(i + 2))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](hs(i + 1), hs(i + 2), bg(i), bg(i + 1),
          xx(UTF8String.fromString(sb.toString))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Probe a document's DISTINCT word n-grams against a Bloom bitset in one
    * pass: returns (n_grams, n_hits) where n_grams counts the distinct
    * n-token windows and n_hits those whose kHashes md5-derived positions
    * are all set ([[SketchAggregates.bloomTest]] — same walk the build agg
    * uses, so hits ⊇ the exact overlap always). Tokenization replicates
    * SimilarityFunctions.tokens. */
  def bloomGramHits(text: UTF8String, n: Int, words: Array[Long],
                    kHashes: Int): org.apache.spark.sql.catalyst.InternalRow = {
    def row(g: Long, h: Long) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](g, h))
    val toks = tokensOf(text)
    if (toks.length < n) return row(0L, 0L)
    val mBits = words.length * 64
    val seen = new java.util.HashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var grams = 0L
    var hits = 0L
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val g = sb.toString
      if (seen.add(g)) {
        grams += 1
        if (SketchAggregates.bloomTest(words, mBits, kHashes, g)) hits += 1
      }
      i += 1
    }
    row(grams, hits)
  }

  /** Rebuild a document with every token covered by a hot n-gram start
    * masked out — one pass over tokens with a pointer into the SORTED
    * ascending `starts` (token covered iff some start s has s ≤ i < s+n).
    * Returns (n_tokens, n_removed, scrubbed_text); tokenization as above. */
  def scrubSpans(text: UTF8String, starts: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = tokensOf(text)
    val ns = starts.numElements()
    val sb = new java.lang.StringBuilder(text.numBytes)
    var kept = 0; var ptr = 0; var coveredUntil = -1; var i = 0
    while (i < toks.length) {
      while (ptr < ns && starts.getInt(ptr) <= i) {
        val end = starts.getInt(ptr) + n
        if (end > coveredUntil) coveredUntil = end
        ptr += 1
      }
      if (i >= coveredUntil) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      toks.length.toLong, (toks.length - kept).toLong,
      UTF8String.fromString(sb.toString)))
  }

  /** Probe a [[SketchAggregates.BloomSketchAgg]] bitset (big-endian-long
    * BINARY) for ANY of a set of pre-hashed keys, reading bits straight off
    * the byte array — no long[] materialization per row, which matters when
    * one stats scan probes thousands of per-file filters. `h1s`/`h2s` are
    * the raw md5-derived 60-bit streams ([[SketchAggregates.md5Hash60]] /
    * `md5Hash60b`), hashed ONCE on the driver and reduced mod mBits here so
    * one key set probes filters of ANY size. Bit layout mirrors
    * `bloomSetBits`: word w = 8 big-endian bytes at offset 8w, bit k of the
    * long lives in byte (7 − k/8) at in-byte position k%8. */
  def bloomContainsAny(bytes: Array[Byte], kHashes: Int,
                       h1s: Array[Long], h2s: Array[Long]): Boolean = {
    val mBits = bytes.length << 3
    var i = 0
    while (i < h1s.length) {
      var p = (h1s(i) % mBits).toInt
      val h2 = ((h2s(i) % mBits) | 1L).toInt
      var j = 0
      var hit = true
      while (hit && j < kHashes) {
        val base = (p >>> 6) << 3
        val k = p & 63
        if (((bytes(base + 7 - (k >>> 3)) >> (k & 7)) & 1) == 0) hit = false
        else { p += h2; if (p >= mBits) p -= mBits; j += 1 }
      }
      if (hit) return true
      i += 1
    }
    false
  }
}

/** Aho-Corasick multi-pattern automaton over UTF-16 code units — linear-time
  * dictionary matching however large the term list (a regex alternation of N
  * terms backtracks; this never does). Built once per expression instance on
  * the executor, shared across rows. Matching policy for mask/count:
  * LEFTMOST-LONGEST, NON-OVERLAPPING — all occurrences are collected (output
  * links give every dict term ending at each position), sorted by
  * (start asc, length desc), and swept keeping matches that start at or
  * after the previous kept match's end. Terms containing lone surrogates are
  * the caller's responsibility (cf. the BPE codepoint contract). */
final class AcAutomaton(terms: Array[String]) extends Serializable {
  import scala.collection.mutable.ArrayBuffer
  private val children = ArrayBuffer(new java.util.HashMap[Character, Integer]())
  private val termLen = ArrayBuffer(0) // length of the dict term ending HERE
  terms.filter(_.nonEmpty).foreach { t =>
    var node = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      var next = children(node).get(c)
      if (next == null) {
        children += new java.util.HashMap[Character, Integer]()
        termLen += 0
        next = children.size - 1
        children(node).put(c, next)
      }
      node = next
      i += 1
    }
    termLen(node) = t.length
  }
  private val fail = new Array[Int](children.size)
  // fail links via BFS; root's children fail to root
  locally {
    val queue = new java.util.ArrayDeque[Int]()
    children(0).forEach((_, v) => { fail(v) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll()
      children(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).containsKey(c)) f = fail(f)
        val fc = children(f).get(c)
        fail(v) = if (fc != null && fc != v) fc else 0
        queue.add(v)
      }
    }
  }

  /** All dict occurrences as (start, len), in scan order (end asc). */
  private def occurrences(s: String): ArrayBuffer[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var node = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      while (node != 0 && !children(node).containsKey(c)) node = fail(node)
      val next = children(node).get(c)
      node = if (next != null) next else 0
      // walk the fail chain: every dict term ending at position i
      var o = node
      while (o != 0) {
        if (termLen(o) > 0) out += ((i - termLen(o) + 1, termLen(o)))
        o = fail(o)
      }
      i += 1
    }
    out
  }

  /** Leftmost-longest non-overlapping selection of [[occurrences]]. */
  private def selected(s: String): Seq[(Int, Int)] = {
    val occ = occurrences(s).sortBy { case (st, len) => (st, -len) }
    val keep = ArrayBuffer.empty[(Int, Int)]
    var lastEnd = 0
    occ.foreach { case (st, len) =>
      if (st >= lastEnd) { keep += ((st, len)); lastEnd = st + len }
    }
    keep.toSeq
  }

  def mask(s: String, token: String): String = {
    val keep = selected(s)
    if (keep.isEmpty) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    keep.foreach { case (st, len) =>
      sb.append(s, pos, st).append(token)
      pos = st + len
    }
    sb.append(s, pos, s.length).toString
  }

  def count(s: String): Int = selected(s).size
}

/** Multi-dictionary Aho-Corasick occurrence COUNTER: one pass over the text
  * accumulates a per-dictionary hit count, replacing one regexp_count per
  * dictionary word (the langid scorer ran 40 regex families per row).
  *
  * Word-ish terms (all chars \w) count only at \b boundaries — exactly
  * `regexp_count(text, '\bterm\b')`, since boundary-validated matches of one
  * word can never self-overlap. Non-\w terms count every occurrence
  * (substring semantics, the CJK path); terms with a proper border (prefix =
  * suffix, e.g. "aba") would then diverge from non-overlapping regexp_count,
  * so those are rejected at construction rather than silently miscounted.
  * A term may belong to SEVERAL dictionaries (stopwords shared by related
  * languages are common); a match then counts toward each owning
  * dictionary, exactly as running each dictionary's regexp_count
  * independently would. Within one dictionary a term must be unique
  * (listing it twice would double-count vs regexp_count). */
final class MultiDictCounter(dicts: Array[Array[String]]) extends Serializable {
  dicts.zipWithIndex.foreach { case (d, i) =>
    require(d.distinct.length == d.length, s"dict $i lists a term twice")
  }
  private def isWordCh(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
  dicts.flatten.distinct.filterNot(_.forall(isWordCh)).foreach { t =>
    (1 until t.length).foreach { b =>
      require(t.substring(0, b) != t.substring(t.length - b),
        s"non-word term '$t' has a border: overlapping occurrences would " +
          "diverge from regexp_count's non-overlapping semantics")
    }
  }

  import scala.collection.mutable.ArrayBuffer
  private val children = ArrayBuffer(new java.util.HashMap[Character, Integer]())
  private val termLen = ArrayBuffer(0)
  // Dict ids whose term ends at this node — a list, so one trie walk can
  // credit a shared stopword to every dictionary that owns it.
  private val termDicts = ArrayBuffer[List[Int]](Nil)
  private val termWordish = ArrayBuffer(false)
  dicts.zipWithIndex.foreach { case (dict, di) =>
    dict.filter(_.nonEmpty).foreach { t =>
      var node = 0
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        var next = children(node).get(c)
        if (next == null) {
          children += new java.util.HashMap[Character, Integer]()
          termLen += 0
          termDicts += Nil
          termWordish += false
          next = children.size - 1
          children(node).put(c, next)
        }
        node = next
        i += 1
      }
      termLen(node) = t.length
      termDicts(node) = di :: termDicts(node)
      termWordish(node) = t.forall(isWordCh)
    }
  }
  private val fail = new Array[Int](children.size)
  locally {
    val queue = new java.util.ArrayDeque[Int]()
    children(0).forEach((_, v) => { fail(v) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll()
      children(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).containsKey(c)) f = fail(f)
        val fc = children(f).get(c)
        fail(v) = if (fc != null && fc != v) fc else 0
        queue.add(v)
      }
    }
  }

  val nDicts: Int = dicts.length

  /** Per-dictionary occurrence counts. `s` must already be lowercased by
    * the caller via UTF8String.toLowerCase (see Kernels.dictScores) so the
    * fold matches Spark's locale-independent lower(); a default-locale
    * String.toLowerCase here would silently diverge under tr/az JVMs. */
  def count(s: String): Array[Int] = {
    val out = new Array[Int](nDicts)
    var node = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      while (node != 0 && !children(node).containsKey(c)) node = fail(node)
      val next = children(node).get(c)
      node = if (next != null) next else 0
      var o = node
      while (o != 0) {
        if (termLen(o) > 0) {
          val st = i - termLen(o) + 1
          val boundaryOk = !termWordish(o) ||
            ((st == 0 || !isWordCh(s.charAt(st - 1))) &&
              (i + 1 == s.length || !isWordCh(s.charAt(i + 1))))
          if (boundaryOk) {
            var ds = termDicts(o)
            while (ds.nonEmpty) { out(ds.head) += 1; ds = ds.tail }
          }
        }
        o = fail(o)
      }
      i += 1
    }
    out
  }
}
