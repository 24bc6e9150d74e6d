package org.apache.spark.sql.graftext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernels shared by the interpreted (`nullSafeEval`) and
  * code-generated (`doGenCode`) paths of the graftext expressions.
  *
  * Generated Java calls these through the Scala object's static
  * forwarders, so each expression sits INSIDE whole-stage codegen —
  * no interpreted-eval dispatch, no boxed `InternalRow` per call, no
  * codegen break at the call site — while the loop bodies stay
  * ordinary JVM methods the JIT compiles once. Semantics are pinned
  * per-expression (see each case class's Scaladoc) and by
  * NativeExpressionProperties.
  */
object GraftKernels {

  private val space = UTF8String.fromString(" ")

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** RollingHashes: xxhash64 (seed 42) of every w-token window. */
  def rollingHashes(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    val windows = math.max(n - w + 1, 1)
    val out = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      val len = math.min(w, n - i)
      // nulls are SKIPPED (concat_ws semantics): ["a", null, "b"] → "a b"
      val parts = new Array[UTF8String](len)
      var m = 0
      var j = 0
      while (j < len) {
        if (!toks.isNullAt(i + j)) {
          parts(m) = toks.getUTF8String(i + j)
          m += 1
        }
        j += 1
      }
      val joined = UTF8String.concatWs(space, parts.take(m): _*)
      out(i) = XXH64.hashUnsafeBytes(joined.getBaseObject, joined.getBaseOffset,
        joined.numBytes(), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** RollingNgrams: distinct space-joined w-token windows, first-occurrence order. */
  def rollingNgrams(toks: ArrayData, w: Int): ArrayData = {
    val n = toks.numElements()
    val windows = math.max(n - w + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](windows * 2)
    val parts = new Array[UTF8String](w)
    var i = 0
    while (i < windows) {
      val len = math.min(w, n - i)
      var m = 0
      var j = 0
      while (j < len) {
        if (!toks.isNullAt(i + j)) {
          parts(m) = toks.getUTF8String(i + j)
          m += 1
        }
        j += 1
      }
      seen.add(UTF8String.concatWs(space, parts.take(m): _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Md5MinHash: sig[j] = min over shingles of (a + j·b), a/b the 56-bit
    * md5 halves. Null for an empty array. */
  def md5MinHash(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = Md5Support.digest(arr.getUTF8String(i))
        val a = Md5Support.hex56(d, 0)
        val b = Md5Support.hex56(d, 8)
        var j = 0
        while (j < k) {
          val h = a + j * b
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Md5Hashes60: element i → hex60(md5(arr[i])); null elements dropped. */
  def md5Hashes60(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(m) = Md5Support.hex60(Md5Support.digest(arr.getUTF8String(i)), 0)
        m += 1
      }
      i += 1
    }
    new GenericArrayData(if (m == n) out else out.take(m))
  }

  /** Md5WindowHashes60: window j (of max(n−w+1, 1) stride-1 windows;
    * the final/only window clips at the array end) → hex60 of the md5
    * of its elements joined with " ". See Md5WindowHashes60's scaladoc
    * for the column-form equivalence contract. */
  def md5WindowHashes60(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val nw = math.max(n - w + 1, 1)
    val out = new Array[Long](nw)
    var j = 0
    while (j < nw) {
      val end = math.min(j + w, n)
      out(j) = Md5Support.hex60(Md5Support.digestWindow(arr, j, end), 0)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** SimHashFrom: bit b set iff strict majority of elements have bit b set. */
  def simhashFrom(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val sums = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < bits) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Md5Min: lexicographic-min md5 hex over the array; null if no
    * non-null element. */
  def md5Min(arr: ArrayData): UTF8String = {
    def unsignedLess(x: Array[Byte], y: Array[Byte]): Boolean = {
      var i = 0
      while (i < 16) {
        val xi = x(i) & 0xff
        val yi = y(i) & 0xff
        if (xi != yi) return xi < yi
        i += 1
      }
      false
    }
    val n = arr.numElements()
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = Md5Support.digest(arr.getUTF8String(i))
        if (best == null || unsignedLess(d, best)) best = d
      }
      i += 1
    }
    if (best == null) null
    else {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < 16) {
        sb.append(Character.forDigit((best(j) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(best(j) & 0xf, 16))
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  /** NormalizeWs: lowercase + collapse \s+ runs to single spaces. */
  def normalizeWs(u: UTF8String): UTF8String = {
    val s = u.toLowerCase.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inRun = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) {
        if (!inRun) { sb.append(' '); inRun = true }
      } else {
        sb.append(c)
        inRun = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** TextStats: one-pass token statistics (see TextStats's Scaladoc for
    * the exact parity contract; lengths count code points). */
  def textStats(u: UTF8String, stopSet: java.util.HashSet[String]): InternalRow = {
    val s = u.toString
    val n = s.length
    var nTokens = 0
    var maxLen = 0
    var nPunct = 0
    var nStop = 0
    var nWordChars = 0
    var nAlphaTokens = 0
    var tokenStart = 0
    var tokenCp = 0
    var tokenHasAlpha = false
    var i = 0
    def closeToken(end: Int): Unit = {
      nTokens += 1
      if (tokenCp > maxLen) maxLen = tokenCp
      if (tokenCp > 0 && tokenCp <= 5 && stopSet.contains(s.substring(tokenStart, end))) nStop += 1
      if (tokenHasAlpha) nAlphaTokens += 1
      tokenCp = 0
      tokenHasAlpha = false
    }
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) {
        closeToken(i)
        i += 1
        while (i < n && isWs(s.charAt(i))) i += 1
        tokenStart = i
      } else {
        val cp = s.codePointAt(i)
        if (!(cp < 128 && isAlnum(cp.toChar))) nPunct += 1
        if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) tokenHasAlpha = true
        tokenCp += 1
        nWordChars += 1
        i += Character.charCount(cp)
      }
    }
    closeToken(n)
    InternalRow(nTokens, maxLen, nPunct, nStop, nWordChars, nAlphaTokens)
  }

  /** QuantizeInt8: struct(scale, q, q_sum, q_min, q_max); null elements
    * quantize to 0. */
  def quantizeInt8(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = math.abs(arr.getDouble(i))
        if (v > m) m = v
      }
      i += 1
    }
    val scale = if (m == 0.0) 0.0 else 127.0 / m
    val q = new Array[Byte](n)
    var sum = 0L
    var mn = if (n == 0) 0 else Int.MaxValue
    var mx = if (n == 0) 0 else Int.MinValue
    i = 0
    while (i < n) {
      val x = if (arr.isNullAt(i)) 0.0 else arr.getDouble(i)
      val b = math.floor(x * scale + 0.5).toInt // in [-127, 127] by construction
      q(i) = b.toByte
      sum += b
      if (b < mn) mn = b
      if (b > mx) mx = b
      i += 1
    }
    InternalRow(scale, UnsafeArrayData.fromPrimitiveArray(q), sum, mn, mx)
  }

  /** Morton interleave: bit j of dimension k → bit j·D + k. Values are
    * masked to `bitsPerDim` bits (see [[ZOrderLong]]'s contract). */
  def zorderLong(dims: ArrayData, bitsPerDim: Int): Long = {
    val d = dims.numElements()
    require(d >= 1 && d * bitsPerDim <= 63,
      s"zorder_long: need 1 <= nDims * bitsPerDim <= 63, got $d * $bitsPerDim")
    var z = 0L
    var j = 0
    while (j < bitsPerDim) {
      var k = 0
      while (k < d) {
        val v = if (dims.isNullAt(k)) 0L else dims.getLong(k)
        z |= ((v >>> j) & 1L) << (j * d + k)
        k += 1
      }
      j += 1
    }
    z
  }

  /** Jaro–Winkler similarity (Winkler 1990) over the two strings' UTF-8
    * BYTES — identical to codepoint semantics for ASCII input, which is
    * the entity-resolution surface this serves (catalog names, tokens).
    *
    * Semantics pinned to DuckDB's `jaro_winkler_similarity` (verified
    * bit-exact on a 5000-case fuzz set): either side empty → 0.0 (INCLUDING
    * both empty — no equality short-circuit for ""); match window
    * `max(l1,l2)/2 - 1`; transpositions = half the order-mismatched
    * matches; Winkler prefix boost only when jaro > 0.7, prefix capped at
    * 4, scale 0.1. The float expression order below — (m/l1 + m/l2 +
    * (m-t)/m)/3, then j + l·0.1·(1−j) — is part of the pin: IEEE ops are
    * deterministic given the order, so the DuckDB oracle reproduces the
    * exact double. */
  def jaroWinkler(u1: UTF8String, u2: UTF8String): Double = {
    val s1 = u1.getBytes
    val s2 = u2.getBytes
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(s1, s2)) return 1.0
    val md = math.max(l1, l2) / 2 - 1 // match window; -1 for two 1-char strings → no matches
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(i + md + 1, l2)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m / l1.toDouble + m / l2.toDouble + (m - t) / m.toDouble) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val pmax = math.min(4, math.min(l1, l2))
      while (l < pmax && s1(l) == s2(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** ⌊CDF_Poisson(1)(k)·2⁵²⌋ for k = 0..7 — the canonical inverse-CDF
    * thresholds of the Poisson-bootstrap draw (a 52-bit uniform ≥ the
    * last entry draws 8). Re-exported as
    * `graft.ops.Relational.PoissonCdf52`; the SQL oracle and the
    * streaming twin inline/share the same constants. */
  val PoissonCdf52: Array[Long] = Array(1656781714176973L, 3313563428353947L,
    4141954285442434L, 4418084571138597L, 4487117142562637L,
    4500923656847445L, 4503224742561580L, 4503553469092171L)

  /** PoissonBootstrapDraws: one digest per BLOCK of two reps — md5 of
    * "key_blk" yields two independent 52-bit uniforms (hex chars 1-13
    * and 17-29, the Md5MinHash a/b-halves precedent), so rep 2·blk
    * draws from `('0x' || substr(md5(key || '_' || blk), 1, 13))::BIGINT`
    * and rep 2·blk+1 from `('0x' || substr(…, 17, 13))::BIGINT` —
    * value-for-value what the SQL replay computes, at half the digest
    * count and none of the hex/reparse overhead. */
  def poissonBootstrapDraws(key: Long, b: Int): ArrayData = {
    val out = new Array[Long](b)
    val prefix = java.lang.Long.toString(key) + "_"
    var blk = 0
    val nBlk = (b + 1) / 2
    while (blk < nBlk) {
      val d = Md5Support.digest(UTF8String.fromString(prefix + blk))
      var rep = 2 * blk
      var half = 0
      while (half < 2 && rep < b) {
        var v = 0L
        var i = 8 * half
        val end = i + 8
        while (i < end) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
        val u = v >>> 12 // 13 hex chars = 52 bits, from char 1 or 17
        var k = 0
        while (k < 8 && u >= PoissonCdf52(k)) k += 1
        out(rep) = k
        rep += 1
        half += 1
      }
      blk += 1
    }
    new GenericArrayData(out)
  }
}
