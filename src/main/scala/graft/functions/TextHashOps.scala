package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Interpreter-free kernels for the text-hashing hot paths (optimization
  * guide: prefer codegen-friendly expressions over interpreted
  * higher-order lambdas — the r21 `pqDist2` unroll precedent, applied to
  * the variable-length array paths a static unroll cannot reach).
  *
  * Every method here is the bit-identical twin of a Column formulation in
  * [[graft.queries.Dedup]] (the originals are quoted at each swap site and
  * pinned by TextHashExpressionsSpec): the arithmetic is integer/string
  * only, so equality is exact, not approximate. The constants are the
  * SINGLE definition — [[graft.queries.Dedup]] references these, so a base change
  * lands in the native kernels, the Column twins and the DuckDB oracle
  * SQL together or not at all.
  *
  * Methods take/return Catalyst runtime types (ArrayData/UTF8String) so
  * generated code can call them directly from inside WholeStageCodegen:
  * one static call per ROW, a tight JVM loop per element — versus the
  * HOF path's per-ELEMENT interpreted `Expression.eval` recursion with
  * its UTF8String/boxing churn (md5 hex string → substring → conv parse
  * → long cast allocated three strings per word).
  */
object TextHashOps {
  /** Hash-shingling bases (shingle id = h1*B1 + h2*B2 + h3*B3 mod P over
    * 28-bit word hashes) — see [[graft.queries.Dedup]]'s scale/overflow argument. */
  val B1 = 1000003L
  val B2 = 1000033L
  val B3 = 1000211L
  val P = 2147483647L // 2^31-1
  /** Gram coefficient vector by width: widths 2/3 are the historical
    * bigram/shingle arithmetic; width 4 appends an un-scaled term. */
  private val COEFS = Array(B1, B2, B3, 1L)
  /** MinHash seed pairs (a_i, b_i) — 12 hashes = 4 bands x 3 rows. */
  val SEEDS: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (1000033L, 54321L), (1000211L, 11111L),
    (1000231L, 22222L), (1000249L, 33333L), (1000253L, 44444L),
    (1000273L, 55555L), (1000289L, 66666L), (1000291L, 77777L),
    (1000303L, 88888L), (1000313L, 99999L), (1000333L, 10101L))
  private val SEEDS_A = SEEDS.map(_._1).toArray
  private val SEEDS_B = SEEDS.map(_._2).toArray
  /** CDC boundary modulus (expected chunk length in words). */
  val CDC_D = 16L

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 28 bits of md5 over a byte range — bit-identical to
    * `conv(substring(md5(w), 1, 7), 16, 10).cast("long")`: the first 7
    * hex chars of the digest are digest bytes 0..2 plus the high nibble
    * of byte 3, read big-endian. */
  private def hash28(md: MessageDigest, bytes: Array[Byte], off: Int,
      len: Int): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >> 4)
  }

  /** Twin of the scalar md5 hex-prefix bucketing idiom
    * `conv(substring(md5(s), 1, n), 16, 10).cast("long")` (the
    * catalogued cross-engine idiom — vocabBucket, simhash word hash,
    * sampling keys): the first n hex chars of the digest are the top
    * 4n bits, read big-endian nibble by nibble. n <= 15 keeps the value
    * under 2^60 — no unsigned-parse edge. */
  def md5Prefix(s: UTF8String, n: Int): Long = {
    val md = md5Local.get()
    val b = s.getBytes
    md.reset()
    md.update(b, 0, b.length)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < n) {
      val nib =
        if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf
        else d(i >> 1) & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  /** Twin of `transform(ws, w => conv(substring(md5(w),1,7),16,10)
    * .cast("long"))` over an array<string>. Null elements map to null
    * (the lambda's null propagation). */
  def wordHashes(arr: ArrayData): ArrayData = {
    val md = md5Local.get()
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        val w = arr.getUTF8String(i)
        val b = w.getBytes
        out(i) = hash28(md, b, 0, b.length)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val b = arr.getUTF8String(i).getBytes
          out(i) = java.lang.Long.valueOf(hash28(md, b, 0, b.length))
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Fused twin of `transform(split(text, " "), w => ...hash28...)`:
    * splits on the single space byte (0x20 is never a UTF-8 continuation
    * byte, so the byte-level split IS the regex `" "` split with
    * limit -1 — consecutive/leading/trailing spaces yield the same empty
    * words, and `""` yields one empty word) and hashes each word's byte
    * range in place — no word array, no per-word UTF8String. */
  def wordHashesFromText(text: UTF8String): ArrayData = {
    val md = md5Local.get()
    val b = text.getBytes
    var words = 1
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) words += 1; i += 1 }
    val out = new Array[Long](words)
    var start = 0
    var k = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) {
        out(k) = hash28(md, b, start, i - start); k += 1
        start = i + 1
      }
      i += 1
    }
    out(k) = hash28(md, b, start, b.length - start)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Minimal open-addressing long set for the distinct-gram path, in
    * first-occurrence order (array_distinct's). -1L marks an empty slot:
    * graft's own gram ids lie in [0, P), but `hash_grams` is a session
    * function and negative user input yields negative grams, so a -1
    * gram is tracked by a flag instead of in the table. */
  private def distinctLongs(in: Array[Long], m: Int): Array[Long] = {
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    val mask = cap - 1
    val out = new Array[Long](m)
    var seenMinusOne = false
    var k = 0
    var i = 0
    while (i < m) {
      val v = in(i)
      if (v == -1L) {
        if (!seenMinusOne) { seenMinusOne = true; out(k) = v; k += 1 }
      } else {
        var slot = (java.lang.Long.hashCode(v) & Int.MaxValue) & mask
        var seen = false
        var probing = true
        while (probing) {
          val t = table(slot)
          if (t == -1L) probing = false
          else if (t == v) { seen = true; probing = false }
          else slot = (slot + 1) & mask
        }
        if (!seen) { table(slot) = v; out(k) = v; k += 1 }
      }
      i += 1
    }
    if (k == m) out else java.util.Arrays.copyOf(out, k)
  }

  /** Twin of Dedup.hashGramCol: gram(i) = sum_j hs[i+j]*COEFS(j) mod P for
    * i in 0..n-width, optionally first-occurrence-distinct
    * (array_distinct order). Callers guarantee size >= width (same
    * precondition as the Column twin — its `sequence(0, size-width)`
    * misbehaves below width); n < width yields an empty array here. */
  def hashGrams(hs: ArrayData, width: Int, distinct: Boolean): ArrayData = {
    val n = hs.numElements()
    val m = n - width + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = hs.isNullAt(i); i += 1 }
    if (!hasNull) {
      val h = hs.toLongArray()
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var s = 0L
        var j = 0
        while (j < width) { s += h(i + j) * COEFS(j); j += 1 }
        out(i) = s % P
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(
        if (distinct) distinctLongs(out, m) else out)
    } else {
      // slow path (never hit by graft's own frames — split yields no null
      // words): null element nulls every gram containing it, and
      // array_distinct keeps one null at its first position
      val out = new Array[Any](m)
      i = 0
      while (i < m) {
        var s = 0L
        var isNull = false
        var j = 0
        while (j < width && !isNull) {
          if (hs.isNullAt(i + j)) isNull = true
          else s += hs.getLong(i + j) * COEFS(j)
          j += 1
        }
        out(i) = if (isNull) null else java.lang.Long.valueOf(s % P)
        i += 1
      }
      if (!distinct) new GenericArrayData(out)
      else {
        val seen = new java.util.LinkedHashSet[Any]()
        i = 0
        while (i < m) { seen.add(out(i)); i += 1 }
        new GenericArrayData(seen.toArray())
      }
    }
  }

  /** Twin of the 12 `array_min(transform(sh, sid => (a*sid+b) % P))`
    * minhash columns, one pass instead of twelve: element k is seed k's
    * min over non-null shingle ids (null when the array is empty or
    * all-null, matching array_min). */
  def minHashSig(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    val mins = new Array[Long](SEEDS_A.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        any = true
        val sid = sh.getLong(i)
        var k = 0
        while (k < mins.length) {
          val v = (SEEDS_A(k) * sid + SEEDS_B(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](mins.length))
  }

  /** Twin of `transform(sequence(0, size(g)-w), i =>
    * array_min(slice(g, i+1, w)))` — the winnowing min-slide. Callers
    * guarantee size >= w; smaller arrays yield empty. array_min's
    * null-skipping is preserved on the (never-hit) null path. */
  def slidingMin(g: ArrayData, w: Int): ArrayData = {
    val n = g.numElements()
    val m = n - w + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = g.isNullAt(i); i += 1 }
    if (!hasNull) {
      val a = g.toLongArray()
      val out = new Array[Long](m)
      i = 0
      while (i < m) {
        var mn = a(i)
        var j = i + 1
        while (j < i + w) { if (a(j) < mn) mn = a(j); j += 1 }
        out(i) = mn
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](m)
      i = 0
      while (i < m) {
        var mn = Long.MaxValue
        var any = false
        var j = i
        while (j < i + w) {
          if (!g.isNullAt(j)) {
            any = true
            val v = g.getLong(j)
            if (v < mn) mn = v
          }
          j += 1
        }
        out(i) = if (any) java.lang.Long.valueOf(mn) else null
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Twin of `aggregate(a, 0L, (acc, x) => acc + x)`: exact long sum in
    * element order; a null element nulls the fold (null poisons `+`). */
  def longArraySum(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      s += a.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Twin of the CDC boundary-flag transform: for 1-based position p over
    * word-hash array hs (fl[p-1]), flag = 1 iff 3 <= p < n and the
    * rolling 3-gram hash ending at p is ≡ 0 (mod CDC_D) after mod P —
    * `((hs[p-3]*B1 + hs[p-2]*B2 + hs[p-1]*B3) % P % D == 0)` — else 0. */
  def cdcFlags(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = hs.isNullAt(i); i += 1 }
    if (!hasNull) {
      val h = hs.toLongArray()
      val out = new Array[Int](n)
      var k = 2 // p = k+1 in [3, n-1]
      while (k < n - 1) {
        val s = (h(k - 2) * B1 + h(k - 1) * B2 + h(k) * B3) % P % CDC_D
        out(k) = if (s == 0L) 1 else 0
        k += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      var k = 0
      while (k < n) {
        out(k) =
          if (k < 2 || k >= n - 1) Integer.valueOf(0)
          else if (hs.isNullAt(k - 2) || hs.isNullAt(k - 1) || hs.isNullAt(k))
            null
          else {
            val s = (hs.getLong(k - 2) * B1 + hs.getLong(k - 1) * B2 +
              hs.getLong(k) * B3) % P % CDC_D
            Integer.valueOf(if (s == 0L) 1 else 0)
          }
        k += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Twin of `transform(sequence(1, length(text)-2), i =>
    * concat(cs[i], cs[i+1], cs[i+2]))` over `cs = split(text, "")`:
    * consecutive code-point trigrams. One pass to index code-point byte
    * offsets, then zero-copy byte-range slices (concat of 3 single-code-
    * point strings IS the byte range). Callers guarantee length >= 3;
    * shorter yields empty. */
  def charTrigrams(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val nb = b.length
    // code-point start offsets (ASCII-dense corpora: offs(i) == i)
    val offs = new Array[Int](nb + 1)
    var nchars = 0
    var off = 0
    while (off < nb) {
      offs(nchars) = off
      off += UTF8String.numBytesForFirstByte(b(off))
      nchars += 1
    }
    offs(nchars) = nb
    if (nchars < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nchars - 2)
    var i = 0
    while (i < nchars - 2) {
      out(i) = UTF8String.fromBytes(b, offs(i), offs(i + 3) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Twin of `aggregate(transform(ws, w => length(w)), 0, (a, x) => a + x)`
    * — the Gopher mean-word-length numerator: sum of per-word code-point
    * counts, accumulated in INT exactly like the original's int-typed
    * fold (same wrap on overflow), null word poisons the fold (length
    * of null is null, null + x stays null). */
  def charLenSum(ws: ArrayData): Integer = {
    val n = ws.numElements()
    var s = 0
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) return null
      s += ws.getUTF8String(i).numChars()
      i += 1
    }
    Integer.valueOf(s)
  }

  /** Twin of `size(filter(ws, w => w.rlike("[a-zA-Z]")))` — the Gopher
    * alpha-word count: words containing at least one ASCII letter. An
    * ASCII letter can only occur as a standalone UTF-8 byte (never
    * inside a multi-byte sequence), so the byte scan IS the regex find;
    * a null word's rlike is null, which `filter` drops — not counted. */
  def countAlphaWords(ws: ArrayData): Int = {
    val n = ws.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        val b = ws.getUTF8String(i).getBytes
        var j = 0
        var found = false
        while (j < b.length && !found) {
          val v = b(j)
          found = (v >= 'a' && v <= 'z') || (v >= 'A' && v <= 'Z')
          j += 1
        }
        if (found) c += 1
      }
      i += 1
    }
    c
  }

  /** Twin of `transform(sequence(1, size(ws)-d+1), p =>
    * array_join(slice(ws, p, d), sep))`: every d-word window joined on
    * `sep` (the suffix family's space; BPE's pair sentinel), one
    * allocation per gram. Callers guard size >= d (the
    * suffix family wraps the original in `when(size >= d, ...)
    * .otherwise(array())`); smaller arrays yield empty, so the guard can
    * drop at the swap site. array_join's null-skip (null word joins as
    * nothing, separator elided) is preserved on the never-hit null path
    * via UTF8String.concatWs. */
  def sliceJoinGrams(ws: ArrayData, d: Int, sep: UTF8String): ArrayData = {
    val n = ws.numElements()
    val m = n - d + 1
    if (d <= 0 || m <= 0) return new GenericArrayData(Array.empty[Any])
    val words = new Array[UTF8String](n)
    var hasNull = false
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) hasNull = true
      else words(i) = ws.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    if (!hasNull) {
      val sepBytes = sep.getBytes
      val lens = new Array[Int](n + 1)
      i = 0
      while (i < n) { lens(i + 1) = lens(i) + words(i).numBytes; i += 1 }
      i = 0
      while (i < m) {
        val total = lens(i + d) - lens(i) + (d - 1) * sepBytes.length
        val buf = new Array[Byte](total)
        var pos = 0
        var j = i
        while (j < i + d) {
          if (j > i) {
            System.arraycopy(sepBytes, 0, buf, pos, sepBytes.length)
            pos += sepBytes.length
          }
          val w = words(j)
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += w.numBytes
          j += 1
        }
        out(i) = UTF8String.fromBytes(buf)
        i += 1
      }
    } else {
      i = 0
      while (i < m) {
        out(i) = UTF8String.concatWs(
          sep, java.util.Arrays.copyOfRange(words, i, i + d): _*)
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}
