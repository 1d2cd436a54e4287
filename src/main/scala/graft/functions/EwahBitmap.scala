package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator

/** EWAH-compressed bitmap index aggregate + combinators
  * (`/root/reference/README.md:1-4` hosts Hive 2.3.10, whose jars ship
  * `GenericUDAFEWAHBitmap` / `GenericUDFEWAHBitmapAnd/Or/Empty` — SURVEY.md
  * §2.4's last document-only row).
  *
  * Format: EWAH-64 per Lemire, Kaser & Aouiche, "Sorting improves
  * word-aligned bitmap indexes" (DKE 2010; the same public algorithm
  * Hive's javaewah dependency implements) — the compressed stream
  * alternates marker words and literal words:
  *
  *   marker bit 0      = the run's fill value (0 or 1)
  *   marker bits 1..32 = run length in 64-bit words
  *   marker bits 33..63= number of uncompressed literal words following
  *
  * Cardinality and emptiness run DIRECTLY on the compressed form (runs
  * contribute `runLen * 64` set bits without expansion); AND/OR expand to
  * words, combine, and recompress — positions here are bounded key domains
  * (Hive's bitmap indexes key on row offsets within a block), so the
  * expanded form is `maxPos/64` words, not data-scale.
  *
  * Scale: the aggregate is a two-phase Spark `Aggregator` — per-partition
  * word-OR merges are associative/commutative, so 1000 executors build
  * partial bitmaps map-side and the reduce merges `numGroups` buffers, the
  * same distribution Hive's GroupByOperator gave the UDAF. State per group
  * is `maxKey/8` bytes uncompressed (a 1M-key domain = 125 KB).
  */
object EwahBitmap {

  // ---- word-array <-> EWAH-64 codec ----------------------------------

  private val RunLenBits = 32
  private val MaxRunLen = (1L << RunLenBits) - 1
  private val MaxLiterals = (1L << 31) - 1

  /** Compress an uncompressed word array (trailing zero words dropped). */
  def compress(words: Array[Long]): Array[Byte] = {
    var end = words.length
    while (end > 0 && words(end - 1) == 0L) end -= 1
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < end) {
      val fill = words(i)
      if (fill == 0L || fill == -1L) {
        var j = i
        while (j < end && words(j) == fill && (j - i) < MaxRunLen) j += 1
        var runLen = j - i
        i = j
        // literals until the next run of >=2 identical fill words
        var k = i
        var lits = 0L
        while (k < end && lits < MaxLiterals &&
          !(words(k) == 0L || words(k) == -1L) ) { k += 1; lits += 1 }
        out += ((if (fill == -1L) 1L else 0L) |
          (runLen.toLong << 1) | (lits << 33))
        var m = i; while (m < k) { out += words(m); m += 1 }
        i = k
      } else {
        var k = i
        var lits = 0L
        while (k < end && lits < MaxLiterals &&
          !(words(k) == 0L || words(k) == -1L)) { k += 1; lits += 1 }
        out += (lits << 33) // zero-length run, then literals
        var m = i; while (m < k) { out += words(m); m += 1 }
        i = k
      }
    }
    val bb = java.nio.ByteBuffer.allocate(out.length * 8)
    out.foreach(bb.putLong)
    bb.array()
  }

  /** Expand an EWAH byte stream back to the uncompressed word array. */
  def decompress(bytes: Array[Byte]): Array[Long] = {
    if (bytes == null || bytes.isEmpty) return Array.emptyLongArray
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    while (bb.remaining() >= 8) {
      val marker = bb.getLong
      val fill = if ((marker & 1L) == 1L) -1L else 0L
      val runLen = ((marker >>> 1) & MaxRunLen).toInt
      val lits = (marker >>> 33).toInt
      var i = 0
      while (i < runLen) { out += fill; i += 1 }
      i = 0
      while (i < lits) { out += bb.getLong; i += 1 }
    }
    out.toArray
  }

  /** Set-bit count straight off the compressed stream (no expansion). */
  def cardinality(bytes: Array[Byte]): Long = {
    if (bytes == null || bytes.isEmpty) return 0L
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var n = 0L
    while (bb.remaining() >= 8) {
      val marker = bb.getLong
      val runLen = (marker >>> 1) & MaxRunLen
      if ((marker & 1L) == 1L) n += runLen * 64L
      val lits = (marker >>> 33).toInt
      var i = 0
      while (i < lits) { n += java.lang.Long.bitCount(bb.getLong); i += 1 }
    }
    n
  }

  private def combine(a: Array[Byte], b: Array[Byte], and: Boolean): Array[Byte] = {
    val wa = decompress(a); val wb = decompress(b)
    val n = math.max(wa.length, wb.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (i < wa.length) wa(i) else 0L
      val y = if (i < wb.length) wb(i) else 0L
      out(i) = if (and) x & y else x | y
      i += 1
    }
    compress(out)
  }

  def bitmapAnd(a: Array[Byte], b: Array[Byte]): Array[Byte] = combine(a, b, and = true)
  def bitmapOr(a: Array[Byte], b: Array[Byte]): Array[Byte] = combine(a, b, and = false)
  def isEmpty(a: Array[Byte]): Boolean = cardinality(a) == 0L

  // ---- the aggregate --------------------------------------------------

  /** `ewah_bitmap(pos)` — distributed bitmap build over long positions;
    * negative inputs are the null sentinel (skipped), mirroring the
    * conditional-aggregate idiom `ewah_bitmap(CASE WHEN p THEN k ELSE -1 END)`.
    * Buffer = uncompressed words (word-OR merge); finish compresses. */
  class EwahBitmapAgg extends Aggregator[Long, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(b: Array[Long], pos: Long): Array[Long] = {
      if (pos < 0L) b
      else {
        val w = (pos >>> 6).toInt
        val buf = if (w < b.length) b else java.util.Arrays.copyOf(b, w + 1)
        buf(w) |= (1L << (pos & 63L))
        buf
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val (lo, hi) = if (a.length <= b.length) (a, b) else (b, a)
      val out = java.util.Arrays.copyOf(hi, hi.length)
      var i = 0
      while (i < lo.length) { out(i) |= lo(i); i += 1 }
      out
    }

    override def finish(b: Array[Long]): Array[Byte] = compress(b)

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private val agg = new EwahBitmapAgg

  /** `ewah_bitmap` + the And/Or/Empty/cardinality combinators (the
    * reference's `GenericUDAFEWAHBitmap` / `GenericUDFEWAHBitmap*`). */
  val sqlFunctions: Seq[SqlFunction] = table(getClass.getName)(
    "ewah_bitmap" -> (es => ScalaAggregator(es, agg, encoderFor(Encoders.scalaLong),
      encoderFor(agg.bufferEncoder), aggregatorName = Some("ewah_bitmap"))),
    scalaUdf("ewah_bitmap_and", (a: Array[Byte], b: Array[Byte]) => bitmapAnd(a, b)),
    scalaUdf("ewah_bitmap_or", (a: Array[Byte], b: Array[Byte]) => bitmapOr(a, b)),
    scalaUdf("ewah_bitmap_empty", (a: Array[Byte]) => isEmpty(a)),
    scalaUdf("ewah_cardinality", (a: Array[Byte]) => cardinality(a)))
}
