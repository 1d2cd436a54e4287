package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Typed rows for the batched multimodal decode path. */
case class MmRow(doc_id: Long, payload: Array[Byte], lang: String)
case class MmFeat(doc_id: Long, lang: String, bytes: Int,
  width: Int, height: Int, frames: Int)

/** §2.9 multimodal ingest: typed binary payload rows, batched header
  * decoding of PNG/JPEG dimensions, and the frame-sampling media
  * manifest.
  */
object Multimodal {
  /** Multimodal plumbing: text → binary payload column + typed metadata
    * struct, "decode" = deterministic stub features (octet length, hex
    * prefix) — the schema/partitioning/batch shape is real, the codec is
    * stubbed (no image libs offline; SURVEY.md §2.9). */
  val llmMultimodal: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang").as("lang"), col("source").as("source"),
          col("n_chars").as("n_chars")).as("meta"))
    d.select(col("doc_id"),
      octet_length(col("payload")).as("payload_bytes"),
      hex(substring(col("payload"), 1, 4)).as("magic"),
      col("meta").getField("lang").as("lang"),
      col("meta").getField("n_chars").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Real decode, PNG container: width/height are the two big-endian u32s
    * of the IHDR chunk, which the
    * spec pins to bytes 16–23 of the file (signature 0–7, IHDR length 8–11,
    * "IHDR" tag 12–15) — so the parse needs only the first 24 bytes of the
    * payload, exactly the bounded-read shape a 100 TB decode stage wants
    * (header peek first, full-codec fan-out only for rows that match). */
  private[graft] def pngDims(p: Array[Byte]): Option[(Int, Int)] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def be32(off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    if (p.length >= 24 && p.take(8).sameElements(sig) &&
        p.slice(12, 16).sameElements("IHDR".getBytes("US-ASCII"))) {
      val (w, h) = (be32(16), be32(20))
      // the PNG spec caps dimensions at 2^31-1 and forbids 0; a crafted
      // header past either bound falls back to the stub rather than
      // emitting non-positive dimensions into the feature contract
      if (w > 0 && h > 0) Some((w, h)) else None
    } else None
  }

  /** JPEG twin of [[pngDims]], same bounded-read shape: width/height live
    * in the first SOFn frame header (marker 0xC0–0xCF minus 0xC4/0xC8/0xCC,
    * covering baseline SOF0 and progressive SOF2), reached by hopping
    * marker segments via their big-endian length fields — the scan indexes
    * only a few header bytes per segment and never decodes entropy data
    * (it stops at SOS/EOI, which always follow the frame header). Payload:
    * marker, u16 length, u8 precision, u16 height, u16 width. A malformed
    * stream (desynced marker, undersized length, height 0 = DNL-deferred)
    * returns None and the caller falls back to the stub features. */
  private[graft] def jpegDims(p: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (p.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    // segment-count guard: a crafted stream of minimal segments could
    // otherwise walk the whole payload; real headers precede SOF within
    // a handful of segments (APPn/COM/DQT/DHT)
    var segs = 0
    while (i + 3 < p.length && segs < 1024) {
      segs += 1
      if (u8(i) != 0xff) return None // desynced: expected a marker
      val m = u8(i + 1)
      if (m == 0xff) i += 1 // fill byte before a marker
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
      else if (m == 0xd9 || m == 0xda) return None // EOI/SOS before any SOF
      else {
        val len = u16(i + 2)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7 || i + 9 > p.length) return None
          val (h, w) = (u16(i + 5), u16(i + 7))
          return if (w > 0 && h > 0) Some((w, h)) else None
        }
        i += 2 + len
      }
    }
    None
  }

  /** Per-batch feature extraction: PNG and JPEG payloads decode to their
    * true dimensions (single frame); everything else falls back to the
    * deterministic stub features (no other codecs offline — the fallback
    * keeps the contract total and the oracle replayable for text
    * payloads). Container dispatch is by each parser's own magic check —
    * a payload matching neither signature costs two O(1) header peeks. */
  private[graft] def decodeFeatures(r: MmRow): MmFeat = {
    val n = r.payload.length
    pngDims(r.payload).orElse(jpegDims(r.payload)) match {
      case Some((w, h)) => MmFeat(r.doc_id, r.lang, n, w, h, 1)
      case None =>
        val b0 = if (n > 0) r.payload(0) & 0xff else 0
        MmFeat(r.doc_id, r.lang, n, 64 + n % 640, 64 + (b0 * 3) % 480, 1 + n % 30)
    }
  }

  /** Batched multimodal decode plumbing — the Scala analogue of a Pandas
    * UDF over mapInPandas: a typed `mapPartitions` (iterator→iterator, one
    * JVM call per partition batch, partitioning preserved). The decode step
    * is REAL for PNG and JPEG payloads (header parses, see [[pngDims]] /
    * [[jpegDims]], ScalaTest-pinned against ImageIO-written files) and a deterministic
    * stub for other media (no image/audio codecs offline; the schema,
    * batch shape, and feature contract are oracle-checked — the fixture
    * corpus is text, so the DuckDB twin replays the stub branch). */
  val llmMultimodalDecode: Q = (s, dir) => {
    import s.implicits._
    val ds = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("lang"))
      .as[MmRow]
    ds.mapPartitions(_.map(decodeFeatures)).toDF().orderBy("doc_id")
  }

  /** Media preprocessing MANIFEST — the resize + frame-sample planning
    * pass of a multimodal pipeline ([[llmMultimodalDecode]] extracts
    * per-payload features; this operator turns them into the work
    * list a decode fleet executes): per payload, a resize plan fitting
    * the longest side to 224 px preserving aspect ratio, and a uniform
    * frame-sample plan — up to 4 frames at indices ⌊j·F/k⌋ (the
    * classic stride sample, distinct for k ≤ F), each with its stub
    * timestamp (25 fps) and byte offset (frame_idx · ⌊bytes/F⌋). At
    * 100 TB this manifest IS the distributed work: deciding which
    * frames to touch and at what offsets is corpus-sized arithmetic;
    * the decode itself (stubbed offline — no codecs) happens
    * per-manifest-row downstream. One row per sampled frame.
    *
    * Scale shape: pure per-row arithmetic + a ≤ 4-element explode —
    * shuffle-free except the presentation sort; every quantity derives
    * deterministically from payload bytes, so DuckDB replays the full
    * manifest bit-exact. */
  val llmMediaManifest: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text").cast("binary")).cast("int"))
      .withColumn("b0", when(length(col("text")) > 0,
        ascii(substring(col("text"), 1, 1))).otherwise(0))
      .withColumn("src_w", (lit(64) + col("n") % 640).cast("int"))
      .withColumn("src_h", (lit(64) + (col("b0") * 3) % 480).cast("int"))
      .withColumn("frames", (lit(1) + col("n") % 30).cast("int"))
      .withColumn("k", least(col("frames"), lit(4)))
      .withColumn("scale",
        lit(224.0) / greatest(col("src_w"), col("src_h")).cast("double"))
      .withColumn("out_w", floor(col("src_w") * col("scale") + 0.5).cast("int"))
      .withColumn("out_h", floor(col("src_h") * col("scale") + 0.5).cast("int"))
    d.select(col("doc_id"), col("n"), col("src_w"), col("src_h"),
        col("frames"), col("out_w"), col("out_h"),
        dround(col("scale"), 6).as("scale"),
        posexplode(transform(sequence(lit(0), col("k") - 1),
          j => floor(j * col("frames") / col("k")).cast("int"))).as(Seq("j", "frame_idx")))
      .select(col("doc_id"), col("j"), col("frame_idx"),
        (col("frame_idx") * 40).as("ts_ms"),
        (col("frame_idx").cast("long") *
          floor(col("n") / col("frames")).cast("long")).as("byte_off"),
        col("src_w"), col("src_h"), col("out_w"), col("out_h"), col("scale"))
      .orderBy("doc_id", "j")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("llm_media_manifest", llmMediaManifest,
      """WITH f AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n,
        |    CASE WHEN length(text) > 0 THEN ascii(text[1]) ELSE 0 END AS b0
        |  FROM documents),
        |g AS (SELECT doc_id, n,
        |    CAST(64 + n % 640 AS INT) AS src_w,
        |    CAST(64 + (b0 * 3) % 480 AS INT) AS src_h,
        |    CAST(1 + n % 30 AS INT) AS frames
        |  FROM f),
        |h AS (SELECT *, LEAST(frames, 4) AS k,
        |    224.0 / GREATEST(src_w, src_h) AS sc
        |  FROM g),
        |m AS (SELECT doc_id, n, src_w, src_h, frames, k, sc,
        |    CAST(FLOOR(src_w * sc + 0.5) AS INT) AS out_w,
        |    CAST(FLOOR(src_h * sc + 0.5) AS INT) AS out_h,
        |    CAST(j AS INT) AS j,
        |    CAST(FLOOR(j * frames / k) AS INT) AS frame_idx
        |  FROM h, unnest(range(0, k)) t(j))
        |SELECT doc_id, j, frame_idx,
        |  CAST(frame_idx * 40 AS INT) AS ts_ms,
        |  CAST(frame_idx AS BIGINT) * CAST(FLOOR(n / frames) AS BIGINT) AS byte_off,
        |  src_w, src_h, out_w, out_h,
        |  CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS scale
        |FROM m ORDER BY doc_id, j""".stripMargin),
    QueryDef("llm_multimodal_decode", llmMultimodalDecode,
      """SELECT doc_id, lang,
        |CAST(octet_length(encode(text)) AS INT) AS bytes,
        |CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        |CAST(64 + (CASE WHEN length(text) > 0 THEN ascii(text[1]) ELSE 0 END * 3) % 480 AS INT) AS height,
        |CAST(1 + octet_length(encode(text)) % 30 AS INT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_multimodal", llmMultimodal,
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
        |upper(array_to_string(list_transform(range(1, 5), i -> to_hex(ascii(text[i]))), '')) AS magic,
        |lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
