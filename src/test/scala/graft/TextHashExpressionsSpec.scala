package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the native text-hash kernels (graft.functions.TextHashOps) to the
  * interpreted higher-order formulations they replaced in r22 — the
  * originals are spelled out verbatim here, so equivalence is checked
  * against the exact pre-swap Column trees, on the fixture corpus AND on
  * adversarial synthetic rows (unicode, supplementary planes, repeated /
  * leading / trailing spaces, empty string). All arithmetic is integer or
  * string, so equality is exact, not approximate. */
class TextHashExpressionsSpec extends SparkSpec {
  private val P = graft.functions.TextHashOps.P
  private val (b1, b2, b3) = (graft.functions.TextHashOps.B1,
    graft.functions.TextHashOps.B2, graft.functions.TextHashOps.B3)

  private def corpus: DataFrame = {
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val edge = spark.createDataFrame(Seq(
      (100001L, ""),
      (100002L, " "),
      (100003L, "  "),
      (100004L, "one"),
      (100005L, "a b"),
      (100006L, "a  b"),
      (100007L, " lead and trail "),
      (100008L, "héllo wörld ünïcode tëxt mörê wörds"),
      (100009L, "日本語 テキスト の 単語 分割 テスト です ね"),
      (100010L, "mixed ascii 日本語 and 𝕏𝄞 supplementary 𝌆 planes here"),
      (100011L, Seq.tabulate(40)(i => s"w$i").mkString(" ")),
      (100012L, ("dup dup dup dup dup dup dup dup dup dup " * 3).trim)
    )).toDF("doc_id", "text")
    docs.unionByName(edge)
  }

  /** Pre-swap wordHashCol: per-word md5-prefix via interpreted HOF. */
  private def hoWordHashes(ws: org.apache.spark.sql.Column) =
    transform(ws, w => conv(substring(md5(w), 1, 7), 16, 10).cast("long"))

  private def assertColsEqual(df: DataFrame, native: org.apache.spark.sql.Column,
      ho: org.apache.spark.sql.Column): Unit = {
    val bad = df.select(native.as("n"), ho.as("h"))
      .filter(not(col("n") <=> col("h")))
    assert(bad.count() == 0, bad.limit(5).collect().mkString("; "))
  }

  test("word_hashes_text == transform(split(text,' '), md5-prefix)") {
    assertColsEqual(corpus,
      call_function("word_hashes_text", col("text")),
      hoWordHashes(split(col("text"), " ")))
  }

  test("word_hashes == transform(ws, md5-prefix) over a pre-split array") {
    assertColsEqual(corpus.select(split(col("text"), " ").as("ws")),
      call_function("word_hashes", col("ws")),
      hoWordHashes(col("ws")))
  }

  test("hash_grams == transform(sequence...) gram arithmetic, widths 2/3/4, both distincts") {
    // negative user input yields negative grams; (0,0,0,-1) is the -1 gram
    // at width 4 (last coefficient 1), twice in the first row
    val negative = spark.createDataFrame(Seq(
      Seq(0L, 0L, 0L, -1L, 0L, 0L, 0L, -1L),
      Seq.fill(8)(-1L),
      Seq(-1L, 0L, 0L, 0L, -1L, 0L, 0L, 0L, -1L),
      Seq(-5L, 3L, -2L, 7L, -5L, 3L, -2L, 7L, -5L, 3L)
    ).map(Tuple1(_))).toDF("hs")
    val hashed = corpus.select(
      call_function("word_hashes_text", col("text")).as("hs")).union(negative)
    for (width <- Seq(2, 3, 4); dist <- Seq(true, false)) {
      val coefs = Seq(b1, b2, b3, 1L)
      val grams = transform(sequence(lit(0), size(col("hs")) - width),
        i => (0 until width)
          .map(j => element_at(col("hs"), i + j + 1) * coefs(j))
          .reduce(_ + _) % P)
      val ho = if (dist) array_distinct(grams) else grams
      // guard size >= width: the shared precondition (the sequence form
      // misbehaves below width; the kernel returns empty there)
      assertColsEqual(hashed.filter(size(col("hs")) >= width),
        call_function("hash_grams", col("hs"), lit(width), lit(dist)), ho)
    }
  }

  test("md5_prefix == conv(substring(md5(s), 1, n), 16, 10) cast long, n in {4,7,8,12}") {
    for (n <- Seq(4, 7, 8, 12)) {
      assertColsEqual(corpus,
        call_function("md5_prefix", col("text"), lit(n)),
        conv(substring(md5(col("text")), 1, n), 16, 10).cast("long"))
      // and over individual words (the hot per-occurrence shape)
      assertColsEqual(
        corpus.select(explode(split(col("text"), " ")).as("w")),
        call_function("md5_prefix", col("w"), lit(n)),
        conv(substring(md5(col("w")), 1, n), 16, 10).cast("long"))
    }
  }

  test("hash_grams yields empty below width (the guarded domain's edge)") {
    val r = spark.sql(
      "SELECT hash_grams(array(1L, 2L), 3, true) AS g").collect().head
    assert(r.getSeq[Long](0).isEmpty)
  }

  test("minhash_sig == the 12 array_min(transform(sh, (a*sid+b) % P)) columns") {
    val sh = corpus
      .select(call_function("word_hashes_text", col("text")).as("hs"))
      .filter(size(col("hs")) >= 3)
      .select(call_function("hash_grams", col("hs"), lit(3), lit(true)).as("sh"))
    val seeds = graft.functions.TextHashOps.SEEDS
    val natives = seeds.indices.map(i =>
      element_at(call_function("minhash_sig", col("sh")), i + 1))
    val hos = seeds.map { case (a, b) =>
      array_min(transform(col("sh"), sid => (lit(a) * sid + lit(b)) % lit(P)))
    }
    natives.zip(hos).foreach { case (n, h) => assertColsEqual(sh, n, h) }
  }

  test("sliding_min == transform(sequence(0, size-w), i => array_min(slice(g, i+1, w)))") {
    val g = corpus
      .select(call_function("word_hashes_text", col("text")).as("hs"))
      .filter(size(col("hs")) >= 6)
      .select(call_function("hash_grams", col("hs"), lit(3), lit(false)).as("g"))
    for (w <- Seq(2, 4)) {
      assertColsEqual(g,
        call_function("sliding_min", col("g"), lit(w)),
        transform(sequence(lit(0), size(col("g")) - w),
          i => array_min(slice(col("g"), i + 1, lit(w)))))
    }
  }

  test("long_array_sum == aggregate(a, 0L, +), incl. null poisoning") {
    val g = corpus
      .select(call_function("word_hashes_text", col("text")).as("a"))
    assertColsEqual(g,
      call_function("long_array_sum", col("a")),
      aggregate(col("a"), lit(0L), (acc, x) => acc + x))
    val r = spark.sql(
      """SELECT long_array_sum(array(1L, CAST(NULL AS BIGINT), 2L)) AS pn,
        |       long_array_sum(CAST(NULL AS ARRAY<BIGINT>)) AS nn,
        |       long_array_sum(CAST(array() AS ARRAY<BIGINT>)) AS e""".stripMargin)
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
  }

  test("cdc_flags == the rolling-hash boundary-flag transform") {
    val D = graft.functions.TextHashOps.CDC_D
    val base = corpus
      .filter(size(split(col("text"), " ")) >= 1)
      .select(split(col("text"), " ").as("ws"))
      .withColumn("hs", call_function("word_hashes", col("ws")))
    val ho = transform(sequence(lit(1), size(col("ws"))), p =>
      when(p >= 3 && p < size(col("ws")),
        ((element_at(col("hs"), p - 2) * b1 +
          element_at(col("hs"), p - 1) * b2 +
          element_at(col("hs"), p) * b3) % P % D === 0).cast("int"))
        .otherwise(lit(0)))
    assertColsEqual(base, call_function("cdc_flags", col("hs")), ho)
  }

  test("char_trigrams == concat of consecutive split('') code points") {
    val base = corpus.filter(length(col("text")) >= 3)
      .select(col("text"), split(col("text"), "").as("cs"),
        length(col("text")).as("n"))
    val ho = transform(sequence(lit(1), col("n") - 2),
      i => concat(element_at(col("cs"), i),
        element_at(col("cs"), i + 1),
        element_at(col("cs"), i + 2)))
    assertColsEqual(base, call_function("char_trigrams", col("text")), ho)
  }

  test("slice_join_grams == transform(sequence(1, size-d+1), p => array_join(slice(ws, p, d), ' '))") {
    val base = corpus.select(split(col("text"), " ").as("ws"))
    for (d <- Seq(1, 2, 8, 16)) {
      val ho = when(size(col("ws")) >= d,
        transform(sequence(lit(1), size(col("ws")) - d + 1),
          p => array_join(slice(col("ws"), p, lit(d)), " ")))
        .otherwise(array().cast("array<string>"))
      assertColsEqual(base,
        call_function("slice_join_grams", col("ws"), lit(d)), ho)
    }
  }

  test("char_len_sum == aggregate(transform(ws, length), 0, +); count_alpha_words == size(filter(rlike))") {
    // a NULL array and a NULL word: under Spark 4's ANSI default,
    // size(NULL) is NULL, as is the kernel's result
    val base = corpus.select(split(col("text"), " ").as("ws")).union(spark.sql(
      "SELECT CAST(NULL AS array<string>) AS ws UNION ALL SELECT array('ab', NULL, 'c1')"))
    assertColsEqual(base,
      call_function("char_len_sum", col("ws")),
      aggregate(transform(col("ws"), w => length(w)), lit(0), _ + _))
    assertColsEqual(base,
      call_function("count_alpha_words", col("ws")),
      size(filter(col("ws"), w => w.rlike("[a-zA-Z]"))))
  }

  test("slice_join_grams with a custom separator == the adjacent-pair concat HOF") {
    val sep = "\u0003" // the BPE pair sentinel
    val base = corpus.select(split(col("text"), " ").as("ws"))
    val ho = when(size(col("ws")) >= 2,
      transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat(element_at(col("ws"), i), lit(sep),
          element_at(col("ws"), i + 1))))
      .otherwise(array().cast("array<string>"))
    assertColsEqual(base,
      call_function("slice_join_grams", col("ws"), lit(2), lit(sep)), ho)
  }
}
