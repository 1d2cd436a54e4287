package graft

import graft.functions.{ContextNGramsAgg, GapFunctions, NGramsAgg}
import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll

/** Exact-value unit tests for the §7.4 gap functions and DuckDB-less
  * builtins (sha1/crc32/soundex/format_number/aes), plus scalacheck
  * properties for the n-grams Aggregators. */
class FunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect().head.get(0)

  test("field returns 1-based index, 0 when absent") {
    assert(one(GapFunctions.field(lit("b"), lit("a"), lit("b"), lit("c"))) == 2)
    assert(one(GapFunctions.field(lit("z"), lit("a"), lit("b"))) == 0)
  }

  test("mask positional variants") {
    assert(one(GapFunctions.maskFirstN(lit("Customer#0001"), 4)) == "Xxxxomer#0001")
    assert(one(GapFunctions.maskShowFirstN(lit("Customer#0001"), 4)) == "Custxxxx#nnnn")
    assert(one(GapFunctions.maskLastN(lit("Customer#0001"), 4)) == "Customer#nnnn")
    assert(one(GapFunctions.maskShowLastN(lit("Customer#0001"), 4)) == "Xxxxxxxx#0001")
    assert(one(GapFunctions.maskHash(lit("abc"))) ==
      "900150983cd24fb0d6963f7d28e17f72") // md5("abc"), Hive 2.x mask_hash
  }

  test("sort_array_by orders struct arrays by field") {
    val arr = array(
      struct(lit(3).as("k"), lit("c").as("v")),
      struct(lit(1).as("k"), lit("a").as("v")),
      struct(lit(2).as("k"), lit("b").as("v")))
    val sorted = one(GapFunctions.sortArrayBy(arr, "k")
      .cast("array<struct<k:int,v:string>>"))
    assert(sorted.asInstanceOf[scala.collection.Seq[Row]].toSeq.map(_.getString(1)) == Seq("a", "b", "c"))
  }

  test("in_file checks membership against file lines") {
    val f = java.io.File.createTempFile("graft_infile", ".txt")
    java.nio.file.Files.writeString(f.toPath, "alpha\nbeta\n")
    assert(one(GapFunctions.inFile(lit("beta"), f.getPath)) == true)
    assert(one(GapFunctions.inFile(lit("gamma"), f.getPath)) == false)
    f.delete()
  }

  test("shingles produces k-word windows") {
    val got = one(GapFunctions.shingles(split(lit("a b c d"), " "), 2))
    assert(got.asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("a b", "b c", "c d"))
  }

  test("parse_url_tuple extracts the requested parts") {
    val url = lit("https://example.com:8080/api/x?sid=7&x=1#top")
    val cols = GapFunctions.parseUrlTuple(url, "HOST", "QUERY:sid", "REF")
    val row = spark.range(1).select(cols: _*).collect().head
    assert(row.getString(0) == "example.com")
    assert(row.getString(1) == "7")
    assert(row.getString(2) == "top")
  }

  test("hash family exact values (Hive-compatible builtins)") {
    assert(one(sha1(lit("abc"))) == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(one(crc32(lit("abc"))) == 891568578L)
    assert(one(md5(lit("abc"))) == "900150983cd24fb0d6963f7d28e17f72")
    assert(one(sha2(lit("abc"), 256)) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("soundex and format_number (no DuckDB twin)") {
    assert(one(soundex(lit("Robert"))) == "R163")
    assert(one(soundex(lit("Rupert"))) == "R163")
    assert(one(format_number(lit(1234567.891), 2)) == "1,234,567.89")
  }

  test("aes ECB round-trip is deterministic") {
    val key = lit("0123456789abcdef")
    val enc = expr("aes_encrypt('secret', '0123456789abcdef', 'ECB')")
    val dec = expr(
      "CAST(aes_decrypt(aes_encrypt('secret', '0123456789abcdef', 'ECB'), " +
        "'0123456789abcdef', 'ECB') AS STRING)")
    assert(one(dec) == "secret")
  }

  test("ngrams aggregator: exact top-k bigrams") {
    import spark.implicits._
    val ds = Seq(
      Seq("a", "b", "a", "b"),
      Seq("a", "b", "c")).toDS()
    val agg = udaf(new NGramsAgg(2, 2))
    val out = ds.select(agg($"value").as("g")).collect().head
      .getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(out == Seq(("a b", 3), ("b a", 1)))
  }

  test("context_ngrams aggregator: words following the context") {
    import spark.implicits._
    val ds = Seq(
      Seq("data", "lake", "data", "mart"),
      Seq("data", "lake")).toDS()
    val agg = udaf(new ContextNGramsAgg(Seq("data"), 3))
    val out = ds.select(agg($"value").as("g")).collect().head
      .getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(out == Seq(("lake", 2), ("mart", 1)))
  }

  test("property: ngram counts sum to total window count") {
    import spark.implicits._
    val prop = forAll { (xs: List[List[Int]]) =>
      val docs = xs.map(_.map(i => ((i % 3) + 97).toChar.toString))
      val expected = docs.map(d => math.max(d.size - 1, 0)).sum
      if (docs.isEmpty) true
      else {
        val agg = udaf(new NGramsAgg(2, 1000))
        val got = docs.toDS().select(agg($"value").as("g")).collect().head
          .getSeq[Row](0).map(_.getLong(1)).sum
        got == expected
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("registry stragglers: chr / unhex / tz conversion round-trip") {
    assert(one(expr("char(65)")) == "A") // Hive chr ≡ Spark char
    assert(new String(one(unhex(lit("4A6F"))).asInstanceOf[Array[Byte]]) == "Jo")
    // UTC session: to_utc_timestamp interprets its input in the given zone
    assert(one(to_utc_timestamp(lit("2024-06-01 00:00:00"), "America/Los_Angeles"))
      .toString == "2024-06-01 07:00:00.0")
    assert(one(from_utc_timestamp(lit("2024-06-01 07:00:00"), "America/Los_Angeles"))
      .toString == "2024-06-01 00:00:00.0")
  }

  test("property: partial+final == complete aggregation (repartitioned)") {
    import spark.implicits._
    val docs = (1 to 40).map(i => Seq.fill(5)(((i % 4) + 97).toChar.toString))
    val agg = udaf(new NGramsAgg(2, 100))
    val whole = docs.toDS().coalesce(1).select(agg($"value")).collect().head.get(0)
    val split = docs.toDS().repartition(7).select(agg($"value")).collect().head.get(0)
    assert(whole == split)
  }
}

class VectorExpressionsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("dot_product matches the higher-order fold bit-for-bit") {
    val df = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val cmp = df.select(
      call_function("dot_product", col("v"), col("v")).as("native"),
      aggregate(transform(col("v"), e => e * e), lit(0.0), (a, e) => a + e).as("ho"))
    assert(cmp.filter(col("native") =!= col("ho")).count() == 0)
  }

  test("dot_product nulls and length mismatch propagate like zip_with") {
    val r = spark.sql(
      """SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS n,
        |       dot_product(array(1.0d, 2.0d), array(3.0d)) AS shorter,
        |       dot_product(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d)) AS elemnull,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok""".stripMargin)
      .collect().head
    assert(r.isNullAt(0))
    assert(r.isNullAt(1)) // zip_with over unequal lengths pads with null
    assert(r.isNullAt(2)) // null element nulls the product, then the fold
    assert(r.getDouble(3) == 11.0)
  }
}

class UnicodeNormalizeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect().head.get(0)

  test("unicode_normalize composes NFD to NFC and folds NFKC compat") {
    // decomposed e + COMBINING ACUTE -> composed é (one code point)
    assert(one(call_function("unicode_normalize",
      lit("café"), lit("NFC"))) == "café")
    // NFC leaves already-composed text alone
    assert(one(call_function("unicode_normalize",
      lit("café"), lit("NFC"))) == "café")
    // NFKC folds the ﬁ ligature to "fi"
    assert(one(call_function("unicode_normalize",
      lit("ﬁn"), lit("NFKC"))) == "fin")
    // null propagates
    assert(one(call_function("unicode_normalize",
      lit(null).cast("string"), lit("NFC"))) == null)
  }

  test("unicode_normalize rejects a non-literal form") {
    intercept[Exception] {
      spark.sql("SELECT unicode_normalize('x', lower('NFC' || rand()))")
        .collect()
    }
  }

  test("normTextCol chain: NFC + control strip + whitespace collapse + trim") {
    import spark.implicits._
    val got = Seq("  café  xy\tz \r\n")
      .toDF("text")
      .select(queries.Quality.normTextCol(col("text")))
      .collect().head.getString(0)
    assert(got == "café xy z")
  }
}
