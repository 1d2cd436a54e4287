package graft

import graft.functions.EwahBitmap
import org.apache.spark.sql.functions._

/** Semantic pins for the round-17 closers (the last three document-only
  * SURVEY §2 rows): the EWAH codec itself, the bitmap UDAF family against
  * a direct COUNT DISTINCT recomputation, UNIQUEJOIN…PRESERVE's key-set
  * law, and the BLOCK__OFFSET virtual-column invariants. */
class HiveCompatSpec extends SparkSpec {

  test("EWAH codec round-trips runs, literals, and mixed patterns") {
    val cases = Seq(
      Array.emptyLongArray,
      Array(0L, 0L, 0L),                       // all-zero run (drops)
      Array(-1L, -1L, -1L),                    // all-ones run
      Array(0x5aL),                            // single literal
      Array(0L, 0L, 0x123456789abcdefL, -1L, -1L, 7L, 0L, 9L),
      Array.fill(1000)(0L) ++ Array(1L) ++ Array.fill(1000)(-1L))
    cases.foreach { ws =>
      val rt = EwahBitmap.decompress(EwahBitmap.compress(ws))
      // round-trip up to trailing zero words (canonical form drops them)
      val expect = ws.reverse.dropWhile(_ == 0L).reverse
      assert(rt.sameElements(expect), s"roundtrip failed for ${ws.toSeq.take(8)}")
      assert(EwahBitmap.cardinality(EwahBitmap.compress(ws)) ==
        ws.map(java.lang.Long.bitCount(_).toLong).sum)
    }
  }

  test("EWAH compresses runs instead of storing them") {
    val sparse = Array.fill(10000)(0L) ++ Array(42L)
    val c = EwahBitmap.compress(sparse)
    assert(c.length < 64, s"run not compressed: ${c.length} bytes for 10001 words")
  }

  test("EWAH and/or/empty match set semantics") {
    def bm(pos: Long*): Array[Byte] = {
      val agg = new EwahBitmap.EwahBitmapAgg
      EwahBitmap.compress(pos.foldLeft(agg.zero)(agg.reduce))
    }
    val a = bm(1L, 64L, 200L, 1000L)
    val b = bm(64L, 1000L, 5000L)
    assert(EwahBitmap.cardinality(EwahBitmap.bitmapAnd(a, b)) == 2L)
    assert(EwahBitmap.cardinality(EwahBitmap.bitmapOr(a, b)) == 5L)
    assert(!EwahBitmap.isEmpty(a))
    assert(EwahBitmap.isEmpty(EwahBitmap.bitmapAnd(a, bm(3L))))
    // merge across "partitions" equals the single-buffer build
    val agg = new EwahBitmap.EwahBitmapAgg
    val left = Seq(1L, 64L).foldLeft(agg.zero)(agg.reduce)
    val right = Seq(200L, 1000L).foldLeft(agg.zero)(agg.reduce)
    assert(EwahBitmap.compress(agg.merge(left, right)).sameElements(a))
  }

  test("EWAH properties hold on random bitmaps (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // positions up to 4096 with runs OF BOTH polarities likely: mix a
    // dense block (forces -1L fill words) with sparse positions
    val genPositions: Gen[List[Long]] = for {
      sparse <- Gen.listOf(Gen.choose(0L, 4095L))
      blockStart <- Gen.choose(0L, 3800L)
      blockLen <- Gen.choose(0L, 280L)
    } yield sparse ++ (blockStart until blockStart + blockLen).toList
    val prop = Prop.forAll(genPositions, genPositions) { (as, bs) =>
      val agg = new EwahBitmap.EwahBitmapAgg
      def bm(ps: List[Long]) =
        EwahBitmap.compress(ps.foldLeft(agg.zero)(agg.reduce))
      val (a, b) = (bm(as), bm(bs))
      val (sa, sb) = (as.toSet, bs.toSet)
      // roundtrip: decompress(compress) is identity up to trailing zeros
      val rt = EwahBitmap.compress(EwahBitmap.decompress(a))
      rt.sameElements(a) &&
        EwahBitmap.cardinality(a) == sa.size.toLong &&
        EwahBitmap.cardinality(EwahBitmap.bitmapAnd(a, b)) == sa.intersect(sb).size.toLong &&
        EwahBitmap.cardinality(EwahBitmap.bitmapOr(a, b)) == sa.union(sb).size.toLong &&
        EwahBitmap.isEmpty(a) == sa.isEmpty &&
        // commutativity on the compressed form
        EwahBitmap.bitmapOr(a, b).sameElements(EwahBitmap.bitmapOr(b, a)) &&
        EwahBitmap.bitmapAnd(a, b).sameElements(EwahBitmap.bitmapAnd(b, a)) &&
        // partition-split merge equals the single-buffer build
        EwahBitmap.compress(agg.merge(
          as.take(as.size / 2).foldLeft(agg.zero)(agg.reduce),
          as.drop(as.size / 2).foldLeft(agg.zero)(agg.reduce)))
          .sameElements(a)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  test("agg_ewah_bitmap cardinalities equal direct distinct counts") {
    val row = SparkEntry.queries("agg_ewah_bitmap")(spark, sfDir).collect().head
    val o = Tables.t(spark, sfDir, "orders")
    def ndv(p: String): Long =
      o.filter(col("o_orderpriority") === p)
        .select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    val u = ndv("1-URGENT"); val h = ndv("2-HIGH")
    assert(row.getAs[Long]("urgent_card") == u)
    assert(row.getAs[Long]("high_card") == h)
    val andC = row.getAs[Long]("and_card"); val orC = row.getAs[Long]("or_card")
    assert(orC == u + h - andC, "inclusion-exclusion violated")
    assert(row.getAs[Boolean]("and_empty") == (andC == 0L))
  }

  test("join_uniquejoin keys = union of PRESERVE'd tables' keys") {
    val res = SparkEntry.queries("join_uniquejoin")(spark, sfDir).collect()
    val keys = res.map(_.getAs[Int]("nationkey")).toSet
    val aKeys = Tables.t(spark, sfDir, "customer")
      .filter(col("c_acctbal") > 9000).select(col("c_nationkey").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    val bKeys = Tables.t(spark, sfDir, "supplier")
      .filter(col("s_acctbal") > 3000).select(col("s_nationkey").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(keys == (aKeys ++ bKeys))
    // non-PRESERVE'd table fills nulls outside its keyset, never adds keys
    val named = res.filter(_.getAs[String]("n_name") != null)
      .map(_.getAs[Int]("nationkey")).toSet
    val regionKeys = Tables.t(spark, sfDir, "nation")
      .filter(col("n_regionkey") <= 1).select(col("n_nationkey").cast("int"))
      .collect().map(_.getInt(0)).toSet
    assert(named == keys.intersect(regionKeys))
  }

  test("fn_block_offset invariants hold and row count is exact") {
    val row = SparkEntry.queries("fn_block_offset")(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_rows") == Tables.t(spark, sfDir, "lineitem").count())
    assert(row.getAs[Long]("n_blocks") == 1L)
    assert(row.getAs[Long]("min_block_offset") == 0L)
    assert(row.getAs[Boolean]("offsets_in_file"))
  }

  test("fn_block_offset's path-based surface spelling is still load-bearing") {
    // `_metadata` is a file-source hidden column; Spark does not expose it
    // through a temp VIEW node. That is why the r20 surface text (see
    // SqlSurface.overrides) must bind the file-source relation DIRECTLY via
    // Hive-style variable substitution — parquet.`${graft.dir}/…` — rather
    // than the registered `lineitem` view every other text uses. If a
    // future Spark version resolves _metadata through views, the path
    // spelling (and Tables.registerAll's graft.dir conf) can simplify to
    // the plain view reference.
    Tables.registerAll(spark, sfDir)
    val resolved =
      try {
        spark.sql(
          "SELECT COUNT(DISTINCT _metadata.file_block_start) FROM lineitem")
          .collect(); true
      } catch { case _: org.apache.spark.sql.AnalysisException => false }
    assert(!resolved,
      "_metadata now resolves through views — simplify fn_block_offset's " +
        "surface text from parquet.`${graft.dir}/…` to the lineitem view")
  }
}
