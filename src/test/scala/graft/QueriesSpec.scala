package graft

import org.apache.spark.sql.functions._

/** Every SparkEntry query runs at sf0.001 and returns a sane result; plus
  * targeted semantic assertions per module. */
class QueriesSpec extends SparkSpec {

  test("every registered query executes at sf0.001") {
    val emptyOk = Set("llm_minhash_lsh") // no near-dups guaranteed at tiny sf
    // Fan the sweep out on a fixed pool (the SqlSurfaceSpec/DeterminismSpec
    // shape): builders only submit Spark jobs against the shared session,
    // so concurrent execution is safe and the scheduler interleaves them.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future(name -> fn(spark, sfDir).count())
      }
      val counts = Await.result(Future.sequence(fs), 20.minutes)
      val empty = counts.collect {
        case (name, n) if n == 0 && !emptyOk(name) => name
      }
      assert(empty.isEmpty, s"queries returned no rows: ${empty.sorted}")
    } finally pool.shutdown()
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 aggregates match a direct recomputation") {
    val row = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .filter(col("l_returnflag") === "A" && col("l_linestatus") === "F")
      .collect().head
    val li = Tables.t(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp") &&
        col("l_returnflag") === "A" && col("l_linestatus") === "F")
    assert(row.getAs[Long]("count_order") == li.count())
  }

  test("join_semi + join_anti partition the customer set") {
    val semi = SparkEntry.queries("join_semi")(spark, sfDir).count()
    val anti = SparkEntry.queries("join_anti")(spark, sfDir).count()
    val all = Tables.t(spark, sfDir, "customer").count()
    assert(semi + anti == all)
  }

  test("setop intersect/except agree with distinct membership") {
    val i = SparkEntry.queries("setop_intersect")(spark, sfDir)
      .collect().map(_.getInt(0)).toSet
    val supp = Tables.t(spark, sfDir, "supplier")
      .select(col("s_nationkey").cast("int")).collect().map(_.getInt(0)).toSet
    assert(i.subsetOf(supp))
  }

  test("window running count is a 1..n permutation per partition") {
    val df = SparkEntry.queries("win_agg_rows")(spark, sfDir)
    val bad = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), countDistinct(col("running_cnt")).as("nd"),
        max(col("running_cnt")).as("mx"))
      .filter(col("n") =!= col("nd") || col("n") =!= col("mx")).count()
    assert(bad == 0)
  }

  test("exact dedup keeps one row per content hash") {
    val df = SparkEntry.queries("llm_exact_dedup")(spark, sfDir)
    assert(df.select("content_hash").distinct().count() == df.count())
  }

  test("cosine top-k neighbors are ranked descending") {
    val df = SparkEntry.queries("llm_cosine_topk")(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("rnk")
    val bad = df.withColumn("prev", lag(col("cos"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("cos")).count()
    assert(bad == 0)
  }

  test("ANN LSH pairs are a subset of brute-force high-cosine pairs") {
    val ann = SparkEntry.queries("llm_ann_lsh")(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force all-pairs cosine > 0.3 on the tiny sf
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val dot = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, e) => acc + e)
    val nrm = (x: org.apache.spark.sql.Column) =>
      sqrt(aggregate(transform(x, e => e * e), lit(0.0), (acc, e) => acc + e))
    val bf = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (nrm(col("va")) * nrm(col("vb")))).as("cos"))
      .filter(col("cos") > 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(bf))
    // LSH recall on same-bucket survivors should be nontrivial if any exist
    if (bf.nonEmpty) assert(ann.nonEmpty)
  }

  test("ANN IVF returns correctly-valued cosines from probed cells") {
    val ivf = SparkEntry.queries("llm_ann_ivf")(spark, sfDir)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    // at most k=5 per query, ranked descending
    val perQ = rows.groupBy(_.getAs[Long]("q_id"))
    perQ.values.foreach { rs =>
      assert(rs.length <= 5)
      val cosines = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(cosines.sameElements(cosines.sortBy(-_)))
    }
    // every reported cosine matches an independent brute-force recomputation
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rows.foreach { r =>
      val q = emb(r.getAs[Long]("q_id")); val c = emb(r.getAs[Long]("vec_id"))
      val dot = q.zip(c).map { case (x, y) => x * y }.sum
      val expect = dot / (math.sqrt(q.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
      assert(math.abs(r.getAs[Double]("cos") - expect) < 1e-5)
    }
  }

  test("ANN paths hold recall@5 against the brute-force truth") {
    // Both ANN paths are hash-exact vs DuckDB, but the oracle replays
    // whatever the parameters do — a bands/nprobe/plane change could
    // collapse RETRIEVAL QUALITY while staying oracle-green. This gate
    // pins recall@5 against the brute-force truth (llm_cosine_topk) on
    // the fixture embeddings. The fixture vectors are RANDOM — the
    // documented worst case for space-partitioned ANN (no cluster
    // structure for cells/buckets to exploit; real embedding corpora are
    // heavily clustered) — so the absolute numbers are modest by design;
    // the gate's job is to catch a COLLAPSE (a parameter change silently
    // zeroing retrieval), not to certify production recall. Values are
    // measured-then-pinned and fully deterministic (no RNG anywhere), so
    // only a real parameter/semantics change can move them.
    val truthRows = SparkEntry.queries("llm_cosine_topk")(spark, sfDir).collect()
    val truth = truthRows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(truth.nonEmpty)
    def recallOf(truthSets: Map[Long, Set[Long]],
        retrieved: Map[Long, Set[Long]]): Double =
      truthSets.map { case (q, t) =>
        retrieved.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truthSets.size
    // IVF is a top-k retriever: plain recall@5. Measured 0.200 on
    // sf0.001 with the fixed-k quantizer (nprobe=2 of k=40 cells over
    // structureless vectors — ~5% of the corpus scanned, and recall on
    // RANDOM data tracks the scanned fraction; r12's 0.340 probed 2 of
    // ~10 N-dependent cells, i.e. 20%. The clustered-corpus probe in
    // AnnScaleProbeSpec is where retrieval quality is actually graded).
    def ivfSets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val ivfRecall = recallOf(truth, ivfSets("llm_ann_ivf"))
    // one Lloyd step over the same seeds: centers move toward cell
    // means, cells re-balance — even on STRUCTURELESS vectors the
    // re-balanced cells cover the probe budget a little better
    // (measured 0.240 vs sampled 0.200); the gate is the collapse floor
    val trainedRecall = recallOf(truth, ivfSets("llm_ann_ivf_trained"))
    assert(trainedRecall >= 0.15,
      f"trained-IVF recall@5 collapsed: $trainedRecall%.3f")
    // LSH is a CANDIDATE GENERATOR with a cos > 0.3 admission threshold:
    // truth items below the threshold are excluded by semantics, not by
    // bucketing, so the fair denominator is the truth top-5 restricted
    // to cos > 0.3 (queries with no such neighbor don't score).
    val lshTruth = truthRows
      .filter(r => r.getAs[Double]("cos") > 0.3)
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val lsh = SparkEntry.queries("llm_ann_lsh")(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 20 && b >= 20 }
      .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val lshRecall = recallOf(lshTruth, lsh)
    // Measured on sf0.001: ivf 0.200; lsh 0.039 single-table in r10's
    // shape, lifted to 0.193 by r11's 4-table LSH — one table's
    // collision rate for a near-orthogonal random pair is (1 − θ/π)^8 ≈
    // 0.01–0.05 at θ ≈ 75–80°, and L tables give 1 − (1−p)^L ≈ L·p,
    // which is what this gate made visible and then confirmed.
    info(f"recall@5 ivf=$ivfRecall%.3f trained=$trainedRecall%.3f" +
      f" lsh(cos>0.3)=$lshRecall%.3f" +
      f" (lsh denominator: ${lshTruth.size} queries)")
    assert(ivfRecall >= 0.15, f"IVF recall@5 collapsed: $ivfRecall%.3f")
    assert(lshRecall >= 0.15, f"LSH candidate recall collapsed: $lshRecall%.3f")
  }

  test("int8 IVF pays a bounded recall cost vs the float path") {
    // llm_ann_ivf_int8 runs the IDENTICAL retrieval body over the
    // quantize→dequantize reconstruction, so any recall delta vs the
    // float path is pure quantization cost (codes are bit-exact vs the
    // DuckDB oracle; this gate guards the RETRIEVAL consequence). Truth
    // is the float brute force — the int8 path is graded against what
    // the unquantized corpus would answer, the honest denominator.
    val truth = SparkEntry.queries("llm_cosine_topk")(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(truth.nonEmpty)
    def retrieved(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    def recallOf(r: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        r.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    val floatRecall = recallOf(retrieved("llm_ann_ivf"))
    val int8Recall = recallOf(retrieved("llm_ann_ivf_int8"))
    info(f"recall@5 float=$floatRecall%.3f int8=$int8Recall%.3f")
    // 8-bit scalar quantization moves cosines by O(scale) ≈ 1e-2 — enough
    // to reorder near-ties, never to zero retrieval. Gate: within 0.10
    // absolute of the float path (measured: equal on the fixture).
    assert(int8Recall >= floatRecall - 0.10,
      f"int8 quantization collapsed recall: float=$floatRecall%.3f int8=$int8Recall%.3f")
  }

  test("sharded export derives shard count from input volume") {
    SparkEntry.queries("sink_sharded_export")(spark, sfDir).collect() // writes shards
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sink/$tag/doc_shards"
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val srcBytes = new java.io.File(s"$sfDir/documents.parquet").length()
    val expected = math.max(1L, (srcBytes + 256 * 1024 - 1) / (256 * 1024)).toInt
    // one file per derived shard (maxRecordsPerFile cap not hit at test sf)
    assert(files.length === expected)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 5000, f.getName)
    }
  }

  test("incremental dedup survivors exclude corpus content hashes") {
    val surv = SparkEntry.queries("llm_dedup_incremental")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(surv.forall(_ >= 250))
    val d = Tables.t(spark, sfDir, "documents")
    val corpusHashes = d.filter(col("doc_id") < 250)
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet
    val survHashes = d.filter(col("doc_id").isin(surv.toSeq: _*))
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet
    assert(survHashes.intersect(corpusHashes).isEmpty)
  }

  test("fingerprint is stable across runs") {
    val a = SparkEntry.queries("llm_fingerprint")(spark, sfDir).collect()
    val b = SparkEntry.queries("llm_fingerprint")(spark, sfDir).collect()
    assert(a.sameElements(b))
  }

  test("connected components: chain + triangle + singleton") {
    import spark.implicits._
    // 8-node chain (forces multiple contraction rounds), a triangle, and
    // an isolated node that must keep its own label.
    val nodes = ((1L to 8L) ++ Seq(10L, 11L, 12L, 20L)).toDF("doc_id")
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("doc_a", "doc_b")
    val got = graft.queries.Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (1L to 8L).map(_ -> 1L).toMap ++
      Seq(10L, 11L, 12L).map(_ -> 10L).toMap + (20L -> 20L)
    assert(got === expect)
  }

  test("connected components: empty edge list yields all singletons") {
    import spark.implicits._
    val (labels, rounds) = graft.queries.Dedup.connectedComponentsWithRounds(
      (1L to 5L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 5L).map(i => i -> i).toMap)
    assert(rounds === 0)
  }

  test("connected components: 60-node chain converges in O(log d) rounds") {
    import spark.implicits._
    // A diameter-59 path — the shape that killed the old min-neighbor
    // contraction (O(d) rounds, maxIter throw). Large-star/small-star
    // must collapse it to a single min-rooted star in ~log2(60) rounds.
    val n = 60L
    val nodes = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) =
      graft.queries.Dedup.connectedComponentsWithRounds(nodes, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to n).map(_ -> 1L).toMap)
    // log2(59) ≈ 5.9; measured 7 — anything near O(d) (≈30+) is a
    // regression back to single-hop contraction.
    assert(rounds <= 10, s"expected O(log d) rounds, took $rounds")
  }

  test("property: connected components match a union-find reference") {
    import spark.implicits._
    val prop = org.scalacheck.Prop.forAll(
      org.scalacheck.Gen.choose(1, 12).flatMap { n =>
        org.scalacheck.Gen.listOfN(15,
          org.scalacheck.Gen.zip(org.scalacheck.Gen.choose(0L, n - 1L),
            org.scalacheck.Gen.choose(0L, n - 1L))).map(es => (n, es))
      }) { case (n, esRaw) =>
      val edges = esRaw.filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val (labelsDf, rounds) = graft.queries.Dedup.connectedComponentsWithRounds(
        (0L until n.toLong).toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"))
      val got = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // diameter ≤ n-1, so ⌈log2(n)⌉ + slack bounds the round count
      val bound = math.ceil(math.log(math.max(2, n)) / math.log(2)).toInt + 4
      got == expect && rounds <= bound
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("hot-bucket guard drops only over-cap LSH buckets") {
    import spark.implicits._
    val buckets = Seq(
      (1L, 0, "a"), (2L, 0, "a"), (3L, 0, "a"), // over cap=2 → dropped
      (4L, 0, "b"), (5L, 0, "b"),               // at cap → kept
      (6L, 1, "a")                              // singleton → kept
    ).toDF("doc_id", "band", "sig")
    val kept = graft.queries.Dedup.capBuckets(buckets, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L, 5L, 6L))
  }

  test("llm_dedup_cc labels every document and respects pair edges") {
    val labels = SparkEntry.queries("llm_dedup_cc")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.t(spark, sfDir, "documents").count()
    assert(labels.size === nDocs)
    // every cluster label is the min doc_id of its member set
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._1).min === cl)
    }
    // every verified near-dup pair lands in the same cluster
    SparkEntry.queries("llm_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b").collect().foreach { r =>
        assert(labels(r.getLong(0)) === labels(r.getLong(1)))
      }
  }

  test("multimodal decode extracts true dimensions from real PNG payloads") {
    import spark.implicits._
    // real PNGs, written by the JDK's own encoder — the decode must
    // recover the exact dimensions from the IHDR header
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows = Seq(
      graft.queries.MmRow(1L, png(37, 23), "en"),
      graft.queries.MmRow(2L, png(640, 480), "en"),
      graft.queries.MmRow(3L, "not a png at all".getBytes("UTF-8"), "en"),
      graft.queries.MmRow(4L, Array.emptyByteArray, "en"))
    val feats = rows.toDS().mapPartitions(_.map(graft.queries.Multimodal.decodeFeatures))
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).frames) === ((37, 23, 1)))
    assert((feats(2L).width, feats(2L).height, feats(2L).frames) === ((640, 480, 1)))
    // non-PNG payloads take the deterministic stub branch
    val n3 = rows(2).payload.length
    assert(feats(3L).width === 64 + n3 % 640)
    assert(feats(4L).bytes === 0)
    // big-endian u32 parse pinned against a hand-built IHDR (width
    // 0x00010203 would silently read as little-endian 0x03020100)
    val hand = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 1, 2, 3, /* width  0x00010203 */
      0, 0, 1, 0 /* height 0x00000100 */ )
    assert(graft.queries.Multimodal.pngDims(hand) === Some((0x00010203, 0x00000100)))
    assert(graft.queries.Multimodal.pngDims("shorty".getBytes) === None)
    // crafted IHDR with width >= 2^31 (invalid per spec) must fall back
    // to the stub, not emit a negative dimension
    val hostile = hand.clone()
    hostile(16) = 0x80.toByte // width 0x80010203 -> negative as Int
    assert(graft.queries.Multimodal.pngDims(hostile) === None)
    val zeroW = hand.clone()
    zeroW(16) = 0; zeroW(17) = 0; zeroW(18) = 0; zeroW(19) = 0
    assert(graft.queries.Multimodal.pngDims(zeroW) === None)
  }

  test("embed quantization error stays inside the analytic bound") {
    // scalar min/max int8: the worst-case reconstruction error is half a
    // quantization step, scale/2 = (mx-mn)/510 — an analytic property of
    // the scheme, pinned per vector (plus rounding slack from the
    // 1e-6 output quantization)
    val rows = SparkEntry.queries("llm_embed_quantize")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bound = (r.getAs[Double]("mx") - r.getAs[Double]("mn")) / 510.0
      assert(r.getAs[Double]("max_err") <= bound + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: max_err ${r.getAs[Double]("max_err")} > $bound")
      assert(r.getAs[Double]("mean_err") <= r.getAs[Double]("max_err") + 1e-6)
      assert(r.getAs[Double]("max_err") >= 0.0)
    }
  }

  test("random projection preserves pairwise distances to JL tolerance") {
    val proj = SparkEntry.queries("llm_random_proj")(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("y")) }
    assert(proj.nonEmpty)
    assert(proj.values.forall(_.length == 16))
    val orig = Tables.t(spark, sfDir, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toMap
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // distance-ratio distribution over the first 30 vectors' pairs: with
    // p = 16 the JL concentration is loose per pair, but the MEDIAN ratio
    // must sit near 1 and no pair may collapse to zero or blow up —
    // that's the property LSH-after-projection relies on
    val ids = proj.keys.toSeq.sorted.take(30)
    val ratios = for {
      i <- ids.indices; k <- (i + 1) until ids.size
      a = ids(i); b = ids(k)
      d0 = dist(orig(a), orig(b)) if d0 > 0
    } yield dist(proj(a).toArray, proj(b).toArray) / d0
    val sortedR = ratios.sorted
    val med = sortedR(sortedR.size / 2)
    assert(med > 0.7 && med < 1.3, s"median distance ratio $med")
    assert(sortedR.head > 0.2, s"worst-pair collapse ${sortedR.head}")
    assert(sortedR.last < 3.0, s"worst-pair blowup ${sortedR.last}")
    // the ternary matrix itself: ~2/3 zeros (Achlioptas density), and
    // deterministic — a fixed spot value pinned against the md5 rule
    val m = Seq.tabulate(16, 64)((j, i) => graft.queries.Vectors.rpEntry(i, j))
    val zeros = m.flatten.count(_ == 0L)
    assert(zeros > 512 && zeros < 820, s"zero count $zeros of 1024")
  }

  test("bm25 top-5 agrees with an independent driver-side recomputation") {
    val got = SparkEntry.queries("llm_bm25_topk")(spark, sfDir).collect()
    assert(got.nonEmpty)
    // every query returns a full, rank-consistent top-5 (ties broken by id)
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to sorted.length),
        s"query $q ranks not dense")
      assert(sorted.sliding(2).forall {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Double]("score"), b.getAs[Double]("score"))
          sa > sb || (sa == sb && a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id"))
        case _ => true
      }, s"query $q not ordered by (score desc, doc_id)")
    }
    // independent scalar recomputation of the whole ranking
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSeq)
      .toMap
    val corpusIds = docs.keySet.filter(_ >= 3)
    val n = corpusIds.size
    val tf = docs.view.mapValues(_.groupBy(identity).view.mapValues(_.size).toMap).toMap
    val df = corpusIds.toSeq.flatMap(d => tf(d).keys).groupBy(identity).view.mapValues(_.size).toMap
    val avgdl = corpusIds.toSeq.map(d => docs(d).size.toLong).sum.toDouble / n
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length
    for (q <- docs.keySet.filter(_ < 3)) {
      val qt = docs(q).toSet
      val scores = corpusIds.toSeq.flatMap { d =>
        val terms = qt.filter(tf(d).contains)
        if (terms.isEmpty) None else Some(d -> terms.toSeq.map { t =>
          val s = (bits(n) - bits(df(t))).toDouble *
            ((tf(d)(t) * 2.2) / (tf(d)(t) + 1.2 * (0.25 + 0.75 * (docs(d).size / avgdl))))
          math.floor(s * 1e6 + 0.5).toLong
        }.sum / 1e6)
      }
      val expect = scores.sortBy { case (d, s) => (-s, d) }.take(5)
      val gotQ = got.filter(_.getAs[Long]("q_id") == q).sortBy(_.getAs[Int]("rnk"))
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toSeq
      assert(gotQ.map(_._1) == expect.map(_._1), s"query $q ranking differs")
      gotQ.zip(expect).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"query $q score $a vs $b") }
    }
  }

  test("bpe encode respects symbol boundaries and chains adjacent repeats") {
    import spark.implicits._
    // planted corpus: step-1 pair counts aa=5 (2 from each "aab" + 3 from
    // "aaaa"), ab=2 -> merge 1 = (a,a). The ITERATIVE recount then sees
    // [aa,b] (wc 2) and [aa,aa] (wc 1), so merge 2 = (aa,b) — a candidate
    // built FROM a merged symbol, which the old single-pass table could
    // never learn (it would have picked the stale char pair (a,b)).
    val docs = Seq("aab aab aaaa").toDF("text")
    val table = graft.queries.LmStats.bpeTrainOf(docs, steps = 2).collect()
      .map(r => (r.getAs[Int]("step"), r.getAs[String]("sym_a"),
        r.getAs[String]("sym_b"), r.getAs[Long]("cnt"))).toSeq
    assert(table == Seq((1, "a", "a", 5L), (2, "aa", "b", 2L)), table.toString)
    val got = graft.queries.LmStats.bpeEncodeOf(docs, topK = 2).collect()
      .map(r => r.getAs[String]("w") ->
        (r.getAs[String]("encoded"), r.getAs[Int]("n_syms"))).toMap
    // "aab": merge 1 -> [aa, b], merge 2 joins the merged symbol with its
    // tail -> the whole word is one learned token
    assert(got("aab") == ("aab", 1), s"got ${got("aab")}")
    // "aaaa": one left-to-right pass of (a,a) merges BOTH adjacent
    // pairs (canonical non-overlapping greedy), not just the first; and
    // (aa,b)'s sentinel-literal search cannot fire inside [aa, aa] — the
    // merged-symbol boundary holds
    assert(got("aaaa") == ("aa aa", 2), s"got ${got("aaaa")}")
  }

  test("corpus pipeline manifest respects every composed filter") {
    // collect ONCE — each construction re-runs the whole multi-stage
    // pipeline (two persist+count jobs plus the manifest job)
    val rows = SparkEntry.queries("llm_corpus_pipeline")(spark, sfDir).collect()
    val kept = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(kept.nonEmpty)
    // no eval docs in the training manifest
    assert(!kept.exists(_ % 97 == 0))
    // no contaminated or repetitive docs (re-derived via the same cores
    // — this checks the composition WIRING; the semantics have their
    // own oracles)
    val d = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val contaminated = graft.queries.Dedup
      .contaminationOf(d, id => id % 97 === 0)
      .filter(col("n_shared") > 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.intersect(contaminated).isEmpty)
    val repetitive = graft.queries.Dedup.repetitionOf(d)
      .filter(col("repetitive"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.intersect(repetitive).isEmpty)
    // and the pipeline is strictly tighter than the minimal capstone's
    // shared stages (dedup-keeper ∧ lang) — every kept doc has lang en/de
    rows.foreach { r =>
      assert(Set("en", "de")(r.getAs[String]("lang")))
      assert(r.getAs[Double]("quality") >= 0.5)
    }
  }

  test("v3 capstone: the r19 signal gates only remove docs, and do remove some") {
    // v3 = v2 ∧ (ppl ceiling ∧ code bound ∧ topic bound ∧ ¬embedded), so
    // the v3 manifest must be a STRICT subset of v2's at fixture scale
    // (the ppl and topic gates bite at both sf0.001 and sf0.01 — probed
    // before the bounds were pinned; the code and containment gates are
    // live but pass the clean prose fixture). The subset check proves the
    // composition wiring; the gate semantics have their own oracles.
    val v2 = SparkEntry.queries("llm_corpus_pipeline_v2")(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val v3 = SparkEntry.queries("llm_corpus_pipeline_v3")(spark, sfDir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(v3.nonEmpty, "v3 manifest must keep docs")
    assert(v3.subsetOf(v2), s"v3 kept docs v2 dropped: ${(v3 -- v2).take(5)}")
    assert(v3.size < v2.size,
      s"the new gates must filter at fixture scale (v2=${v2.size}, v3=${v3.size})")
  }

  test("chunk scrub removes cross-doc duplicate chunks and reassembles the rest") {
    import spark.implicits._
    // 20-word template block shared by docs 1 and 2, unique tails —
    // the scrub must drop the template from BOTH and keep the tails in
    // position order; doc 3 (pure template) scrubs to the empty string
    val template = (1 to 20).map(i => s"tpl$i").mkString(" ")
    val tail1 = (1 to 20).map(i => s"aa$i").mkString(" ")
    val tail2a = (1 to 20).map(i => s"bb$i").mkString(" ")
    val tail2b = (1 to 20).map(i => s"cc$i").mkString(" ")
    val docs = Seq(
      (1L, s"$template $tail1"),
      (2L, s"$tail2a $template $tail2b"),
      (3L, template))
      .toDF("doc_id", "text")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = graft.queries.Dedup.chunkScrubOf(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_chunks") === 2L)
    assert(out(1L).getAs[Long]("n_kept") === 1L)
    assert(out(1L).getAs[String]("clean_hash") === md5hex(tail1))
    assert(out(2L).getAs[Long]("n_kept") === 2L)
    assert(out(2L).getAs[String]("clean_hash") === md5hex(s"$tail2a $tail2b"))
    assert(out(3L).getAs[Long]("n_kept") === 0L)
    assert(out(3L).getAs[String]("clean_hash") === md5hex(""))
  }

  test("source stats partition the corpus and agree with exact dedup") {
    val rows = SparkEntry.queries("llm_source_stats")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val totalDocs = Tables.t(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === totalDocs,
      "per-source doc counts must partition the corpus")
    // corpus-wide duplicate mass must equal what exact dedup reports
    // (every copy beyond the keeper, PLUS the keeper itself — the window
    // flags all members of a duplicated hash group); fixture docs carry
    // no exact dups, so this leg is 0 == 0 and the positive path is
    // probed synthetically below
    val dupMass = SparkEntry.queries("llm_exact_dedup")(spark, sfDir)
      .filter(col("copies") > 1)
      .agg(coalesce(sum(col("copies")), lit(0L))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("dup_docs")).sum === dupMass,
      "source-attributed dup docs must sum to the corpus dup mass")
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_docs") <= r.getAs[Long]("n_docs"))
      val frac = r.getAs[Long]("dup_docs").toDouble / r.getAs[Long]("n_docs")
      assert(r.getAs[Boolean]("keep") === (frac <= 0.5))
    }
    // synthetic corpus with CROSS-SOURCE duplicates: the template text
    // lives in spamfarm (3 of 4 docs) and once in blog — all four count
    // as duplicates, attributed per source; spamfarm crosses the 50%
    // drop line, blog (1/3 dup) does not
    import spark.implicits._
    val syn = Seq(
      ("spamfarm", "en", "the same template text here"),
      ("spamfarm", "en", "the same template text here"),
      ("spamfarm", "de", "the same template text here"),
      ("spamfarm", "en", "one honest page of real words"),
      ("blog", "en", "the same template text here"),
      ("blog", "en", "a unique essay about spark plans"),
      ("blog", "en", "another unique essay entirely now")
    ).toDF("source", "lang", "text")
    val stats = graft.queries.CorpusStats.sourceStatsOf(syn)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(stats("spamfarm").getAs[Long]("dup_docs") === 3L)
    assert(stats("spamfarm").getAs[Boolean]("keep") === false)
    assert(stats("spamfarm").getAs[Long]("n_langs") === 2L)
    assert(stats("blog").getAs[Long]("dup_docs") === 1L)
    assert(stats("blog").getAs[Boolean]("keep") === true)
  }

  test("wordpiece tokenize matches the reference greedy matcher") {
    // unit-pin the reference on hand-computable words first
    //   "the" -> ["the"]; "thing" -> ["th","ing"] (longest-match wins at
    //   i=0: "thin"∉v4, "thi"∉v3, "th"∈v2); "q" -> ["q"] ([UNK]-style
    //   1-char fallback); "mention" -> ["ment","ion"]
    assert(graft.queries.LmStats.wpTokenCountRef("the") === 1)
    assert(graft.queries.LmStats.wpTokenCountRef("thing") === 2)
    assert(graft.queries.LmStats.wpTokenCountRef("q") === 1)
    assert(graft.queries.LmStats.wpTokenCountRef("mention") === 2)
    assert(graft.queries.LmStats.wpTokenCountRef("") === 0)
    // codepoint semantics: a supplementary-plane char (2 UTF-16 units)
    // is ONE scan position, matching DuckDB's length()/substr(); a
    // UTF-16-unit walk would count 😀 as 2 and misalign piece matches
    assert(graft.queries.LmStats.wpTokenCountRef("😀") === 1)
    assert(graft.queries.LmStats.wpTokenCountRef("th😀e") === 3)
    // then pin the distributed fold against the reference over the REAL
    // fixture corpus — every doc, not a sample
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SparkEntry.queries("llm_tokenize")(spark, sfDir).collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val text = docs(r.getAs[Long]("doc_id"))
      val words = text.split(" ", -1)
      assert(r.getAs[Int]("n_words") === words.length)
      val expect = words.map(graft.queries.LmStats.wpTokenCountRef).map(_.toLong).sum
      assert(r.getAs[Long]("wp_tokens") === expect,
        s"doc ${r.getAs[Long]("doc_id")}")
    }
    // subword counts sit between words and characters
    rows.foreach { r =>
      val nw = r.getAs[Int]("n_words").toLong
      assert(r.getAs[Long]("wp_tokens") >= nw)
    }
  }

  test("dedup state has one row per input row, each hashed from its own text") {
    import spark.implicits._
    // A repeated doc_id must not cross its rows' hashes and signatures:
    // each state row's h and mh0 come from that row's own text.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "completely different text about spark shuffles and joins",
      "hi there")
    val docs = texts.map(7L -> _).toDF("doc_id", "text")
    val got = graft.queries.Dedup.dedupStateOf(docs).collect()
      .map(r => (r.getAs[String]("h"), Option(r.getAs[java.lang.Long]("mh0")).map(_.longValue)))
    val want = texts.map { t =>
      val one = Seq(1L -> t).toDF("doc_id", "text")
      val mh0 = graft.queries.Dedup.signaturesOf(one).select("mh0").collect()
        .headOption.map(_.getLong(0))
      (one.select(sha2(col("text"), 256)).head.getString(0), mh0)
    }
    assert(got.length === texts.length)
    assert(got.toSet === want.toSet)
    assert(want.count(_._2.isEmpty) === 1, "the 2-word doc keeps a hash-only row")
  }

  test("incremental dedup folds batch survivors back into the corpus state") {
    import spark.implicits._
    // Two-batch production loop: batch2 must drop duplicates OF BATCH-1
    // SURVIVORS, which only works if round 1 appended its survivors'
    // signature+hash rows to the persisted state.
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_incdedup").toFile.getAbsolutePath + "/state"
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val wsoup = (1 to 30).map(i => s"word$i").mkString(" ")
    val corpus = df(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely different corpus text about spark shuffles and joins")
    graft.queries.Dedup.dedupStateOf(corpus)
      .coalesce(1).write.mode("overwrite").parquet(statePath)
    // round 1: C/D are fresh, X is an exact copy of corpus doc 1, S is a
    // SHORT doc (2 words — no 3-shingle, exact-layer-only state row)
    val batch1 = df(
      10L -> wsoup,
      11L -> "a genuinely novel document with its own words entirely",
      12L -> "the quick brown fox jumps over the lazy dog today",
      13L -> "hi there")
    val surv1 = graft.queries.Dedup
      .incrementalDedupRound(spark, batch1, statePath, append = true)
      .collect().map(_.getLong(0)).toSet
    assert(surv1 === Set(10L, 11L, 13L))
    // the state now carries corpus ∪ round-1 survivors (and NOT the dup);
    // the short doc's row is exact-layer-only (null signature)
    val state1 = spark.read.parquet(statePath)
    assert(state1.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 10L, 11L, 13L))
    assert(state1.filter(col("doc_id") === 13L)
      .select("mh0").collect()(0).isNullAt(0),
      "short docs carry a hash-only state row")
    // round 2: F = exact copy of batch-1 survivor 10, E = near-dup of it
    // (same 30 words plus a tail word: shingle Jaccard 28/29 ≈ 0.97),
    // SS = exact copy of the SHORT batch-1 survivor (the case the
    // pre-r11 inner-join state silently let through), G fresh —
    // only G may survive
    val batch2 = df(
      20L -> (wsoup + " tail"),
      21L -> wsoup,
      22L -> "another brand new document closing out the second batch",
      23L -> "hi there")
    val surv2 = graft.queries.Dedup
      .incrementalDedupRound(spark, batch2, statePath, append = true)
      .collect().map(_.getLong(0)).toSet
    assert(surv2 === Set(22L),
      "batch-2 dups of batch-1 survivors must be dropped by the appended state")
    val stateIds2 = spark.read.parquet(statePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds2 === Set(1L, 2L, 10L, 11L, 13L, 22L))
  }

  test("multimodal decode extracts true dimensions from real JPEG payloads") {
    import spark.implicits._
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    // through the real typed pipeline, like the PNG test
    val rows = Seq(
      graft.queries.MmRow(1L, jpeg(41, 29), "en"),
      graft.queries.MmRow(2L, jpeg(1280, 720), "en"))
    val feats = rows.toDS().mapPartitions(_.map(graft.queries.Multimodal.decodeFeatures))
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).frames) === ((41, 29, 1)))
    assert((feats(2L).width, feats(2L).height, feats(2L).frames) === ((1280, 720, 1)))
    // hand-built stream: APP0 hop + PROGRESSIVE frame header (SOF2, which
    // ImageIO never writes) with big-endian dims 0x0102 x 0x0304, plus a
    // fill byte before the SOF marker
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val sof2 = b(0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46, // APP0, len 4 (2 payload bytes)
      0xff,                               // fill byte
      0xff, 0xc2, 0x00, 0x0b, 0x08,       // SOF2, len 11, precision 8
      0x03, 0x04, /* height 0x0304 */ 0x01, 0x02, /* width 0x0102 */
      0x01, 0x11, 0x00, 0x00)
    assert(graft.queries.Multimodal.jpegDims(sof2) === Some((0x0102, 0x0304)))
    // DHT (0xC4) is in the SOF numeric range but is NOT a frame header —
    // its payload must be hopped, not misread as dimensions
    val dhtFirst = b(0xff, 0xd8,
      0xff, 0xc4, 0x00, 0x04, 0x00, 0x00, // DHT, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x10, 0x00, 0x20, 0x01, 0x11, 0x00, 0x00)
    assert(graft.queries.Multimodal.jpegDims(dhtFirst) === Some((0x20, 0x10)))
    // hostile shapes fall back rather than misparse
    assert(graft.queries.Multimodal.jpegDims("not a jpeg".getBytes) === None)
    assert(graft.queries.Multimodal.jpegDims(b(0xff, 0xd8, 0xff, 0xda, 0, 4, 0, 0)) === None) // SOS before SOF
    assert(graft.queries.Multimodal.jpegDims(b(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x01)) === None) // undersized len
    assert(graft.queries.Multimodal.jpegDims(b(0xff, 0xd8, 0x00, 0xc0, 0, 11, 8, 0, 1, 0, 1, 1, 0x11, 0, 0)) === None) // desynced marker
    val zeroH = b(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x0b, 0x08,
      0x00, 0x00, /* height 0 = DNL-deferred */ 0x00, 0x20, 0x01, 0x11, 0x00, 0x00)
    assert(graft.queries.Multimodal.jpegDims(zeroH) === None)
  }

  test("image header parsers never throw on arbitrary bytes") {
    // pngDims/jpegDims parse UNTRUSTED payload bytes inside executors —
    // any malformed input must return None (or a value), never throw.
    // Deterministic seed: reproducible, no flake.
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val p = Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte)
      graft.queries.Multimodal.pngDims(p)
      graft.queries.Multimodal.jpegDims(p)
    }
    // single-byte mutations of REAL files hit the deep parse paths
    // (valid magic, corrupted structure) that pure-random bytes miss
    def enc(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 7,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out); out.toByteArray
    }
    for (fmt <- Seq("png", "jpg"); base = enc(fmt); i <- base.indices.take(200)) {
      val mutated = base.clone(); mutated(i) = (mutated(i) ^ 0xff).toByte
      graft.queries.Multimodal.pngDims(mutated)
      graft.queries.Multimodal.jpegDims(mutated)
    }
  }

  // ---- sketch aggregates, tolerance-gated against their exact twins.
  // These queries are rows-only in the oracle gate (sketch algorithms
  // differ across engines); the asserts below pin them to the published
  // error bounds so a silent sketch-config regression fails CI instead
  // of passing rows-only. Both sketches are deterministic for a fixed
  // input (no RNG), so the bounds cannot flake.

  test("percentile_approx self-gates inside its rank-error envelope") {
    // The registered output now carries the gate booleans the oracle pins
    // TRUE (r16); here additionally re-derive the exact side so a bug
    // that broke BOTH the gate and the exact column together still fails.
    val approx = SparkEntry.queries("agg_percentile_approx")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, 0.5)").as("em"),
        expr("percentile(l_quantity, 0.25)").as("eq25"),
        expr("percentile(l_quantity, 0.75)").as("eq75"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.nonEmpty && approx.keySet == exact.keySet)
    approx.foreach { case (flag, a) =>
      Seq("med_ok", "q25_ok", "q75_ok").foreach(c =>
        assert(a.getAs[Boolean](c), s"$flag $c gate is false"))
      val e = exact(flag)
      assert(math.abs(a.getAs[Double]("exact_med_price") - e.getAs[Double]("em")) < 1e-5)
      assert(math.abs(a.getAs[Double]("exact_q25") - e.getAs[Double]("eq25")) < 1e-5)
      assert(math.abs(a.getAs[Double]("exact_q75") - e.getAs[Double]("eq75")) < 1e-5)
    }
  }

  test("approx_count_distinct self-gates within 10% of exact NDV") {
    // Default-rsd sketch, gate at 10% (2 sigma); deterministic per
    // dataset, so no flake risk. The exact column is re-derived so a
    // joint gate+exact regression still fails.
    val rows = SparkEntry.queries("agg_approx_ndv")(spark, sfDir).collect()
    val exact = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("ndv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("andv_ok"), s"${r.getString(0)}: NDV gate false")
      assert(r.getAs[Long]("ndv_part") == exact(r.getString(0)))
    }
  }

  test("histogram_numeric invariants: 5 bins, mass conserved, x-sorted in range") {
    val hist = SparkEntry.queries("agg_histogram")(spark, sfDir).collect()
    val counts = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist.map(_.getString(0)).toSet == counts.keySet)
    hist.foreach { r =>
      val flag = r.getString(0)
      assert(r.getAs[Long]("n_bins") == 5L, s"$flag bin count")
      assert(r.getAs[Long]("total_y") == counts(flag),
        s"$flag histogram mass ${r.getAs[Long]("total_y")} != ${counts(flag)}")
      assert(r.getAs[Boolean]("x_sorted"), s"$flag centroids not sorted")
      assert(r.getAs[Boolean]("x_in_range"), s"$flag centroids out of range")
    }
  }

  test("contamination matches a string-level 4-gram overlap reference") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val gramSets = docs.collect { case (id, ws) if ws.length >= 4 =>
      id -> ws.sliding(4).map(_.mkString(" ")).toSet
    }
    val evalGrams = gramSets.collect { case (id, g) if id % 97 == 0 => g }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = gramSets.collect {
      case (id, g) if id % 97 != 0 && (g & evalGrams).nonEmpty =>
        id -> ((g & evalGrams).size.toLong, g.size)
    }
    val got = SparkEntry.queries("llm_contamination")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Int]("n_grams"))).toMap
    assert(got == expected, s"contamination mismatch: got $got, want $expected")
  }

  test("domain mix upsamples by weight and numbers each shard densely") {
    def weight(lang: String): Int =
      if (lang == "en") 1 else if (lang == "zh") 2 else 3
    val rows = SparkEntry.queries("llm_domain_mix")(spark, sfDir).collect()
    val expectedTotal = Tables.t(spark, sfDir, "documents")
      .select("lang").collect().map(r => weight(r.getString(0))).sum
    assert(rows.length == expectedTotal)
    // each doc appears exactly weight(lang) times, with epochs 0..w-1
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, copies) =>
      val w = weight(copies.head.getAs[String]("lang"))
      assert(copies.map(_.getAs[Int]("epoch")).sorted.sameElements(0 until w),
        s"doc $id epochs wrong")
    }
    // positions within a shard are a dense 1..n permutation
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (shard, rs) =>
      val pos = rs.map(_.getAs[Int]("pos")).sorted
      assert(pos.sameElements(1 to rs.length), s"shard $shard not dense")
    }
    // deterministic: a second run reproduces the identical order
    val again = SparkEntry.queries("llm_domain_mix")(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
    // md5 sharding must not skew: a data loader reads one shard per
    // worker, so a hot shard becomes the stragglers' critical path
    val sizes = rows.groupBy(_.getAs[Int]("shard")).values.map(_.length)
    assert(sizes.size == 8, s"expected 8 shards, got ${sizes.size}")
    assert(sizes.max < 2 * sizes.min,
      s"shard skew: sizes ${sizes.toSeq.sorted}")
  }

  test("win_time_range: trailing 1h interval frame replays driver-side") {
    val rows = SparkEntry.queries("win_time_range")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("roll_1h_sum"), r.getLong(4)))
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = ev.groupBy(_._1)
    // RANGE … CURRENT ROW includes peers: every row of the user within
    // [ts − 1h, ts], regardless of event_id order
    val expected = ev.map { case (u, e, t, _) =>
      val win = byUser(u).filter(x => x._3 >= t - 3600000000L && x._3 <= t)
      val q = win.map(x => math.floor(x._4 * 100 + 0.5).toLong).sum
      (u, e, t, q.toDouble / 100, win.length.toLong)
    }.sortBy(x => (x._1, x._3, x._2))
    assert(rows.toSeq == expected.toSeq)
  }

  test("cte_recursive: depth histogram covers every user exactly once") {
    val rows = SparkEntry.queries("cte_recursive")(spark, sfDir).collect()
    val users = Tables.events(spark, sfDir)
      .select("user_id").distinct().collect().map(_.getLong(0))
    // every user lands in exactly one depth bucket
    assert(rows.map(_.getLong(1)).sum == users.length)
    // deepest chain = bit length of the largest id (halvings to zero)
    val maxDepth = rows.map(_.getInt(0)).max
    assert(maxDepth == 64 - java.lang.Long.numberOfLeadingZeros(users.max))
  }

  test("repetition stats match a string-level reference") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val expected = docs.collect { case (id, ws) if ws.length >= 2 =>
      val top = ws.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).values.map(_.size).max
      id -> ((ws.length, top.toLong,
        1.0 - ws.distinct.length.toDouble / ws.length))
    }
    val got = SparkEntry.queries("llm_repetition")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_words"), r.getAs[Long]("top_bigram_count"),
          r.getAs[Double]("dup_word_frac")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (n, top, frac)) =>
      val (gn, gtop, gfrac) = got(id)
      assert(gn == n && gtop == top, s"doc $id: ($gn,$gtop) != ($n,$top)")
      assert(math.abs(gfrac - frac) < 1e-6, s"doc $id dup_word_frac")
    }
  }

  test("dup-chunk stats match a string-level reference") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val chunkSets = docs.map { case (id, ws) =>
      id -> ws.grouped(20).map(_.mkString(" ")).toSet
    }
    val docCount = chunkSets.values.flatten
      .groupBy(identity).map { case (c, occ) => c -> occ.size }
    val expected = chunkSets.map { case (id, cs) =>
      id -> ((cs.size, cs.count(c => docCount(c) > 1).toLong))
    }
    val got = SparkEntry.queries("llm_dup_chunks")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_chunks"), r.getAs[Long]("n_dup_chunks")))).toMap
    assert(got == expected)
  }

  test("pii scrub counts and hashes match a java.util.regex reference") {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    def countOf(s: String, pat: String): Int = {
      val m = java.util.regex.Pattern.compile(pat).matcher(s)
      Iterator.continually(m.find()).takeWhile(identity).size
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    val ref = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect().map { r =>
        val id = r.getLong(0)
        val planted = r.getString(1) + s" contact user$id@example.com" +
          (if (id % 3 == 0) f" call +1-555-${id % 10000}%04d" else "") +
          (if (id % 2 == 0) s" host 10.0.${id % 256}.1" else "")
        val scrubbed = planted
          .replaceAll(email, "[EMAIL]")
          .replaceAll(phone, "[PHONE]")
          .replaceAll(ip, "[IP]")
        id -> ((countOf(planted, email), countOf(planted, phone),
          countOf(planted, ip), md5hex(scrubbed)))
      }.toMap
    val got = SparkEntry.queries("llm_pii_scrub")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
          r.getAs[Int]("n_ips"), r.getAs[String]("scrub_hash")))).toMap
    assert(got == ref)
    // the scrub actually removed every planted span
    ref.foreach { case (id, (e, p, i, _)) =>
      assert(e >= 1, s"doc $id: planted email not found")
      assert((p >= 1) == (id % 3 == 0), s"doc $id: phone count wrong")
      assert((i >= 1) == (id % 2 == 0), s"doc $id: ip count wrong")
    }
  }

  test("join_fuzzy_block matches a brute-force all-pairs reference") {
    // Brute force over the tiny sf0.001 name vocabulary: every unordered
    // pair of distinct names, no blocking — so the test also proves the
    // block key LOSES no pair the threshold would admit (a cross-block
    // pair with lev <= 4 would appear here and not in the query).
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val support = Tables.t(spark, sfDir, "part").groupBy("p_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val names = support.keySet.toSeq.sorted
    val want = (for {
      a <- names; b <- names if a < b
      if a.split(" ")(1) == b.split(" ")(1) && lev(a, b) <= 4
    } yield (a, b) -> (lev(a, b), support(a) + support(b))).toMap
    val got = SparkEntry.queries("join_fuzzy_block")(spark, sfDir)
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> (r.getInt(3), r.getLong(4)))
      .toMap
    assert(got == want)
    // cross-block near-misses exist in the vocabulary (the threshold is
    // not vacuously tight): some pair within lev 4 differs in its noun
    val crossBlock = for {
      a <- names; b <- names if a < b
      if a.split(" ")(1) != b.split(" ")(1) && lev(a, b) <= 4
    } yield (a, b)
    assert(crossBlock.nonEmpty,
      "fixture has no cross-block near pair; blocking untested")
  }

  test("llm_weighted_sample matches a driver-side A-ES recompute and skews heavy") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / math.pow(16, 12)
      BigDecimal(math.log(u) / w).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = docs.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }.take(200)
    val got = SparkEntry.queries("llm_weighted_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
    // the weighting has teeth: the selected docs' mean length exceeds
    // the corpus mean (u^(1/w) favors large w)
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val selMean = got.map(_._2).sum.toDouble / got.length
    assert(selMean > corpusMean,
      s"selection not weight-skewed: $selMean <= $corpusMean")
  }

  test("llm_drift_psi: shares sum to ~1, identical slices score ~0, planted shift fires") {
    val rows = SparkEntry.queries("llm_drift_psi")(spark, sfDir).collect()
    assert(rows.length == 10)
    val (pr, pc) = (rows.map(_.getDouble(3)).sum, rows.map(_.getDouble(4)).sum)
    assert(math.abs(pr - 1.0) < 1e-6 && math.abs(pc - 1.0) < 1e-6)
    // counts conserve the corpus
    val n = Tables.t(spark, sfDir, "documents").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == n)
    import spark.implicits._
    // identical distributions → PSI ≈ 0 (only smoothing-count noise)
    val same = (0L until 700L).map(i => (i, 100L + (i % 5) * 100))
      .toDF("doc_id", "n_chars")
    val psiSame = graft.queries.CorpusStats.driftPsiOf(same).collect().map(_.getDouble(5)).sum
    assert(math.abs(psiSame) < 1e-4, s"identical slices scored $psiSame")
    // planted shift: candidate slice (id % 7 == 0) all short, rest all
    // long → PSI far above the 0.25 alert line
    val shifted = (0L until 700L).map(i =>
      (i, if (i % 7 == 0) 50L else 500L)).toDF("doc_id", "n_chars")
    val psiShift = graft.queries.CorpusStats.driftPsiOf(shifted).collect().map(_.getDouble(5)).sum
    assert(psiShift > 0.25, s"planted shift scored only $psiShift")
  }

  test("llm_drift_ks matches a driver-side CDF scan; planted shift saturates") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ref = docs.filter(_._1 % 7 != 0).map(_._2)
    val cand = docs.filter(_._1 % 7 == 0).map(_._2)
    val xs = docs.map(_._2).distinct.sorted
    val best = xs.map { x =>
      val d = BigDecimal(math.abs(
        ref.count(_ <= x).toDouble / ref.length
          - cand.count(_ <= x).toDouble / cand.length))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (d, x)
    }.maxBy { case (d, x) => (d, -x) }
    val row = SparkEntry.queries("llm_drift_ks")(spark, sfDir).collect().head
    assert((row.getDouble(0), row.getLong(1)) == best)
    assert(row.getLong(2) == ref.length && row.getLong(3) == cand.length)
    import spark.implicits._
    // disjoint supports → D = 1 at the planted boundary
    val split = (0L until 700L).map(i =>
      (i, if (i % 7 == 0) 10L else 1000L)).toDF("doc_id", "n_chars")
    val r2 = graft.queries.CorpusStats.driftKsOf(split).collect().head
    assert(r2.getDouble(0) == 1.0 && r2.getLong(1) == 10L)
  }

  test("llm_corpus_diff classes partition the union and match the residue rules") {
    val n = Tables.t(spark, sfDir, "documents").count()
    val rows = SparkEntry.queries("llm_corpus_diff")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // snapshots: v1 = id%5!=4, v2 = id%5!=2; v2 text differs at id%11==0
    val ids = (0L until n).toSeq
    def want(status: String) = ids.count { i =>
      val (in1, in2, edited) = (i % 5 != 4, i % 5 != 2, i % 11 == 0)
      status match {
        case "added" => !in1 && in2
        case "removed" => in1 && !in2
        case "changed" => in1 && in2 && edited
        case "unchanged" => in1 && in2 && !edited
      }
    }.toLong
    Seq("added", "removed", "changed", "unchanged").foreach { st =>
      assert(rows(st) == want(st), s"$st: ${rows.get(st)} vs ${want(st)}")
    }
    // the union of both snapshots is fully classified
    assert(rows.values.sum == ids.count(i => i % 5 != 4 || i % 5 != 2))
  }

  test("llm_quality_calibrate: per-source rank spans [0,1], z matches a driver recompute") {
    val rows = SparkEntry.queries("llm_quality_calibrate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.size > 1, "fixture has one source; calibration untested")
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    bySrc.foreach { case (src, docs) =>
      // rank normalization spans exactly [0, 1] within every source
      assert(docs.map(_._4).min == 0.0 && docs.map(_._4).max == 1.0, src)
      // z-score matches a driver-side quantized-moment recompute
      val qis = docs.map(d => math.floor(d._3 * 1e6 + 0.5).toLong)
      val mu = qis.sum.toDouble / 1e6 / qis.length
      val sd = math.sqrt(math.max(
        qis.map(q => BigInt(q) * BigInt(q)).sum.toDouble / 1e12 / qis.length
          - mu * mu, 0.0))
      docs.foreach { d =>
        val want = if (sd > 0) q6((d._3 - mu) / sd) else 0.0
        assert(d._5 == want, s"$src doc ${d._1}: ${d._5} vs $want")
      }
      // higher quality never ranks below lower quality within a source
      val sorted = docs.sortBy(d => (d._3, d._1)).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b }, src)
    }
  }

  test("llm_zipf_fit matches a driver recompute; a planted power law fits cleanly") {
    def q9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
      val n = pts.length.toDouble
      // mirror dsum: quantize each term to 1e-9, exact sum
      def qs(f: ((Double, Double)) => Double) =
        pts.map(p => math.floor(f(p) * 1e9 + 0.5).toLong).sum / 1e9
      val (sx, sy) = (qs(_._1), qs(_._2))
      val (sxx, sxy, syy) =
        (qs(p => p._1 * p._1), qs(p => p._1 * p._2), qs(p => p._2 * p._2))
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val r2 = math.pow(n * sxy - sx * sy, 2) /
        ((n * sxx - sx * sx) * (n * syy - sy * sy))
      (q6(-b), q6(r2))
    }
    // fixture recompute: exact tuple match incl. the quantization grain
    val words = Tables.t(spark, sfDir, "documents").select("text").collect()
      .flatMap(_.getString(0).split(" "))
    val ranked = words.groupBy(identity).map { case (w, o) => (w, o.length) }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(1000)
    val pts = ranked.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val (wantExp, wantR2) = fit(pts)
    val row = SparkEntry.queries("llm_zipf_fit")(spark, sfDir).collect().head
    assert(row.getLong(0) == ranked.length)
    assert(row.getDouble(1) == wantExp && row.getDouble(3) == wantR2)
    // planted exact power law c_r = floor(1e6 / r): exponent ~ 1, r2 ~ 1
    import spark.implicits._
    val zipfDocs = (1 to 200).flatMap(r =>
      Seq.fill(1000000 / r)(s"w$r")).grouped(5000)
      .map(_.mkString(" ")).toSeq.toDF("text")
    val p = graft.queries.LmStats.zipfFitOf(zipfDocs).collect().head
    assert(math.abs(p.getDouble(1) - 1.0) < 0.01, s"exp ${p.getDouble(1)}")
    assert(p.getDouble(3) > 0.999, s"r2 ${p.getDouble(3)}")
    // the synthetic fixture vocabulary is deliberately NON-Zipfian —
    // the gate reads it as such (low exponent, low r2)
    assert(row.getDouble(1) < 0.5 && row.getDouble(3) < 0.5)
  }

  test("llm_heaps_law matches a driver recompute; a planted growth law fits") {
    val row = SparkEntry.queries("llm_heaps_law")(spark, sfDir).collect().head
    // fixture recompute at the same integer-exact checkpoint buckets
    val docs = Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    val m = docs.map(_._1).max + 1
    def bkt(d: Long): Int = (((d + 1) * 16 + m - 1) / m).toInt
    val toks = docs.groupBy(d => bkt(d._1)).view
      .mapValues(_.map(_._2.length.toLong).sum).toMap
    val firstDoc = docs.flatMap { case (d, ws) => ws.map(_ -> d) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val nw = firstDoc.values.groupBy(bkt).view.mapValues(_.size.toLong).toMap
    val bkts = toks.keys.toSeq.sorted
    val pts = bkts.scanLeft((0L, 0L)) { case ((nC, vC), b) =>
      (nC + toks(b), vC + nw.getOrElse(b, 0L)) }.drop(1)
      .map { case (nC, vC) => (math.log(nC.toDouble), math.log(vC.toDouble)) }
    def qs(f: ((Double, Double)) => Double) =
      pts.map(p => math.floor(f(p) * 1e9 + 0.5).toLong).sum / 1e9
    def q6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = pts.length.toDouble
    val (sx, sy) = (qs(_._1), qs(_._2))
    val (sxx, sxy) = (qs(p => p._1 * p._1), qs(p => p._1 * p._2))
    val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(row.getLong(0) == pts.length)
    assert(row.getDouble(1) == q6(b))
    assert(row.getLong(4) == toks.values.sum) // tokens_total
    assert(row.getLong(5) == firstDoc.size) // vocab_total
    // planted V(N) = ceil(N^0.6): token i is word ceil(i^0.6), so the
    // fit must recover beta ~ 0.6 with near-perfect R^2
    import spark.implicits._
    val planted = (1 to 50000)
      .map(i => s"w${math.ceil(math.pow(i, 0.6)).toLong}")
      .grouped(500).zipWithIndex
      .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val p = graft.queries.LmStats.heapsLawOf(planted).collect().head
    assert(math.abs(p.getDouble(1) - 0.6) < 0.03, s"beta ${p.getDouble(1)}")
    assert(p.getDouble(3) > 0.999, s"r2 ${p.getDouble(3)}")
    // the synthetic fixture vocabulary is closed (~31 words) — the gate
    // reads it as a template flood: beta pinned to the floor
    assert(row.getDouble(1) < 0.05)
    // zero-variance guard: a FULLY closed vocabulary (every checkpoint
    // sees the same 1-word vocab) must pin r2 = 0.0, not NaN or an
    // impossible R² from the quantization residue
    val flat = (0 until 64).map(d => (d.toLong, "w w w"))
      .toDF("doc_id", "text")
    val f = graft.queries.LmStats.heapsLawOf(flat).collect().head
    assert(f.getLong(5) == 1L && f.getDouble(1) == 0.0 &&
      f.getDouble(3) == 0.0, s"flat-vocab fit $f")
  }

  test("llm_conformal replays split-conformal exactly and covers") {
    val scored = SparkEntry.queries("llm_quality_classifier")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val cal = scored.filter(_._1 % 5 == 0)
      .map { case (d, y, s) => (-y.toLong * s, d) }.sorted
    val k = math.min(((cal.length + 1) * 9 + 9) / 10, cal.length)
    val qhat = cal(k - 1)._1
    val want = scored.filter(_._1 % 5 != 0).map { case (d, y, s) =>
      val (p, n) = (-s <= qhat, s <= qhat)
      (d, y, s, qhat, p, n, if (y == 1) p else n,
        (if (p) 1 else 0) + (if (n) 1 else 0))
    }.sortBy(_._1)
    val got = SparkEntry.queries("llm_conformal")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getInt(7)))
    assert(got.toSeq == want.toSeq)
    // the finite-sample guarantee is marginal over splits; on this
    // fixed split allow binomial slack around 1 - alpha = 0.9
    val cov = got.count(_._7).toDouble / got.length
    assert(cov >= 0.8, s"coverage $cov")
    // the weak classifier on a non-separable fixture must show its
    // uncertainty as multi-label sets, not silent overconfidence
    assert(got.map(_._8).sum.toDouble / got.length > 1.0)
  }

  test("llm_bootstrap_ci replays the Poisson bootstrap exactly") {
    val row = SparkEntry.queries("llm_bootstrap_ci")(spark, sfDir)
      .collect().head
    // driver replay: same md5 uniform, same Poisson(1) ladder
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(key: String): Double = {
      val d = md.digest(key.getBytes("UTF-8"))
      (java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
        .toDouble + 0.5) / 281474976710656.0
    }
    val thr = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    def w(key: String): Long = {
      val x = u(key); val i = thr.indexWhere(x < _)
      if (i < 0) 6L else i.toLong
    }
    val qs = SparkEntry.queries("llm_quality_score")(spark, sfDir)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) ->
        math.floor(r.getDouble(1) * 1e6 + 0.5).toLong / 1e6)
    // quality col is dround(qualityExpr, 6) == the builder's 1e-6 grain
    val qi = qs.map { case (d, q) => d -> math.floor(q * 1e6 + 0.5).toLong }
    val means = (1 to 64).map { b =>
      val (swq, sw) = qi.foldLeft((0L, 0L)) { case ((a, c), (d, q)) =>
        val ww = w(s"$d:$b"); (a + ww * q, c + ww) }
      b -> swq.toDouble / 1e6 / sw.toDouble
    }.sortBy { case (b, m) => (m, b) }.map(_._2)
    def q6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(0) == qi.length && row.getInt(1) == 64)
    assert(row.getDouble(2) == q6(qi.map(_._2).sum.toDouble / 1e6 / qi.length))
    assert(row.getDouble(3) == q6(means(1)) && row.getDouble(4) == q6(means(62)))
    // the band brackets the point estimate and is meaningfully tight
    assert(row.getDouble(3) < row.getDouble(2) &&
      row.getDouble(2) < row.getDouble(4))
    assert(row.getDouble(4) - row.getDouble(3) < 0.1)
    // zero-draw guard: on a tiny frame some replicate draws all-zero
    // Poisson weights (P = e^-n per replicate); the band must stay
    // finite, not NaN from 0/0
    import spark.implicits._
    val tiny = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val t = graft.queries.CorpusStats.bootstrapCiOf(tiny).collect().head
    assert(!t.getDouble(3).isNaN && !t.getDouble(4).isNaN &&
      t.getDouble(3) <= t.getDouble(4), s"tiny-frame CI $t")
  }

  test("llm_unimax: water-filling conserves the budget and honors caps") {
    val rows = SparkEntry.queries("llm_unimax")(spark, sfDir).collect()
    val perLang = Tables.t(spark, sfDir, "documents")
      .select("lang", "text").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1).split(" ").length.toLong).sum).toMap
    assert(rows.map(_.getString(0)).toSet == perLang.keySet)
    val tot = perLang.values.sum
    val budget = math.min(2 * tot, tot * 3 / 2).toDouble
    rows.foreach { r =>
      val (lang, nTok, cap) = (r.getString(0), r.getLong(2), r.getLong(3))
      assert(nTok == perLang(lang) && cap == 2 * nTok)
      val alloc = r.getDouble(5)
      assert(alloc <= cap + 1e-4, s"$lang alloc $alloc > cap $cap")
      if (r.getBoolean(4)) assert(alloc == cap.toDouble, s"$lang capped")
      assert(math.abs(r.getDouble(6) - alloc / nTok) < 1e-4)
    }
    // water-filling exactness: total allocation hits the budget (each
    // alloc carries at most the 1e-4 dround grain)
    assert(math.abs(rows.map(_.getDouble(5)).sum - budget)
      < 1e-3 * rows.length, s"sum ${rows.map(_.getDouble(5)).sum} vs $budget")
    // uncapped languages all share one threshold
    val taus = rows.filter(!_.getBoolean(4)).map(_.getDouble(5)).distinct
    assert(taus.length <= 1)
  }

  test("llm_embed_clip: per-dim winsor bounds hold their tail contracts") {
    val rows = SparkEntry.queries("llm_embed_clip")(spark, sfDir).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (lo, hi, n, nLo, nHi) = (r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lo <= hi)
      // interpolated p05/p95: each strict tail holds at most 5% + the
      // rounding slack of one value
      assert(nLo <= math.ceil(n * 0.05).toLong + 1, s"dim ${r.getLong(0)}: $nLo")
      assert(nHi <= math.ceil(n * 0.05).toLong + 1, s"dim ${r.getLong(0)}: $nHi")
      assert(n == rows.head.getLong(3)) // every dim sees every vector
    }
  }
}
