package graft

import org.apache.spark.sql.functions._

/** The public library facade works over caller-owned frames — no
  * fixture-layout coupling. Each method gets one end-to-end check on a
  * synthetic corpus (the deep semantics are covered by the oracle gate
  * and the per-core suites; this suite pins the PUBLIC contract). */
class PipelineSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, template, "en", "web"),
      (2L, template + " tail", "en", "web"), // near-dup of 1
      (3L, "an entirely different document about join plans", "en", "blog"),
      (4L, "yet another unrelated text body here words", "de", "blog"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("nearDupPairs + nearDupClusters collapse the planted near-dup") {
    val pairs = Pipeline.nearDupPairs(docs).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val labels = Pipeline.nearDupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("candidates → ngram-jaccard verify → CC composition collapses near-dups") {
    // the full deployed dedup shape with a SECOND verification feature:
    // banded-LSH candidate generation, word-bigram Jaccard verify (not
    // the 3-shingle Jaccard the candidates were bucketed on), and
    // connected-components clustering over the verified edges.
    val cands = Pipeline.minhashCandidatePairs(docs)
    assert(cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((1L, 2L)), "LSH candidates lost the planted near-dup")
    val verified = Pipeline.ngramJaccard(docs, cands)
    val v12 = verified.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 1 = 30 tokens (29 bigrams), doc 2 = those + " tail" (30, 29
    // shared) → bigram jaccard 29/30 = 0.966667 exactly
    assert(v12((1L, 2L)) === 0.966667)
    val labels = Pipeline.connectedComponents(
      docs.select("doc_id"),
      verified.filter(col("bigram_jac") >= 0.5).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    // degenerate caller pair (both docs under 2 words): score is 0.0,
    // never NaN — two empty bigram sets share nothing
    import spark.implicits._
    val tiny = Seq((7L, "hello"), (8L, "world")).toDF("doc_id", "text")
    val pair = Seq((7L, 8L)).toDF("doc_a", "doc_b")
    val deg = Pipeline.ngramJaccard(tiny, pair).collect()
    assert(deg.length == 1 && deg.head.getDouble(2) == 0.0, deg.toSeq.toString)
  }

  test("minhashSignatures drop sub-3-word docs, keep the signature schema") {
    import spark.implicits._
    val withShort = docs.union(Seq((9L, "too short", "en", "web"))
      .toDF("doc_id", "text", "lang", "source"))
    val sigs = Pipeline.minhashSignatures(withShort)
    assert(sigs.columns.take(2).toSeq === Seq("doc_id", "sh"))
    assert(sigs.columns.count(_.startsWith("mh")) === 12)
    assert(!sigs.select("doc_id").collect().map(_.getLong(0)).contains(9L))
  }

  test("incrementalDedup over a caller state path drops a state dup") {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_pipe_state").toFile.getAbsolutePath + "/st"
    Pipeline.writeDedupState(docs.select("doc_id", "text"), statePath)
    import spark.implicits._
    val batch = Seq(
      (10L, (1 to 30).map(i => s"tok$i").mkString(" ")), // dup of doc 1
      (11L, "a genuinely brand new batch document body"))
      .toDF("doc_id", "text")
    val surv = Pipeline.incrementalDedup(spark, batch, statePath)
      .collect().map(_.getLong(0)).toSet
    assert(surv === Set(11L))
  }

  test("dedup state write and one incremental round stay within their job budgets") {
    // Load-independent pins for the one-pass state shape: the state write
    // is one projection (no self-join stage), and a round hashes its
    // batch once, broadcasts only the batch and appends the rows it
    // already pinned.
    val fixture = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_pipe_jobs").toFile.getAbsolutePath + "/st"
    val writeJobs = jobsOf(
      Pipeline.writeDedupState(fixture.filter(col("doc_id") < 250), statePath))
    assert(writeJobs <= 1, s"writeDedupState ran $writeJobs jobs")
    var ids: org.apache.spark.sql.DataFrame = null
    val roundJobs = jobsOf {
      ids = Pipeline.incrementalDedup(spark, fixture.filter(col("doc_id") >= 250),
        statePath, append = true)
    }
    assert(roundJobs <= 9, s"one incremental round ran $roundJobs jobs before its collect")
    assert(ids.count() > 0)
    Pipeline.releaseCaches(spark)
  }

  test("contamination, repetition, dupChunks, sourceStats run on caller frames") {
    val contam = Pipeline.contamination(docs.select("doc_id", "text"),
      id => id === 1L).collect()
    // doc 2 shares the template's 4-grams with eval doc 1
    assert(contam.exists(r => r.getLong(0) == 2L && r.getLong(1) > 0))
    val rep = Pipeline.repetition(docs.select("doc_id", "text"))
    assert(rep.count() === 4)
    val dc = Pipeline.dupChunks(docs.select("doc_id", "text"))
    assert(dc.count() === 4)
    val stats = Pipeline.sourceStats(docs)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(stats("web").getAs[Long]("n_docs") === 2L)
    assert(stats("blog").getAs[Long]("n_langs") === 2L)
  }

  test("lmQuality ranks common-word text below rare-token text") {
    import spark.implicits._
    // doc 1 = only corpus-common words; doc 2 = singleton tokens.
    // Surprise is corpus-relative, so doc 1's words (count ≥ 8 each)
    // must carry strictly fewer bits than doc 2's (count 1 each).
    val common = (1 to 8).flatMap(_ => Seq("alpha", "beta", "gamma"))
    val corpus = Seq(
      (1L, common.mkString(" ")),
      (2L, "zq1 zq2 zq3 zq4 zq5"))
      .toDF("doc_id", "text")
    val scores = Pipeline.lmQuality(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) < scores(2L),
      s"common-word doc must score fewer bits: $scores")
    // exact integer-log2 check: total=29 words (bits=5);
    // doc 1 words have count 8 (bits=4) → every word = 1 bit;
    // doc 2 words have count 1 (bits=1) → every word = 4 bits.
    assert(scores(1L) == 1.0 && scores(2L) == 4.0, scores.toString)
  }

  test("lmBigram scores collocated text below novel-pair text, drops 1-word docs") {
    import spark.implicits._
    // doc 1 alternates a/b — every bigram repeats 4×; doc 2 pairs the
    // common context `a` with four singleton continuations. Exact
    // integer-log2 arithmetic: unigram a=9 (4 bits), b=4 (3 bits),
    // z*=1 (1 bit); bigrams a_b=b_a=4 (3 bits), a_z*/z*_a=1 (1 bit).
    // doc 1: a_b ×4 → 4−3=1 bit, b_a ×4 → 3−3=0 → avg 4/8 = 0.5.
    // doc 2: a_z* ×4 → 4−1=3, z*_a ×3 → 1−1=0 → avg 12/7 ≈ 1.714286.
    val corpus = Seq(
      (1L, "a b a b a b a b a"),
      (2L, "a z1 a z2 a z3 a z4"),
      (3L, "solo"))
      .toDF("doc_id", "text")
    val rows = Pipeline.lmBigram(corpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_cond_bits")))).toMap
    assert(!rows.contains(3L), "single-word doc must carry no bigram row")
    assert(rows(1L) === ((8L, 0.5)), rows.toString)
    assert(rows(2L) === ((7L, 1.714286)), rows.toString)
    assert(rows(1L)._2 < rows(2L)._2)
  }

  test("ccnetBuckets: exact per-lang thirds with hand-computed thresholds") {
    import spark.implicits._
    // en doc i = "wi" × i (c=i), fr doc j = "fj" × 2^(j-1) (c=2^(j-1));
    // tc = 45 + 63 = 108 → 7 bin bits. Every doc is one repeated word,
    // so avg_bits is exactly 7 − bitlen(c): en doc 1 → 6.0, docs 2,3 →
    // 5.0, docs 4-7 → 4.0, docs 8,9 → 3.0; fr doc j → (7−j).0.
    // Thresholds (cum·3 ≥ n / ≥ 2n over the per-lang histogram):
    //  en (n=9, cum 2/6/8/9 at sq 3e6/4e6/5e6/6e6): t1 = t2 = 4e6 →
    //    head = docs 4..9, middle EMPTY (tie collapse), tail = 1,2,3.
    //  fr (n=6, distinct scores): t1 = 2e6, t2 = 4e6 → perfect thirds
    //    head = {f6,f5}, middle = {f4,f3}, tail = {f2,f1}.
    // (planted words verified 4-hex-md5 collision-free)
    val corpus = (
      (1 to 9).map(i => (i.toLong, Seq.fill(i)(s"w$i").mkString(" "), "en")) ++
      (1 to 6).map(j => (100L + j, Seq.fill(1 << (j - 1))(s"f$j").mkString(" "), "fr"))
    ).toDF("doc_id", "text", "lang")
    val rows = Pipeline.ccnetBuckets(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Double]("avg_bits"),
        r.getAs[String]("bucket")))).toMap
    assert(rows.size == 15)
    def bitlen(x: Int): Int = 32 - Integer.numberOfLeadingZeros(x)
    (1 to 9).foreach { i =>
      assert(rows(i.toLong)._1 == (7 - bitlen(i)).toDouble, s"en doc $i")
    }
    (1 to 6).foreach { j =>
      assert(rows(100L + j)._1 == (7 - j).toDouble, s"fr doc $j")
    }
    assert((4 to 9).forall(i => rows(i.toLong)._2 == "head"))
    assert((1 to 3).forall(i => rows(i.toLong)._2 == "tail"))
    assert(rows(106L)._2 == "head" && rows(105L)._2 == "head")
    assert(rows(104L)._2 == "middle" && rows(103L)._2 == "middle")
    assert(rows(102L)._2 == "tail" && rows(101L)._2 == "tail")
  }

  test("rrfFusion: lexical-only and dense-only docs fuse with NULL ranks") {
    import spark.implicits._
    // 'qq' and 'z46' hash to the same 64-bucket dim (27), 'other' to 31
    // (verified against md5 offline). Query doc 0 = "qq qq qq".
    //  doc 10 "qq qq": shares the term → lex rank 1; dense cos = 1.0.
    //  doc 11 "z46 ×4 other": NO shared term → absent from lexical list,
    //    but dim-27 overlap gives dot = 12, cos = 12/(3·√17) ≈ 0.970 →
    //    dense rank 2, lex_rnk NULL.
    val corpus = Seq(
      (0L, "qq qq qq"),
      (10L, "qq qq"),
      (11L, "z46 z46 z46 z46 other"))
      .toDF("doc_id", "text")
    val rows = Pipeline.rrfFusion(corpus, id => id < 3).collect()
    assert(rows.length == 2)
    val byDoc = rows.map(r => r.getLong(2) -> r).toMap
    val d10 = byDoc(10L)
    assert(d10.getInt(1) == 1)                       // fused rank 1
    assert(d10.getInt(4) == 1 && d10.getInt(5) == 1) // both rankers rank 1
    assert(d10.getDouble(3) == math.floor((1.0 / 61 + 1.0 / 61) * 1e9 + 0.5) / 1e9)
    val d11 = byDoc(11L)
    assert(d11.getInt(1) == 2)
    assert(d11.isNullAt(4), "doc 11 must have NULL lex_rnk")
    assert(d11.getInt(5) == 2)
    assert(d11.getDouble(3) == math.floor((1.0 / 62) * 1e9 + 0.5) / 1e9)
  }

  test("stratifiedSample: every stratum's quota is honored exactly") {
    import spark.implicits._
    // 7 "en" docs (quota ⌈1.4⌉ = 2), 3 "fr" (⌈0.6⌉ = 1), 1 "de" (⌈0.2⌉ = 1)
    val corpus = ((1 to 7).map(i => (i.toLong, "en")) ++
      (8 to 10).map(i => (i.toLong, "fr")) ++ Seq((11L, "de")))
      .toDF("doc_id", "lang")
    val rows = Pipeline.stratifiedSample(corpus).collect()
    val byLang = rows.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 2, "fr" -> 1, "de" -> 1), byLang.toString)
    // membership = the lowest-md5 docs of each stratum, rn dense from 1
    rows.groupBy(_.getString(1)).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expectEn = (1 to 7).map(_.toLong).sortBy(h).take(2).toSet
    assert(rows.filter(_.getString(1) == "en").map(_.getLong(0)).toSet == expectEn)
  }

  test("kAnon: small QI groups are suppressed, large ones released") {
    import spark.implicits._
    // group A: 5 identical QI tuples (released); group B: 4 (masked)
    val corpus = ((1 to 5).map(i => (i.toLong, "en", "web", 150L)) ++
      (6 to 9).map(i => (i.toLong, "fr", "book", 250L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val rows = Pipeline.kAnon(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))).toMap
    (1 to 5).foreach { i =>
      assert(rows(i.toLong) == (("en", "web", "1", 5L)), s"doc $i")
    }
    (6 to 9).foreach { i =>
      assert(rows(i.toLong) == (("*", "*", "*", 4L)), s"doc $i")
    }
  }

  test("lDiversity: homogeneous QI groups flagged, entropy replays exactly") {
    import spark.implicits._
    // group A (en, bucket 1): sources web×2, book, news — distinct 3
    // (diverse at l = 3), entropy = ½ln2 + ¼ln4 + ¼ln4 ≈ 1.0397
    // group B (fr, bucket 2): all web — the homogeneity attack case
    // k-anonymity misses (size 4 can pass k small but distinct_l = 1)
    val corpus = (Seq((1L, "en", "web", 150L), (2L, "en", "web", 150L),
      (3L, "en", "book", 150L), (4L, "en", "news", 150L)) ++
      (5 to 8).map(i => (i.toLong, "fr", "web", 250L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val rows = Pipeline.lDiversity(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // replay the engine quantization: per-term floor(x*1e9+.5) long sum,
    // then the dround(6) output grain
    def q9(x: Double) = math.floor(x * 1e9 + 0.5)
    def ent(cs: Seq[Long]): Double = {
      val n = cs.sum.toDouble
      val s = cs.map(c => q9(c.toDouble / n * math.log(n / c))).sum / 1e9
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    assert(rows(("en", 1L)) == ((4L, 3, ent(Seq(2L, 1L, 1L)), true)))
    assert(rows(("fr", 2L)) == ((4L, 1, 0.0, false)))
  }

  test("tCloseness: skewed group fails, EMD replays the quantized sum") {
    import spark.implicits._
    // group A (en, bucket 1), n = 12: 4 web / 4 book / 4 news;
    // group B (fr, bucket 2), n = 4: all web. Global = (8w, 4b, 4n)/16,
    // so A deviates mildly (EMD ~0.167, close) while B's homogeneous
    // distribution sits EMD = 0.5 from the corpus — k-anonymous AND
    // l-diverse-in-nothing, exactly the leak t-closeness exists to catch.
    val corpus = ((1 to 12).map { i =>
      val src = Seq("web", "book", "news")((i - 1) % 3)
      (i.toLong, "en", src, 150L)
    } ++ (13 to 16).map(i => (i.toLong, "fr", "web", 250L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val rows = Pipeline.tCloseness(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // replay: per-(group, source) term |c/n - cs/N| quantized at 1e-9,
    // exact long sum, x0.5, dround(6)
    def q9(x: Double) = math.floor(x * 1e9 + 0.5)
    def emd(terms: Seq[Double]): Double = {
      val s = 0.5 * (terms.map(q9).sum / 1e9)
      math.floor(s * 1e6 + 0.5) / 1e6
    }
    val a = emd(Seq(math.abs(4 * 1.0 / 12 - 8 * 1.0 / 16),
      math.abs(4 * 1.0 / 12 - 4 * 1.0 / 16),
      math.abs(4 * 1.0 / 12 - 4 * 1.0 / 16)))
    val b = emd(Seq(math.abs(4 * 1.0 / 4 - 8 * 1.0 / 16),
      math.abs(0 * 1.0 / 4 - 4 * 1.0 / 16),
      math.abs(0 * 1.0 / 4 - 4 * 1.0 / 16)))
    assert(rows(("en", 1L)) == ((12L, a, true)))
    assert(rows(("fr", 2L)) == ((4L, b, false)))
    assert(b == 0.5)
  }

  test("kmvNdv: u_k and estimate replay the md5 hash floor exactly") {
    import spark.implicits._
    // 6 distinct words over 3 docs (k = 256 > vocab, so the sketch
    // degenerates to the full hash set and every column replays exactly)
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "beta delta epsilon"),
      (3L, "zeta alpha")).toDF("doc_id", "text")
    val row = Pipeline.kmvNdv(corpus).collect().head
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def u(w: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(12), 16) + 0.5) / 281474976710656.0
    }
    def r(x: Double, s: Int) =
      math.floor(x * math.pow(10, s) + 0.5) / math.pow(10, s)
    val uk = words.map(u).max
    assert(row.getInt(0) == 6)
    assert(row.getDouble(1) == r(uk, 9))
    assert(row.getDouble(2) == r(5.0 / uk, 2))
    assert(row.getLong(3) == 6L)
  }

  test("kmvNdv: sketch estimate lands near a 2000-word exact count") {
    import spark.implicits._
    // the sf fixtures use a closed ~31-word vocabulary (below k), so the
    // estimator-accuracy check needs a synthetic open vocabulary
    val corpus = (1 to 100).map(i =>
      (i.toLong, (1 to 20).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val row = Pipeline.kmvNdv(corpus).collect().head
    assert(row.getInt(0) == 256)
    assert(row.getLong(3) == 2000L)
    // KMV standard error is ~1/sqrt(k-2) ~ 6.3%; 25% is a 4-sigma gate
    assert(row.getDouble(4) < 0.25,
      s"rel_err ${row.getDouble(4)} vs exact ${row.getLong(3)}")
  }

  test("cmsTopk: collision-forced counters replay, one-sided error holds") {
    import spark.implicits._
    // wBuckets = 2 forces collisions among 5 words, so the overestimate
    // column is exercised (not identically zero) while one_sided must
    // hold everywhere — replay every counter driver-side
    val corpus = Seq((1L, "a a a b b c d e"), (2L, "a b c c d e"))
      .toDF("doc_id", "text")
    val got = Pipeline.cmsTopk(corpus, d = 4, wBuckets = 2, topK = 5)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    val counts = Map("a" -> 4L, "b" -> 3L, "c" -> 3L, "d" -> 2L, "e" -> 2L)
    def bucket(r: Int, w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r:$w".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 2
    }
    val sketch = (0 until 4).flatMap { r =>
      counts.toSeq.map { case (w, c) => ((r, bucket(r, w)), c) }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    counts.foreach { case (w, c) =>
      val est = (0 until 4).map(r => sketch((r, bucket(r, w)))).min
      assert(got(w) == ((c, est, est - c, true)), s"word $w")
      assert(est >= c)
    }
    // with 5 words in 2 buckets some row must collide somewhere
    assert(got.values.exists(_._3 > 0), "expected at least one collision")
  }

  test("attributionMarkov: hand-computed removal effects on a planted chain") {
    import spark.implicits._
    // u1: view -> purchase(10) — internal + terminal-conv transitions
    // u2: click -> (no purchase) — terminal-null
    // u3: purchase(5) with no touches — the empty-converted-journey edge
    // Chain: start->{view 1/3, click 1/3, conv 1/3}; view->conv; click->null.
    // p_base = 2/3; removing view drops it to 1/3 (the direct-conv mass),
    // removing any other channel changes nothing — view takes ALL credit.
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      (1L, 11L, ts("2024-01-01 10:05:00"), "purchase", 10.0),
      (2L, 20L, ts("2024-01-02 09:00:00"), "click", 0.0),
      (3L, 30L, ts("2024-01-03 08:00:00"), "purchase", 5.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = Pipeline.attributionMarkov(ev).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val third = 333333333.0 / 1e9 // dround(1/3, 9) — the engine grain
    val base = r6(2 * third) // 0.666667 after the step-sum quantization
    // channel universe is DERIVED from observed touches, never a fixed
    // list — only view/click occur here, so only they get rows
    assert(got.keySet == Set("view", "click"))
    assert(got("view") == ((base, r6(third), r6(third), 1.0, 15.0)))
    val (pb, pr, re, sh, av) = got("click")
    assert((pb, re, sh, av) == ((base, 0.0, 0.0, 0.0)))
    assert(pr == base)
  }

  test("attributionMarkov: an unlisted channel type gets a credit row") {
    import spark.implicits._
    // the r18 review scenario: an 'email' touch type outside any fixed
    // channel list must still receive its removal-effect row
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), "email", 0.0),
      (1L, 11L, ts("2024-01-01 10:05:00"), "purchase", 8.0),
      (2L, 20L, ts("2024-01-02 09:00:00"), "view", 0.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = Pipeline.attributionMarkov(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(got.keySet == Set("email", "view"))
    assert(got("email") == 8.0) // all conversion value rides the email touch
    assert(got("view") == 0.0)
  }

  test("dpRelease: Laplace noise replays from the cell-key hash; clamp holds") {
    import spark.implicits._
    val corpus = (Seq.fill(40)(("en", "web")) ++ Seq.fill(3)(("fr", "book")) ++
      Seq(("de", "news")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("doc_id", "lang", "source")
    val got = Pipeline.dpRelease(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def u(key: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(12), 16) + 0.5) / 281474976710656.0
    }
    def r(x: Double, s: Int) =
      math.floor(x * math.pow(10, s) + 0.5) / math.pow(10, s)
    Map("en:web" -> 40L, "fr:book" -> 3L, "de:news" -> 1L).foreach {
      case (key, n) =>
        val uu = u(key)
        val noise = r(-1.0 * math.signum(uu - 0.5)
          * math.log(1.0 - 2.0 * math.abs(uu - 0.5)), 9)
        val released = math.max(math.floor(n + noise + 0.5), 0.0).toLong
        val Array(l, s) = key.split(":")
        assert(got((l, s)) == ((n, released, r(math.abs(noise), 6))), key)
        assert(released >= 0)
    }
  }

  test("did: cell means and the estimate replay on planted arms") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    val rows = (1 to 30).flatMap { uid =>
      Seq((uid.toLong, ts0, 10.0 + uid), (uid.toLong, ts1, 25.0 + 2 * uid))
    }
    val got = Pipeline.did(rows.toDF("user_id", "ts", "value")).collect().head
    def arm(uid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 2
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cents(v: Double) = math.floor(v * 100.0 + 0.5).toLong
    val by = (1 to 30).map(_.toLong).groupBy(arm)
    def mean(us: Seq[Long], f: Long => Long) =
      r6(us.map(f).sum.toDouble / us.size / 100.0)
    val (tu, cu) = (by(1L), by(0L))
    val tp = mean(tu, u => cents(10.0 + u)); val tq = mean(tu, u => cents(25.0 + 2 * u))
    val cp = mean(cu, u => cents(10.0 + u)); val cq = mean(cu, u => cents(25.0 + 2 * u))
    assert(got.getLong(0) == tu.size.toLong && got.getLong(1) == cu.size.toLong)
    assert((got.getDouble(2), got.getDouble(3), got.getDouble(4),
      got.getDouble(5)) == ((tp, tq, cp, cq)))
    assert(got.getDouble(6) == r6((tq - tp) - (cq - cp)))
  }

  test("forecastHolt: linear ramp tracked exactly; 1-day series dropped") {
    import spark.implicits._
    // type 'a': y_t = 2t over 4 days — Holt's linear seed tracks a ramp
    // exactly (l = 2t, b = 2), so level/trend/forecasts are closed-form;
    // type 'b': a single day — the seed needs y2, so it must vanish
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = ((1 to 4).flatMap { t =>
      val ts = new java.sql.Timestamp(day0.getTime + (t - 1) * 86400000L)
      Seq.fill(2 * t)(("a", ts))
    } :+ (("b", day0)))
      .zipWithIndex.map { case ((et, ts), i) => (i.toLong, ts, et) }
      .toDF("event_id", "ts", "event_type")
    val got = Pipeline.forecastHolt(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set("a"))
    assert(got("a") == ((4L, 8.0, 2.0, 10.0, 22.0)))
  }

  test("srm: chi-square replays the md5 arm split; planted skew flags") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def arm(uid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 2
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def chi2(t: Long, c: Long): Double = {
      val n = (t + c).toDouble
      r6((t - n / 2.0) * (t - n / 2.0) / (n / 2.0)
        + (c - n / 2.0) * (c - n / 2.0) / (n / 2.0))
    }
    // healthy split: every user once
    val ev = (1 to 40).map(u => (u.toLong, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val got = Pipeline.srm(ev).collect().head
    val (t, c) = ((1 to 40).count(u => arm(u) == 1).toLong,
      (1 to 40).count(u => arm(u) == 0).toLong)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((40L, t, c)))
    assert(got.getDouble(3) == chi2(t, c))
    assert(!got.getBoolean(4))
    // planted skew: keep only treat-arm users (a per-arm logging bug) plus
    // two control stragglers — the guardrail must fire
    val treaties = (1 to 200).map(_.toLong).filter(u => arm(u) == 1)
    val skewUsers = treaties ++ (1 to 200).map(_.toLong)
      .filter(u => arm(u) == 0).take(2)
    val skew = skewUsers.map(u => (u, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val g2 = Pipeline.srm(skew).collect().head
    assert(g2.getBoolean(4), s"chi2=${g2.getDouble(3)} should flag")
    assert(g2.getDouble(3) == chi2(treaties.size.toLong, 2L))
    // a COMPLETELY empty arm is the most extreme mismatch — the
    // guardrail must emit a flagged row, not zero rows (r18 review)
    val oneArm = treaties.map(u => (u, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val g3 = Pipeline.srm(oneArm).collect()
    assert(g3.length == 1)
    assert(g3.head.getLong(2) == 0L && g3.head.getBoolean(4))
    assert(g3.head.getDouble(3) == chi2(treaties.size.toLong, 0L))
  }

  test("power: sample size replays the pinned two-sample constant") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def arm(uid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 2
    }
    val t0 = ts("2024-01-01 00:00:00"); val t1 = ts("2024-01-31 00:00:00")
    val rows = (1 to 50).flatMap { uid =>
      Seq((uid.toLong, t0, 1.0), (uid.toLong, t1, 20.0 + (uid % 9) * 7.0))
    }
    val got = Pipeline.power(rows.toDF("user_id", "ts", "value"))
      .collect().head
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val ctrl = (1 to 50).map(_.toLong).filter(u => arm(u) == 0)
    val yc = ctrl.map(u => math.floor((20.0 + (u % 9) * 7.0) * 100.0 + 0.5)
      .toLong)
    val nU = ctrl.size
    val sy = yc.map(BigInt(_)).sum
    val syy = yc.map(y => BigInt(y) * y).sum
    val mean = r6(sy.toDouble / nU / 100.0)
    val vy = r6((BigInt(nU) * syy - sy * sy).toDouble
      / (nU.toDouble * nU) / 10000.0)
    val mde = r6(0.05 * mean)
    val req = math.ceil(15.6979 * vy / ((0.05 * mean) * (0.05 * mean))).toLong
    assert(got.getLong(0) == nU.toLong)
    assert((got.getDouble(1), got.getDouble(2), got.getDouble(3)) ==
      ((mean, vy, mde)))
    assert(got.getLong(4) == req)
  }

  test("rhoSelect: gain is exactly the component difference; top-k ordered") {
    import spark.implicits._
    // composition contract on a planted corpus: gain is exactly the
    // quantized difference of the two REGISTERED component scores on
    // the same frame (rare-word doc 2 scores high uni_bits while the
    // empirical bigram model memorizes its singleton pairs to ~0 —
    // the excess-loss signature RHO selects on)
    val corpus = Seq(
      (1L, Seq.fill(12)("ping pong").mkString(" ")),
      (2L, (1 to 24).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Pipeline.rhoSelect(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    val uni = graft.queries.LmStats.lmQualityOf(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bi = graft.queries.LmStats.lmBigramOf(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    Seq(1L, 2L).foreach { d =>
      assert(got(d) == ((uni(d), bi(d), r6(uni(d) - bi(d)))), s"doc $d")
    }
    // top-k contract on the fixture: k rows, (gain desc, doc_id) order
    val fx = Pipeline.rhoSelect(
      spark.read.parquet(s"$sfDir/documents.parquet"), topK = 25).collect()
      .map(r => (r.getDouble(4), r.getLong(0)))
    assert(fx.length == 25)
    assert(fx.sameElements(fx.sortBy { case (g, d) => (-g, d) }))
  }

  test("cuped: theta and adjusted means replay; correlated covariate cuts variance") {
    import spark.implicits._
    // y strongly tracks x per user, so CUPED must collapse the pooled
    // between-user variance; exact driver replay of every output cell
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    val rows = (1 to 40).flatMap { uid =>
      val base = 10.0 + (uid % 7) * 35.0 // spread across users
      Seq((uid.toLong, ts0, base + uid * 0.01), // pre-period event
        (uid.toLong, ts1, 2.0 * base + (uid % 3) * 1.5)) // post-period
    }
    val df = rows.toDF("user_id", "ts", "value")
    val got = Pipeline.cuped(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // driver replay at the engine grain: cents longs, int128 moments,
    // one double theta division, IEEE adjustment, 1e-6 quantized sums
    def cents(v: Double) = math.floor(v * 100.0 + 0.5).toLong
    val per = rows.groupBy(_._1).map { case (uid, es) =>
      val t0 = ts0.getTime * 1000L; val t1 = ts1.getTime * 1000L
      val split = t0 + (t1 - t0) / 2
      val xc = es.filter(_._2.getTime * 1000L < split).map(e => cents(e._3)).sum
      val yc = es.filter(_._2.getTime * 1000L >= split).map(e => cents(e._3)).sum
      (uid, xc, yc)
    }.toSeq
    val n = per.size.toLong
    val sx = per.map(p => BigInt(p._2)).sum
    val sy = per.map(p => BigInt(p._3)).sum
    val sxx = per.map(p => BigInt(p._2) * p._2).sum
    val sxy = per.map(p => BigInt(p._2) * p._3).sum
    val den = BigInt(n) * sxx - sx * sx
    val theta = if (den <= 0) 0.0
      else (BigInt(n) * sxy - sx * sy).toDouble / den.toDouble
    val xbar = sx.toDouble / n / 100.0
    def q(x: Double, s: Int) = math.floor(x * math.pow(10, s) + 0.5)
    def r6(x: Double) = q(x, 6) / 1e6
    def arm(uid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 2
    }
    val adj = per.map { case (uid, xc, yc) =>
      (arm(uid), yc / 100.0, yc / 100.0 - theta * (xc / 100.0 - xbar))
    }
    val nu = adj.size
    val syy2 = adj.map(a => q(a._2 * a._2, 6)).sum / 1e6
    val sy2q = adj.map(a => q(a._2, 6)).sum / 1e6
    val sa2q = adj.map(a => q(a._3, 6)).sum / 1e6
    val saa2q = adj.map(a => q(a._3 * a._3, 6)).sum / 1e6
    val varY = r6(syy2 / nu - (sy2q / nu) * (sy2q / nu))
    val varA = r6(saa2q / nu - (sa2q / nu) * (sa2q / nu))
    Seq(0L, 1L).foreach { a =>
      val g = adj.filter(_._1 == a)
      val exp = ((g.size.toLong,
        r6(g.map(x => q(x._2, 6)).sum / 1e6 / g.size),
        r6(g.map(x => q(x._3, 6)).sum / 1e6 / g.size),
        r6(theta), varY, varA))
      assert(got(a) == exp, s"arm $a")
    }
    // the point of CUPED: the adjusted variance collapses
    assert(varA < 0.2 * varY, s"varA=$varA varY=$varY")
  }

  test("ndcgEval: exact replay of metrics over the fixture embeddings") {
    val got = SparkEntry.queries("llm_ndcg_eval")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.size == 20)
    // driver-side replay: same float→double cast, left-to-right dot
    // accumulation (the DotProduct loop), dround(6) cosines, vec_id
    // tiebreak, q9 discount terms spelled ln(r+1)/ln 2
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val queries = emb.filter(_._1 < 20)
    val corpus = emb.filter(_._1 >= 20)
    val want = queries.map { case (qid, qlab, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      val top = corpus.map { case (vid, lab, v) =>
        (vid, lab, q(dot(qv, v) / (qn * math.sqrt(dot(v, v))), 1e6))
      }.sortBy { case (vid, _, cos) => (-cos, vid) }.take(10)
      val rels = top.zipWithIndex.map { case ((_, lab, _), i) =>
        (i + 1, if (lab == qlab) 1 else 0) }
      val nRel = corpus.count(_._2 == qlab).toLong
      val hits = rels.map(_._2).sum.toLong
      val disc = (r: Int) => q(1.0 / (math.log(r + 1.0) / math.log(2.0)), 1e9)
      val mrr = q(rels.find(_._2 == 1).map(1.0 / _._1).getOrElse(0.0), 1e9)
      val dcg = rels.map { case (r, rel) =>
        math.floor(rel * disc(r) * 1e9 + 0.5).toLong }.sum / 1e9
      val idcg = (1 to math.min(nRel, 10L).toInt).map(r =>
        math.floor(disc(r) * 1e9 + 0.5).toLong).sum / 1e9
      val ndcg = if (idcg > 0) q(dcg / idcg, 1e6) else 0.0
      qid -> ((nRel, hits, mrr, q(dcg, 1e6), ndcg))
    }.toMap
    assert(got == want)
    // sanity invariants a broken ranking would trip
    assert(got.values.forall { case (_, h, _, _, nd) =>
      h >= 0 && h <= 10 && nd >= 0.0 && nd <= 1.0 })
    assert(got.values.exists(_._2 > 0), "no query retrieved any relevant doc")
  }

  test("ndcgEval: eval query with zero relevant corpus docs still gets a row") {
    // r18 ADVICE: the old inner per→idcg join silently dropped any
    // query whose label has no relevant corpus docs, making the
    // idcg > 0 guard dead code. Synthetic: query q0 (vec_id 0) carries
    // label 99 which no corpus vector shares.
    import spark.implicits._
    val mk = (id: Long, lab: Int, v: Seq[Float]) => (id, lab, v)
    val emb = Seq(
      mk(0L, 99, Seq(1f, 0f)),            // eval query, orphan label
      mk(1L, 1, Seq(0f, 1f)),             // eval query with relevants
      mk(20L, 1, Seq(0.9f, 0.1f)),
      mk(21L, 1, Seq(0.1f, 0.9f)),
      mk(22L, 2, Seq(0.5f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val rows = graft.queries.Vectors.ndcgEvalOf(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(5))))
      .toMap
    assert(rows.keySet == Set(0L, 1L), s"both eval queries owed a row: $rows")
    val (nRel0, hits0, ndcg0) = rows(0L)
    assert(nRel0 == 0L && hits0 == 0L && ndcg0 == 0.0,
      s"orphan-label query must read (0, 0, 0.0): ${rows(0L)}")
    assert(rows(1L)._1 == 2L && rows(1L)._3 > 0.0)
  }

  test("boilerplate: templated source flagged, diverse source passes, short docs excluded") {
    import spark.implicits._
    val stamp = "terms of service apply to this forum post"      // 8 words
    // source A: 3 of 5 long docs share the stamp (share .6 → flagged);
    // a 3-word doc must NOT count toward the denominator
    val a = Seq.tabulate(3)(i => ("A", s"$stamp unique tail $i")) ++
      Seq(("A", "one two three four five six seven eight nine"),
        ("A", "x1 x2 x3 x4 x5 x6 x7 x8 x9"), ("A", "too short doc"))
    // source B: 6 long docs, all prefixes distinct (top share 1/6 < .2)
    val b = Seq.tabulate(6)(i => ("B", s"b$i w1 w2 w3 w4 w5 w6 w7 w8"))
    val rows = Pipeline.boilerplate((a ++ b).toDF("source", "text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    assert(rows("A") == ((5L, stamp, 3L, 0.6, true)))
    val (bn, _, bc, bs, bflag) = rows("B")
    assert(bn == 6L && bc == 1L && bs == math.floor(1.0 / 6 * 1e6 + 0.5) / 1e6
      && !bflag)
  }

  test("attribution: linear splits, last-touch picks latest, value conserved") {
    import spark.implicits._
    val h = 3600000000L // 1h in µs
    val events = Seq(
      // user 1: view @0h, click @1h, purchase 10.00 @2h → linear 5/5,
      // last-touch all to the click
      (1L, 101L, 0L, "view", 0.0), (1L, 102L, h, "click", 0.0),
      (1L, 103L, 2 * h, "purchase", 10.0),
      // user 2: direct purchase 7.50 (no touches at all)
      (2L, 201L, 5 * h, "purchase", 7.5),
      // user 3: touch OUTSIDE the 7-day lookback → also direct
      (3L, 301L, 0L, "click", 0.0),
      (3L, 302L, 200 * 24 * h, "purchase", 2.5))
      .toDF("user_id", "event_id", "tsu", "event_type", "value")
    val rows = Pipeline.attribution(events).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows("view") == ((1L, 5.0, 0.0)))
    assert(rows("click") == ((1L, 5.0, 10.0)))
    assert(rows("direct") == ((2L, 10.0, 10.0)))
    // value conservation: Σ linear = Σ last = Σ purchase value
    assert(rows.values.map(_._2).sum == 20.0)
    assert(rows.values.map(_._3).sum == 20.0)
  }

  test("mmrRerank: diversity flips a redundant higher-relevance candidate") {
    import spark.implicits._
    // q = [1,0]. vec 11 ([0.81, 0.586], rel ≈ .8102) edges out vec 10
    // ([0.8, 0.6], rel = .8) on pure relevance, and vec 12 ([0.8,-0.6],
    // rel = .8) ties vec 10 — but 10 is nearly parallel to the step-1
    // pick 11 (sim ≈ 1) while 12 points away (sim ≈ .296), so MMR
    // selects 11, 12, 10: the diversity term demotes the redundant
    // vector below a same-relevance diverse one.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (10L, Array(0.8f, 0.6f), 0),
      (11L, Array(0.81f, 0.586f), 0),
      (12L, Array(0.8f, -0.6f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = Pipeline.mmrRerank(emb, id => id < 3).collect()
      .sortBy(_.getInt(1))
    assert(rows.map(_.getLong(2)).toSeq == Seq(11L, 12L, 10L),
      rows.mkString(", "))
    // replay the fold's exact arithmetic (float→double casts included)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map(p => p._1.toDouble * p._2.toDouble).sum
      r6(d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b))))
    }
    val v = Map(0L -> Array(1.0f, 0.0f), 10L -> Array(0.8f, 0.6f),
      11L -> Array(0.81f, 0.586f), 12L -> Array(0.8f, -0.6f))
    val rel = Seq(10L, 11L, 12L).map(i => i -> cos(v(0L), v(i))).toMap
    val expected = Seq(
      q9(0.7 * rel(11L)),
      q9(0.7 * rel(12L) - (1 - 0.7) * cos(v(12L), v(11L))),
      q9(0.7 * rel(10L) - (1 - 0.7) *
        Seq(cos(v(10L), v(11L)), cos(v(10L), v(12L))).max))
    assert(rows.map(_.getDouble(3)).toSeq == expected,
      s"${rows.map(_.getDouble(3)).toSeq} vs $expected")
  }

  test("collocations: exact PMI ratios, hapax pairs filtered") {
    import spark.implicits._
    // doc 1: pairs x_y ×3, y_x ×2 (dropped — under minCount);
    // doc 2: z_z ×3. Totals: tw = 10 words, tb = 8 pairs.
    //   ratio(x,y) = ((3·10/8)·(10/3))/3 = 4.166667 (q6)
    //   ratio(z,z) = ((3·10/8)·(10/4))/4 = 2.34375
    val corpus = Seq((1L, "x y x y x y"), (2L, "z z z z"))
      .toDF("doc_id", "text")
    val rows = Pipeline.collocations(corpus).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      ("x", "y", 3L, 3L, 3L, 4.166667),
      ("z", "z", 3L, 4L, 4L, 2.34375)), rows.mkString(", "))
  }

  test("textrank: hub word wins; scores replay a driver-side iteration") {
    import spark.implicits._
    // star graph: 'a' co-occurs with b, c, d — the hub must outrank the
    // leaves even though every edge weight is identical
    val corpus = Seq((1L, "a b"), (2L, "a c"), (3L, "a d"))
      .toDF("doc_id", "text")
    val rows = Pipeline.textrank(corpus).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(rows.head._1 == "a", rows.mkString(", "))
    // replay: und edges (a,x) & (x,a) wgt 1; ow(a)=3, ow(leaf)=1
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def qsum9(xs: Seq[Double]) =
      xs.map(x => math.floor(x * 1e9 + 0.5).toLong).sum / 1e9
    val words = Seq("a", "b", "c", "d")
    var pr = words.map(_ -> 1.0).toMap
    for (_ <- 1 to 5) {
      pr = words.map { w =>
        val in =
          if (w == "a") Seq("b", "c", "d").map(v => pr(v) * 1 / 1.0)
          else Seq(pr("a") * 1 / 3.0)
        w -> q9(0.15 + 0.85 * qsum9(in))
      }.toMap
    }
    val expected = pr.toSeq.sortBy { case (w, sc) => (-sc, w) }
    assert(rows.toSeq == expected, s"${rows.toSeq} vs $expected")
  }

  test("charLangId: disjoint-alphabet langs classify exactly") {
    import spark.implicits._
    // g1 docs are all-x, g2 all-y: each lang profile is its single
    // trigram at rank 1 → own-lang distance 0, other-lang = 30 penalty
    val corpus = Seq(
      (1L, "xxxxxx", "g1"), (2L, "xxxxxx", "g1"),
      (3L, "yyyyyy", "g2"), (4L, "yyyyyy", "g2"))
      .toDF("doc_id", "text", "lang")
    val rows = Pipeline.charLangId(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      (1L, "g1", "g1", 0L, true), (2L, "g1", "g1", 0L, true),
      (3L, "g2", "g2", 0L, true), (4L, "g2", "g2", 0L, true)),
      rows.mkString(", "))
  }

  test("charEntropy: exact bin-length entropy on planted distributions") {
    import spark.implicits._
    // "aaaa": one char class → 0 bits. "abcd": uniform over 4 →
    // bits(4)−bits(1) = 2 per char → 2.0. "aabb": two classes of 2 →
    // bits(4)−bits(2) = 1 per char → 1.0.
    val corpus = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "aabb"))
      .toDF("doc_id", "text")
    val rows = Pipeline.charEntropy(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(rows(1L) == ((4L, 1L, 0.0)), rows.toString)
    assert(rows(2L) == ((4L, 4L, 2.0)), rows.toString)
    assert(rows(3L) == ((4L, 2L, 1.0)), rows.toString)
  }

  test("mediaManifest: distinct in-bounds frame samples, aspect-true resize") {
    val rows = SparkEntry.queries("llm_media_manifest")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val idxs = rs.map(_.getAs[Int]("frame_idx")).toSeq
      assert(idxs.distinct.size == idxs.size, s"doc $id repeated a frame: $idxs")
      assert(idxs.forall(_ >= 0), s"doc $id negative frame index")
      assert(rs.length <= 4, s"doc $id sampled ${rs.length} > 4 frames")
      val r = rs.head
      // the resize plan fits the longest side to 224 exactly (stub dims
      // are always under 704, so rounding the exact 224.0/max scale
      // reproduces 224 on the max side)
      val maxSide = math.max(r.getAs[Int]("src_w"), r.getAs[Int]("src_h"))
      val maxOut = math.max(r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      assert(maxOut == 224, s"doc $id resize missed target: $r (max src $maxSide)")
      // byte offsets are frame-aligned and monotone in the sample order
      val offs = rs.sortBy(_.getAs[Int]("j")).map(_.getAs[Long]("byte_off"))
      assert(offs.zip(offs.tail).forall { case (a, b) => a <= b },
        s"doc $id offsets not monotone: $offs")
    }
  }

  test("spanDedup removes repeated chunks, keeps first occurrence, reconstructs") {
    import spark.implicits._
    // Docs 1 and 2 share their first 5-word chunk ("a b c d e"); doc 1
    // is the global first occurrence (smaller packed key) so it keeps
    // everything, doc 2 loses exactly that chunk and its clean_text
    // reassembles the remainder. Doc 3 is untouched — and shorter than
    // one chunk, exercising the partial-final-chunk path.
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e x y z w v"),
      (3L, "solo words only"))
      .toDF("doc_id", "text")
    val rows = Pipeline.spanDedup(corpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("kept"),
          r.getAs[Long]("removed"), r.getAs[String]("clean_text")))).toMap
    assert(rows(1L) === ((2L, 2L, 0L, "a b c d e f g h i j")), rows.toString)
    assert(rows(2L) === ((2L, 1L, 1L, "x y z w v")), rows.toString)
    assert(rows(3L) === ((1L, 1L, 0L, "solo words only")), rows.toString)
  }

  test("lmTrigram backs off on unseen n-grams and scores OOD text higher") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Train slice (ids 1-3): one repeated phrase, so its trigrams are
    // the in-distribution signal. Held-out: doc 7 repeats the phrase
    // (every trigram seen → backoff_frac 0.0), doc 14 is disjoint
    // vocabulary (no trigram/bigram/unigram seen → every position
    // backs off to the unigram floor → backoff_frac 1.0, higher bits).
    val corpus = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b c"),
      (3L, "a b c a b c a b c a b c"),
      (7L, "a b c a b c"),
      (14L, "x y z x y z"))
      .toDF("doc_id", "text")
    val rows = Pipeline.lmTrigram(corpus, id => id % 7 =!= 0).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_trigrams"), r.getAs[Double]("avg_bits"),
          r.getAs[Double]("backoff_frac")))).toMap
    assert(rows.keySet == Set(7L, 14L), s"train docs must not be scored: $rows")
    assert(rows(7L)._3 == 0.0, s"in-distribution doc backed off: ${rows(7L)}")
    assert(rows(14L)._3 == 1.0, s"OOD doc failed to back off: ${rows(14L)}")
    assert(rows(14L)._2 > rows(7L)._2,
      s"OOD doc must carry more bits: $rows")
  }

  test("qualityClassifier separates a separable planted corpus exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Disjoint class vocabularies: epoch 1's update (all docs count as
    // misclassified under zero weights) already assigns every "good"
    // feature a positive weight and every "spam" feature a negative
    // one, so training accuracy must be exactly 1.0 and later epochs
    // must be no-ops (empty misclassified set → unchanged weights).
    val corpus = Seq(
      (1L, "clean prose paragraph citation", "en"),
      (2L, "prose citation clean structure", "en"),
      (3L, "casino pills winner jackpot", "xx"),
      (4L, "jackpot casino winner spam", "xx"),
      (5L, "citation structure prose prose", "en"),
      (6L, "spam pills pills jackpot", "xx"))
      .toDF("doc_id", "text", "lang")
    val rows = Pipeline.qualityClassifier(corpus, col("lang") === "en")
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Int]("pred") == r.getAs[Int]("y"),
        s"misclassified doc ${r.getAs[Long]("doc_id")}: $r")
      // margins carry the sign with real magnitude, not boundary noise
      assert(math.signum(r.getAs[Long]("score").toDouble) ==
        r.getAs[Int]("y").toDouble, r.toString)
    }
    // epoch-2/3 invariance on separable data: 1 epoch ≡ 3 epochs
    val oneEpoch = graft.queries.Quality
      .qualityClassifierOf(corpus, epochs = 1, positive = col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    rows.foreach(r => assert(oneEpoch(r.getAs[Long]("doc_id")) ==
      r.getAs[Long]("score"), "separable corpus: extra epochs must be no-ops"))
  }

  test("pcaProject recovers a planted dominant variance direction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, transform => atransform}
    // Vectors t·u + ε·e_j with u = (1,1,...,1)/8: the u-axis variance
    // (spread of t) dominates the per-axis noise, so pc1 must order the
    // vectors by t (up to global sign) and be ~linear in t.
    val dims = 64
    val ts = Seq(-4.0, -3.0, -2.0, -1.0, 0.0, 1.0, 2.0, 3.0, 4.0, 5.0)
    val rows = ts.zipWithIndex.map { case (t, k) =>
      val v = Array.tabulate(dims)(d => t / 8.0 + (if (d == k % dims) 0.01 else 0.0))
      (k.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "v")
      .select(col("vec_id"), atransform(col("v"), _.cast("double")).as("v"))
    val got = Pipeline.pcaProject(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pc = ts.indices.map(k => got(k.toLong))
    // pc1 is monotone in t (one global sign) with unit spacing: the
    // planted vector t/8·𝟙 dotted with the unit direction 𝟙/8 is
    // exactly t, so successive pc1 gaps equal the t-spacing of 1.0
    val diffs = pc.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(_ > 0) || diffs.forall(_ < 0),
      s"pc1 not monotone in the planted coefficient: $pc")
    diffs.foreach(d => assert(math.abs(math.abs(d) - 1.0) < 0.01,
      s"pc1 spacing ${d} != planted t-spacing 1.0 (±noise): $pc"))
  }

  test("semDedup collapses planted embedding clusters to their min-id keepers") {
    import spark.implicits._
    // two tight clusters on orthogonal axes. Under the fixed-k sampled
    // quantizer, 40 of these 100 ids are seeds (md5 sample), so
    // intra-cluster spread is kept BELOW the 1e-9 cellKey quantization
    // (1 − cos ≤ (6e-6)²/2 ≈ 2e-11): every member quantize-ties across
    // its cluster's seeds and the rank tie-break collapses each cluster
    // into ONE cell — the deterministic-tie contract this test pins.
    def vec(axis: Int, i: Long): Seq[Float] = {
      val v = Array.fill(8)(0.0f)
      v(axis) = 1.0f; v(axis + 2) = 0.000001f * (i % 7); v.toSeq
    }
    val emb = ((0L until 50L).map(i => (i, vec(0, i))) ++
      (50L until 100L).map(i => (i, vec(1, i))))
      .toDF("vec_id", "embedding")
    val dups = Pipeline.semDedup(emb).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every non-minimal member of each cluster is a dup of the cluster min
    assert(dups.keySet === ((1L until 50L) ++ (51L until 100L)).toSet)
    assert(dups.filter(_._1 < 50).values.toSet === Set(0L))
    assert(dups.filter(_._1 >= 50).values.toSet === Set(50L))
  }

  test("knnGraphOf keeps exactly the reciprocal-nearest pairs") {
    import spark.implicits._
    // 2-D unit vectors at 0°, 5°, 50°, 55°, 100°: with k = 1 the NN
    // pairs (0,1) and (2,3) are reciprocal; 100°'s NN is 55° but not
    // vice versa — mutuality must drop that edge. cells = 1 puts all
    // vectors in one cell (the degenerate-geometry knob; at the default
    // every vector ≤ seed-count becomes its own centroid/cell).
    val deg = Seq(0.0, 5.0, 50.0, 55.0, 100.0)
    val emb = deg.zipWithIndex.map { case (d, i) =>
      val r = math.toRadians(d)
      (i.toLong, Seq(math.cos(r).toFloat, math.sin(r).toFloat))
    }.toDF("vec_id", "embedding")
    val edges = graft.queries.Vectors.knnGraphOf(emb, k = 1, cells = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(edges.map(e => (e._1, e._2)).toSet === Set((0L, 1L), (2L, 3L)))
    // both kept edges span 5° — cos ≈ 0.996195 after dround(6)
    edges.foreach(e => assert(math.abs(e._3 - 0.996195) < 2e-6))
    // with k = 3 every node ranks every other (4 candidates): complete
    // mutual graph on 5 nodes = 10 edges
    assert(graft.queries.Vectors.knnGraphOf(emb, k = 4, cells = 1)
      .count() === 10L)
  }

  test("sourceCap keeps a deterministic bounded sample per source") {
    val capped = Pipeline.sourceCap(docs, 1)
    val bySource = capped.collect()
      .groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySource.values.forall(_ == 1), bySource.toString)
    // deterministic: the same invocation keeps the same docs
    assert(capped.collect().map(_.getAs[Long]("doc_id")).toSet ===
      Pipeline.sourceCap(docs, 1).collect().map(_.getAs[Long]("doc_id")).toSet)
    assert(Pipeline.sourceCap(docs, 100).count() === docs.count())
  }

  test("htmlExtract strips blocks, comments, tags and entities exactly") {
    import spark.implicits._
    val html = Seq(
      (1L, "<html><head><script>if (a < b) { alert('x'); }</script>" +
        "<style>h1 { font-size: 2em; }</style></head>" +
        "<body><!-- nav boilerplate --><h1>The  Title</h1>\n" +
        "<p>Rock &amp; roll &lt;3 &quot;quoted&quot; &#39;single&#39;&nbsp;end</p>" +
        "</body></html>"),
      (2L, "no markup at all"),
      (3L, "<p>unclosed tag soup <b>bold")) // trailing unclosed tag survives as text
      .toDF("doc_id", "text")
    val got = Pipeline.htmlExtract(html).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "The Title Rock & roll <3 \"quoted\" 'single' end")
    assert(got(2L) === "no markup at all")
    assert(got(3L) === "unclosed tag soup bold")
  }

  test("semDedupClusters resolves transitive chains the keeper rule cannot") {
    import spark.implicits._
    // chain: 1 ~ 2 and 2 ~ 3 at cos ≈ 0.707 (> 0.3 cut) but 1 ≁ 3
    // (cos 0) — the A~B~C case where the pairwise keeper rule maps
    // 2 → 1 and 3 → 2 inconsistently. 57 identical e3-axis decoys
    // dominate the md5 seed sample (none of ids 1-3 is a seed —
    // deterministic for these ids, mirrored in the fixture layout of
    // AnnScaleProbeSpec), so the chain rides the decoy cell and its
    // pairs form there; decoys collapse to their own cluster.
    def v(x: Float, y: Float, z: Float): Seq[Float] = Seq(x, y, z, 0.0f)
    val emb = (Seq(
      (1L, v(1, 0, 0)), (2L, v(1, 1, 0)), (3L, v(0, 1, 0))) ++
      (100L until 157L).map(i => (i, v(0, 0, 1))))
      .toDF("vec_id", "embedding")
    val labels = Pipeline.semDedupClusters(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L,
      s"transitive chain did not collapse to one cluster: $labels")
    assert((100L until 157L).forall(labels(_) == 100L),
      "decoy cluster did not collapse to its min id")
    // the pairwise keeper rule on the same corpus demonstrates the gap:
    // doc 3's keeper is 2, itself a dup of 1 — CC is what closes it
    val keepers = Pipeline.semDedup(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers(2L) == 1L && keepers(3L) == 2L, keepers.toString)
  }

  test("clusterSample keeps m per semantic cluster; m=1 matches cluster count") {
    import spark.implicits._
    // the semDedupClusters chain fixture: 3-vector transitive chain
    // (one cluster) + 57 identical decoys (one cluster)
    def v(x: Float, y: Float, z: Float): Seq[Float] = Seq(x, y, z, 0.0f)
    val emb = (Seq(
      (1L, v(1, 0, 0)), (2L, v(1, 1, 0)), (3L, v(0, 1, 0))) ++
      (100L until 157L).map(i => (i, v(0, 0, 1))))
      .toDF("vec_id", "embedding")
    val one = Pipeline.clusterSample(emb, 1).collect()
    assert(one.length === 2, s"m=1 must keep one per cluster: ${one.length}")
    assert(one.map(_.getLong(1)).toSet === Set(1L, 100L))
    val two = Pipeline.clusterSample(emb, 2).collect()
    assert(two.length === 4)
    assert(two.count(_.getLong(1) == 1L) === 2)
    // m large enough keeps everything
    assert(Pipeline.clusterSample(emb, 100).count() === 60L)
  }

  test("annSearch answers caller-frame queries from the right clusters") {
    import spark.implicits._
    // two orthogonal-direction corpus clusters with slight per-member
    // tilt; one query per direction must retrieve only its own cluster,
    // ranked by cosine — across refineSteps 0 (raw seed sample) and 1
    // (Lloyd-refined), which must agree on this geometry.
    def v(axis: Int, tilt: Float): Seq[Float] = {
      val a = Array.fill(8)(0.0f); a(axis) = 1.0f; a(axis + 4) = tilt; a.toSeq
    }
    val corpus = ((0L until 30L).map(i => (i, v(0, 0.01f * (i % 5)))) ++
      (30L until 60L).map(i => (i, v(1, 0.01f * (i % 5)))))
      .toDF("vec_id", "embedding")
    val queries = Seq((1000L, v(0, 0.0f)), (1001L, v(1, 0.0f)))
      .toDF("vec_id", "embedding")
    for (steps <- Seq(0, 1)) {
      val hits = Pipeline.annSearch(corpus, queries, topK = 3,
          refineSteps = steps).collect()
        .groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      assert(hits(1000L).size == 3 && hits(1000L).forall(_ < 30L),
        s"steps=$steps axis-0 query left its cluster: ${hits(1000L)}")
      assert(hits(1001L).size == 3 && hits(1001L).forall(id => id >= 30L && id < 60L),
        s"steps=$steps axis-1 query left its cluster: ${hits(1001L)}")
    }
  }

  test("mixWeights computes sqrt-temperature sampling weights exactly") {
    import spark.implicits._
    // tokens: src a = 100, src b = 400 → w = 10, 20 → p = 1/3, 2/3;
    // epochs = p · 500 / n_tokens → a: 1.666667, b: 0.833333
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = ((1 to 10).map(i => (i.toLong, ten, "a")) ++
      (11 to 50).map(i => (i.toLong, ten, "b")))
      .toDF("doc_id", "text", "source")
    val rows = Pipeline.mixWeights(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("a").getAs[Long]("n_tokens") === 100L)
    assert(rows("b").getAs[Long]("n_tokens") === 400L)
    assert(rows("a").getAs[Double]("mix_p") === 0.333333)
    assert(rows("b").getAs[Double]("mix_p") === 0.666667)
    assert(rows("a").getAs[Double]("epochs") === 1.666667)
    assert(rows("b").getAs[Double]("epochs") === 0.833333)
  }

  test("dsirSelect prefers target-like raw docs") {
    import spark.implicits._
    // target (doc 100) speaks "alpha" vocabulary; raw doc 1 echoes it,
    // raw doc 2 is out-of-domain — only doc 1 may be selected
    val alpha = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val docs = Seq(
      (100L, alpha),
      (1L, alpha),
      (2L, (1 to 20).map(i => s"zeta$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Pipeline.dsirSelect(docs, id => id === 100L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(1L, 2L)) // target doc itself is not scored
    assert(rows(1L).getAs[Boolean]("selected"),
      s"target-like doc not selected: ${rows(1L)}")
    assert(!rows(2L).getAs[Boolean]("selected"),
      s"out-of-domain doc selected: ${rows(2L)}")
    assert(rows(1L).getAs[Double]("avg_importance") >
      rows(2L).getAs[Double]("avg_importance"))
  }

  test("gopherRules flags each violated rule, including the line rules") {
    import spark.implicits._
    // fixture docs carry no newlines, so exercise the line rules here:
    // doc 1 passes everything; doc 2 too short; doc 3 is bullet-heavy
    // with an ellipsis line
    val good = ((1 to 58).map(i => s"word$i") ++ Seq("the", "of")).mkString(" ")
    val bullets = "- item one\n- item two\n- item three\nplain tail..."
    val docs = Seq((1L, good), (2L, "tiny doc the of"), (3L, bullets))
      .toDF("doc_id", "text")
    val rows = Pipeline.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Boolean]("keep"), rows(1L).toString)
    assert(!rows(2L).getAs[Boolean]("keep"))
    assert(rows(2L).getAs[Int]("n_words") === 4)
    assert(!rows(3L).getAs[Boolean]("keep"))
    assert(rows(3L).getAs[Double]("bullet_ratio") === 0.75)
    assert(rows(3L).getAs[Double]("ellipsis_ratio") === 0.25)
    assert(rows(1L).getAs[Int]("stop_words") === 2)
  }

  test("empty-text docs flow through the per-row hygiene operators sanely") {
    import spark.implicits._
    // split("") = [""] — one empty word, so no division-by-zero path
    // exists; the empty doc must simply fail the filters, not crash
    val docs = Seq((1L, ""), (2L, (1 to 60).map(_ => "the of w").mkString(" ")))
      .toDF("doc_id", "text")
    val g = Pipeline.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(g(1L).getAs[Int]("n_words") === 1)
    assert(!g(1L).getAs[Boolean]("keep"))
    val q = Pipeline.lmQuality(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Long]("n_words") === 1L)
    assert(!q(1L).getAs[Boolean]("suspect"))
  }

  test("r12 hygiene stages compose: gopher keep ∧ dsir select ∧ semDedup") {
    import spark.implicits._
    // One corpus, every stage drops someone: doc 2 fails the Gopher
    // word-count rule, doc 3 is out-of-domain for DSIR, doc 4 survives
    // the text stages but is a semantic (embedding) dup of doc 1.
    val docs = Seq(
      (100L, (1 to 30).map(i => s"alpha${i % 13}").mkString(" ")), // DSIR target
      (1L, ((1 to 58).map(i => s"alpha${i % 13}") ++ Seq("the", "of")).mkString(" ")),
      (2L, "alpha1 alpha2 the of"),
      // zeta words repeat (cr ≈ 20) so their raw-corpus probability is
      // real: singleton OOV words would score POSITIVE against a tiny
      // add-one-smoothed target — faithful DSIR small-target behavior
      (3L, ((1 to 58).map(i => s"zeta${i % 3}") ++ Seq("the", "of")).mkString(" ")),
      (4L, ((1 to 58).map(i => s"alpha${(i + 3) % 13}") ++ Seq("the", "of")).mkString(" ")))
      .toDF("doc_id", "text")
    val raw = docs.filter(col("doc_id") =!= 100L)
    val gopherKeep = Pipeline.gopherRules(raw).filter(col("keep")).select("doc_id")
    val dsirKeep = Pipeline.dsirSelect(docs, id => id === 100L)
      .filter(col("selected")).select("doc_id")
    val textStage = raw.join(gopherKeep, "doc_id").join(dsirKeep, "doc_id")
    assert(textStage.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 4L))
    // final semantic pass over the survivors' embeddings (vec 0 = the
    // corpus centroid anchor on an orthogonal axis; 1 and 4 coincide)
    def v(axis: Int): Seq[Float] = {
      val a = Array.fill(8)(0.0f); a(axis) = 1.0f; a.toSeq
    }
    val emb = Seq((0L, v(7)), (1L, v(0)), (4L, v(0))).toDF("vec_id", "embedding")
    val dupIds = Pipeline.semDedup(emb).select(col("dup_id").as("doc_id"))
    val survivors = textStage.join(dupIds, Seq("doc_id"), "left_anti")
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L))
  }

  test("winnow: summary shape, short-doc absence, determinism") {
    import spark.implicits._
    val six = "w1 w2 w3 w4 w5 w6" // exactly w+2 words → one window
    val d = Seq(
      (1L, six), (2L, six),                       // identical → identical rows
      (3L, "too short to fingerprint"),           // < w+2 words → absent
      (4L, (1 to 40).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Pipeline.winnow(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!rows.contains(3L))
    // one window: the fingerprint set is a single gram-min
    val (nFp, fpSum, fpMin, fpMax) = rows(1L)
    assert(nFp === 1 && fpSum === fpMin && fpMin === fpMax)
    assert(rows(1L) === rows(2L), "identical texts must fingerprint identically")
    // 40 words → 38 grams → 35 windows; distinct mins ≤ windows, ≥ 1
    val (nFp4, _, min4, max4) = rows(4L)
    assert(nFp4 >= 1 && nFp4 <= 35 && min4 <= max4)
  }

  test("bpeMerges counts frequency-weighted adjacent character pairs exactly") {
    import spark.implicits._
    // words: "abc" ×3 (pairs ab, bc), "bcd" ×1 (bc, cd); 1-char words drop
    val d = Seq((1L, "abc abc x"), (2L, "abc bcd")).toDF("doc_id", "text")
    val got = Pipeline.bpeMerges(d, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // bc: 3+1=4; ab: 3; cd: 1 — ordered count desc, pair asc
    assert(got.toSeq === Seq(("bc", 4L), ("ab", 3L), ("cd", 1L)))
  }

  test("shuffleShards: deterministic, contiguous per-shard positions, seed-sensitive") {
    import spark.implicits._
    val d = (1L to 64L).toDF("doc_id")
    val a = Pipeline.shuffleShards(d, 8, "s1").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val b = Pipeline.shuffleShards(d, 8, "s1").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(a.sorted.toSeq === b.sorted.toSeq, "same seed must replay identically")
    assert(a.map(_._3).toSet === (1L to 64L).toSet, "every doc lands exactly once")
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length).toSeq,
        "positions within a shard must be contiguous from 1")
    }
    val c = Pipeline.shuffleShards(d, 8, "s2").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(r => (r._1, r._2)).map(_._3).toSeq !==
      c.sortBy(r => (r._1, r._2)).map(_._3).toSeq,
      "a different seed must produce a different order")
  }

  test("tokenBudget keeps the exact quality-greedy prefix, boundary split included") {
    import spark.implicits._
    // stopword-free texts → q = min(n/100,1)*0.5 + 0.5, so quality order
    // IS word-count order and the greedy reference is computable by hand.
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "))
    // distinct buckets: greedy picks 100, 90, 80; 70 overflows budget 275
    val d1 = Seq(doc(1, 10), doc(2, 20), doc(3, 30), doc(4, 40), doc(5, 50),
      doc(6, 60), doc(7, 70), doc(8, 80), doc(9, 90), doc(10, 100))
      .toDF("doc_id", "text")
    val k1 = Pipeline.tokenBudget(d1, frac = 0.5).collect().map(_.getLong(0)).toSet
    assert(k1 === Set(8L, 9L, 10L))
    // boundary split INSIDE bucket 19: budget floor(382*0.7)=267 admits
    // the 100w full bucket + the 95w head of bucket 19, rejects 94/93
    val d2 = Seq(doc(1, 100), doc(2, 95), doc(3, 94), doc(4, 93))
      .toDF("doc_id", "text")
    val k2 = Pipeline.tokenBudget(d2, frac = 0.7).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(k2.keySet === Set(1L, 2L))
    assert(k2(2L) === 95, "n_tokens column must carry the doc's token count")
  }

  test("fuzzyContamination flags the planted eval near-dup, skips unrelated docs") {
    import spark.implicits._
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, template),                                  // corpus: leaked doc
      (14L, template + " tail"),                       // eval (14 % 7 == 0)
      (3L, "an entirely different document about join plans"),
      (21L, "unrelated eval text body with other words entirely"))
      .toDF("doc_id", "text")
    val got = Pipeline.fuzzyContamination(d, id => id % 7 === 0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet === Set((1L, 14L)))
    assert(got((1L, 14L)) > 0.3 && got((1L, 14L)) <= 1.0)
  }

  test("bpeEncode, bm25, randomProject, pqSearch run over caller frames") {
    import spark.implicits._
    // bpeEncode invariant: symbols concatenate back to the word exactly
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    Pipeline.bpeEncode(docs, topK = 5).collect().foreach { r =>
      assert(r.getAs[String]("encoded").replace(" ", "") == r.getAs[String]("w"),
        s"symbols do not reconstruct ${r.getAs[String]("w")}")
    }
    // bm25 with a caller-chosen query predicate: dense per-query ranks
    val bm = Pipeline.bm25(docs, id => id % 7 === 0, topK = 3).collect()
    assert(bm.nonEmpty)
    bm.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to rs.length),
        s"query $q ranks not dense")
      assert(rs.forall(_.getAs[Long]("doc_id") % 7 != 0),
        s"query $q retrieved a query doc")
    }
    // randomProject -> pqSearch composition: PQ over the PROJECTED
    // 16-dim vectors (the at-scale pipeline order: cut dims, then
    // compress) — 5 hits per query, self-hit excluded by the split
    val proj = Pipeline.randomProject(Tables.t(spark, sfDir, "embeddings"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(col("j"), col("y")))).as("sj"))
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("sj"),
          s => s.getField("y")).as("v"))
    val hits = Pipeline.pqSearch(proj.filter(col("vec_id") >= 20),
      proj.filter(col("vec_id") < 20), topK = 5, m = 4, subDim = 4).collect()
    val perQ = hits.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.nonEmpty)
    perQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q returned ${rs.length} hits")
      assert(rs.forall(_.getAs[Long]("vec_id") >= 20))
    }
  }

  test("sourceHhi: exact replay of HHI/entropy/effective-sources per lang") {
    val got = SparkEntry.queries("llm_source_hhi")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val cells = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = cells.keys.map(_._1).toSeq.distinct.map { lang =>
      val cs = cells.collect { case ((l, _), c) if l == lang => c }.toSeq
      val n = cs.sum
      val c2 = cs.map(c => BigInt(c) * BigInt(c)).sum
      val clnc = cs.map(c =>
        math.floor(c.toDouble * math.log(c.toDouble) * 1e9 + 0.5).toLong).sum / 1e9
      val h = math.log(n.toDouble) - clnc / n
      lang -> ((n, cs.length.toLong, q(c2.toDouble / (n.toDouble * n), 1e6),
        q(h, 1e6), q(math.exp(h), 1e6)))
    }.toMap
    assert(got == want)
    // invariants: HHI in [1/n_sources, 1], eff_sources <= n_sources
    got.values.foreach { case (_, ns, hhi, _, eff) =>
      assert(hhi >= 1.0 / ns - 1e-9 && hhi <= 1.0 + 1e-9)
      assert(eff <= ns + 1e-6)
    }
  }

  test("sketchSetops: estimates equal exact counts while sketches are unfull, and the estimator branch fires past k") {
    // fixture vocab < k=200 -> every sketch is unfull, estimates EXACT
    val r = SparkEntry.queries("llm_sketch_setops")(spark, sfDir).collect()(0)
    assert(r.getInt(0) == 200)
    assert(r.getDouble(1) == r.getLong(2).toDouble, "nd_a_est != exact")
    assert(r.getDouble(3) == r.getLong(4).toDouble, "nd_b_est != exact")
    assert(r.getDouble(5) == r.getLong(6).toDouble, "nd_union_est != exact")
    // jaccard over unfull sketches is the exact jaccard
    val j = r.getLong(9).toDouble / r.getLong(6)
    assert(math.abs(r.getDouble(7) - math.floor(j * 1e6 + 0.5) / 1e6) < 1e-9)
    // planted: 1000 distinct words per slice (600 shared) >> k -> the
    // (k-1)/theta branch must fire and land within 15% of truth
    import spark.implicits._
    val docs = (0 until 2).map { sl =>
      val ws = (0 until 600).map(i => s"shared$i") ++
        (0 until 400).map(i => s"only${sl}_$i")
      (sl.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val e = graft.queries.CorpusStats.sketchSetopsOf(docs).collect()(0)
    assert(e.getLong(2) == 1000L && e.getLong(6) == 1400L &&
      e.getLong(9) == 600L)
    assert(e.getDouble(1) != 1000.0, "estimator branch did not fire")
    // KMV RSE at k=200 is ~1/sqrt(k) ~ 7%; this fixed md5 draw lands at
    // +17.5% on slice A (~2.5 sigma) — bound at ~3.5 sigma so the test
    // pins the estimator fired and is sane, not the luck of one draw
    assert(math.abs(e.getDouble(1) - 1000) / 1000.0 < 0.25, s"nd_a ${e.getDouble(1)}")
    assert(math.abs(e.getDouble(5) - 1400) / 1400.0 < 0.25, s"nd_u ${e.getDouble(5)}")
    assert(math.abs(e.getDouble(8) - 600) / 600.0 < 0.40, s"nd_i ${e.getDouble(8)}")
  }

  test("rakeKeywords: planted stopword-delimited phrases score by RAKE degree/freq") {
    import spark.implicits._
    // "big data" appears twice (once via 'the' boundary), "fast scan" once;
    // stopwords never enter candidates
    val docs = Seq(
      "big data of fast scan",
      "the big data").toDF("text")
    val got = graft.queries.LmStats.rakeKeywordsOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // word stats: big(freq 2, deg 4), data(2, 4), fast(1, 2), scan(1, 2)
    // scores: big 2.0, data 2.0, fast 2.0, scan 2.0
    // phrases: "big data" score 4.0 occ 2; "fast scan" score 4.0 occ 1
    assert(got.toSet == Set(
      ("big data", 2L, 2L, 4.0), ("fast scan", 2L, 1L, 4.0)))
    // tiebreak: equal score orders by phrase asc
    assert(got.head._1 == "big data")
  }

  test("codeDetect: symbol- and keyword-heavy text flags, prose does not") {
    import spark.implicits._
    val docs = Seq(
      ("codey", "def f(x) { return x; } class y import z"),
      ("prose", "the quick brown fox jumps over the lazy dog again")
    ).toDF("source", "text")
    val got = graft.queries.Quality.codeDetectOf(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got("codey") == ((1L, 1.0)), s"code doc must flag: $got")
    assert(got("prose") == ((0L, 0.0)), s"prose must not flag: $got")
    // and the fixture replay stays internally consistent
    val fx = SparkEntry.queries("llm_code_detect")(spark, sfDir).collect()
    fx.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("topicMix: argmax tiebreaks on topic asc, unmatched docs land in 'other'") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "join scan row table"),   // relational 2 = storage 2 -> tie -> 'relational' (asc)
      (2L, "s", "customer customer"),     // no lexicon hits -> other
      (3L, "s", "hash hash join")         // execution 2 > relational 1
    ).toDF("doc_id", "source", "text")
    val got = graft.queries.Quality.topicMixOf(docs).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSet == Set(("execution", 1L), ("other", 1L), ("relational", 1L)),
      s"got ${got.toSeq}")
    // fixture: shares sum to 1 per source
    val fx = SparkEntry.queries("llm_topic_mix")(spark, sfDir).collect()
      .groupBy(_.getString(0))
    fx.values.foreach { rs =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    }
  }

  test("lmPerplexity: exact replay of the interpolated bigram scoring") {
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val bigs = texts.flatMap { case (id, ws) =>
      if (ws.length < 2) Seq.empty
      else ws.zip(ws.tail).map(p => (id, p._1, p._2)) }
    val c12 = bigs.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toLong).toMap
    val c1 = bigs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cu = bigs.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val bt = bigs.length.toLong
    val want = bigs.groupBy(_._1).map { case (id, bs) =>
      val hq = bs.map { case (_, w1, w2) =>
        val p = 0.9 * c12((w1, w2)).toDouble / c1(w1) +
          0.1 * cu(w2).toDouble / bt
        math.floor(-math.log(p) * 1e9 + 0.5).toLong
      }.sum / 1e9
      val n = bs.length.toLong
      id -> ((n, q(hq / n, 1e6), q(math.exp(hq / n), 1e6)))
    }
    val got = SparkEntry.queries("llm_lm_perplexity")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(got == want)
    // perplexity bounded by vocab-ish range on a closed corpus
    assert(got.values.forall { case (_, ce, ppl) => ce > 0 && ppl > 1.0 })
  }

  test("ngramContainment: an embedded sub-document flags where Jaccard cannot") {
    import spark.implicits._
    // doc 2 is a verbatim 6-word prefix of doc 1 (5 shared bigrams, 19
    // total in doc 1): containment(2->1) = 1.0 while jaccard = 5/19
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, (1 to 6).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val hashed = graft.queries.Dedup.hashedWordsOf(docs)
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = graft.queries.Dedup.ngramContainmentFromHashed(hashed, pairs)
      .collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((19L, 5L, 5L)),
      s"sizes: $r")
    assert(r.getDouble(6) == 1.0, s"cont_b must be 1.0: $r") // B inside A
    assert(r.getDouble(7) < 0.5 && r.getBoolean(8),
      s"embedded flag must fire at high containment / low jaccard: $r")
    // registered query replays the full LSH->containment chain
    val fx = SparkEntry.queries("llm_ngram_containment")(spark, sfDir).collect()
    fx.foreach { row =>
      val (na, nb, ni) = (row.getLong(2), row.getLong(3), row.getLong(4))
      assert(ni <= math.min(na, nb), s"intersection bound: $row")
      assert(row.getDouble(7) <= math.min(row.getDouble(5), row.getDouble(6))
        + 1e-9, s"jaccard <= min containment: $row")
    }
  }

  test("dedupThresholdCurve: counts agree with the verified-pair frame and decrease monotonically") {
    val pairs = SparkEntry.queries("llm_ngram_jaccard")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = SparkEntry.queries("llm_dedup_threshold_curve")(spark, sfDir)
      .collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(0.5, 0.6, 0.7, 0.8, 0.9))
    got.foreach { case (t, (np, nd)) =>
      val q = pairs.filter(_._3 >= t)
      assert(np == q.length, s"pairs at $t")
      assert(nd == q.flatMap(p => Seq(p._1, p._2)).distinct.length,
        s"docs at $t")
    }
    // monotone: raising the cut can only shrink the dup mass
    val byT = got.toSeq.sortBy(_._1).map(_._2)
    assert(byT.zip(byT.tail).forall { case ((p1, d1), (p2, d2)) =>
      p2 <= p1 && d2 <= d1 })
  }

  test("jsDivergence: planted slices hit closed-form values; fixture row replays exactly") {
    import spark.implicits._
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def q9l(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    // identical distributions -> JS = 0
    val same = Seq((0L, "x y"), (1L, "x y")).toDF("doc_id", "text")
    val r0 = graft.queries.CorpusStats.jsDivergenceOf(same).collect()(0)
    assert(r0.getDouble(3) == 0.0 && r0.getDouble(4) == 0.0)
    // disjoint vocab -> JS = ln 2 (the upper bound), js_norm = 1
    val disj = Seq((0L, "x x"), (1L, "y y")).toDF("doc_id", "text")
    val r1 = graft.queries.CorpusStats.jsDivergenceOf(disj).collect()(0)
    assert(math.abs(r1.getDouble(3) - math.log(2.0)) < 1e-6)
    assert(math.abs(r1.getDouble(4) - 1.0) < 1e-6)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((1L, 1L, 0L)))
    // fixture: full driver-side replay
    val words = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => ((r.getLong(0) % 2).toInt, w)))
    val byKey = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val na = byKey.collect { case ((0, _), c) => c }.sum
    val nb = byKey.collect { case ((1, _), c) => c }.sum
    val vocab = byKey.keys.map(_._2).toSet
    var sp = 0L; var sq = 0L
    vocab.foreach { w =>
      val ca = byKey.getOrElse((0, w), 0L); val cb = byKey.getOrElse((1, w), 0L)
      val p = ca.toDouble / na; val q = cb.toDouble / nb
      val m = (p + q) / 2
      if (ca > 0) sp += q9l(p * math.log(p / m))
      if (cb > 0) sq += q9l(q * math.log(q / m))
    }
    val js = 0.5 * (sp / 1e9) + 0.5 * (sq / 1e9)
    val fx = SparkEntry.queries("llm_js_divergence")(spark, sfDir).collect()(0)
    assert(fx.getDouble(3) == q6(js))
    assert(fx.getDouble(4) == q6(js / math.log(2.0)))
  }

  test("lengthProfile: exact interpolated per-source percentiles replay") {
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def pct(sorted: Seq[Long], p: Double): Double = {
      val rank = p * (sorted.length - 1)
      val lo = rank.toInt; val frac = rank - lo
      if (lo + 1 < sorted.length)
        sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo).toDouble
    }
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = rows.groupBy(_._1).map { case (src, rs) =>
      val s = rs.map(_._2).sorted
      val mean = rs.map(r =>
        math.floor(r._2.toDouble * 1e6 + 0.5).toLong).sum / 1e6 / rs.length
      src -> ((rs.length.toLong, q6(pct(s, 0.1)), q6(pct(s, 0.5)),
        q6(pct(s, 0.9)), q6(mean)))
    }
    val got = SparkEntry.queries("llm_length_profile")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == want)
    assert(got.values.forall { case (_, a, b, c, _) => a <= b && b <= c })
  }

  test("releaseCaches frees localCheckpoint RDD blocks, not just the CacheManager") {
    // nearDupClusters runs the star-contraction CC, whose per-round
    // checkpoints are RDD-level persists invisible to clearCache() —
    // the r20 leak class. The facade's release must sweep them too.
    Pipeline.nearDupClusters(docs).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "precondition: the CC rounds should have left checkpoint blocks")
    Pipeline.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseCaches left RDD-level blocks behind")
  }

  test("pin caches with one eager count, later actions read the cache, releaseCaches frees it") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    Pipeline.releaseCaches(spark)
    val df = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
    val countJobs = jobsOf(df.count())
    var pinned: org.apache.spark.sql.DataFrame = null
    val pinJobs = jobsOf { pinned = graft.queries.pin(df) }
    // one count, plus the stage job that AQE runs to build the cache
    assert(pinJobs == countJobs + 1, s"pin ran $pinJobs jobs, a count $countJobs")
    val cache = spark.sharedState.cacheManager
    assert(cache.lookupCachedData(pinned.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined, "pin left the frame out of the CacheManager")
    // eager: the next action finds the cache built and runs no build job
    val recount = jobsOf(pinned.count())
    assert(recount == countJobs, s"a count after pin ran $recount jobs, not $countJobs")
    val second = pinned.agg(sum("n_chars"))
    second.collect()
    assert(second.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .isDefined, "a second action did not read the pinned cache")
    Pipeline.releaseCaches(spark)
    assert(cache.isEmpty, "releaseCaches left a pinned frame in the CacheManager")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseCaches left the pinned frame's blocks behind")
  }

  test("wordpieceTokenCount and multimodalFeatures expose the typed cores") {
    assert(Pipeline.wordpieceTokenCount("thing") === 2)
    import spark.implicits._
    val img = {
      val b = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", out); out.toByteArray
    }
    val feats = Pipeline.multimodalFeatures(
      Seq(queries.MmRow(1L, img, "en")).toDS()).collect()
    assert((feats(0).width, feats(0).height) === ((8, 6)))
  }

  test("facade methods return their registry twins' rows") {
    // one row per facade method that no other test calls: the method
    // over the frame and arguments its registered twin passes must give
    // the twin's rows (as a multiset — some twins add an ORDER BY). A
    // forwarder routed to another family's like-named core still
    // compiles; this is where it shows.
    import graft.queries.{Dedup, Vectors}
    def docs = Tables.t(spark, sfDir, "documents")
    def emb = Tables.t(spark, sfDir, "embeddings")
    def docText = docs.select("doc_id", "text")
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "llm_chunk_scrub" -> (() => Pipeline.chunkScrub(docText)),
      "llm_corpus_diff" -> (() => Pipeline.corpusDiff(docText)),
      "llm_quality_calibrate" ->
        (() => Pipeline.qualityCalibrate(docs.select("doc_id", "source", "text"))),
      "llm_heaps_law" -> (() => Pipeline.heapsLaw(docText)),
      "llm_unimax" -> (() => Pipeline.unimax(docs.select("lang", "text"))),
      "llm_bootstrap_ci" -> (() => Pipeline.bootstrapCi(docText)),
      "llm_weighted_sample" -> (() => Pipeline.weightedSample(docs)),
      "llm_url_dedup" -> (() => Pipeline.urlDedup(
        docs.withColumn("url", expr(Dedup.syntheticUrlSql("STRING"))))),
      "llm_suffix_scrub" -> (() => Pipeline.suffixScrub(docText)),
      "llm_lexical_diversity" -> (() => Pipeline.lexicalDiversity(docs)),
      "llm_embed_outliers" -> (() => Pipeline.embedOutliers(emb)),
      "llm_knn_graph" -> (() => Pipeline.knnGraph(emb)),
      "llm_ann_ivfpq" -> { () =>
        val e = Vectors.withNorm(emb.select(col("vec_id"), Vectors.embeddingV))
        Pipeline.ivfPqSearch(e.filter(col("vec_id") >= 20),
          e.filter(col("vec_id") < 20), Vectors.ivfSeeds(e))
      },
      "llm_hard_negatives" -> (() => Pipeline.hardNegatives(emb, _ < 20)),
      "llm_split_leakage" -> (() => Pipeline.splitLeakage(docs)),
      "llm_matryoshka_recall" -> (() => Pipeline.matryoshkaRecall(emb, _ < 20)),
      "llm_score_agreement" -> (() => Pipeline.scoreAgreement(docs)),
      "llm_span_corrupt" -> (() => Pipeline.spanCorrupt(docs)),
      "llm_blocklist_filter" -> (() => Pipeline.blocklistFilter(docs)))
    def bag(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().toSeq.map(_.toString).groupBy(identity).map { case (r, rs) => r -> rs.size }
    try {
      val wrong = cases.flatMap { case (twin, facade) =>
        val got = bag(facade())
        val want = bag(SparkEntry.queries(twin)(spark, sfDir))
        if (got == want) None
        else Some(s"$twin: facade ${got.values.sum} rows vs twin ${want.values.sum}")
      }
      assert(wrong.isEmpty, wrong.mkString("; "))
    } finally Pipeline.releaseCaches(spark)
  }
}
