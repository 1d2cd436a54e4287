package graft

/** Adversarial probes for the r10 corpus-hygiene operators, mirroring
  * DedupScaleProbeSpec: pathological corpora fed through the REAL
  * operator cores (injectable docs frames), not unit shims.
  *
  * The 100 TB pathologies probed:
  * - a verbatim eval-set leak (decontamination's reason to exist) must
  *   score contam_ratio exactly 1.0, a partial leak exactly its prefix
  *   gram count, and a clean doc must not appear;
  * - one "hot" 4-gram shared by EVERY corpus doc must produce output
  *   linear in the corpus (one row per doc), never a pair explosion —
  *   by construction the overlap join is doc × matched-gram, and the
  *   eval side is distinct gram ids;
  * - a single-word boilerplate doc (the classic template page) must max
  *   both repetition metrics and trip the Gopher flag, while an
  *   all-distinct doc scores zero.
  */
class TextQualityProbeSpec extends SparkSpec {
  import spark.implicits._

  private val evalText = (0 until 50).map(i => s"eval$i").mkString(" ")
  private val cleanText = (0 until 50).map(i => s"clean$i").mkString(" ")

  test("contamination: verbatim and partial eval leaks score exactly") {
    val partial = evalText.split(" ").take(10).mkString(" ") + " " + cleanText
    val docs = Seq(
      (0L, evalText),    // the held-out eval doc
      (1000L, evalText), // verbatim leak
      (1001L, cleanText),
      (1002L, partial)   // 10-word eval prefix → 7 shared 4-grams
    ).toDF("doc_id", "text")
    val out = graft.queries.Dedup.contaminationOf(docs, id => id < 100)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1000L, 1002L), s"flagged ${out.keySet}")
    assert(out(1000L).getAs[Double]("contam_ratio") == 1.0)
    assert(out(1000L).getAs[Long]("n_shared") == 47L)
    assert(out(1002L).getAs[Long]("n_shared") == 7L)
  }

  test("contamination: a hot gram in every corpus doc stays linear") {
    val hot = "hot0 hot1 hot2 hot3"
    val docs = (Seq((0L, s"$hot $evalText")) ++
      (1000L until 1500L).map { id =>
        (id, s"$hot " + (0 until 20).map(i => s"d${id}w$i").mkString(" "))
      }).toDF("doc_id", "text")
    val out = graft.queries.Dedup.contaminationOf(docs, id => id < 100).collect()
    // one row per corpus doc, each sharing exactly the one hot gram — the
    // bridging grams (hot3 + doc-unique words) differ per doc
    assert(out.length == 500)
    out.foreach(r => assert(r.getAs[Long]("n_shared") == 1L,
      s"doc ${r.getLong(0)} shared ${r.getAs[Long]("n_shared")}"))
  }

  test("repetition: boilerplate maxes the metrics, distinct text scores zero") {
    val docs = Seq(
      (1L, Array.fill(60)("spam").mkString(" ")),
      (2L, (0 until 60).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.queries.Dedup.repetitionOf(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    val spam = out(1L)
    assert(spam.getAs[Boolean]("repetitive"), "boilerplate doc not flagged")
    assert(spam.getAs[Double]("dup_word_frac") > 0.98) // 1 - 1/60
    assert(spam.getAs[Double]("top_bigram_frac") == 1.0)
    val varied = out(2L)
    assert(!varied.getAs[Boolean]("repetitive"))
    assert(varied.getAs[Double]("dup_word_frac") == 0.0)
    assert(varied.getAs[Long]("top_bigram_count") == 1L)
  }

  test("dup-chunks flags the template-header doc whole-doc dedup misses") {
    val header = (0 until 20).map(i => s"tmpl$i").mkString(" ")
    def uniq(id: Long) = (0 until 20).map(i => s"u${id}w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$header ${uniq(1)}"),  // 50% template → flagged
      (2L, s"$header ${uniq(2)}"),  // 50% template → flagged
      (3L, s"${uniq(3)} ${uniq(30)}"), // fully unique → clean
      (4L, s"$header"),             // pure template → frac 1.0
      (5L, s"$header")
    ).toDF("doc_id", "text")
    val out = graft.queries.Dedup.dupChunksOf(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("dup_heavy") &&
      out(1L).getAs[Double]("dup_chunk_frac") == 0.5)
    assert(out(2L).getAs[Boolean]("dup_heavy"))
    assert(!out(3L).getAs[Boolean]("dup_heavy") &&
      out(3L).getAs[Long]("n_dup_chunks") == 0L)
    assert(out(4L).getAs[Double]("dup_chunk_frac") == 1.0)
    // whole-doc near-dedup would NOT pair docs 1 and 2: their 3-shingle
    // Jaccard is < 0.5 (only the header shingles are shared)
  }

  test("repetition and contamination exclude docs below the gram width") {
    val docs = Seq((1L, "solo"), (2L, "two words"),
      (3L, "three word doc"), (4L, "four word doc here")).toDF("doc_id", "text")
    assert(graft.queries.Dedup.repetitionOf(docs)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    // docs 1-3 are under 4 words: no grams on either side, no output
    val contam = graft.queries.Dedup.contaminationOf(docs, id => id === 4L)
    assert(contam.collect().isEmpty)
  }

  test("Kneser-Ney bigram model: hand-checked probabilities + unit mass") {
    // corpus bigrams: (a,b):2 (b,a):3 (a,c):1 (c,a):1 -> B=4 types.
    // contexts: c(a·)=3 N1+(a·)=2; c(b·)=3 N1+(b·)=1; c(c·)=1 N1+(c·)=1.
    // continuations: N1+(·a)=2, N1+(·b)=1, N1+(·c)=1.
    val docs = Seq((1L, "a b a b a c"), (2L, "b a"), (3L, "c a"))
      .toDF("doc_id", "text")
    val rows = graft.queries.LmStats.lmKnOf(docs).collect()
    val p = rows.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Double]("p_kn")).toMap
    assert(math.abs(p(("a", "b")) - 0.541667) < 1e-6) // (2-.75)/3+.75·(2/3)·(1/4)
    assert(math.abs(p(("a", "c")) - 0.208333) < 1e-6) // (1-.75)/3+.75·(2/3)·(1/4)
    assert(math.abs(p(("b", "a")) - 0.875) < 1e-6)    // (3-.75)/3+.75·(1/3)·(2/4)
    assert(math.abs(p(("c", "a")) - 0.625) < 1e-6)    // (1-.75)/1+.75·(1/1)·(2/4)
    // full-vocab unit mass: Σ_observed P + λ(w1)·Σ_unseen Pcont = 1,
    // λ(w1) = D·N1+(w1·)/c(w1·), Pcont(w) = N1+(·w)/B
    val lambda = Map("a" -> 0.75 * 2 / 3, "b" -> 0.75 * 1 / 3, "c" -> 0.75)
    val pcont = Map("a" -> 2.0 / 4, "b" -> 1.0 / 4, "c" -> 1.0 / 4)
    for (w1 <- Seq("a", "b", "c")) {
      val seen = Seq("a", "b", "c").filter(w2 => p.contains((w1, w2)))
      val mass = seen.map(w2 => p((w1, w2))).sum +
        lambda(w1) * (pcont.values.sum - seen.map(pcont).sum)
      assert(math.abs(mass - 1.0) < 1e-4, s"context '$w1' mass $mass")
    }
  }

  test("CDC chunking re-aligns after an insertion; fixed windows do not") {
    // the CDC contract: boundaries depend only on local content, so a
    // 3-word insertion at the head desynchronizes at most the chunk(s)
    // spanning it — everything after the first shared boundary matches
    // verbatim. Fixed 20-word windows shift EVERY downstream chunk.
    val body = (1 to 200).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, body), (2L, "inserted words here " + body))
      .toDF("doc_id", "text")
    val cdc = graft.queries.Dedup.cdcChunksOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = cdc(1L)
    assert(d1.getAs[Long]("n_chunks") >= 5, "mod-16 boundaries must fire")
    assert(d1.getAs[Long]("n_dup_chunks") >= d1.getAs[Long]("n_chunks") - 1,
      s"CDC lost alignment: ${d1}")
    // the fixed-window operator on the same pair finds nothing
    val fixed = graft.queries.Dedup.dupChunksOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup_chunks")).toMap
    assert(fixed(1L) == 0L)
  }

  test("ngram novelty: duplicate contributes zero, fresh doc full") {
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val nv = graft.queries.Dedup.ngramNoveltyOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
    assert(nv == Map(1L -> 1.0, 2L -> 0.0, 3L -> 1.0))
  }

  test("minhash calibration emits sane one-row error stats") {
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, template), (2L, template + " tail"),
      (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.queries.Dedup.minhashCalibrationOf(docs).collect().head
    assert(r.getLong(0) >= 1L) // the planted near-dup pair is a candidate
    val mae = r.getAs[Double]("mae")
    assert(mae >= 0.0 && mae <= 1.0)
    // est and exact agree on the planted near-dup at the 0.5 threshold
    assert(r.getAs[Long]("both_pos") >= 1L)
  }

  test("knn classify: clean clusters score 1.0, the mislabeled one dips") {
    // two orthogonal clusters, labels = cluster — except vec 0 (an e1
    // vector) carries label 1. Every prediction is the local majority,
    // so class 0 stays perfect and class 1 loses exactly the planted
    // noise vector: acc 10/11.
    def v(axis: Int, i: Long): Seq[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f
      a(axis + 2) = 1e-6f * (i % 7); a.toSeq
    }
    val emb = ((0L until 10L).map(i =>
      (i, v(0, i), if (i == 0L) 1 else 0)) ++
      (10L until 20L).map(i => (i, v(1, i), 1)))
      .toDF("vec_id", "embedding", "label")
    val acc = graft.queries.Vectors.knnClassifyOf(emb, k = 3, cells = 1)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("acc")).toMap
    assert(acc(0) == 1.0)
    assert(math.abs(acc(1) - 10.0 / 11) < 1e-4)
  }

  test("split leakage: a near-dup pair straddling the split lands in train-val") {
    // pick real ids on each side of the md5-bucket split rule
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16) % 100
    }
    val valId = (0L to 2000L).find(bucket(_) >= 95).get
    val trainId = (0L to 2000L).find(bucket(_) < 95).get
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((trainId, template), (valId, template + " tail"),
      (9999L, (1 to 30).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = graft.queries.Dedup.splitLeakageOf(docs).collect()
    val tv = rows.find(_.getString(0) == "train-val")
    assert(tv.isDefined, s"no train-val row in ${rows.mkString(", ")}")
    assert(tv.get.getAs[Long]("n_neardup") >= 1L)
    assert(tv.get.getAs[Double]("max_jac") > 0.9)
  }

  test("hard negatives: planted confusable vectors surface with the margin sign") {
    // Cluster A = e1 / label 0 (ids 2-9), cluster B = e2 / label 1
    // (ids 10-19), queries = ids 0 (e1, label 0) and 1 (e2 but LABEL 0 —
    // a mislabeled/confusable query). id 10 is planted near e1 with
    // label 1: the textbook hard negative.
    def e(axis: Int, i: Long): Seq[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f
      a(axis + 2) = 1e-6f * (i % 7); a.toSeq
    }
    val hard = Seq(0.9f, 0.1f, 0.0f, 0.0f) // close to e1, labeled 1
    val emb = (Seq(
      (0L, e(0, 0), 0), (1L, e(1, 1), 0), (10L, hard, 1)) ++
      (2L to 9L).map(i => (i, e(0, i), 0)) ++
      (11L to 19L).map(i => (i, e(1, i), 1)))
      .toDF("vec_id", "embedding", "label")
    val rows = graft.queries.Vectors.hardNegativesOf(emb, _ < 2).collect()
    val byQ = rows.groupBy(_.getLong(0))
    // q0: positive is an e1 neighbor; the planted near-e1 wrong-label
    // vector outranks every true e2 negative, and the margin stays
    // positive (pos cos ~1 > hard-neg cos ~0.994) but far below the
    // easy-negative margins
    val q0 = byQ(0L).sortBy(_.getInt(3))
    assert(q0.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    assert(q0.head.getLong(4) == 10L, "planted hard negative must rank first")
    val m0 = q0.map(_.getAs[Double]("margin"))
    assert(m0.forall(_ > 0.0) && m0.head < m0.last,
      s"hard-negative margin should be smallest: $m0")
    // q1 (mislabeled query): its best same-label candidate is orthogonal
    // while its best wrong-label candidate is a near-copy — the negative
    // margin is exactly the confusable-query signal
    assert(byQ(1L).minBy(_.getInt(3)).getAs[Double]("margin") < 0.0)
  }

  test("matryoshka recall: prefix-coded queries hold 1.0, tail-coded drop to 0") {
    // 20-dim vectors, truncation keeps dims 1-16. Group A (ids 20-24):
    // prefix dim0 — q0's full ranking survives truncation. Groups B/C
    // share prefix dim2 and differ ONLY in tail dims: q1 (tail dim17)
    // full-ranks B (ids 40-44, matching tail) over C (ids 30-34), but
    // truncation collapses B and C into one tie broken by vec_id — the
    // top-5 becomes C and recall drops to 0.
    def vec(prefixAxis: Int, tailAxis: Int): Seq[Float] = {
      val a = Array.fill(20)(0.0f)
      a(prefixAxis) = 1.0f
      if (tailAxis >= 0) a(tailAxis) = 1.0f
      a.toSeq
    }
    val emb = (Seq((0L, vec(0, -1)), (1L, vec(2, 17))) ++
      (20L to 24L).map(i => (i, vec(0, -1))) ++
      (30L to 34L).map(i => (i, vec(2, 18))) ++
      (40L to 44L).map(i => (i, vec(2, 17))))
      .toDF("vec_id", "embedding")
    val got = graft.queries.Vectors.matryoshkaRecallOf(emb, _ < 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("recall_at_k")).toMap
    assert(got == Map(0L -> 1.0, 1L -> 0.0))
  }

  test("score agreement: tied signals give rho 1, reversed orders give -1") {
    // identical docs: both signals tie everywhere, both rankings fall
    // back to the doc_id tie-break -> d = 0 for every doc, rho = 1
    val same = (1L to 4L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val r1 = graft.queries.Quality.scoreAgreementOf(same).collect().head
    assert(r1.getLong(0) == 4L && r1.getLong(1) == 0L)
    assert(r1.getAs[Double]("rho") == 1.0)
    // disjoint-vocab distinct words, every count 1 -> lm bits tie (rank
    // = doc_id order) while quality's length term ranks by word count;
    // doc_ids assigned longest-first make the orders exactly opposite
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val rev = Seq((1L, words("a", 30)), (2L, words("b", 20)),
      (3L, words("c", 10))).toDF("doc_id", "text")
    val r2 = graft.queries.Quality.scoreAgreementOf(rev).collect().head
    assert(r2.getLong(0) == 3L && r2.getLong(1) == 8L,
      s"expected full reversal, got sum_d2=${r2.getLong(1)}")
    assert(r2.getAs[Double]("rho") == -1.0)
  }

  test("blocklist filter: the double gate separates mention from concentration") {
    val filler = (1 to 99).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"slow $filler"),      // 1 hit / 100 words = 1% -> keep
      (2L, "slow day"),           // 1 hit / 2 words = 50% -> concentration fails
      (3L, s"slow crash $filler"),// 2 hits -> count gate fails
      (4L, filler))               // clean -> keep
      .toDF("doc_id", "text")
    val got = graft.queries.Quality.blocklistOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("span corruption: substituting targets back reconstructs the original") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") < 50)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = graft.queries.Sampling.spanCorruptOf(docs).collect()
    assert(rows.length == texts.size)
    assert(rows.exists(_.getLong(2) > 0), "no masking happened at 15%")
    rows.foreach { r =>
      val id = r.getLong(0)
      val input = r.getAs[String]("input")
      val target = r.getAs[String]("target")
      val spans = target.split("(?=<extra_id_)").filter(_.nonEmpty).map { p =>
        val toks = p.trim.split(" ")
        toks.head -> toks.tail.mkString(" ")
      }.toMap
      val rebuilt = input.split(" ")
        .map(t => if (t.startsWith("<extra_id_")) spans(t) else t)
        .filter(_.nonEmpty).mkString(" ")
      assert(rebuilt == texts(id), s"doc $id failed reconstruction")
    }
  }

  test("fim: PSM segments reorder back to the original text") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y"), (3L, "one two three"))
      .toDF("doc_id", "text")
    val rows = graft.queries.Sampling.fimOf(docs).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // 2-word doc passes through unsplit
    assert(!byId(2L).getAs[Boolean]("is_split"))
    assert(byId(2L).getAs[String]("psm") == "x y")
    Seq(1L, 3L).foreach { id =>
      val r = byId(id)
      assert(r.getAs[Boolean]("is_split"))
      val psm = r.getAs[String]("psm")
      val pre = psm.substring(psm.indexOf("<PRE> ") + 6, psm.indexOf(" <SUF>"))
      val suf = psm.substring(psm.indexOf("<SUF> ") + 6, psm.indexOf(" <MID>"))
      val mid = psm.substring(psm.indexOf("<MID> ") + 6)
      val original = docs.collect().find(_.getLong(0) == id).get.getString(1)
      assert(s"$pre $mid $suf" == original, s"doc $id: $psm")
      // cut points honor 1 <= p1 < p2 <= n-1
      val (p1, p2, n) = (r.getLong(2), r.getLong(3), r.getInt(1).toLong)
      assert(p1 >= 1 && p1 < p2 && p2 <= n - 1)
    }
  }

  test("lexical diversity: hand-computed TTR/hapax/Yule's K") {
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = graft.queries.LmStats.lexicalDiversityOf(docs).collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 1L)
    assert(r.getAs[Double]("ttr") == 0.5)
    assert(r.getAs[Double]("hapax_frac") == 0.5)
    // K = 10^4 · (Σc² − N)/N² = 10^4 · (9 + 1 − 4)/16 = 3750
    assert(r.getAs[Double]("yules_k") == 3750.0)
  }

  test("embed outliers: the orthogonal vector is its cell's outlier") {
    import org.apache.spark.sql.functions.col
    // 19 copies of e1 (cos 1 to any e1-direction centroid) + one e2
    // (cos 0): with k = 1 every vector shares a cell; p05 interpolates
    // between the 0 and the 1s, so exactly the orthogonal one flags
    val emb = ((0L until 19L).map(i => (i, Seq(1.0f, 0.0f))) :+
      (19L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = graft.queries.Vectors.embedOutliersOf(emb, k = 1).collect()
    // the k=1 seed is the md5-min vec_id = 6 (an e1 vector) — pin that
    // so a fixture-id reshuffle can't silently make the OUTLIER the
    // centroid and vacuously pass
    assert(out.forall(_.getAs[Long]("cell") == 6L))
    val flagged = out.filter(_.getAs[Boolean]("is_outlier")).map(_.getLong(0))
    assert(flagged.toSeq == Seq(19L))
    assert(out.count(_.getAs[Double]("cos_c") == 1.0) == 19)
  }

  test("readability battery on a hand-countable doc") {
    val docs = Seq((1L, "Hello world. Nice day!"), (2L, "")).toDF("doc_id", "text")
    val r = graft.queries.Quality.readabilityOf(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    val d1 = r(1L)
    assert(d1.getInt(1) == 2, "sentences") // "Hello world" / " Nice day"
    assert(d1.getInt(2) == 4, "words")
    // he-llo=2, world=1, ni-ce=2, day=1 vowel-groups -> 6 syllables
    assert(d1.getLong(3) == 6L, "syllables")
    // FRE = 206.835 - 1.015*2 - 84.6*1.5 = 77.905
    assert(math.abs(d1.getAs[Double]("fre") - 77.905) < 1e-9)
    // FKGL = 0.39*2 + 11.8*1.5 - 15.59 = 2.89
    assert(math.abs(d1.getAs[Double]("fkgl") - 2.89) < 1e-9)
    // empty doc: zero counts, null scores
    val d2 = r(2L)
    assert(d2.getInt(2) == 0 && d2.isNullAt(4) && d2.isNullAt(5))
  }
}
