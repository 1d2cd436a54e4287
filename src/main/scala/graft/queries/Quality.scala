package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2.9 document-quality filters and scorers: the heuristic quality
  * score ([[qualityCol]] and its DuckDB twin `qualitySql`), Gopher
  * rules, CCNet perplexity buckets, DSIR and RHO selection, the linear
  * quality classifier and its conformal calibration, code and topic
  * detection, language ID, normalization, HTML extraction, PII scrubbing,
  * readability and blocklist filtering.
  */
object Quality {
  import LmStats.{bucketedWords, lmAvgBitsSql, lmBigramOf, lmBitsCtes, lmQualityOf, vocabBucket,
    vocabBucketSql, wordBits}

  /** Quality-signal agreement — Spearman rank correlation between the
    * heuristic composite quality score and the LM-frequency surprise
    * (the "do my two selection signals agree, or is one of them
    * noise?" audit every multi-signal filtering pipeline owes itself;
    * CCNet §5 correlates its perplexity buckets against downstream
    * quality the same way): `ρ = 1 − 6·Σd²/(n(n²−1))` over ranks with
    * a doc_id tie-break (a deterministic total order — not the
    * tie-averaged textbook variant; documented, and identical in both
    * engines). Ranks and Σd² are exact integers, so ρ is one quantized
    * division — bit-exact.
    *
    * Scale shape: both signals are existing per-doc projections/aggs;
    * ranking is the [[decomposedRank]] bucket decomposition (no global
    * window); the final agg is one row. The oracle derives the SAME
    * ranks with a plain global row_number — an independent derivation,
    * so a decomposition bug cannot hide. */
  private[graft] def scoreAgreementOf(docs: DataFrame): DataFrame = {
    val q1 = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        floor(qualityCol(col("ws")) * 1e6 + lit(0.5)).cast("long").as("sq"))
    val q2 = lmQualityOf(docs).select(col("doc_id"),
      floor(col("avg_bits") * 1e6 + lit(0.5)).cast("long").as("sq"))
    decomposedRank(q1).withColumnRenamed("rnk", "r1")
      .join(decomposedRank(q2).withColumnRenamed("rnk", "r2"), "doc_id")
      .select((col("r1") - col("r2")).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        dround(lit(1.0) - (lit(6.0) * col("sum_d2")) /
          (col("n") * (col("n") * col("n") - lit(1))), 6).as("rho"))
  }

  val llmScoreAgreement: Q = (s, dir) =>
    scoreAgreementOf(Tables.t(s, dir, "documents"))

  /** Blocklist-lexicon document filter (the UT1-blocklist stage of
    * RefinedWeb/FineWeb-style pipelines — Penedo et al. 2023 §3.1 filter
    * on banned-domain/term lexicons; distinct from [[gopherRulesOf]]'s
    * statistical rules: this one is pure LIST MEMBERSHIP against a
    * curated lexicon the caller owns): per-doc hit count and ratio, keep
    * iff hits < 2 AND ratio ≤ 2% (the double gate: one incidental
    * mention passes, concentration fails).
    *
    * Scale shape: shuffle-free per-row projection; the lexicon is a
    * plan-time literal (a real lexicon is ~10⁴ terms — still literal /
    * broadcast-sized at any corpus scale). The split-words alias is
    * materialized once (non-cheap alias, CollapseProject keeps it). */
  private[graft] val demoBlockTerms = Seq("slow", "crash", "breach")

  private[graft] def blocklistOf(docs: DataFrame,
      terms: Seq[String] = demoBlockTerms): DataFrame = {
    val ratio = dround(col("n_hits").cast("double") / col("n_words"), 6)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        size(filter(col("ws"), w => w.isin(terms: _*))).as("n_hits"))
      .select(col("doc_id"), col("n_words"), col("n_hits"),
        ratio.as("hit_ratio"),
        (col("n_hits") < 2 && ratio <= lit(0.02)).as("keep"))
  }

  val llmBlocklistFilter: Q = (s, dir) =>
    blocklistOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  private val stopEn = Seq("the", "a", "and", "of", "to")

  private val stopMarkers: Map[String, Seq[String]] = Map(
    "en" -> stopEn,
    "q" -> Seq("query", "table", "scan"),
    "j" -> Seq("join", "merge", "hash"))

  /** Heuristic language/topic ID: marker-set hit counts, argmax with
    * lexicographic tie-break (n-gram-heuristic shape from the brief). */
  val llmLangId: Q = (s, dir) => {
    val words = split(col("text"), " ")
    def hits(ms: Seq[String]) =
      size(array_intersect(words, array(ms.map(lit): _*)))
    val d = Tables.t(s, dir, "documents")
    val scored = d.select(col("doc_id"), col("lang"),
      hits(stopMarkers("en")).as("sc_en"),
      hits(stopMarkers("q")).as("sc_q"),
      hits(stopMarkers("j")).as("sc_j"))
    scored.select(col("doc_id"), col("lang"), col("sc_en"), col("sc_q"), col("sc_j"),
      when(col("sc_en") >= col("sc_q") && col("sc_en") >= col("sc_j"), "en")
        .when(col("sc_q") >= col("sc_j"), "q")
        .otherwise("j").as("predicted"))
      .orderBy("doc_id")
  }

  /** The composite quality score, ONE definition for every consumer —
    * the per-doc filter ([[llmQualityScore]]), the corpus-select
    * manifest, and the per-source stats — with [[qualitySql]] as its
    * DuckDB twin: a weight or stopword change lands everywhere or
    * nowhere. Two entry points: [[qualityExpr]] over precomputed
    * (n_words, stop_hits) columns (for plans that materialize those
    * once across several output columns), [[qualityCol]] over a raw
    * words-array column. */
  private def qualityExpr(nWords: Column, stopHits: Column): Column =
    least(nWords / lit(100.0), lit(1.0)) * 0.5 +
      (lit(1.0) - stopHits * lit(1.0) / nWords) * 0.5

  private[queries] def qualityCol(ws: Column): Column =
    qualityExpr(size(ws), size(filter(ws, w => w.isin(stopEn: _*))))

  /** DuckDB twin of [[qualityCol]] over a text column reference. */
  private[queries] def qualitySql(textRef: String): String = {
    val wsE = s"string_split($textRef, ' ')"
    val stop = stopEn.map("'" + _ + "'").mkString("[", ",", "]")
    s"least(len($wsE) / 100.0, 1.0) * 0.5 + " +
      s"(1.0 - len(list_filter($wsE, w -> list_contains($stop, w))) * 1.0 / len($wsE)) * 0.5"
  }

  /** Quality scoring: length/word/stopword/char-class ratios + composite.
    * The split-words array and the stopword filter are materialized ONCE
    * in their own projection steps (non-cheap aliases, so CollapseProject
    * keeps them); inlining them would re-run split() and the interpreted
    * filter lambda once per referencing output column. */
  val llmQualityScore: Q = (s, dir) => {
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("text"),
        split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("n_chars"), col("text"),
        size(col("ws")).as("n_words"),
        size(filter(col("ws"), w => w.isin(stopEn: _*))).as("stop_hits"))
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        dround(col("n_chars").cast("double") / col("n_words"), 6).as("avg_word_len"),
        dround(col("stop_hits") * lit(1.0) / col("n_words"), 6).as("stop_ratio"),
        regexp_count(col("text"), lit("[aeiou]")).cast("int").as("vowels"),
        dround(qualityExpr(col("n_words"), col("stop_hits")), 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Excess-loss data selection (the RHO-loss idea of Mindermann et
    * al., ICML 2022, instantiated with this engine's two LM scorers):
    * rank docs by uni_bits − bi_bits — the per-word information the
    * CONTEXT model explains that the unigram reference cannot. High
    * gain = structured, learnable text (context genuinely predicts);
    * gain ≈ 0 = word soup or boilerplate whose bigrams are as
    * surprising as its unigrams — the docs a loss-based curator skips.
    * Top-k by quantized gain with doc_id tiebreak.
    *
    * Scale shape: exactly [[lmQualityOf]] + [[lmBigramOf]]'s passes
    * (their persists and broadcasts included) + ONE doc_id equi-join
    * and a TakeOrderedAndProject top-k — no new shuffle class. Docs
    * under 2 words drop with the bigram side's documented semantics.
    * The oracle composes the same shared CTE fragments
    * ([[lmBitsCtes]] + the bigram pair CTEs), reusing the unigram
    * count frame for the pair join — one definition, no drift. */
  private[graft] def rhoSelectOf(docs: DataFrame, topK: Int = 100): DataFrame = {
    val u = lmQualityOf(docs)
      .select(col("doc_id"), col("n_words"), col("avg_bits").as("uni_bits"))
    val b = lmBigramOf(docs)
      .select(col("doc_id"), col("avg_cond_bits").as("bi_bits"))
    u.join(b, "doc_id")
      .select(col("doc_id"), col("n_words"), col("uni_bits"), col("bi_bits"),
        dround(col("uni_bits") - col("bi_bits"), 6).as("gain"))
      .orderBy(col("gain").desc, col("doc_id"))
      .limit(topK)
  }

  val llmRhoSelect: Q = (s, dir) =>
    rhoSelectOf(Tables.t(s, dir, "documents"))

  /** CCNet head/middle/tail corpus partitioning (Wenzek et al.
    * arXiv:1911.00359 §4.3) — the SELECTION step the LM-score family
    * feeds: per LANGUAGE, docs are split into the best/middle/worst
    * thirds by LM score (CCNet keeps "head" for training, drops or
    * down-weights "tail"). The score is [[lmQualityOf]]'s integer
    * bin-length surprise, carried as the exact long
    * `sq = (Σbits · 10^6) div n_words` so every threshold comparison is
    * integer arithmetic — no float quantile interpolation to drift
    * between engines (Spark's `percentile` and DuckDB's `quantile_cont`
    * disagree in the last ulp on interpolated cuts).
    *
    * Scale shape: thresholds come from a per-(lang, sq) HISTOGRAM — a
    * two-phase agg over docs, then a cumulative window over the
    * histogram itself (≤ langs × distinct quantized scores rows, corpus
    * -size-independent), never a per-doc ntile (CCNet's literal
    * per-language sort would single-partition the biggest language at
    * 100 TB). t1/t2 = smallest score whose cumulative count covers
    * ⅓ / ⅔ of the language (integer `cum·3 ≥ n` tests, ties inclusive),
    * broadcast back as a #langs-row table. */
  private[graft] def ccnetBucketsOf(docs: DataFrame): DataFrame = {
    val scored = wordBits(docs)
      .groupBy("doc_id")
      .agg(sum(col("bits")).cast("long").as("sb"), count(lit(1)).as("nw"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("sq", expr("sb * 1000000 DIV nw"))
    val hist = scored.groupBy("lang", "sq").agg(count(lit(1)).as("c"))
    val langW = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val cumW = langW.orderBy("sq")
    val thr = hist
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(langW))
      .groupBy("lang")
      .agg(min(when(col("cum") * 3 >= col("n"), col("sq"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("sq"))).as("t2"))
    scored.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"),
        dround(col("sb").cast("double") / col("nw"), 6).as("avg_bits"),
        when(col("sq") <= col("t1"), lit("head"))
          .when(col("sq") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  val llmCcnetBuckets: Q = (s, dir) =>
    ccnetBucketsOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * arXiv:2302.03169): score every raw doc by how much more likely its
    * words are under the TARGET distribution (here the eval slice
    * `isTarget(doc_id)`, the same split llm_contamination uses) than
    * under the raw corpus — per-word importance log p_t(w) − log p_r(w),
    * summed over occurrences, averaged per doc. Docs with avg > 0 are
    * `selected` (DSIR then resamples proportionally; the deterministic
    * value cut stands in for its Gumbel draw). The cut is STRICT so
    * that a score of exactly 0 — "indistinguishable from the corpus" —
    * does not select. Caveat inherent to add-one smoothing at whole-bit
    * resolution: against a SMALL target, a word that is both
    * target-OOV and globally rare (cr near 1) can score positive
    * (bits(1) − bits(tt) vs bits(2) − bits(tr) with tr ≫ tt), so
    * singleton-heavy noise can be selected when the target corpus is
    * tiny — real DSIR mitigates with hashed feature buckets and a
    * target large enough that tt ≫ smoothing mass; the PipelineSpec
    * composition fixture demonstrates the effect and its remedy.
    *
    * Fixture note: the eval slice is an unbiased sample of the same
    * synthetic distribution, so no raw doc looks STRICTLY more
    * target-like than the corpus — avg_importance spans [−0.35, 0] at
    * sf0.01 and `selected` is correctly all-false there (selecting
    * in-distribution data against an in-distribution target is exactly
    * what DSIR should refuse to do). The positive path is proven on a
    * planted out-of-domain contrast in PipelineSpec.
    *
    * Determinism: all four log2 terms are INTEGER log2 via bin-length
    * (the lm_quality trick — libm-free, bit-exact both engines), so the
    * per-word score is an exact integer and the per-doc mean one exact
    * long sum over a count. Scale shape: words hash into the FIXED
    * 2^16 feature buckets of [[vocabBucket]] — the DSIR paper's own
    * hashed-features mechanism, so the two-sided count table is ≤
    * 65,536 rows at any corpus scale and its broadcast is
    * unconditionally safe (collisions pool counts deterministically on
    * both engines; see the collision note on [[lmQualityOf]]). ONE
    * two-phase bucket-count pass builds both sides' counts
    * (conditional sums on the target flag — not two scans), a second
    * pass scores; per-doc mean is a two-phase agg; the selected flag
    * is a VALUE threshold, not a global rank — no single-partition
    * sort. */
  private[graft] def dsirSelectOf(docs: DataFrame,
      isTarget: Column => Column): DataFrame = {
    val words = bucketedWords(docs)
    // One count pass over the corpus: per-bucket target and raw counts
    // side by side (ct is 0, not null, for target-OOV buckets). Each side
    // tests its own polarity so a NULL isTarget verdict (nullable id
    // column) counts toward NEITHER — the DuckDB CASE does the same.
    val freq = words
      .groupBy("b").agg(
        sum(when(isTarget(col("doc_id")), 1L).otherwise(0L)).as("ct"),
        sum(when(!isTarget(col("doc_id")), 1L).otherwise(0L)).as("cr"))
    val totals = freq.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val bitsOf = (c: Column) => length(bin(c))
    words.filter(!isTarget(col("doc_id")))
      .join(broadcast(freq), "b")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        ((bitsOf(col("ct") + 1) - bitsOf(col("tt"))) -
          (bitsOf(col("cr") + 1) - bitsOf(col("tr")))).as("score"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        dround(sum(col("score")).cast("double") / count(lit(1)), 6).as("avg_importance"))
      .withColumn("selected", col("avg_importance") > 0.0)
  }

  val llmDsirSelect: Q = (s, dir) =>
    dsirSelectOf(Tables.t(s, dir, "documents"), id => id % 97 === 0)
      .orderBy("doc_id")

  /** TRAINED linear quality classifier — the GPT-3/LLaMA-style "train a
    * classifier, score the corpus" selection component (Brown et al.
    * arXiv:2005.14165 Appendix A trains logistic regression on hashed
    * features; fastText's supervised mode is the same linear model).
    * This is the trained counterpart of the heuristic scorers
    * ([[lmQualityOf]], gopher rules): a batch PERCEPTRON over
    * [[vocabBucket]]-hashed unigram counts, labels y = ±1 from the
    * fixture's `lang = 'en'` flag (a language-targeting quality cut).
    * Perceptron, not logistic: its updates are INTEGER sums (no
    * sigmoid/exp — libm transcendentals differ across engines in the
    * last ulp, the llm_tfidf lesson), so training, scoring, and the
    * decision boundary are bit-exact on both engines and the whole
    * train→score pipeline is oracle-checked, not rows-only.
    *
    * Epoch arithmetic: weights start at 0, so epoch 1's update is the
    * full label-weighted count (every doc has y·score = 0, i.e. is
    * misclassified — the standard batch-perceptron step); each later
    * epoch scores docs under the current weights, takes the
    * misclassified set (y·score ≤ 0), and adds Σ y·cnt_f over it.
    *
    * Scale shape: the postings table (doc, feature, cnt) is the one
    * corpus-sized frame; every epoch re-reads the SAME (doc_id, f)
    * groupBy exchange (AQE stage reuse — the BM25 posture, no persist
    * needed over a shuffle) and joins weights as a broadcast ≤ 65,536
    * rows by construction. Per-epoch gradients are two-phase aggs
    * bounded by the feature space, never the corpus; nothing collects
    * to the driver. Epochs are a fixed small constant (3), exactly how
    * a production filter trains (few passes, early stop).
    *
    * Fixture note: the synthetic corpus draws every doc's words from
    * ONE shared 31-word vocabulary and assigns `lang` independently of
    * the text, so no bag-of-words model can beat the base rate there —
    * the oracle checks the training arithmetic, and the planted
    * PipelineSpec corpus (disjoint class vocabularies) pins that the
    * perceptron actually separates separable data at accuracy 1.0. */
  private[graft] def qualityClassifierOf(docs: DataFrame,
      epochs: Int = 3,
      positive: Column = col("lang") === "en"): DataFrame = {
    val labeled = docs.select(col("doc_id"),
      when(positive, 1L).otherwise(-1L).as("y"))
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), vocabBucket(col("w")).as("f"))
      .groupBy("doc_id", "f").agg(count(lit(1)).as("cnt"))
    val w1 = postings.join(labeled, "doc_id")
      .groupBy("f").agg(sum(col("cnt") * col("y")).as("wt"))
    val weights = (2 to epochs).foldLeft(w1) { (w, _) =>
      val scores = postings.join(broadcast(w), "f")
        .groupBy("doc_id").agg(sum(col("cnt") * col("wt")).as("score"))
      val mis = labeled.join(scores, Seq("doc_id"))
        .filter(col("y") * col("score") <= 0)
        .select(col("doc_id"), col("y"))
      val grad = postings.join(mis, "doc_id")
        .groupBy("f").agg(sum(col("cnt") * col("y")).as("g"))
      w.join(grad, Seq("f"), "full")
        .select(col("f"),
          (coalesce(col("wt"), lit(0L)) + coalesce(col("g"), lit(0L))).as("wt"))
    }
    // Final pass: score every doc under the trained weights. Every doc
    // has ≥ 1 posting (split of any string yields ≥ 1 token) and w1
    // covers every corpus feature, so the join is total; `weights` can
    // only grow keys from there (full outer), never lose them.
    val scored = postings.join(broadcast(weights), "f")
      .groupBy("doc_id").agg(sum(col("cnt") * col("wt")).as("score"))
    labeled.join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("y").cast("int").as("y"), col("score"),
        when(col("score") > 0, 1).otherwise(-1).as("pred"))
      .orderBy("doc_id")
  }

  /** Unrolled batch-perceptron pipeline ([[qualityClassifierOf]]) as a
    * reusable CTE chain (ends at `fin(doc_id, score)`; `lab` carries
    * the ±1 labels) — shared by the classifier oracle and the
    * conformal wrapper so the two texts cannot drift. Epoch 1 folds
    * into w1 (zero weights misclassify every doc); each later epoch e
    * appends score/misclassified/gradient/weight CTEs (s_e, m_e, g_e,
    * w_e). Pure integer arithmetic end to end, so the trained weights
    * and every per-doc score are bit-exact across engines. */
  private def qualityClassifierCtes(epochs: Int): String = {
    val later = (2 to epochs).map { e =>
      s"""s$e AS (SELECT doc_id, CAST(SUM(cnt * wt) AS BIGINT) AS score
         |  FROM p JOIN w${e - 1} USING (f) GROUP BY doc_id),
         |m$e AS (SELECT lab.doc_id, lab.y FROM lab JOIN s$e USING (doc_id)
         |  WHERE y * score <= 0),
         |g$e AS (SELECT f, CAST(SUM(cnt * y) AS BIGINT) AS g
         |  FROM p JOIN m$e USING (doc_id) GROUP BY f),
         |w$e AS (SELECT COALESCE(w${e - 1}.f, g$e.f) AS f,
         |  COALESCE(wt, 0) + COALESCE(g, 0) AS wt
         |  FROM w${e - 1} FULL JOIN g$e ON w${e - 1}.f = g$e.f),""".stripMargin
    }.mkString("\n")
    s"""lab AS (SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y FROM documents),
       |p AS (SELECT doc_id, wb AS f, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, $vocabBucketSql AS wb
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |              FROM documents) raw_ws) hashed
       |  GROUP BY doc_id, wb),
       |w1 AS (SELECT f, CAST(SUM(cnt * y) AS BIGINT) AS wt
       |  FROM p JOIN lab USING (doc_id) GROUP BY f),
       |$later
       |fin AS (SELECT doc_id, CAST(SUM(cnt * wt) AS BIGINT) AS score
       |  FROM p JOIN w$epochs USING (f) GROUP BY doc_id)""".stripMargin
  }

  val llmQualityClassifier: Q = (s, dir) =>
    qualityClassifierOf(Tables.t(s, dir, "documents"))

  /** Split-conformal prediction sets over the trained classifier
    * (Vovk et al. 2005; the Angelopoulos & Bates 2021 recipe) — the
    * distribution-free wrapper that turns ANY scorer into one with a
    * finite-sample coverage guarantee: on a held-out calibration split
    * (doc_id % 5 = 0), nonconformity a = −y·score (the signed margin);
    * q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration a (α = 0.1,
    * ties broken by doc_id); an eval doc's prediction SET then
    * contains label y iff −y·score ≤ q̂ — possibly both labels
    * (abstain-shaped uncertainty) or neither. Marginal coverage
    * P(true label ∈ set) ≥ 1−α holds by exchangeability, with no
    * assumption on the classifier at all — the property a filtering
    * pipeline needs before it trusts a learned quality cut.
    *
    * Determinism/scale: classifier scores are exact integer longs (the
    * perceptron's no-transcendentals design), so nonconformity, the
    * order-statistic threshold, and every set-membership comparison
    * are integer-exact in both engines — no quantization anywhere.
    * The threshold is the MULTISET order statistic (min a with
    * count(≤ a) ≥ k), so the only window runs over the groupBy-a
    * distinct-margin frame — never over calibration rows — and q̂
    * rides a 1-row broadcast; everything else is the classifier's own
    * audited shape. */
  private[graft] def conformalOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist rationale: three consumers (cal rank, cal count, eval
    // projection) diverge by FILTERS above the classifier's final
    // exchange, so AQE stage reuse only partially dedups the train
    // pipeline (measured at sf0.1: 3.70 s in-suite unbarriered vs
    // 0.98 s median cold micro with the barrier).
    val scored = qualityClassifierOf(docs).transform(pin)
    // The k-th-smallest calibration nonconformity is computed on the
    // VALUE-level frame (groupBy a → cumulative counts), never by
    // ranking calibration ROWS: a row-level rank window would funnel
    // n/5 corpus rows through one partition (the CCNet-sort
    // anti-pattern), while the multiset order statistic — min a with
    // count(≤ a) ≥ k — is identical and its window runs over the
    // distinct-margin frame only (the drift_ks posture, pinned in
    // PlanSpec).
    val cal = scored.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((-col("y").cast("long") * col("score")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy("a")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kq = cal.withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(cal.agg(sum(col("c")).as("nc"))))
      .filter(col("cum") >= least(expr("((nc + 1) * 9 + 9) DIV 10"),
        col("nc")))
      .agg(min(col("a")).as("qhat"))
    scored.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .crossJoin(broadcast(kq))
      .select(col("doc_id"), col("y"), col("score"), col("qhat"),
        (-col("score") <= col("qhat")).as("in_set_pos"),
        (col("score") <= col("qhat")).as("in_set_neg"),
        ((col("y") === 1 && -col("score") <= col("qhat")) ||
          (col("y") === -1 && col("score") <= col("qhat"))).as("covered"),
        ((-col("score") <= col("qhat")).cast("int")
          + (col("score") <= col("qhat")).cast("int")).as("set_size"))
      .orderBy("doc_id")
  }

  val llmConformal: Q = (s, dir) =>
    conformalOf(Tables.t(s, dir, "documents"))

  /** The complete Gopher document-filter rule battery (Rae et al.,
    * arXiv:2112.11446 Table A1) as one per-row projection — the
    * standard pre-filter every large English corpus pipeline runs
    * before dedup: word-count bounds [50, 100k], mean word length
    * [3, 10], symbol-to-word ratio (# / …) ≤ 0.1, ≤ 10% bullet lines,
    * ≤ 30% ellipsis lines, ≥ 80% words containing an alphabetic
    * character, and ≥ 2 distinct Gopher stopwords present. Every rule
    * is reported individually (per-rule booleans beat an opaque keep
    * bit for pipeline debugging) plus the conjunction. `llm_repetition`
    * carries the battery's other half (Table A1's duplication rules).
    * Shuffle-free: pure per-row array arithmetic; flags compare the
    * ROUNDED ratios so both engines decide identically.
    *
    * Fixture note: the synthetic corpus vocabulary contains exactly one
    * Gopher stopword ("the"), so the ≥ 2-stopword rule — and therefore
    * `keep` — is uniformly false there (the per-rule columns still vary
    * and are what the oracle checks; word-count passes 277/500 at
    * sf0.01). The pass path is proven on a planted corpus in
    * PipelineSpec. This is also why the capstone `llm_corpus_pipeline`
    * does NOT fold this battery in: on this fixture it would empty the
    * manifest, proving nothing about composition. */
  private val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** `minWords`/`minStops` are pipeline configuration (Dolma/DataTrove
    * ship every Table A1 bound as a knob); defaults are the paper's
    * values, which the registered `llm_gopher_rules` uses. The fixture
    * capstone passes fixture-meaningful bounds (see
    * [[llmCorpusPipelineV2]]). */
  private[graft] def gopherRulesOf(docs: DataFrame,
      minWords: Int = 50, minStops: Int = 2): DataFrame = {
    val ws = split(col("text"), " ")
    val lines = split(col("text"), "\n")
    docs
      .select(col("doc_id"), col("text"), ws.as("ws"), lines.as("ls"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        // r22: `aggregate(transform(ws, length), 0, +)` and
        // `size(filter(ws, rlike("[a-zA-Z]")))` — interpreted per-word
        // lambdas — became native kernels (bit-identity arguments at
        // [[graft.functions.TextHashOps.charLenSum]] /
        // [[graft.functions.TextHashOps.countAlphaWords]]; pinned by
        // TextHashExpressionsSpec). The per-LINE bullet/ellipsis filters
        // stay HOFs (a handful of lines per doc).
        dround(call_function("char_len_sum", col("ws"))
          .cast("double") / size(col("ws")), 6).as("mean_word_len"),
        dround(regexp_count(col("text"), lit("#|\\.\\.\\."))
          .cast("double") / size(col("ws")), 6).as("symbol_ratio"),
        dround(size(filter(col("ls"), l => substring(l, 1, 1).isin("-", "*", "•")))
          .cast("double") / size(col("ls")), 6).as("bullet_ratio"),
        dround(size(filter(col("ls"), l => l.endsWith("...")))
          .cast("double") / size(col("ls")), 6).as("ellipsis_ratio"),
        // case-insensitive like the paper: sentence-initial "The" and
        // ALL-CAPS text must count toward both rules
        dround(call_function("count_alpha_words", col("ws"))
          .cast("double") / size(col("ws")), 6).as("alpha_word_ratio"),
        // array_intersect already dedups its result
        size(array_intersect(transform(col("ws"), w => lower(w)),
          array(gopherStops.map(lit): _*))).as("stop_words"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_ratio") <= 0.1 &&
          col("ellipsis_ratio") <= 0.3 &&
          col("alpha_word_ratio") >= 0.8 &&
          col("stop_words") >= minStops)
  }

  /** Shared DuckDB fragments for the Gopher battery (registered oracle
    * + the v2 capstone CTE — one definition, no drift). */
  private[queries] val gopherSplitSql: String =
    """SELECT doc_id, text,
      |    string_split(text, ' ') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM documents""".stripMargin

  private[queries] lazy val gopherRuleColsSql: String =
    s"""CAST(len(ws) AS INT) AS n_words,
       |  ${oRound("CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)", 6)} AS mean_word_len,
       |  ${oRound("CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(ws)", 6)} AS symbol_ratio,
       |  ${oRound("CAST(len(list_filter(ls, l -> list_contains(['-','*','•'], substr(l, 1, 1)))) AS DOUBLE) / len(ls)", 6)} AS bullet_ratio,
       |  ${oRound("CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE) / len(ls)", 6)} AS ellipsis_ratio,
       |  ${oRound("CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(ws)", 6)} AS alpha_word_ratio,
       |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
       |    sw -> list_contains(list_transform(ws, w -> lower(w)), sw))) AS INT) AS stop_words""".stripMargin

  private[queries] def gopherKeepCondSql(minWords: Int, minStops: Int): String =
    s"""n_words >= $minWords AND n_words <= 100000 AND
       |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
       |   symbol_ratio <= 0.1 AND bullet_ratio <= 0.1 AND
       |   ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8 AND
       |   stop_words >= $minStops""".stripMargin

  val llmGopherRules: Q = (s, dir) =>
    gopherRulesOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Per-source score calibration — batch-effect correction before
    * cross-source curation: a threshold on a RAW quality score silently
    * encodes each source's score distribution (a boilerplate-heavy
    * source scores low across the board; filtering at global 0.7 keeps
    * none of its best docs), so mixing/filtering stages want scores
    * made comparable WITHIN source first. Two standard normalizations,
    * emitted side by side per doc: the in-source percent rank (rank
    * normalization — uniform [0,1] per source, the quantile a
    * per-source quota would cut at) and the in-source z-score (moment
    * normalization — preserves shape, exposes outliers).
    *
    * Determinism/scale: the raw score is the proven [[qualityExpr]] /
    * qualitySql pair quantized to 1e-6 longs; per-source moments are
    * exact sums of those longs with the Σq² accumulated in
    * decimal(38,0) (the seq_gini overflow rule — int64 dies at ~9M
    * docs/source); the rank DECOMPOSES to the value frame (the
    * [[conformalOf]] / driftKs posture): groupBy (source, qi) counts,
    * a cumulative below-count window over the per-source DISTINCT-qi
    * frame (bounded by the 1e6-value quantization grain, never by
    * rows — a row-level rank window partitioned on `source` would
    * funnel the dominant source, ~80% of a web corpus, through one
    * WindowExec partition), an equi-join back on (source, qi), and a
    * within-tie row_number partitioned on (source, qi) ordered by
    * doc_id — together exactly rank() over (source | qi, doc_id)
    * since (qi, doc_id) is unique. The #sources-row moment frame
    * rides a broadcast join. Zero-variance sources pin z to 0 (the
    * CASE both engines share). */
  private[graft] def qualityCalibrateOf(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("source"), size(col("ws")).as("n_words"),
        size(filter(col("ws"), w => w.isin(stopEn: _*))).as("stop_hits"))
      .select(col("doc_id"), col("source"),
        floor(qualityExpr(col("n_words"), col("stop_hits")) * 1e6 + lit(0.5))
          .cast("long").as("qi"))
    val stats = scored.groupBy("source").agg(
      count(lit(1)).as("ns"), sum(col("qi")).as("s1"),
      sum((col("qi") * col("qi")).cast("decimal(38,0)")).as("s2"))
    // Value-frame rank decomposition (never a per-source ROW window):
    // below-count over distinct (source, qi) + within-tie row_number.
    val wVal = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("qi")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val below = scored.groupBy("source", "qi").agg(count(lit(1)).as("cv"))
      .withColumn("nbelow", coalesce(sum(col("cv")).over(wVal), lit(0L)))
      .drop("cv")
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "qi").orderBy("doc_id")
    scored.join(below, Seq("source", "qi"))
      .join(broadcast(stats), "source")
      .withColumn("rnk", col("nbelow") + row_number().over(wTie))
      .withColumn("mu", col("s1").cast("double") / 1e6 / col("ns"))
      .withColumn("sd", sqrt(greatest(
        col("s2").cast("double") / 1e12 / col("ns") - col("mu") * col("mu"),
        lit(0.0))))
      .select(col("doc_id"), col("source"),
        dround(col("qi").cast("double") / 1e6, 6).as("quality"),
        dround((col("rnk") - 1).cast("double") /
          greatest(col("ns") - 1, lit(1L)).cast("double"), 6).as("pct_src"),
        when(col("sd") > 0,
          dround((col("qi").cast("double") / 1e6 - col("mu")) / col("sd"), 6))
          .otherwise(lit(0.0)).as("z_src"))
      .orderBy("doc_id")
  }

  val llmQualityCalibrate: Q = (s, dir) =>
    qualityCalibrateOf(Tables.t(s, dir, "documents")
      .select("doc_id", "source", "text"))

  /** Character-n-gram language ID (Cavnar & Trenkle 1994, "N-Gram-Based
    * Text Categorization" — the method fastText-era lang-ID descends
    * from): per-language char-TRIGRAM rank profiles (top 30 by count)
    * built from the corpus's own labels, each doc classified by the
    * OUT-OF-PLACE distance — Σ over the doc's top-30 trigrams of
    * |doc-rank − profile-rank|, absent trigrams costing the max rank
    * 30. The character-level counterpart of the word-list
    * `llm_lang_id` heuristic — all-integer ranks and
    * distances, no probability arithmetic to drift.
    *
    * Scale shape: profiles aggregate to ≤ langs×30 rows (broadcast);
    * doc trigram top-30s are a per-doc window over the (doc, gram)
    * count agg; scoring is doc-top-30 × #langs rows left-joined against
    * the broadcast profile — per-doc work is constant-bounded at any
    * corpus scale. */
  private[graft] def charLangIdOf(docs: DataFrame): DataFrame = {
    val P = 30
    // length >= 3 guard: sequence(1, len-2) is the descending [1, 0]
    // for len = 1 (the lmBigramOf trap)
    // persist barrier: the char-trigram explode is a pure projection
    // (no exchange for AQE reuse to dedup) consumed by BOTH the
    // profile and the doc-top groupBys — unpersisted it scans and
    // re-explodes the whole corpus twice (measured median 3.06 → 1.33 s
    // in-micro at sf0.1, REPEATS=5)
    // r22: the trigram build — `split(text, "")` into a char array plus
    // an interpreted `transform(sequence(1, n-2), i => concat(cs[i],
    // cs[i+1], cs[i+2]))` — became ONE native pass (original formulation,
    // the split-semantics argument and the code-point offset walk at
    // [[graft.functions.TextHashOps.charTrigrams]]; pinned by
    // TextHashExpressionsSpec). Keeps the winning r21 shape (linear
    // per-row work, NO char-stream shuffle — window-lead shuffles every
    // char, substr-over-range is O(len²)/row) minus the interpreted
    // per-element eval and the char-array materialization.
    val grams = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(call_function("char_trigrams", col("text"))).as("g"))
      .transform(pin)
    val profW = org.apache.spark.sql.expressions.Window
      .partitionBy("plang").orderBy(col("c").desc, col("g"))
    val profile = grams.groupBy(col("lang").as("plang"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rl", row_number().over(profW))
      .filter(col("rl") <= P)
      .select("plang", "g", "rl")
    val docW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("c").desc, col("g"))
    val docTop = grams.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"))
      .withColumn("rd", row_number().over(docW))
      .filter(col("rd") <= P)
      .select("doc_id", "g", "rd")
    val langs = docs.select(col("lang").as("plang")).distinct()
    val pickW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("dist"), col("plang"))
    val dists = docTop
      .crossJoin(broadcast(langs))
      .join(broadcast(profile), Seq("plang", "g"), "left")
      .groupBy("doc_id", "plang")
      .agg(sum(coalesce(abs(col("rd") - col("rl")), lit(P))).as("dist"))
      .withColumn("pick", row_number().over(pickW))
      .filter(col("pick") === 1)
    docs.select(col("doc_id"), col("lang"))
      .join(dists.select(col("doc_id"), col("plang").as("predicted"),
        col("dist")), "doc_id")
      .withColumn("correct", col("lang") === col("predicted"))
      .orderBy("doc_id")
  }

  val llmCharngramLangid: Q = (s, dir) =>
    // fanOut: the per-char trigram-concat lambdas explode ~500 chars/doc
    // interpreted; single-task on a single-split scan (r21 profile).
    charLangIdOf(fanOut(Tables.t(s, dir, "documents")))

  /** Unicode + whitespace normalization audit — the corpus-hygiene
    * stage that runs BEFORE any content hash: the same page crawled
    * twice can arrive NFC on one fetch and NFD on the other, and every
    * downstream dedup key ([[contentHashCol]], shingles, fingerprints)
    * then disagrees about bytes that render identically. Chain: UAX#15
    * NFC (the custom codegen [[graft.functions.UnicodeNormalize]]
    * expression — Spark has no built-in normalizer and a UDF would
    * break whole-stage codegen) → strip C0/DEL control chars → collapse
    * whitespace runs → trim. Emits the audit columns a pipeline acts
    * on: before/after lengths, a changed flag, and the md5 of the
    * normalized text (the new dedup key).
    *
    * Scale shape: pure per-row projection — no shuffle at all; the
    * ORDER BY is presentation-only. DuckDB twin: `nfc_normalize`
    * (utf8proc) implements the same UAX#15 algorithm as the JDK's
    * normalizer, so the hash comparison is exact. */
  /** The normalization chain itself (NFC → control strip → whitespace
    * collapse → trim), reusable ahead of any content-hash stage. */
  private[graft] def normTextCol(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        call_function("unicode_normalize", c, lit("NFC")),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\r\\n]+", " "))

  val llmTextNormalize: Q = (s, dir) => {
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), normTextCol(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("text")).as("raw_len"),
        length(col("norm")).as("norm_len"),
        (col("norm") =!= col("text")).as("changed"),
        md5(col("norm")).as("h"))
      .orderBy("doc_id")
  }

  /** Flesch readability battery (Flesch 1948 / Kincaid et al. 1975) —
    * the classic length-complexity quality signals beside
    * [[llmQualityScore]]'s ratio battery: per doc, sentence count
    * (maximal `[.!?]+` runs end sentences; empty segments dropped),
    * word count, a syllable count from the standard vowel-group
    * heuristic (≥1 per word — "rhythm" has no vowel-run hole), and the
    * two derived scores
    *   FRE  = 206.835 − 1.015·(words/sents) − 84.6·(syll/words)
    *   FKGL = 0.39·(words/sents) + 11.8·(syll/words) − 15.59.
    *
    * Scale shape: pure per-row array arithmetic (split → filter →
    * transform → aggregate fold), no shuffle; the counts are exact
    * integers, the scores identical fixed-order IEEE doubles in the
    * DuckDB twin (list_sum over the same per-word greatest). */
  private[graft] def readabilityOf(docs: DataFrame): DataFrame = {
    val sents = filter(split(col("text"), "[.!?]+"),
      x => length(trim(x)) > 0)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val syl = aggregate(
      transform(words, w => greatest(lit(1),
        size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))),
      lit(0L), (acc, x) => acc + x)
    val wps = col("n_words").cast("double") / col("n_sents")
    val spw = col("n_syll").cast("double") / col("n_words")
    docs
      .select(col("doc_id"), size(sents).as("n_sents"),
        size(words).as("n_words"), syl.as("n_syll"))
      .select(col("doc_id"), col("n_sents"), col("n_words"), col("n_syll"),
        when(col("n_sents") > 0 && col("n_words") > 0,
          dround(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4))
          .as("fre"),
        when(col("n_sents") > 0 && col("n_words") > 0,
          dround(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4))
          .as("fkgl"))
  }

  val llmReadability: Q = (s, dir) =>
    readabilityOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** HTML → text extraction of a raw-markup column — the
    * boilerplate-removal stage every web corpus runs before quality /
    * dedup (the deterministic regex analogue of trafilatura/jusText
    * content extraction; model-based block scoring would sit on top of
    * this plumbing). Order matters and is part of the contract:
    * script/style blocks WITH their contents, then comments, then
    * remaining tags, then entity decode (&lt;/&gt;/&quot;/&#39;/&nbsp;
    * before &amp; — the standard double-encoding order), then
    * whitespace collapse. Every pattern is RE2-safe (no backreferences,
    * explicit char classes) so the DuckDB oracle replays the identical
    * chain. Scale shape: pure per-row codegen'd projection, shuffle-free. */
  private[graft] def htmlExtractOf(docs: DataFrame): DataFrame = {
    val noScript = regexp_replace(col("text"),
      lit("(?is)<script[^>]*>.*?</script>"), lit(" "))
    val noStyle = regexp_replace(noScript,
      lit("(?is)<style[^>]*>.*?</style>"), lit(" "))
    val noComment = regexp_replace(noStyle, lit("(?s)<!--.*?-->"), lit(" "))
    val noTag = regexp_replace(noComment, lit("<[^>]+>"), lit(" "))
    val ent = replace(replace(replace(replace(replace(replace(noTag,
      lit("&nbsp;"), lit(" ")),
      lit("&lt;"), lit("<")),
      lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")),
      lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    docs.select(col("doc_id"),
      trim(regexp_replace(ent, lit("[ \\t\\n\\r]+"), lit(" "))).as("clean_text"))
  }

  /** Registered twin of [[htmlExtractOf]]: the fixture corpus is plain
    * text, so the query PLANTS a deterministic HTML wrapper (script +
    * style + comment + tags + entities, parameterized by doc_id) and
    * then extracts — planting and extraction are mirrored in the
    * oracle, so the compare checks the strip semantics end-to-end
    * (the llm_pii_scrub pattern). Output hashes the clean text to keep
    * compared rows small; the exact-text contract is pinned on planted
    * markup in PipelineSpec. */
  val llmHtmlExtract: Q = (s, dir) => {
    val planted = concat(
      lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
        "</script><style>p { margin: 0; }</style></head><body><!-- doc "),
      col("doc_id"),
      lit(" --><h1>Title &amp; "), col("doc_id"),
      lit("</h1><p>"), col("text"),
      lit("</p><br/>&nbsp;&lt;end&gt;</body></html>"))
    htmlExtractOf(Tables.t(s, dir, "documents")
        .select(col("doc_id"), planted.as("text")))
      .select(col("doc_id"),
        length(col("clean_text")).as("clean_n_chars"),
        size(split(col("clean_text"), " ")).as("clean_words"),
        md5(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** PII scrubbing: regex redaction of emails / phone numbers / IPv4
    * addresses, with per-doc redaction counts — the Dolma-style privacy
    * pass (Soldaini et al. 2024 arXiv:2402.00159 §2).
    * The fixture corpus is synthetic word soup with no PII, so the
    * query first PLANTS deterministic PII spans (every doc an email, every
    * 3rd doc a phone, every 2nd an IP) and then scrubs them; planting and
    * scrubbing are mirrored in the oracle, so the compare checks the regex
    * semantics end-to-end. Output carries md5(scrubbed) rather than the
    * full text to keep the compared rows small.
    *
    * Scale shape: pure per-row projection (codegen'd regexp_replace /
    * regexp_extract_all) — embarrassingly parallel, no shuffle. */
  val llmPiiScrub: Q = (s, dir) => {
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phonePat = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    val ipPat = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")))
        .otherwise(lit("")))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      col("planted"), emailPat, "[EMAIL]"), phonePat, "[PHONE]"), ipPat, "[IP]")
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), planted.as("planted"))
      .select(col("doc_id"),
        // regexp_count, not size(regexp_extract_all): same count, no
        // intermediate match-array allocation per row
        regexp_count(col("planted"), lit(emailPat)).as("n_emails"),
        regexp_count(col("planted"), lit(phonePat)).as("n_phones"),
        regexp_count(col("planted"), lit(ipPat)).as("n_ips"),
        md5(scrubbed).as("scrub_hash"))
      .orderBy("doc_id")
  }

  /** Code-vs-prose detection — the corpus-composition audit every
    * pretraining mix tracks (The Stack / StarCoder pipelines filter ON
    * this; a prose corpus quietly absorbing code changes loss curves):
    * a per-doc heuristic score from the symbol-character ratio
    * ({}();=<>[] per char) and the code-keyword token ratio, rolled up
    * per source as the code-like document fraction.
    *
    * Scale shape: pure per-row projections (translate + one lambda
    * filter — no UDF, fully codegen) into one two-phase groupBy(source)
    * rollup; output bounded by #sources.
    *
    * Determinism: both ratios are exact-count divisions quantized at
    * 1e-6; the keyword list is a literal. */
  private[graft] def codeDetectOf(docs: DataFrame, thresh: Double = 0.05)
  : DataFrame = {
    val kws = Seq("def", "class", "import", "return", "function", "var",
      "val", "if", "else", "for", "while", "int", "void", "public",
      "static")
    val kwArr = array(kws.map(lit): _*)
    val scored = docs
      .select(col("source"), col("text"), split(col("text"), " ").as("ws"))
      .select(col("source"),
        (length(col("text"))
          - length(translate(col("text"), "{}();=<>[]", ""))).as("n_sym"),
        length(col("text")).as("n_chars"),
        size(filter(col("ws"), w => array_contains(kwArr, w))).as("n_kw"),
        size(col("ws")).as("n_words"))
      .select(col("source"),
        // zero-denominator guard (r19 ADVICE): an empty text has
        // n_chars = 0 — unguarded, Spark yields NULL (silently dropping
        // the doc from code_docs/avg_score while n_docs still counts it)
        // where DuckDB's IEEE double division yields Infinity; both
        // ratios score 0.0 instead, matching the ngramJaccard/
        // ngramContainment zero-denominator convention. n_words cannot
        // be 0 (split of "" is [""]) but gets the same guard so the
        // builder and oracle never diverge on a degenerate tokenizer.
        dround(when(col("n_chars") === 0, lit(0.0))
            .otherwise(lit(5.0) * col("n_sym") / col("n_chars"))
          + when(col("n_words") === 0, lit(0.0))
            .otherwise(lit(2.0) * col("n_kw") / col("n_words")), 6)
          .as("score"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= thresh, 1L).otherwise(0L)).as("code_docs"),
        davg(col("score"), 6).as("avg_score"))
      .select(col("source"), col("n_docs"), col("code_docs"),
        dround(col("code_docs").cast("double") / col("n_docs"), 6)
          .as("code_frac"),
        dround(col("avg_score"), 6).as("avg_score"))
      .orderBy("source")
  }

  /** Per-doc code-score chain ending in `<sc>(source, score)`
    * ([[codeDetectOf]]'s per-row heuristic). */
  private[queries] def codeScoreCtes(s: String, sc: String): String =
    s"""$s AS (SELECT source,
       |    CAST(length(text) - length(translate(text, '{}();=<>[]', ''))
       |      AS BIGINT) AS n_sym,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      w -> w IN ('def','class','import','return','function','var',
       |        'val','if','else','for','while','int','void','public',
       |        'static'))) AS BIGINT) AS n_kw,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |  FROM documents),
       |$sc AS (SELECT source,
       |    ${oRound("CASE WHEN n_chars = 0 THEN 0.0 ELSE 5.0 * CAST(n_sym AS DOUBLE) / n_chars END + CASE WHEN n_words = 0 THEN 0.0 ELSE 2.0 * CAST(n_kw AS DOUBLE) / n_words END", 6)} AS score
       |  FROM $s)""".stripMargin

  val llmCodeDetect: Q = (s, dir) =>
    codeDetectOf(Tables.t(s, dir, "documents").select("source", "text"))

  /** Lexicon-based topic classification + per-source topic mix — the
    * WebOrganizer/Dolma-style topical-composition audit: each doc's
    * topic is the argmax of lexicon-keyword hits ('other' when nothing
    * matches), rolled up as per-(source, topic) shares. The mixing
    * read: a source whose topic profile shifts between crawls changes
    * the corpus even when its byte share is constant.
    *
    * Scale shape: explode words → broadcast lexicon join → two-phase
    * (doc, topic) count → the argmax is the window-free
    * min(struct(−c, topic)) two-phase agg (the reshaped-boilerplate
    * idiom — no per-doc rank window); unmatched docs rejoin by
    * left-anti equivalent (left join + coalesce). Shares come from a
    * per-source total joined back — all frames past the word join are
    * doc- or (source × topic)-bounded.
    *
    * Determinism: counts are exact; the argmax tiebreak is (hits desc,
    * topic asc) via struct ordering; share quantizes at 1e-6. */
  private[graft] def topicMixOf(docs: DataFrame): DataFrame = {
    val lex: Seq[(String, String)] = Seq(
      "join" -> "relational", "scan" -> "relational",
      "filter" -> "relational", "sort" -> "relational",
      "merge" -> "relational", "group" -> "relational",
      "agg" -> "relational", "query" -> "relational",
      "order" -> "relational",
      "row" -> "storage", "column" -> "storage", "table" -> "storage",
      "batch" -> "storage", "part" -> "storage", "line" -> "storage",
      "key" -> "storage", "value" -> "storage", "data" -> "storage",
      "hash" -> "execution", "vector" -> "execution",
      "stream" -> "execution", "window" -> "execution",
      "spark" -> "execution", "dup" -> "execution",
      "small" -> "scale", "big" -> "scale", "fast" -> "scale",
      "slow" -> "scale")
    val spark = docs.sparkSession
    import spark.implicits._
    val lexDf = lex.toDF("w", "topic")
    val hits = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(lexDf), "w")
      .groupBy("doc_id", "topic").agg(count(lit(1)).as("c"))
    val docTopic = hits
      .groupBy("doc_id")
      .agg(min(struct((-col("c")).as("nc"), col("topic").as("t"))).as("best"))
      .select(col("doc_id"), col("best.t").as("topic"))
    val labeled = docs.select(col("doc_id"), col("source"))
      .join(docTopic, Seq("doc_id"), "left")
      .select(col("source"), coalesce(col("topic"), lit("other")).as("topic"))
    val cells = labeled.groupBy("source", "topic").agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy("source").agg(sum(col("n_docs")).as("n_src"))
    cells.join(broadcast(tot), "source")
      .select(col("source"), col("topic"), col("n_docs"),
        dround(col("n_docs").cast("double") / col("n_src"), 6).as("share"))
      .orderBy("source", "topic")
  }

  /** Lexicon topic-mix chain ending in `<ce>(source, topic, n_docs)` and
    * `<tt>(source, n_src)` ([[topicMixOf]]). */
  private[queries] def topicMixCtes(t: String, hh: String, dt: String, dt2: String,
      lab: String, ce: String, tt: String): String =
    s"""$t AS (SELECT doc_id, CASE w
       |      WHEN 'join' THEN 'relational' WHEN 'scan' THEN 'relational'
       |      WHEN 'filter' THEN 'relational' WHEN 'sort' THEN 'relational'
       |      WHEN 'merge' THEN 'relational' WHEN 'group' THEN 'relational'
       |      WHEN 'agg' THEN 'relational' WHEN 'query' THEN 'relational'
       |      WHEN 'order' THEN 'relational'
       |      WHEN 'row' THEN 'storage' WHEN 'column' THEN 'storage'
       |      WHEN 'table' THEN 'storage' WHEN 'batch' THEN 'storage'
       |      WHEN 'part' THEN 'storage' WHEN 'line' THEN 'storage'
       |      WHEN 'key' THEN 'storage' WHEN 'value' THEN 'storage'
       |      WHEN 'data' THEN 'storage'
       |      WHEN 'hash' THEN 'execution' WHEN 'vector' THEN 'execution'
       |      WHEN 'stream' THEN 'execution' WHEN 'window' THEN 'execution'
       |      WHEN 'spark' THEN 'execution' WHEN 'dup' THEN 'execution'
       |      WHEN 'small' THEN 'scale' WHEN 'big' THEN 'scale'
       |      WHEN 'fast' THEN 'scale' WHEN 'slow' THEN 'scale'
       |      END AS topic
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents) x),
       |$hh AS (SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM $t WHERE topic IS NOT NULL GROUP BY 1, 2),
       |$dt AS (SELECT doc_id, MIN({'nc': -c, 'p': topic}) AS best
       |  FROM $hh GROUP BY 1),
       |$dt2 AS (SELECT doc_id, best.p AS topic FROM $dt),
       |$lab AS (SELECT d.source, COALESCE($dt2.topic, 'other') AS topic
       |  FROM documents d LEFT JOIN $dt2 USING (doc_id)),
       |$ce AS (SELECT source, topic, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM $lab GROUP BY 1, 2),
       |$tt AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src
       |  FROM $ce GROUP BY 1)""".stripMargin

  val llmTopicMix: Q = (s, dir) =>
    topicMixOf(Tables.t(s, dir, "documents").select("doc_id", "source", "text"))

  /** The full classifier oracle: [[qualityClassifierCtes]] + the
    * per-doc (y, score, pred) SELECT. */
  private def qualityClassifierSql(epochs: Int): String =
    s"""WITH ${qualityClassifierCtes(epochs)}
       |SELECT lab.doc_id, CAST(lab.y AS INT) AS y, fin.score,
       |  CASE WHEN fin.score > 0 THEN 1 ELSE -1 END AS pred
       |FROM lab JOIN fin USING (doc_id) ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // Same plant-then-transform pattern as llm_pii_scrub: the wrapper is
    // rebuilt identically, every strip stage mirrored with RE2-safe
    // patterns and explicit 'g' flags (DuckDB replaces first-match-only
    // by default; Spark replaces all).
    QueryDef("llm_html_extract", llmHtmlExtract,
      """WITH raw AS (SELECT doc_id,
        |  '<html><head><script type="text/javascript">var x = 1 < 2;</script><style>p { margin: 0; }</style></head><body><!-- doc ' ||
        |  CAST(doc_id AS VARCHAR) || ' --><h1>Title &amp; ' || CAST(doc_id AS VARCHAR) ||
        |  '</h1><p>' || text || '</p><br/>&nbsp;&lt;end&gt;</body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS h FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(h, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(h, '<[^>]+>', ' ', 'g') AS h FROM s3),
        |s5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(h,
        |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS h FROM s4),
        |c AS (SELECT doc_id, trim(regexp_replace(h, '[ \t\n\r]+', ' ', 'g')) AS ct FROM s5)
        |SELECT doc_id, CAST(length(ct) AS INT) AS clean_n_chars,
        |  CAST(len(string_split(ct, ' ')) AS INT) AS clean_words,
        |  md5(ct) AS clean_hash
        |FROM c ORDER BY doc_id""".stripMargin),
    QueryDef("llm_pii_scrub", llmPiiScrub,
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || CASE WHEN doc_id % 3 = 0
        |           THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |           ELSE '' END
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
        |           ELSE '' END AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(planted, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', 0)) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(planted, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', 0)) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(planted, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', 0)) AS INT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')) AS scrub_hash
        |FROM p ORDER BY doc_id""".stripMargin),
    // Spearman agreement: same two signals (shared qualitySql /
    // lmBitsCtes fragments), ranks via a PLAIN global row_number — the
    // independent derivation of the engine's bucket-decomposed ranking.
    QueryDef("llm_score_agreement", llmScoreAgreement,
      s"""WITH ${lmBitsCtes("ws0", "f0", "t0", "b0")},
         |bb AS (SELECT doc_id,
         |         CAST(FLOOR(($lmAvgBitsSql)*1000000.0+0.5) AS BIGINT) AS sq2
         |       FROM b0 GROUP BY doc_id),
         |qq AS (SELECT doc_id,
         |         CAST(FLOOR((${qualitySql("text")})*1000000.0+0.5) AS BIGINT)
         |           AS sq1
         |       FROM documents),
         |r1 AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY sq1, doc_id) AS r1 FROM qq),
         |r2 AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY sq2, doc_id) AS r2 FROM bb),
         |dd AS (SELECT r1.r1 - r2.r2 AS d FROM r1 JOIN r2 USING (doc_id))
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(d*d) AS BIGINT) AS sum_d2,
         |  ${oRound("1.0 - (6.0*SUM(d*d))/(COUNT(*)*(COUNT(*)*COUNT(*)-1))", 6)}
         |    AS rho
         |FROM dd""".stripMargin),
    // Blocklist filter: same lexicon literal, list membership + the
    // double keep gate on the quantized ratio.
    QueryDef("llm_blocklist_filter", llmBlocklistFilter, {
      val lex = demoBlockTerms.map("'" + _ + "'").mkString("[", ",", "]")
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |h AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
         |        CAST(len(list_filter(ws, w -> list_contains($lex, w)))
         |          AS INT) AS n_hits
         |      FROM b)
         |SELECT doc_id, n_words, n_hits,
         |  ${oRound("CAST(n_hits AS DOUBLE)/n_words", 6)} AS hit_ratio,
         |  (n_hits < 2 AND ${oRound("CAST(n_hits AS DOUBLE)/n_words", 6)} <= 0.02)
         |    AS keep
         |FROM h ORDER BY doc_id""".stripMargin
    }),
    QueryDef("llm_lang_id", llmLangId,
      """SELECT doc_id, lang,
        |CAST(len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['the','a','and','of','to'], x))) AS INT) AS sc_en,
        |CAST(len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['query','table','scan'], x))) AS INT) AS sc_q,
        |CAST(len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['join','merge','hash'], x))) AS INT) AS sc_j,
        |CASE WHEN len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['the','a','and','of','to'], x)))
        |       >= len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['query','table','scan'], x)))
        |      AND len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['the','a','and','of','to'], x)))
        |       >= len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['join','merge','hash'], x)))
        |     THEN 'en'
        |     WHEN len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['query','table','scan'], x)))
        |       >= len(list_filter(list_distinct(string_split(text,' ')), x -> list_contains(['join','merge','hash'], x)))
        |     THEN 'q' ELSE 'j' END AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_quality_score", llmQualityScore,
      s"""SELECT doc_id, n_chars,
         |CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         |${oRound("n_chars * 1.0 / len(string_split(text, ' '))", 6)} AS avg_word_len,
         |${oRound("len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','and','of','to'], w))) * 1.0 / len(string_split(text, ' '))", 6)} AS stop_ratio,
         |CAST(len(regexp_extract_all(text, '[aeiou]')) AS INT) AS vowels,
         |${oRound(qualitySql("text"), 6)} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),
    // CCNet thirds: integer quantized score sq = (Σbits·10^6) // n_words,
    // per-lang histogram cum window, thresholds by cum·3 >= n / >= 2n —
    // all-integer threshold math, no quantile interpolation to drift.
    QueryDef("llm_ccnet_buckets", llmCcnetBuckets,
      s"""WITH ${lmBitsCtes("ws", "f", "t", "b")},
         |sc AS (SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS sb,
         |         CAST(COUNT(*) AS BIGINT) AS nw
         |       FROM b GROUP BY doc_id),
         |sq AS (SELECT s.doc_id, d.lang, s.sb, s.nw,
         |         (s.sb * 1000000) // s.nw AS sq
         |       FROM sc s JOIN documents d USING (doc_id)),
         |h AS (SELECT lang, sq, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM sq GROUP BY lang, sq),
         |cum AS (SELECT lang, sq,
         |          CAST(SUM(c) OVER (PARTITION BY lang ORDER BY sq) AS BIGINT) AS cum,
         |          CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |        FROM h),
         |thr AS (SELECT lang,
         |          MIN(CASE WHEN cum*3 >= n THEN sq END) AS t1,
         |          MIN(CASE WHEN cum*3 >= 2*n THEN sq END) AS t2
         |        FROM cum GROUP BY lang)
         |SELECT q.doc_id, q.lang,
         |  ${oRound("CAST(q.sb AS DOUBLE) / q.nw", 6)} AS avg_bits,
         |  CASE WHEN q.sq <= t.t1 THEN 'head'
         |       WHEN q.sq <= t.t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sq q JOIN thr t USING (lang) ORDER BY q.doc_id""".stripMargin),
    // RHO select: the shared unigram-bits CTEs + the bigram pair CTEs
    // (unigram count frame reused for the pair join — no recount),
    // quantized gain, rounded-gain/doc_id total order into the top-k.
    QueryDef("llm_rho_select", llmRhoSelect,
      s"""WITH ${lmBitsCtes("ws", "f", "t", "b")},
         |u AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    $lmAvgBitsSql AS uni_bits FROM b GROUP BY doc_id),
         |wt AS (SELECT doc_id, string_split(text, ' ') AS ws2
         |  FROM documents),
         |pairs AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(ws2[i]), 1, 4))::BIGINT AS bp,
         |    ('0x' || substr(md5(ws2[i] || '_' || ws2[i + 1]), 1, 4))::BIGINT AS bb
         |  FROM (SELECT doc_id, ws2, unnest(range(1, len(ws2))) AS i
         |        FROM wt) px),
         |fb AS (SELECT bb, COUNT(*) AS cb FROM pairs GROUP BY bb),
         |bg AS (SELECT doc_id,
         |    ${oRound("CAST(SUM(greatest(0, length(bin(cp)) - length(bin(cb)))) AS DOUBLE) / COUNT(*)", 6)} AS bi_bits
         |  FROM pairs
         |  JOIN (SELECT wb AS bp, c AS cp FROM f) fu USING (bp)
         |  JOIN fb USING (bb)
         |  GROUP BY doc_id)
         |SELECT u.doc_id AS doc_id, u.n_words, u.uni_bits, bg.bi_bits,
         |  ${oRound("u.uni_bits - bg.bi_bits", 6)} AS gain
         |FROM u JOIN bg USING (doc_id)
         |ORDER BY gain DESC, doc_id LIMIT 100""".stripMargin),
    QueryDef("llm_quality_classifier", llmQualityClassifier, qualityClassifierSql(3)),
    // Conformal: the SAME classifier CTE chain (cannot drift), integer
    // margin nonconformity, order-statistic threshold on the cal split,
    // set-membership comparisons all integer-exact.
    QueryDef("llm_conformal", llmConformal,
      s"""WITH ${qualityClassifierCtes(3)},
         |base AS (SELECT lab.doc_id, CAST(lab.y AS INT) AS y, fin.score
         |  FROM lab JOIN fin USING (doc_id)),
         |cal AS (SELECT -CAST(y AS BIGINT) * score AS a
         |  FROM base WHERE doc_id % 5 = 0),
         |lvl AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM cal GROUP BY a),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS nc FROM lvl),
         |cum AS (SELECT a, CAST(SUM(c) OVER (ORDER BY a ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM lvl),
         |kq AS (SELECT MIN(a) AS qhat FROM cum, nn
         |  WHERE cum.cum >= LEAST(((nn.nc + 1) * 9 + 9) // 10, nn.nc))
         |SELECT b.doc_id, b.y, b.score, kq.qhat,
         |  -b.score <= kq.qhat AS in_set_pos,
         |  b.score <= kq.qhat AS in_set_neg,
         |  (b.y = 1 AND -b.score <= kq.qhat)
         |    OR (b.y = -1 AND b.score <= kq.qhat) AS covered,
         |  CAST((CASE WHEN -b.score <= kq.qhat THEN 1 ELSE 0 END)
         |    + (CASE WHEN b.score <= kq.qhat THEN 1 ELSE 0 END) AS INT)
         |    AS set_size
         |FROM base b, kq WHERE b.doc_id % 5 <> 0
         |ORDER BY b.doc_id""".stripMargin),
    QueryDef("llm_dsir_select", llmDsirSelect,
      s"""WITH ws AS (SELECT doc_id, $vocabBucketSql AS wb
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |                  FROM documents) raw_ws),
         |f AS (SELECT wb,
         |        CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |        CAST(SUM(CASE WHEN doc_id % 97 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |      FROM ws GROUP BY wb),
         |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
         |             CAST(SUM(cr) AS BIGINT) AS tr FROM f),
         |b AS (SELECT ws.doc_id,
         |        (length(bin(f.ct + 1)) - length(bin(t.tt)))
         |      - (length(bin(f.cr + 1)) - length(bin(t.tr))) AS score
         |      FROM ws JOIN f USING (wb), t
         |      WHERE ws.doc_id % 97 != 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  ${oRound("CAST(SUM(score) AS DOUBLE) / COUNT(*)", 6)} AS avg_importance,
         |  (${oRound("CAST(SUM(score) AS DOUBLE) / COUNT(*)", 6)} > 0.0) AS selected
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Gopher rule battery: every ratio mirrored expression-for-
    // expression; flags re-derive from the ROUNDED columns so both
    // engines decide identically at rule boundaries. The fragments are
    // shared with the v2 capstone's gopher CTE so the two oracles
    // cannot drift.
    QueryDef("llm_gopher_rules", llmGopherRules,
      s"""WITH d AS ($gopherSplitSql),
         |r AS (SELECT doc_id, $gopherRuleColsSql FROM d)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_word_ratio, stop_words,
         |  (${gopherKeepCondSql(50, 2)}) AS keep
         |FROM r ORDER BY doc_id""".stripMargin),
    // Per-source calibration: quantized-long quality, exact per-source
    // moments (Σq² in hugeint ≡ the builder's decimal(38,0)), unique
    // (qi, doc_id) rank == row_number, zero-variance CASE.
    QueryDef("llm_quality_calibrate", llmQualityCalibrate,
      s"""WITH sc AS (SELECT doc_id, source,
         |    CAST(FLOOR((${qualitySql("text")}) * 1000000.0 + 0.5) AS BIGINT)
         |      AS qi
         |  FROM documents),
         |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
         |    CAST(SUM(qi) AS BIGINT) AS s1, SUM(qi * qi) AS s2
         |  FROM sc GROUP BY source),
         |cm AS (SELECT source, qi,
         |    COALESCE(SUM(CAST(COUNT(*) AS BIGINT)) OVER
         |      (PARTITION BY source ORDER BY qi
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS nbelow
         |  FROM sc GROUP BY source, qi),
         |r AS (SELECT sc.doc_id, sc.source, sc.qi,
         |    cm.nbelow + row_number() OVER (PARTITION BY sc.source, sc.qi
         |      ORDER BY sc.doc_id) AS rnk
         |  FROM sc JOIN cm ON cm.source = sc.source AND cm.qi = sc.qi),
         |j AS (SELECT r.doc_id, r.source, r.qi, r.rnk, st.ns,
         |    CAST(st.s1 AS DOUBLE) / 1000000.0 / st.ns AS mu,
         |    sqrt(GREATEST(CAST(st.s2 AS DOUBLE) / 1000000000000.0 / st.ns
         |      - (CAST(st.s1 AS DOUBLE) / 1000000.0 / st.ns)
         |        * (CAST(st.s1 AS DOUBLE) / 1000000.0 / st.ns), 0.0)) AS sd
         |  FROM r JOIN st USING (source))
         |SELECT doc_id, source,
         |  ${oRound("CAST(qi AS DOUBLE) / 1000000.0", 6)} AS quality,
         |  ${oRound("CAST(rnk - 1 AS DOUBLE) / CAST(GREATEST(ns - 1, 1) AS DOUBLE)", 6)}
         |    AS pct_src,
         |  CASE WHEN sd > 0
         |    THEN ${oRound("(CAST(qi AS DOUBLE) / 1000000.0 - mu) / sd", 6)}
         |    ELSE 0.0 END AS z_src
         |FROM j ORDER BY doc_id""".stripMargin),
    // Cavnar-Trenkle: char-trigram rank profiles + out-of-place
    // distance, all-integer; absent trigram costs the max rank 30.
    QueryDef("llm_charngram_langid", llmCharngramLangid,
      """WITH grams AS (
        |  SELECT doc_id, lang, substr(text, i, 3) AS g
        |  FROM (SELECT doc_id, lang, text,
        |          unnest(range(1, length(text) - 1)) AS i
        |        FROM documents WHERE length(text) >= 3) t),
        |profile AS (
        |  SELECT plang, g, rl FROM (
        |    SELECT lang AS plang, g, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY lang
        |        ORDER BY COUNT(*) DESC, g) AS rl
        |    FROM grams GROUP BY lang, g) p WHERE rl <= 30),
        |doctop AS (
        |  SELECT doc_id, g, rd FROM (
        |    SELECT doc_id, g, COUNT(*) AS c,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY COUNT(*) DESC, g) AS rd
        |    FROM grams GROUP BY doc_id, g) d WHERE rd <= 30),
        |langs AS (SELECT DISTINCT lang AS plang FROM documents),
        |dists AS (
        |  SELECT dt.doc_id, l.plang,
        |    CAST(SUM(COALESCE(ABS(dt.rd - p.rl), 30)) AS BIGINT) AS dist
        |  FROM doctop dt CROSS JOIN langs l
        |  LEFT JOIN profile p ON p.plang = l.plang AND p.g = dt.g
        |  GROUP BY dt.doc_id, l.plang),
        |best AS (
        |  SELECT doc_id, plang AS predicted, dist FROM (
        |    SELECT doc_id, plang, dist,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY dist, plang) AS pick
        |    FROM dists) b WHERE pick = 1)
        |SELECT d.doc_id, d.lang, b.predicted, b.dist,
        |  (d.lang = b.predicted) AS correct
        |FROM documents d JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // Code detection: translate-based symbol strip + IN-list lambda
    // filter; all ratios are exact-count divisions with CAST AS DOUBLE
    // hoisted before the division (the decimal-literal trap).
    QueryDef("llm_code_detect", llmCodeDetect,
      s"""WITH ${codeScoreCtes("s", "sc")}
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS code_docs,
         |  ${oRound("CAST(SUM(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS code_frac,
         |  ${oRound(s"${oSum("score", 6)} / COUNT(score)", 6)} AS avg_score
         |FROM sc GROUP BY source ORDER BY source""".stripMargin),
    // Topic mix: the lexicon rides a CASE (values-identical to the
    // builder's broadcast join), argmax = the window-free
    // min(struct(-c, topic)) idiom, shares from a per-source total join.
    QueryDef("llm_topic_mix", llmTopicMix,
      s"""WITH ${topicMixCtes("t", "hh", "dt", "dt2", "lab", "ce", "tt")}
         |SELECT ce.source, ce.topic, ce.n_docs,
         |  ${oRound("CAST(ce.n_docs AS DOUBLE) / tt.n_src", 6)} AS share
         |FROM ce JOIN tt USING (source) ORDER BY source, topic""".stripMargin),
    // NFC (utf8proc = same UAX#15 result as the JDK normalizer) →
    // control strip → whitespace collapse → trim; md5 of the normalized
    // text is the exactness witness. RE2 needs the 'g' flag for global
    // replace (Java regexp_replace is global by default).
    QueryDef("llm_text_normalize", llmTextNormalize,
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[ \t\r\n]+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, length(text) AS raw_len, length(norm) AS norm_len,
        |  norm <> text AS changed, md5(norm) AS h
        |FROM n ORDER BY doc_id""".stripMargin),
    // Flesch battery: same split/filter/vowel-group arithmetic; the
    // scores are the identical fixed-order IEEE expression.
    QueryDef("llm_readability", llmReadability,
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '[.!?]+'),
         |      x -> length(trim(x)) > 0)) AS n_sents,
         |    len(list_filter(string_split(text, ' '),
         |      w -> length(w) > 0)) AS n_words,
         |    CAST(COALESCE(list_sum(list_transform(
         |      list_filter(string_split(text, ' '), w -> length(w) > 0),
         |      w -> greatest(1, len(regexp_extract_all(lower(w),
         |        '[aeiouy]+'))))), 0) AS BIGINT) AS n_syll
         |  FROM documents)
         |SELECT doc_id, CAST(n_sents AS INT) AS n_sents,
         |  CAST(n_words AS INT) AS n_words, n_syll,
         |  CASE WHEN n_sents > 0 AND n_words > 0 THEN
         |    ${oRound("206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) " +
      "- 84.6 * (CAST(n_syll AS DOUBLE) / n_words)", 4)} END AS fre,
         |  CASE WHEN n_sents > 0 AND n_words > 0 THEN
         |    ${oRound("0.39 * (CAST(n_words AS DOUBLE) / n_sents) " +
      "+ 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59", 4)} END AS fkgl
         |FROM t ORDER BY doc_id""".stripMargin)
  )
}
