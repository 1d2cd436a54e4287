package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §2.9 corpus statistics: source profiles and concentration, length
  * percentiles, drift (PSI, KS, JS divergence), corpus diffs, bootstrap
  * confidence intervals, cardinality and frequency sketches (KMV, CMS,
  * set operations), boilerplate detection, and the four privacy checks
  * (k-anonymity, l-diversity, t-closeness, differentially private
  * release).
  */
object CorpusStats {
  import Quality.{qualityCol, qualitySql}
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al.,
    * RANDOM 2002; the Θ-sketch family's base estimator) over the corpus
    * vocabulary: hash every distinct word to u ∈ (0,1), keep the k
    * smallest hashes, and estimate NDV = (k−1)/u_(k) — if k minima
    * pack into [0, u_k], the full set packs ~uniformly at the same
    * density. Reported beside the exact distinct count and the
    * relative error, self-gating the estimator the way
    * `agg_approx_ndv` gates HLL++ — but unlike HLL++ this sketch is
    * replayed EXACTLY by the oracle (the hash is the md5 12-hex idiom,
    * the k minima a deterministic ORDER/LIMIT), so the gate is the
    * full hash compare, not a tolerance band.
    *
    * Scale shape: one vocab-sized two-phase distinct (the wordcount
    * shuffle); the k minima ride TakeOrderedAndProject's per-partition
    * heaps (never a global sort); the estimate is one row. The exact
    * count reuses the same distinct frame — one shuffle total.
    * Boundary ties cannot split: equal u at the k-boundary means equal
    * 12-hex md5 prefixes, and u_(k) is the same either way. */
  private[graft] def kmvNdvOf(docs: DataFrame, k: Int = 256): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val hashed = words.select(
      ((conv(substring(md5(col("w")), 1, 12), 16, 10)
        .cast("double") + 0.5) / lit(281474976710656.0)).as("u"))
    val mins = hashed.orderBy("u").limit(k)
    val sk = mins.agg(count(lit(1)).cast("int").as("k"),
      max(col("u")).as("uk"))
    val exact = words.agg(count(lit(1)).as("exact_ndv"))
    sk.crossJoin(broadcast(exact))
      .select(col("k"), dround(col("uk"), 9).as("uk"),
        dround((col("k") - 1).cast("double") / col("uk"), 2).as("est_ndv"),
        col("exact_ndv"),
        dround(abs((col("k") - 1).cast("double") / col("uk")
          - col("exact_ndv").cast("double"))
          / col("exact_ndv").cast("double"), 6).as("rel_err"))
  }

  val llmKmvNdv: Q = (s, dir) =>
    kmvNdvOf(Tables.t(s, dir, "documents"))

  /** Count-min sketch frequency estimation (Cormode & Muthukrishnan,
    * J.Alg 2005) self-gated on the corpus heavy hitters: d = 4 hash
    * rows × w = 1024 buckets of occurrence counters, then for each of
    * the top-10 exact words the CMS read-out min_r counter(r, h_r(w))
    * beside the exact count, the overestimate, and the one-sided-error
    * invariant est ≥ exact the oracle pins TRUE. The mergeable-sketch
    * sibling of [[kmvNdvOf]]: counters are plain sums, so partition
    * partials merge by addition — the shape a streaming heavy-hitter
    * monitor ships to the driver.
    *
    * Scale shape: the corpus-sized pass is the vocab-sized two-phase
    * wordcount; the 4-way hash explode runs over the DISTINCT-word
    * frame (Heaps-bounded, never the token stream) into a ≤ d·w-row
    * sketch frame; the top-10 ride TakeOrderedAndProject heaps; the
    * read-out joins 40 probe rows against the 4096-row sketch.
    * Determinism: bucket = md5 12-hex mod w (the catalogued idiom), so
    * DuckDB replays every counter exactly — the gate is the hash
    * compare, not the CMS error bound. */
  private[graft] def cmsTopkOf(docs: DataFrame, d: Int = 4, wBuckets: Int = 1024,
      topK: Int = 10): DataFrame = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val probes = words
      .select(col("w"), col("c"), explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("b",
        conv(substring(md5(concat(col("r").cast("string"), lit(":"), col("w"))),
          1, 12), 16, 10).cast("long") % wBuckets)
    val sketch = probes.groupBy("r", "b").agg(sum(col("c")).as("cnt"))
    val top = words.orderBy(col("c").desc, col("w")).limit(topK)
    top.join(probes.select(col("w"), col("r"), col("b")), "w")
      .join(sketch, Seq("r", "b"))
      .groupBy("w")
      .agg(max(col("c")).as("exact"), min(col("cnt")).as("cms_est"))
      .select(col("w"), col("exact"), col("cms_est"),
        (col("cms_est") - col("exact")).as("overestimate"),
        (col("cms_est") >= col("exact")).as("one_sided"))
      .orderBy(col("exact").desc, col("w"))
  }

  val llmCmsTopk: Q = (s, dir) =>
    cmsTopkOf(Tables.t(s, dir, "documents"))

  /** ε-differentially-private contingency release audit (Dwork,
    * McSherry, Nissim & Smith, TCC 2006): the (lang × source) doc-count
    * table a curator actually publishes, each cell perturbed with
    * Laplace(Δ/ε) noise (Δ = 1 for disjoint counting queries, ε = 1)
    * and post-processed by round-and-clamp — beside the true count and
    * the absolute utility loss, completing the privacy family
    * ([[kAnonOf]] / [[lDiversityOf]] / [[tClosenessOf]] audit the
    * *data*; this audits the *statistic*).
    *
    * ⚠ This is a DP **simulation** for auditing utility loss, NOT a
    * privacy mechanism: the noise is derived deterministically from
    * the PUBLIC cell key md5(lang:source), so anyone can recompute and
    * subtract it exactly — and the output ships `n_true` beside the
    * perturbed value. The `released` column must never be published as
    * a real DP release; a real mechanism draws its noise from a SECRET
    * seed (and withholds n_true). What this query answers is the
    * curator's *planning* question — "how much utility would ε = 1
    * Laplace noise cost on THIS table?" — cross-engine-deterministically.
    *
    * Determinism: the Laplace draw inverts the catalogued md5 12-hex
    * uniform per CELL KEY (not per row — noise must not rescale with
    * the data): noise = −b·sign(u−½)·ln(1−2|u−½|), quantized at 1e-9
    * before round-and-clamp, so both engines release identical tables
    * (a seeded-RNG release would be rows-only). u = (h+½)/16¹² can
    * never hit exactly ½, so ln's argument stays positive.
    *
    * Scale shape: ONE two-phase (lang, source) count is the only
    * corpus-sized pass; the noise arithmetic runs on the aggregated
    * cells (bounded by langs × sources at any corpus size). */
  private[graft] def dpReleaseOf(docs: DataFrame, eps: Double = 1.0): DataFrame = {
    val b = 1.0 / eps
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_true"))
    val u = (conv(substring(md5(concat(col("lang"), lit(":"), col("source"))),
      1, 12), 16, 10).cast("double") + 0.5) / lit(281474976710656.0)
    val noise = dround(lit(-b) * signum(u - 0.5)
      * org.apache.spark.sql.functions.log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 9)
    cells
      .withColumn("noise", noise)
      .select(col("lang"), col("source"), col("n_true"),
        greatest(floor(col("n_true") + col("noise") + 0.5), lit(0.0))
          .cast("long").as("released"),
        dround(abs(col("noise")), 6).as("noise_abs"))
      .orderBy("lang", "source")
  }

  val llmDpRelease: Q = (s, dir) =>
    dpReleaseOf(Tables.t(s, dir, "documents").select("lang", "source"))

  /** Distribution-drift monitor — the Population Stability Index over a
    * binned document feature between a REFERENCE slice and a CANDIDATE
    * slice (the standard model-ops drift gate, PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ);
    * > 0.25 conventionally triggers investigation). The pipeline use:
    * a new crawl snapshot, vendor delivery, or train/val split whose
    * length/quality profile silently shifted will light up here before
    * it shifts model metrics. Slices reuse the [[llmLmTrigram]] split
    * convention (doc_id % 7: held-out vs train); feature = 100-char
    * length bins capped at 9.
    *
    * Determinism/scale: one two-phase (bin × slice) count over the
    * corpus — the only corpus-sized pass; the 10-bin universe comes
    * from a literal sequence (empty bins stay defined). Shares use the
    * standard PSI ε-floor in its continuous form
    * p = (c/N)·(1 − B·ε) + ε (ε = 1e-4): ln never sees 0, shares still
    * sum to 1, and — unlike (c+0.5)/(N+B/2) Laplace smoothing, whose
    * floor depends on N — a bin empty in BOTH slices gets exactly ε on
    * both sides and contributes exactly 0, so unequal slice sizes
    * cannot manufacture drift. Per-bin terms are dround-9 (ln agrees
    * cross-engine at that grain — `fn_math`). Output: 10 bins with
    * both shares and the PSI contribution; the total is a sum the
    * consumer (or an alert rule) takes over the B-row frame. */
  private[graft] def driftPsiOf(docs: DataFrame): DataFrame = {
    val sliced = docs.select(
      least(lit(9), floor(col("n_chars") / lit(100)).cast("int")).as("bin"),
      (pmod(col("doc_id"), lit(7)) === 0).as("cand"))
    val counts = sliced.groupBy("bin")
      .agg(sum(when(col("cand"), 0L).otherwise(1L)).as("c_ref"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("c_cand"))
    val bins = docs.sparkSession.range(1)
      .select(explode(sequence(lit(0), lit(9))).as("bin"))
    val totals = counts.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cand")).as("n_cand"))
    bins.join(counts, Seq("bin"), "left")
      .select(col("bin").cast("int").as("bin"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cand"), lit(0L)).as("c_cand"))
      .crossJoin(broadcast(totals))
      .select(col("bin"), col("c_ref"), col("c_cand"),
        dround(col("c_ref") / col("n_ref").cast("double") * lit(0.999)
          + lit(0.0001), 9).as("p_ref"),
        dround(col("c_cand") / col("n_cand").cast("double") * lit(0.999)
          + lit(0.0001), 9).as("p_cand"))
      .withColumn("psi_term", dround(
        (col("p_ref") - col("p_cand")) *
          org.apache.spark.sql.functions.log(col("p_ref") / col("p_cand")), 9))
      .orderBy("bin")
  }

  val llmDriftPsi: Q = (s, dir) =>
    driftPsiOf(Tables.t(s, dir, "documents").select("doc_id", "n_chars"))

  /** Two-sample Kolmogorov–Smirnov statistic between the same slices —
    * [[driftPsiOf]]'s binless companion (PSI needs a binning choice and
    * saturates on within-bin shifts; KS is the sup-norm CDF distance
    * D = max_x |F_ref(x) − F_cand(x)|, sensitive to ANY location/shape
    * shift at the feature's native resolution). Reported with the
    * feature value attaining it (min-x tiebreak) — where the
    * distributions diverge most, the first thing an investigation
    * wants.
    *
    * Scale shape: the corpus-sized work is ONE two-phase (value ×
    * slice) count; the cumulative window then runs over the DISTINCT-
    * VALUE frame, whose size is bounded by the feature's domain (doc
    * lengths, quality grades), not the corpus — the same bounded-frame
    * argument as the per-cell threshold joins. The single-partition
    * window is over that bounded frame only; nothing corpus-sized ever
    * sees a global sort. D is a ratio of exact long counts, quantized
    * at dround-9 before the argmax so both engines pick the identical
    * attaining x. */
  private[graft] def driftKsOf(docs: DataFrame): DataFrame = {
    val per = docs.select(col("n_chars").cast("long").as("x"),
        (pmod(col("doc_id"), lit(7)) === 0).as("cand"))
      .groupBy("x")
      .agg(sum(when(col("cand"), 0L).otherwise(1L)).as("c_ref"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("c_cand"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("x")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = per.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cand")).as("n_cand"))
    per
      .select(col("x"), sum(col("c_ref")).over(w).as("cum_ref"),
        sum(col("c_cand")).over(w).as("cum_cand"))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("n_ref"), col("n_cand"),
        dround(abs(col("cum_ref") / col("n_ref").cast("double")
          - col("cum_cand") / col("n_cand").cast("double")), 9).as("d"))
      .orderBy(col("d").desc, col("x"))
      .limit(1)
      .select(col("d").as("ks_d"), col("x").as("at_x"),
        col("n_ref"), col("n_cand"))
  }

  val llmDriftKs: Q = (s, dir) =>
    driftKsOf(Tables.t(s, dir, "documents").select("doc_id", "n_chars"))

  /** Corpus snapshot diff — the incremental-processing primitive for a
    * periodically re-crawled / re-delivered corpus: classify every doc
    * across two snapshots as added / removed / changed / unchanged by
    * content hash, so downstream stages (dedup state, embeddings,
    * quality scores) recompute ONLY the delta instead of the corpus
    * (the batch analogue of [[Pipeline.incrementalDedupStream]]'s
    * state discipline, and what drives a MERGE like `merge_upsert`).
    *
    * Scale shape: one full-outer equi-join on the doc key — both sides
    * hash-partition on doc_id, co-located shuffle, no skew (keys
    * unique per side) — comparing sha2-256 content hashes; per-row
    * CASE classification; the summary rollup is a 4-row two-phase agg.
    * At 100 TB the diff costs one co-partitioned join, and everything
    * downstream scales with |delta| — the entire point.
    *
    * Snapshots are derived deterministically from the fixture: v1 =
    * doc_id % 5 ≠ 4 (the docs that existed last crawl), v2 = doc_id
    * % 5 ≠ 2 (this crawl), and v2's text is "re-extracted" with a
    * trailing marker token for doc_id % 11 = 0 — so all four classes
    * are genuinely populated. */
  private[graft] def corpusDiffOf(docs: DataFrame): DataFrame = {
    val v1 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
      .select(col("doc_id"), sha2(col("text"), 256).as("h1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 2)
      .select(col("doc_id"),
        sha2(when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")), 256)
          .as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("status")
  }

  val llmCorpusDiff: Q = (s, dir) =>
    corpusDiffOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Poisson-bootstrap confidence interval for the corpus mean quality
    * (Chamandy et al., Google 2012 — "Estimating uncertainty for
    * massive data streams"): the resampling scheme that works at any
    * scale because each replicate draws every doc's multiplicity
    * INDEPENDENTLY as Poisson(1) (no global n needed, no coordinated
    * multinomial draw). A corpus-quality report without an error bar
    * invites over-reading 0.1% drifts between snapshots; this puts the
    * 95% band beside the point estimate.
    *
    * Determinism: the replicate weight is an inverse-CDF ladder over
    * the catalogued md5-uniform (`(conv(substr(md5(doc:b),1,12),16,10)
    * + 0.5)/16^12` — bit-identical in both engines), with Poisson(1)
    * cumulative thresholds as full-precision double literals (tail
    * capped at 6, P ≈ 6e-5, which both engines cap identically);
    * quality quantizes to 1e-6 longs so every per-replicate sum is an
    * exact integer. Point estimate rides the SAME 64-row frame (the
    * per-replicate UNWEIGHTED Σqᵢ/count are b-independent) — one
    * corpus pass, no second scan, no persist barrier needed. CI = the
    * 2nd / 63rd order statistics of the 64 replicate means
    * (ceil(0.025·64) / ceil(0.975·64), 1-based; ties broken by b).
    *
    * Scale shape: one 64-way explode absorbed by the two-phase agg's
    * map-side combine (≤64 partial rows per partition regardless of
    * corpus size); everything after runs on the 64-row frame. */
  private[graft] def bootstrapCiOf(docs: DataFrame, nB: Int = 64)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Poisson(1) cumulative: P(X<=k) = e^-1 * sum 1/j!
    val thr = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183)
    val cells = docs
      .select(col("doc_id"),
        floor(qualityCol(split(col("text"), " ")) * 1e6 + lit(0.5))
          .cast("long").as("qi"))
      .select(col("doc_id"), col("qi"),
        explode(array((1 to nB).map(lit): _*)).as("b"))
      .withColumn("u",
        (conv(substring(md5(concat_ws(":", col("doc_id"), col("b"))), 1, 12),
          16, 10).cast("double") + 0.5) / lit(281474976710656.0))
      .withColumn("w", thr.zipWithIndex.foldRight(lit(6): Column) {
        case ((t, k), rest) => when(col("u") < t, lit(k)).otherwise(rest)
      }.cast("long"))
      .groupBy("b")
      .agg(sum(col("w") * col("qi")).as("swq"), sum(col("w")).as("sw"),
        sum(col("qi")).as("sq"), count(lit(1)).as("n"))
      // zero-draw guard: P(Σw = 0) = e^-n per replicate — negligible
      // on a corpus but near-certain somewhere on a 3-doc caller frame
      // (the facade is public); an unguarded 0/0 NaN would sort
      // DIFFERENTLY between engines. A weightless replicate resolves
      // to the unweighted mean (the natural degenerate resample).
      .withColumn("m", when(col("sw") > 0,
        col("swq").cast("double") / 1e6 / col("sw").cast("double"))
        .otherwise(col("sq").cast("double") / 1e6 / col("n").cast("double")))
    val wR = Window.orderBy(col("m"), col("b"))
    val wAll = wR.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cells
      .withColumn("r", row_number().over(wR))
      .select(
        max(col("n")).over(wAll).as("n_docs"),
        max(col("r")).over(wAll).as("b_resamples"),
        dround(max(col("sq")).over(wAll).cast("double") / 1e6
          / max(col("n")).over(wAll).cast("double"), 6).as("mean_q"),
        dround(max(when(col("r") === math.ceil(0.025 * nB).toInt,
          col("m"))).over(wAll), 6).as("lo95"),
        dround(max(when(col("r") === math.ceil(0.975 * nB).toInt,
          col("m"))).over(wAll), 6).as("hi95"))
      .limit(1)
  }

  val llmBootstrapCi: Q = (s, dir) =>
    bootstrapCiOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** k-anonymity suppression (Sweeney 2002) over the quasi-identifier
    * triple (lang, source, ⌊n_chars/100⌋) — the release-side privacy
    * guard beside [[llmPiiScrub]]'s content-side scrubbing: a record
    * whose QI combination is shared by fewer than k = 5 docs has its
    * quasi-identifiers masked to '*' (full-domain suppression), so no
    * released row's QI tuple isolates fewer than 5 individuals.
    *
    * Scale shape: one window count over the QI partitioning (a single
    * hash shuffle on the QI key; group sizes are what the operator
    * measures, so the shuffle IS the semantics), per-row masking is
    * projection-only. At 100 TB the QI cardinality is bounded by
    * langs × sources × size-buckets — the count side aggregates to that
    * bound. */
  private[graft] def kAnonOf(docs: DataFrame, k: Int = 5): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("source"),
      expr("n_chars DIV 100").as("size_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source", "size_bucket")
    d.withColumn("group_n", count(lit(1)).over(w))
      .select(col("doc_id"),
        when(col("group_n") >= k, col("lang")).otherwise(lit("*")).as("lang"),
        when(col("group_n") >= k, col("source")).otherwise(lit("*")).as("source"),
        when(col("group_n") >= k, col("size_bucket").cast("string"))
          .otherwise(lit("*")).as("size_bucket"),
        col("group_n"))
  }

  val llmKAnon: Q = (s, dir) =>
    kAnonOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** l-diversity audit (Machanavajjhala et al., TKDD 2007) — the
    * release-side privacy gate k-anonymity alone can't give: a QI group
    * can satisfy k ≥ 5 while every member shares ONE sensitive value
    * (the homogeneity attack — group membership then discloses the
    * attribute). Per QI group (lang, ⌊n_chars/100⌋) with `source` as
    * the sensitive attribute, report group size, the distinct-l count,
    * the sensitive-distribution entropy (the entropy-l-diversity
    * statistic, ln l being its threshold form), and the distinct-l ≥ 3
    * pass flag — the audit table a release pipeline joins against
    * before publishing, sibling to [[kAnonOf]]'s suppression action.
    *
    * Scale shape: two nested two-phase aggregations (QI × sensitive
    * counts, then QI rollup) — map-side partials absorb the corpus;
    * both output frames are bounded by QI × source cardinality. The
    * group-total window runs over the AGGREGATED (QI, source) frame
    * (never rows). Entropy terms quantize to 1e-9 longs before the
    * exact sum ([[dsum]]) so ln never drifts cross-engine. */
  private[graft] def lDiversityOf(docs: DataFrame, l: Int = 3): DataFrame = {
    val sc = docs
      .select(col("lang"), expr("n_chars DIV 100").as("size_bucket"),
        col("source"))
      .groupBy("lang", "size_bucket", "source").agg(count(lit(1)).as("c"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "size_bucket")
    sc.withColumn("n", sum(col("c")).over(wg))
      .groupBy("lang", "size_bucket")
      .agg(max(col("n")).as("n_docs"),
        count(lit(1)).cast("int").as("distinct_l"),
        dsum(col("c").cast("double") / col("n")
          * org.apache.spark.sql.functions.log(
            col("n").cast("double") / col("c")), 9).as("ent"))
      .select(col("lang"), col("size_bucket"), col("n_docs"),
        col("distinct_l"), dround(col("ent"), 6).as("entropy"),
        (col("distinct_l") >= l).as("diverse"))
      .orderBy("lang", "size_bucket")
  }

  val llmLDiversity: Q = (s, dir) =>
    lDiversityOf(Tables.t(s, dir, "documents")
      .select("lang", "n_chars", "source"))

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    * third leg of the release-privacy triad beside [[kAnonOf]] and
    * [[lDiversityOf]]: a QI group can be k-anonymous AND l-diverse
    * while its sensitive-value DISTRIBUTION still leaks (a group that
    * is 90% one source against a 20% global share discloses by skew,
    * not by homogeneity). Per QI group (lang, ⌊n_chars/100⌋) with
    * `source` sensitive: the Earth-Mover's Distance between the
    * group's source distribution and the corpus-wide one — for a
    * categorical attribute under the uniform ground metric, EMD is
    * exactly the total-variation distance ½·Σ|p_s − q_s| — plus the
    * t ≤ 0.25 pass flag the release gate reads.
    *
    * Scale shape: the only corpus-sized pass is the (QI × sensitive)
    * two-phase count; the global distribution, the QI totals and the
    * full QI × sensitive comparison grid are all derived FROM that
    * aggregated frame (bounded by QI-cardinality × #sources — never
    * rows), with the #sources-row global frame riding a broadcast.
    * Absent (group, source) cells matter (they contribute q_s to the
    * distance), so the grid is the aggregated cross join, not the
    * observed cells. Terms quantize to 1e-9 longs before the exact sum
    * ([[dsum]]); the ×½ and the t-compare run on the quantized value. */
  private[graft] def tClosenessOf(docs: DataFrame, t: Double = 0.25): DataFrame = {
    val sc = docs
      .select(col("lang"), expr("n_chars DIV 100").as("size_bucket"),
        col("source"))
      .groupBy("lang", "size_bucket", "source").agg(count(lit(1)).as("c"))
    val g = sc.groupBy("lang", "size_bucket").agg(sum("c").as("n"))
    val q = sc.groupBy("source").agg(sum("c").as("cs"))
    val qn = q.crossJoin(broadcast(q.agg(sum(col("cs")).as("nn"))))
    g.crossJoin(broadcast(qn))
      .join(sc, Seq("lang", "size_bucket", "source"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy("lang", "size_bucket")
      .agg(max(col("n")).as("n_docs"),
        dsum(abs(col("c") * lit(1.0) / col("n")
          - col("cs") * lit(1.0) / col("nn")), 9).as("l1"))
      .select(col("lang"), col("size_bucket"),
        col("n_docs").cast("long").as("n_docs"),
        dround(lit(0.5) * col("l1"), 6).as("emd"),
        (dround(lit(0.5) * col("l1"), 6) <= t).as("close"))
      .orderBy("lang", "size_bucket")
  }

  val llmTCloseness: Q = (s, dir) =>
    tClosenessOf(Tables.t(s, dir, "documents")
      .select("lang", "n_chars", "source"))

  /** Per-source corpus statistics + the source-level keep/drop decision —
    * the aggregation C4-style pipelines run before any per-document work
    * (Raffel et al. 2020 arXiv:1910.10683 filters at page AND source
    * level; Penedo et al. 2023 arXiv:2306.01116 (RefinedWeb) makes
    * URL/domain-level filtering the FIRST stage; Dolma ships per-source
    * composition tables). Per source: doc/language/token counts, mean
    * quality (same composite as [[llmQualityScore]], so the per-doc and
    * per-source filters share one definition), and the duplicate rate —
    * docs whose content hash repeats ANYWHERE in the corpus, attributed
    * to each source that carries them. A source past 50% duplicates is
    * dropped wholesale (`keep = false`), the domain-blocklist decision.
    *
    * Scale shape: the dup flag is a window count partitioned by content
    * hash — the SAME hash-partitioned shuffle exact dedup pays, no
    * per-pair work — followed by a two-phase aggregation on `source`
    * (thousands of groups at 100 TB; the final agg is tiny). Mean
    * quality goes through the dsum/davg quantization so DuckDB replays
    * the division bit-for-bit. */
  val llmSourceStats: Q = (s, dir) =>
    sourceStatsOf(Tables.t(s, dir, "documents"))

  /** Core of [[llmSourceStats]] over an injectable (source, lang, text)
    * frame — fixture docs carry no exact duplicates, so the positive
    * dup-rate path is probed with a synthetic corpus in ScalaTest. */
  private[graft] def sourceStatsOf(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val quality = qualityCol(ws)
    val hw = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col("text"), 256))
    docs
      .select(col("source"), col("lang"),
        size(ws).as("n_toks"), quality.as("q"),
        (count(lit(1)).over(hw) > 1).cast("long").as("is_dup"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        davg(col("q"), 6).as("avg_quality"),
        sum(col("is_dup")).as("dup_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        col("avg_quality"), col("dup_docs"),
        dround(col("dup_docs") * lit(1.0) / col("n_docs"), 6).as("dup_frac"),
        (col("dup_docs") * lit(1.0) / col("n_docs") <= 0.5).as("keep"))
      .orderBy("source")
  }

  /** Per-source boilerplate-prefix detection — the cleaning concern C4
    * (Raffel et al. 2020 §2.2) and RefinedWeb address with line-level
    * dedup: a TEMPLATED source (forum engine, news CMS, licence
    * headers) stamps the same opening words on most of its documents,
    * and a corpus mix audit wants that surfaced per source before a
    * strip pass runs. Per source: the most frequent `w`-word document
    * PREFIX, its count, its share of the source's (≥ w-word) docs, and
    * the share ≥ `thresh` flag.
    *
    * Scale shape: one per-row prefix projection (slice + join, no
    * hashing), a two-phase (source, prefix) count — map-side partials
    * absorb the corpus — then the source total AND the argmax collapse
    * in ONE window-free `groupBy(source)` pass: `sum(c)` for the total
    * and `min(struct(-c, prefix))` for the (count desc, prefix asc)
    * winner. No Sort, no Window: a real corpus's dominant source (web
    * ≈ 80% of prefix rows) is absorbed by the partial aggregation
    * map-side instead of funnelling through one sort task — the
    * CCNet-sort anti-pattern the r18 verdict flagged here. */
  private[graft] def boilerplateOf(docs: DataFrame, w: Int = 8,
      thresh: Double = 0.2): DataFrame = {
    val pref = docs
      .select(col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("source"), array_join(slice(col("ws"), 1, w), " ").as("prefix"))
    val counts = pref.groupBy("source", "prefix").agg(count(lit(1)).as("c"))
    counts
      .groupBy("source")
      .agg(sum(col("c")).as("n"),
        min(struct((-col("c")).as("nc"), col("prefix").as("p"))).as("best"))
      .select(col("source"), col("n").as("n_docs"),
        col("best.p").as("top_prefix"), (-col("best.nc")).as("top_count"),
        dround(-col("best.nc") * lit(1.0) / col("n"), 6).as("share"),
        (-col("best.nc") * lit(1.0) / col("n") >= thresh).as("boilerplate"))
      .orderBy("source")
  }

  val llmBoilerplate: Q = (s, dir) =>
    boilerplateOf(Tables.t(s, dir, "documents").select("source", "text"))

  /** Corpus concentration audit — Herfindahl-Hirschman index, Shannon
    * entropy and effective-source count of the per-lang source mix
    * (Hirschman AER 1964 for HHI; exp(H) is Hill's "true diversity" of
    * order 1): the one-row-per-lang read a mixing policy consults
    * before [[llmSourceCap]]/[[llmMixWeights]] — an HHI drifting toward
    * 1 means one source is quietly swallowing a language's corpus.
    *
    * Scale shape: ONE two-phase (lang, source) count is the only
    * corpus-sized pass; both indices collapse in a second window-free
    * groupBy(lang) over the value-bounded cell frame, using the
    * H = ln n − (Σ c·ln c)/n identity so no per-source share (and thus
    * no group-total window) is ever materialized.
    *
    * Determinism: Σc² runs in decimal(38,0) (the seq_gini rule — exact
    * at any corpus size, cast to double once); each c·ln c term
    * quantizes at 1e-9 before the exact sum. */
  private[graft] def sourceHhiOf(docs: DataFrame): DataFrame = {
    val lg = (c: Column) => org.apache.spark.sql.functions.log(c)
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("c"))
    cells.groupBy("lang")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("c2"),
        dsum(col("c").cast("double") * lg(col("c").cast("double")), 9)
          .as("clnc"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        dround(col("c2").cast("double")
          / (col("n_docs").cast("double") * col("n_docs")), 6).as("hhi"),
        dround(lg(col("n_docs").cast("double"))
          - col("clnc") / col("n_docs"), 6).as("entropy_nats"),
        dround(exp(lg(col("n_docs").cast("double"))
          - col("clnc") / col("n_docs")), 6).as("eff_sources"))
      .orderBy("lang")
  }

  val llmSourceHhi: Q = (s, dir) =>
    sourceHhiOf(Tables.t(s, dir, "documents").select("lang", "source"))

  /** KMV/theta-sketch set operations (Bar-Yossef et al. RANDOM 2002;
    * the DataSketches theta union/intersection): distinct-vocabulary
    * estimates for two corpus slices AND their union/intersection from
    * k-minimum-value sketches — the mergeable way to answer "how much
    * vocabulary do these crawls share?" without ever joining them.
    * Slices here: even vs odd doc_id (deterministic, balanced). Beside
    * each estimate rides the exact count, so the row doubles as a
    * sketch-error audit ([[llmKmvNdv]]'s posture, extended to set
    * algebra).
    *
    * Estimators: NDV ≈ (k−1)/θ with θ = the kth smallest hash (exact
    * count when a slice's sketch is not full); jaccard ≈ the share of
    * the union sketch's k values present in BOTH slice sketches;
    * intersection ≈ jaccard × union.
    *
    * Precondition — BOTH slices must be non-empty: an input whose
    * doc_ids are all one parity collapses the per-slice estimate
    * frames and the final row vanishes (the didOf-style crossJoin
    * shape; on the registered fixture both parities always exist).
    *
    * Scale shape: one distinct (slice, word) pass (two-phase), md5
    * 48-bit uniform hashes, then per-slice k-minima via the
    * row_number ≤ k rewrite (TopKPerKeyExec: bounded heaps with the
    * r19 map-side partial, no sort); everything downstream operates on
    * ≤ 2k sketch rows. Exact counts are independent two-phase aggs of
    * the same distinct frame. */
  private[graft] def sketchSetopsOf(docs: DataFrame, k: Int = 200): DataFrame = {
    val words = docs
      .select(pmod(col("doc_id"), lit(2)).cast("int").as("slice"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      // Persist barrier: FOUR consumers (sketch ranking, both exact
      // counts, the both-slices membership frame) re-derive this
      // distinct frame; below it sits an exchange, but the consumers'
      // differing projections break canonical equality for stage reuse
      // (the lm_kn measured case), so the cache barrier wins. A bare
      // persist, not `pin`: the parity gate below is its eager action.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The precondition gate (r19 ADVICE): the documented all-one-parity
    // edge used to fail DIFFERENTLY per engine — the Spark crossJoin of an
    // empty slice frame emits zero rows while the DuckDB oracle's scalar
    // subqueries emit one row of NULLs. Fail loudly instead, the
    // attributionMarkovOf convention; one cheap job over the cached frame.
    val parities = words.select("slice").distinct().collect()
      .map(_.getInt(0)).sorted
    require(parities.sameElements(Array(0, 1)),
      s"sketch_setops: both doc_id parities must be present to define the " +
        s"two corpus slices (found: ${parities.mkString(",")})")
    val hashed = words.select(col("slice"), col("w"),
      (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("double")
        / lit(281474976710656.0)).as("h"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("slice").orderBy(col("h"), col("w"))
    val sk = hashed.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
    val skAgg = sk.groupBy("slice")
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("theta"))
      .select(col("slice"), col("n_sk"),
        when(col("n_sk") < k, col("n_sk").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta")).as("nd_est"))
    val estA = skAgg.filter(col("slice") === 0)
      .select(col("nd_est").as("nd_a_est"))
    val estB = skAgg.filter(col("slice") === 1)
      .select(col("nd_est").as("nd_b_est"))
    val unionK = sk.select(col("w"), col("h")).distinct()
      .orderBy(col("h"), col("w")).limit(k)
    val both = sk.groupBy("w").agg(countDistinct(col("slice")).as("ns"))
    val uStats = unionK.join(both, "w")
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("theta_u"),
        sum(when(col("ns") === 2, 1L).otherwise(0L)).as("m_both"))
      .select(col("n_u"), col("m_both"),
        when(col("n_u") < k, col("n_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta_u")).as("nd_union_est"))
    val exact = words.groupBy("w").agg(countDistinct(col("slice")).as("ns"))
      .agg(sum(when(col("ns") >= 1, 1L).otherwise(0L)).as("n_union_exact"),
        sum(when(col("ns") === 2, 1L).otherwise(0L)).as("n_intersect_exact"))
    val exactSl = words.groupBy("slice").agg(count(lit(1)).as("n"))
    val exA = exactSl.filter(col("slice") === 0).select(col("n").as("n_a_exact"))
    val exB = exactSl.filter(col("slice") === 1).select(col("n").as("n_b_exact"))
    estA.crossJoin(broadcast(estB)).crossJoin(broadcast(uStats))
      .crossJoin(broadcast(exact))
      .crossJoin(broadcast(exA)).crossJoin(broadcast(exB))
      .select(lit(k).as("k"),
        dround(col("nd_a_est"), 6).as("nd_a_est"), col("n_a_exact"),
        dround(col("nd_b_est"), 6).as("nd_b_est"), col("n_b_exact"),
        dround(col("nd_union_est"), 6).as("nd_union_est"), col("n_union_exact"),
        dround(col("m_both").cast("double") / col("n_u"), 6).as("jaccard_est"),
        dround(col("m_both").cast("double") / col("n_u")
          * col("nd_union_est"), 6).as("nd_intersect_est"),
        col("n_intersect_exact"))
  }

  val llmSketchSetops: Q = (s, dir) =>
    sketchSetopsOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Jensen-Shannon divergence between two corpus slices' word
    * distributions (Lin IEEE-IT 1991) — the TEXT twin of the numeric
    * drift monitors (this module's psi/ks watch feature columns; JS
    * watches the vocabulary itself): symmetric, bounded [0, ln 2], and
    * finite even on disjoint support — exactly what a crawl-over-crawl
    * vocabulary comparison needs. Slices: even vs odd doc_id (the
    * [[sketchSetopsOf]] convention).
    *
    * Scale shape: one (slice, word) two-phase count is the corpus-
    * sized pass; the slice totals collapse to ONE broadcast row and
    * the divergence is a full-outer join on the vocab key + one agg —
    * window-free. Precondition — both slices non-empty: an all-one-
    * parity input zeroes a totals divisor and the divergence reads
    * null (the didOf doc convention; both parities always exist on
    * the registered fixture).
    *
    * Determinism: each p·ln(p/m) term quantizes at 1e-9 before the
    * exact sum; absent-side terms are exact zeros in both engines. */
  private[graft] def jsDivergenceOf(docs: DataFrame): DataFrame = {
    val lg = (c: Column) => org.apache.spark.sql.functions.log(c)
    val counts = docs
      .select(pmod(col("doc_id"), lit(2)).cast("int").as("slice"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("slice", "w").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy().agg(
        sum(when(col("slice") === 0, col("c")).otherwise(0L)).as("na0"),
        sum(when(col("slice") === 1, col("c")).otherwise(0L)).as("nb"))
      // In-plan precondition gate (r19 ADVICE): an all-one-parity corpus
      // has no second distribution — unguarded, na or nb is 0 and the
      // two engines fail DIFFERENTLY (Spark nulls through the division,
      // DuckDB IEEE-divides). Fail loudly instead. assert_true rides
      // inside the projection of a column the query actually consumes
      // (coalesce(assert_true(...), na) ≡ na when the check passes), so
      // column pruning cannot optimize the check away.
      .select(
        coalesce(assert_true(col("na0") > 0 && col("nb") > 0,
          lit("js_divergence: both doc_id parities must be present — " +
            "an all-one-parity corpus has no second distribution")),
          col("na0")).as("na"),
        col("nb"))
    val ca = counts.filter(col("slice") === 0).select(col("w"), col("c").as("ca"))
    val cb = counts.filter(col("slice") === 1).select(col("w"), col("c").as("cb"))
    ca.join(cb, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"),
        (col("ca").cast("double") / col("na")).as("p"),
        (col("cb").cast("double") / col("nb")).as("q"))
      .select(col("ca"), col("cb"),
        when(col("ca") > 0,
          col("p") * lg(col("p") / ((col("p") + col("q")) / 2)))
          .otherwise(lit(0.0)).as("tp"),
        when(col("cb") > 0,
          col("q") * lg(col("q") / ((col("p") + col("q")) / 2)))
          .otherwise(lit(0.0)).as("tq"))
      .agg(sum(when(col("ca") > 0, 1L).otherwise(0L)).as("n_words_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("n_words_b"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("n_common"),
        dsum(col("tp"), 9).as("sp"), dsum(col("tq"), 9).as("sq"))
      .select(col("n_words_a"), col("n_words_b"), col("n_common"),
        dround(lit(0.5) * col("sp") + lit(0.5) * col("sq"), 6).as("js_nats"),
        dround((lit(0.5) * col("sp") + lit(0.5) * col("sq"))
          / lit(math.log(2.0)), 6).as("js_norm"))
  }

  val llmJsDivergence: Q = (s, dir) =>
    jsDivergenceOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Per-source document-length profile — exact interpolated
    * p10/p50/p90 of `n_chars` plus the mean (the distributional read
    * behind `llm_ccnet_buckets`' coarse length bins: a source whose
    * p90 collapses between crawls started truncating documents, which
    * a mean alone hides).
    *
    * Scale shape: ONE two-phase groupBy(source) with exact-percentile
    * aggregates (the `agg_percentile` idiom — Spark `percentile` ≡
    * DuckDB `quantile_cont`); output bounded by #sources, no window,
    * no sort beyond the final #sources-row ORDER BY. */
  private[graft] def lengthProfileOf(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        dround(expr("percentile(n_chars, 0.1)"), 6).as("p10_chars"),
        dround(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        dround(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
        davg(col("n_chars").cast("double"), 6).as("mean_raw"))
      .select(col("source"), col("n_docs"), col("p10_chars"),
        col("p50_chars"), col("p90_chars"),
        dround(col("mean_raw"), 6).as("mean_chars"))
      .orderBy("source")

  val llmLengthProfile: Q = (s, dir) =>
    lengthProfileOf(Tables.t(s, dir, "documents").select("source", "n_chars"))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("llm_source_stats", llmSourceStats, {
      s"""WITH q AS (
         |  SELECT source, lang,
         |    len(string_split(text, ' ')) AS n_toks,
         |    ${qualitySql("text")} AS q,
         |    CASE WHEN COUNT(*) OVER (PARTITION BY sha256(text)) > 1
         |         THEN 1 ELSE 0 END AS is_dup
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  ${oAvg("q", 6)} AS avg_quality,
         |  CAST(SUM(is_dup) AS BIGINT) AS dup_docs,
         |  ${oRound("SUM(is_dup) * 1.0 / COUNT(*)", 6)} AS dup_frac,
         |  (SUM(is_dup) * 1.0 / COUNT(*) <= 0.5) AS keep
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    }),
    // PSI drift: (bin × slice) counts, ε-floored shares (p·0.999 +
    // 1e-4 — N-independent, so both-empty bins contribute exactly 0)
    // over the literal 10-bin universe; ROUNDED shares feed the ln so
    // the term arithmetic matches the builder's dround-then-divide.
    QueryDef("llm_drift_psi", llmDriftPsi,
      s"""WITH s AS (SELECT LEAST(9, CAST(FLOOR(n_chars / 100) AS INT)) AS bin,
         |             (doc_id % 7 = 0) AS cand FROM documents),
         |c AS (SELECT bin,
         |        CAST(SUM(CASE WHEN cand THEN 0 ELSE 1 END) AS BIGINT) AS c_ref,
         |        CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS c_cand
         |      FROM s GROUP BY bin),
         |t AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         |        CAST(SUM(c_cand) AS BIGINT) AS n_cand FROM c),
         |b AS (SELECT unnest(range(10)) AS bin),
         |sh AS (SELECT CAST(b.bin AS INT) AS bin,
         |        COALESCE(c.c_ref, 0) AS c_ref,
         |        COALESCE(c.c_cand, 0) AS c_cand,
         |        ${oRound("COALESCE(c.c_ref, 0) / CAST(t.n_ref AS DOUBLE)" +
             " * 0.999 + 0.0001", 9)}
         |          AS p_ref,
         |        ${oRound("COALESCE(c.c_cand, 0) / CAST(t.n_cand AS DOUBLE)" +
             " * 0.999 + 0.0001", 9)}
         |          AS p_cand
         |       FROM b LEFT JOIN c ON c.bin = b.bin CROSS JOIN t)
         |SELECT bin, c_ref, c_cand, p_ref, p_cand,
         |  ${oRound("(p_ref - p_cand) * ln(p_ref / p_cand)", 9)} AS psi_term
         |FROM sh ORDER BY bin""".stripMargin),
    // Poisson bootstrap: md5-uniform → Poisson(1) inverse-CDF ladder
    // (full-precision literals, tail capped at 6), exact per-replicate
    // long sums, order-statistic CI on the 64-row frame.
    QueryDef("llm_bootstrap_ci", llmBootstrapCi, {
      val bVals = (1 to 64).map(b => s"($b)").mkString(", ")
      s"""WITH q AS (SELECT doc_id,
         |    CAST(FLOOR((${qualitySql("text")}) * 1000000.0 + 0.5) AS BIGINT)
         |      AS qi
         |  FROM documents),
         |rep AS (SELECT q.qi, t.b,
         |    ((('0x' || substr(md5(q.doc_id || ':' || t.b), 1, 12))::BIGINT
         |      + 0.5) / 281474976710656.0) AS u
         |  FROM q, (VALUES $bVals) AS t(b)),
         |wts AS (SELECT b, qi,
         |    CAST(CASE WHEN u < 0.36787944117144233 THEN 0
         |      WHEN u < 0.7357588823428847 THEN 1
         |      WHEN u < 0.9196986029286058 THEN 2
         |      WHEN u < 0.9810118431238462 THEN 3
         |      WHEN u < 0.9963401531726563 THEN 4
         |      WHEN u < 0.9994058151824183 THEN 5
         |      ELSE 6 END AS BIGINT) AS w
         |  FROM rep),
         |cell AS (SELECT b, CAST(SUM(w * qi) AS BIGINT) AS swq,
         |    CAST(SUM(w) AS BIGINT) AS sw, CAST(SUM(qi) AS BIGINT) AS sq,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM wts GROUP BY b),
         |m0 AS (SELECT cell.*,
         |    CASE WHEN sw > 0
         |      THEN CAST(swq AS DOUBLE) / 1000000.0 / CAST(sw AS DOUBLE)
         |      ELSE CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
         |      END AS m
         |  FROM cell),
         |mm AS (SELECT m0.*, row_number() OVER (ORDER BY m, b) AS r
         |  FROM m0)
         |SELECT MAX(n) AS n_docs, CAST(MAX(r) AS INT) AS b_resamples,
         |  ${oRound("CAST(MAX(sq) AS DOUBLE) / 1000000.0" +
             " / CAST(MAX(n) AS DOUBLE)", 6)} AS mean_q,
         |  ${oRound("MAX(CASE WHEN r = 2 THEN m END)", 6)} AS lo95,
         |  ${oRound("MAX(CASE WHEN r = 63 THEN m END)", 6)} AS hi95
         |FROM mm""".stripMargin
    }),
    // Snapshot diff: full-outer join of the two derived snapshots on
    // doc_id, sha256 content compare, per-status rollup.
    QueryDef("llm_corpus_diff", llmCorpusDiff,
      """WITH v1 AS (SELECT doc_id, sha256(text) AS h1
        |            FROM documents WHERE doc_id % 5 <> 4),
        |v2 AS (SELECT doc_id,
        |         sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |                ELSE text END) AS h2
        |       FROM documents WHERE doc_id % 5 <> 2),
        |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |        CASE WHEN v1.doc_id IS NULL THEN 'added'
        |             WHEN v2.doc_id IS NULL THEN 'removed'
        |             WHEN h1 = h2 THEN 'unchanged'
        |             ELSE 'changed' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM j GROUP BY status ORDER BY status""".stripMargin),
    // Two-sample KS: cumulative window over the DISTINCT-value frame
    // (grouped first, so RANGE-vs-ROWS default frames agree), D from
    // exact long counts quantized before the (D desc, x) argmax.
    QueryDef("llm_drift_ks", llmDriftKs,
      s"""WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x,
         |             (doc_id % 7 = 0) AS cand FROM documents),
         |c AS (SELECT x,
         |        CAST(SUM(CASE WHEN cand THEN 0 ELSE 1 END) AS BIGINT) AS c_ref,
         |        CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS c_cand
         |      FROM s GROUP BY x),
         |t AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         |        CAST(SUM(c_cand) AS BIGINT) AS n_cand FROM c),
         |cum AS (SELECT x,
         |          SUM(c_ref) OVER (ORDER BY x) AS cum_ref,
         |          SUM(c_cand) OVER (ORDER BY x) AS cum_cand FROM c)
         |SELECT
         |  ${oRound("ABS(cum_ref / CAST(t.n_ref AS DOUBLE)" +
             " - cum_cand / CAST(t.n_cand AS DOUBLE))", 9)} AS ks_d,
         |  x AS at_x, t.n_ref, t.n_cand
         |FROM cum CROSS JOIN t
         |ORDER BY ks_d DESC, at_x LIMIT 1""".stripMargin),
    // k-anonymity: QI triple (lang, source, n_chars//100); groups under
    // k = 5 get their quasi-identifiers masked to '*'.
    QueryDef("llm_k_anon", llmKAnon,
      """WITH d AS (SELECT doc_id, lang, source, n_chars // 100 AS size_bucket
        |           FROM documents),
        |g AS (SELECT doc_id, lang, source, size_bucket,
        |        COUNT(*) OVER (PARTITION BY lang, source, size_bucket) AS group_n
        |      FROM d)
        |SELECT doc_id,
        |  CASE WHEN group_n >= 5 THEN lang ELSE '*' END AS lang,
        |  CASE WHEN group_n >= 5 THEN source ELSE '*' END AS source,
        |  CASE WHEN group_n >= 5 THEN CAST(size_bucket AS VARCHAR) ELSE '*' END AS size_bucket,
        |  CAST(group_n AS BIGINT) AS group_n
        |FROM g ORDER BY doc_id""".stripMargin),
    // Boilerplate prefix: (source, 8-word prefix) counts; source total
    // and argmax collapse in one window-free GROUP BY source — the
    // (count desc, prefix asc) winner is MIN over (-c, prefix) structs
    // (mirrors the builder's reshaped two-phase agg; no Sort/Window).
    QueryDef("llm_boilerplate", llmBoilerplate,
      s"""WITH p AS (SELECT source,
         |        array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
         |          AS prefix
         |      FROM documents WHERE len(string_split(text, ' ')) >= 8),
         |c AS (SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM p GROUP BY 1, 2),
         |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         |        MIN({'nc': -c, 'p': prefix}) AS best
         |      FROM c GROUP BY 1)
         |SELECT source, n AS n_docs, best.p AS top_prefix,
         |  CAST(-best.nc AS BIGINT) AS top_count,
         |  ${oRound("(-best.nc) * 1.0 / n", 6)} AS share,
         |  ((-best.nc) * 1.0 / n >= 0.2) AS boilerplate
         |FROM g ORDER BY source""".stripMargin),
    // Source concentration: window-free H = ln n - (sum c ln c)/n
    // identity; sum(c*c) exact (HUGEINT / decimal(38,0)) cast to double
    // once; c ln c terms quantized at 1e-9 before the exact sum.
    QueryDef("llm_source_hhi", llmSourceHhi,
      s"""WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |g AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_sources,
         |    CAST(SUM(c * c) AS DOUBLE) AS c2,
         |    ${oSum("CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))", 9)} AS clnc
         |  FROM c GROUP BY 1)
         |SELECT lang, n_docs, n_sources,
         |  ${oRound("c2 / (CAST(n_docs AS DOUBLE) * n_docs)", 6)} AS hhi,
         |  ${oRound("ln(CAST(n_docs AS DOUBLE)) - clnc / n_docs", 6)} AS entropy_nats,
         |  ${oRound("exp(ln(CAST(n_docs AS DOUBLE)) - clnc / n_docs)", 6)} AS eff_sources
         |FROM g ORDER BY lang""".stripMargin),
    // KMV theta set ops: same md5 48-bit uniform, per-slice k-minima by
    // (h, w) rank, union sketch re-ranked over the distinct sketch
    // values; every 1-row frame rides a scalar subquery (a comma cross
    // join of tiny frames can plan as CartesianProduct on the Spark
    // surface).
    QueryDef("llm_sketch_setops", llmSketchSetops,
      s"""WITH wd AS (SELECT DISTINCT doc_id % 2 AS slice, w
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t
         |  WHERE length(w) > 0),
         |h AS (SELECT slice, w,
         |    CAST(('0x' || substr(md5(w), 1, 12))::BIGINT AS DOUBLE)
         |      / 281474976710656.0 AS h
         |  FROM wd),
         |sk AS (SELECT slice, w, h FROM (
         |    SELECT slice, w, h,
         |      row_number() OVER (PARTITION BY slice ORDER BY h, w) AS rn
         |    FROM h) r
         |  WHERE rn <= 200),
         |sa AS (SELECT slice, CAST(COUNT(*) AS BIGINT) AS n_sk,
         |    MAX(h) AS theta FROM sk GROUP BY 1),
         |ea AS (SELECT CASE WHEN n_sk < 200 THEN CAST(n_sk AS DOUBLE)
         |    ELSE 199.0 / theta END AS nd_a FROM sa WHERE slice = 0),
         |eb AS (SELECT CASE WHEN n_sk < 200 THEN CAST(n_sk AS DOUBLE)
         |    ELSE 199.0 / theta END AS nd_b FROM sa WHERE slice = 1),
         |uk AS (SELECT w, h FROM (
         |    SELECT w, h, row_number() OVER (ORDER BY h, w) AS rn
         |    FROM (SELECT DISTINCT w, h FROM sk) d) r
         |  WHERE rn <= 200),
         |bo AS (SELECT w, CAST(COUNT(DISTINCT slice) AS BIGINT) AS ns
         |  FROM sk GROUP BY 1),
         |us AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u, MAX(h) AS theta_u,
         |    CAST(SUM(CASE WHEN bo.ns = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m_both
         |  FROM uk JOIN bo USING (w)),
         |us2 AS (SELECT n_u, m_both,
         |    CASE WHEN n_u < 200 THEN CAST(n_u AS DOUBLE)
         |      ELSE 199.0 / theta_u END AS nd_union_est
         |  FROM us),
         |ex AS (SELECT
         |    CAST(SUM(CASE WHEN ns >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_union_exact,
         |    CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersect_exact
         |  FROM (SELECT w, COUNT(DISTINCT slice) AS ns FROM wd GROUP BY 1) q)
         |SELECT CAST(200 AS INT) AS k,
         |  ${oRound("(SELECT nd_a FROM ea)", 6)} AS nd_a_est,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wd WHERE slice = 0) AS n_a_exact,
         |  ${oRound("(SELECT nd_b FROM eb)", 6)} AS nd_b_est,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wd WHERE slice = 1) AS n_b_exact,
         |  ${oRound("nd_union_est", 6)} AS nd_union_est,
         |  (SELECT n_union_exact FROM ex) AS n_union_exact,
         |  ${oRound("CAST(m_both AS DOUBLE) / n_u", 6)} AS jaccard_est,
         |  ${oRound("CAST(m_both AS DOUBLE) / n_u * nd_union_est", 6)} AS nd_intersect_est,
         |  (SELECT n_intersect_exact FROM ex) AS n_intersect_exact
         |FROM us2""".stripMargin),
    // JS divergence: full-outer vocab join, absent-side terms exact
    // zeros, p ln(p/m) terms quantized at 1e-9 before the exact sum;
    // slice totals ride scalar subqueries; ln 2 is the pinned Java
    // double literal (an engine's own ln(2.0) could differ in the last
    // ulp).
    QueryDef("llm_js_divergence", llmJsDivergence,
      s"""WITH wc AS (SELECT doc_id % 2 AS slice, w,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t
         |  WHERE length(w) > 0 GROUP BY 1, 2),
         |na AS (SELECT CAST(SUM(c) AS BIGINT) AS na FROM wc WHERE slice = 0),
         |nb AS (SELECT CAST(SUM(c) AS BIGINT) AS nb FROM wc WHERE slice = 1),
         |j AS (SELECT COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb,
         |    CAST(COALESCE(a.c, 0) AS DOUBLE) / (SELECT na FROM na) AS p,
         |    CAST(COALESCE(b.c, 0) AS DOUBLE) / (SELECT nb FROM nb) AS q
         |  FROM (SELECT w, c FROM wc WHERE slice = 0) a
         |  FULL OUTER JOIN (SELECT w, c FROM wc WHERE slice = 1) b
         |    USING (w)),
         |g AS (SELECT
         |    CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_words_a,
         |    CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_words_b,
         |    CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |    ${oSum("CASE WHEN ca > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END", 9)} AS sp,
         |    ${oSum("CASE WHEN cb > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END", 9)} AS sq
         |  FROM j)
         |SELECT n_words_a, n_words_b, n_common,
         |  ${oRound("0.5 * sp + 0.5 * sq", 6)} AS js_nats,
         |  ${oRound(s"(0.5 * sp + 0.5 * sq) / ${math.log(2.0)}", 6)} AS js_norm
         |FROM g""".stripMargin),
    // Length profile: the agg_percentile idiom per source.
    QueryDef("llm_length_profile", llmLengthProfile,
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ${oRound("quantile_cont(n_chars, 0.1)", 6)} AS p10_chars,
         |  ${oRound("quantile_cont(n_chars, 0.5)", 6)} AS p50_chars,
         |  ${oRound("quantile_cont(n_chars, 0.9)", 6)} AS p90_chars,
         |  ${oRound(s"${oSum("CAST(n_chars AS DOUBLE)", 6)} / COUNT(n_chars)", 6)} AS mean_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // l-diversity: QI pair (lang, n_chars//100), sensitive = source;
    // group-total window runs over the aggregated (QI, source) frame;
    // entropy terms quantized at 1e-9 before the exact sum.
    QueryDef("llm_l_diversity", llmLDiversity,
      s"""WITH sc AS (SELECT lang, n_chars // 100 AS size_bucket, source,
         |        CAST(COUNT(*) AS BIGINT) AS c
         |      FROM documents GROUP BY 1, 2, 3),
         |g AS (SELECT lang, size_bucket, c,
         |        SUM(c) OVER (PARTITION BY lang, size_bucket) AS n
         |      FROM sc)
         |SELECT lang, size_bucket, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS INT) AS distinct_l,
         |  ${oRound(oSum("(c * 1.0 / n) * ln(n * 1.0 / c)", 9), 6)} AS entropy,
         |  (COUNT(*) >= 3) AS diverse
         |FROM g GROUP BY lang, size_bucket
         |ORDER BY lang, size_bucket""".stripMargin),
    // t-closeness: the comparison grid is the aggregated QI-frame x
    // sensitive-universe cross join (absent cells contribute q_s), terms
    // quantized at 1e-9, the x1/2 and t-compare on the quantized value.
    QueryDef("llm_t_closeness", llmTCloseness,
      s"""WITH d AS (SELECT lang, n_chars // 100 AS size_bucket, source
         |      FROM documents),
         |sc AS (SELECT lang, size_bucket, source,
         |        CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2, 3),
         |g AS (SELECT lang, size_bucket, CAST(SUM(c) AS BIGINT) AS n
         |      FROM sc GROUP BY 1, 2),
         |q AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs
         |      FROM sc GROUP BY 1),
         |t AS (SELECT CAST(SUM(cs) AS BIGINT) AS nn FROM q),
         |x AS (SELECT g.lang, g.size_bucket, g.n, q.cs, t.nn,
         |        COALESCE(sc.c, 0) AS c
         |      FROM g CROSS JOIN q CROSS JOIN t
         |      LEFT JOIN sc ON sc.lang = g.lang
         |        AND sc.size_bucket = g.size_bucket AND sc.source = q.source)
         |SELECT lang, size_bucket, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  ${oRound("0.5 * (" + oSum("ABS(c * 1.0 / n - cs * 1.0 / nn)", 9) + ")", 6)} AS emd,
         |  (${oRound("0.5 * (" + oSum("ABS(c * 1.0 / n - cs * 1.0 / nn)", 9) + ")", 6)} <= 0.25) AS close
         |FROM x GROUP BY lang, size_bucket
         |ORDER BY lang, size_bucket""".stripMargin),
    // KMV sketch: md5 12-hex uniform hash over the DISTINCT vocabulary,
    // k minima via ORDER/LIMIT, estimate (k-1)/u_k replayed exactly.
    QueryDef("llm_kmv_ndv", llmKmvNdv,
      s"""WITH wd AS (SELECT DISTINCT w FROM (
         |      SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |      WHERE w <> ''),
         |h AS (SELECT (('0x' || substr(md5(w), 1, 12))::BIGINT + 0.5)
         |        / 281474976710656.0 AS u FROM wd),
         |mn AS (SELECT u FROM h ORDER BY u LIMIT 256),
         |sk AS (SELECT CAST(COUNT(*) AS INT) AS k, MAX(u) AS uk FROM mn),
         |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_ndv FROM wd)
         |SELECT k, ${oRound("uk", 9)} AS uk,
         |  ${oRound("CAST(k - 1 AS DOUBLE) / uk", 2)} AS est_ndv,
         |  exact_ndv,
         |  ${oRound("ABS(CAST(k - 1 AS DOUBLE) / uk - CAST(exact_ndv AS DOUBLE)) / CAST(exact_ndv AS DOUBLE)", 6)} AS rel_err
         |FROM sk, e""".stripMargin),
    // CMS: counters replay exactly (md5 12-hex mod-w buckets over the
    // distinct-word frame); the one_sided invariant is the sketch's
    // defining property, pinned TRUE by construction in both engines.
    QueryDef("llm_cms_topk", llmCmsTopk,
      s"""WITH wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |      SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |    WHERE w <> '' GROUP BY w),
         |pr AS (SELECT w, c, r,
         |    (('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || w), 1, 12))::BIGINT
         |      % 1024) AS b
         |  FROM wc, (VALUES (0), (1), (2), (3)) AS t(r)),
         |sk AS (SELECT r, b, CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM pr GROUP BY r, b),
         |tp AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 10)
         |SELECT tp.w AS w, CAST(MAX(tp.c) AS BIGINT) AS exact,
         |  CAST(MIN(sk.cnt) AS BIGINT) AS cms_est,
         |  CAST(MIN(sk.cnt) - MAX(tp.c) AS BIGINT) AS overestimate,
         |  (MIN(sk.cnt) >= MAX(tp.c)) AS one_sided
         |FROM tp JOIN pr ON pr.w = tp.w JOIN sk ON sk.r = pr.r AND sk.b = pr.b
         |GROUP BY tp.w
         |ORDER BY exact DESC, w""".stripMargin),
    // DP release: per-CELL-KEY md5 uniform inverted through the Laplace
    // CDF, quantized at 1e-9 before round-and-clamp — both engines
    // release the identical table (a seeded RNG would be rows-only).
    QueryDef("llm_dp_release", llmDpRelease,
      s"""WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
         |    FROM documents GROUP BY lang, source),
         |un AS (SELECT lang, source, n_true,
         |    (('0x' || substr(md5(lang || ':' || source), 1, 12))::BIGINT
         |      + 0.5) / 281474976710656.0 AS u
         |  FROM c),
         |nz AS (SELECT lang, source, n_true,
         |    ${oRound("-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * ABS(u - 0.5))", 9)} AS noise
         |  FROM un)
         |SELECT lang, source, n_true,
         |  CAST(GREATEST(FLOOR(n_true + noise + 0.5), 0.0) AS BIGINT)
         |    AS released,
         |  ${oRound("ABS(noise)", 6)} AS noise_abs
         |FROM nz ORDER BY lang, source""".stripMargin)
  )
}
