package graft

/** Empirical scale-curve guard for the dedup + ANN heavy tail: time the
  * REAL registered queries at sf0.01 (500 docs / 2k embeddings) and
  * sf0.1 (5,000 docs / 20k embeddings) and assert the growth over the
  * 10× corpus step stays far below quadratic.
  *
  * The 100 TB posture of these operators is argued from plan shape
  * (banded buckets + hot-bucket caps bound candidate pairs linearly in
  * corpus size; star-contraction CC is O(log d) rounds of linear joins;
  * IVF routes each query to nprobe cells rather than the full corpus)
  * and verified for CORRECTNESS across scales by the driver gate — this
  * spec adds the measured time-vs-rows curve so a regression to an
  * accidentally quadratic shape (a dropped cap, a candidate self-join
  * losing its bucket key, a lost nprobe bound) fails CI with a timing
  * signature, not just in the next round's bench forensics.
  *
  * Threshold: quadratic growth on 10× rows is 100×; the r16 measured
  * medians are 1.1–1.2× (fixed per-job overhead dominates at toy scale,
  * the r10 finding). α < 1.5 (ratio < 31.6×) rejects quadratic with a
  * ~26× noise margin over the measured point.
  *
  * Robustness (r17, ADVICE): each side uses the MIN of 3 timed repeats,
  * not the median — a GC pause or co-tenant stall inflates individual
  * readings only, so min discards stalls on BOTH sides (a stalled
  * lo-scale median would mask a real hi-scale regression; a stalled
  * hi-scale median would false-alarm). Constrained boxes can skip the
  * whole probe with SPARK_GRAFT_SKIP_SCALE_PROBE=1, mirroring the
  * PERF.md bench protocol's quiet-window requirement.
  */
class ScaleCurveProbeSpec extends SparkSpec {
  private val loDir = "/root/testdata/sf0.01"
  private val hiDir = "/root/testdata/sf0.1"
  private val subQuadraticCeiling = 31.6 // 10^1.5 on a 10x corpus step
  private val skip = sys.env.get("SPARK_GRAFT_SKIP_SCALE_PROBE").contains("1")

  private def minTime(name: String, dir: String): Double = {
    val q = SparkEntry.queries(name)
    def once(): Double = {
      spark.catalog.clearCache() // each repeat re-pays its own persists
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm: JIT + codegen cache, outside the measurement
    (1 to 3).map(_ => once()).min
  }

  // Dedup trio (r16) + ANN family and cluster sampling (r17, verdict
  // item 4): the IVF/PQ paths have recall gates in AnnScaleProbeSpec but
  // had no timing-curve guard — a lost nprobe bound or hot-cell cap
  // surfaces here first.
  // join_range_bin (r17): the per-bin pre-aggregation rewrite bounds the
  // join output at |filtered| x 7 partial rows — a lost pre-agg (row-level
  // join again) multiplies hi-scale cost by the per-day row count and
  // trips this curve first.
  // llm_suffix_dedup (r17): the prefix-doubling rounds are each one
  // equi-shuffle over the token stream — a regression that loses the
  // (doc_id, pos) join key (e.g. a cross-doc pairing) turns a round
  // quadratic and trips this curve first.
  // llm_heaps_law (r17): the first-occurrence agg is wordcount-shaped
  // and every window runs over the fixed 16-checkpoint frame — a lost
  // checkpoint bucketing (window straight over the word stream) would
  // single-partition the corpus and trip this curve first.
  // graph_hits (r17): 6 edge⋈score half-steps over the persisted edge
  // list — a lost edge persist re-scans the corpus ~11x per run and a
  // lost equi-key would wedge-square the join; both trip here first.
  // Per-commit wall-clock bound (r19, verdict item 7 — at 12 curves ×
  // 8 timed runs this was the suite's LARGEST sink, ~170 s): unless
  // SPARK_GRAFT_SCALE_PROBE=full, run a stable md5-keyed third of the
  // curve list; close-of-round runs set the env var for the complete
  // sweep, so every curve still gates every round. A curve for a query
  // TOUCHED this round belongs in recentAdditions, which always runs.
  private val curveSampled = CommitSample("SPARK_GRAFT_SCALE_PROBE", byte = 3, modulus = 3)

  Seq("llm_dedup_cc", "llm_semdedup_cc", "llm_ngram_jaccard",
      "llm_ann_ivf", "llm_ann_pq", "llm_ann_ivfpq",
      "llm_cluster_sample", "join_range_bin",
      "llm_suffix_dedup", "llm_suffix_scrub",
      "llm_heaps_law", "graph_hits").foreach { name =>
    test(s"$name grows sub-quadratically over the 10x corpus step") {
      assume(!skip, "SPARK_GRAFT_SKIP_SCALE_PROBE=1")
      assume(curveSampled(name),
        "outside the per-commit md5 third (SPARK_GRAFT_SCALE_PROBE=full sweeps)")
      val lo = minTime(name, loDir)
      val hi = minTime(name, hiDir)
      val ratio = hi / lo
      val alpha = math.log10(ratio) / 1.0 // 10x rows => log10(n ratio) = 1
      info(f"$name: sf0.01 $lo%.2fs -> sf0.1 $hi%.2fs, ratio $ratio%.2fx, alpha $alpha%.2f")
      assert(ratio < subQuadraticCeiling,
        f"$name grew $ratio%.1fx on a 10x corpus (alpha $alpha%.2f >= 1.5) — " +
          "check the hot-bucket caps / bucket-join keys / nprobe bounds")
    }
  }
}
