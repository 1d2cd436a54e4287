package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.9 capstones: the three `llm_corpus_pipeline*` hygiene pipelines,
  * which compose the dedup, quality, LM, sampling and statistics
  * families over one corpus.
  */
object CorpusPipeline {
  import Dedup.{containmentCtes, contaminationOf, hashGramSql, minhashPairsCtes,
    ngramContainmentFromHashed, repetitionOf, verifiedCandidates, wordHashSql}
  import LmStats.{lmAvgBitsSql, lmBitsCtes, lmPerplexityOf, lmQualityOf, pplModelCtes}
  import Quality.{codeDetectOf, codeScoreCtes, gopherKeepCondSql, gopherRuleColsSql, gopherRulesOf,
    gopherSplitSql, qualityCol, qualitySql, topicMixCtes, topicMixOf}
  import Sampling.keeperIdsOf
  import CorpusStats.sourceStatsOf

  /** Shared CTE chain + WHERE tail of the v1 hygiene capstone oracle —
    * v2 extends both, so the two manifests cannot drift. */
  private lazy val corpusPipelineCtes: String =
    s"""wh AS ($wordHashSql),
       |rep AS (
       |  SELECT doc_id, ${hashGramSql(2, distinct = false)} AS bg,
       |    len(hs) AS n_words
       |  FROM wh WHERE nw >= 2),
       |gc AS (SELECT doc_id, g, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(bg) AS g FROM rep) u GROUP BY doc_id, g),
       |tc AS (SELECT doc_id, MAX(c) AS top FROM gc GROUP BY doc_id),
       |nonrep AS (
       |  SELECT rep.doc_id FROM rep JOIN tc USING (doc_id)
       |  WHERE NOT (tc.top * 1.0 / (rep.n_words - 1) > 0.20)),
       |g4 AS (SELECT doc_id, ${hashGramSql(4)} AS g FROM wh WHERE nw >= 4),
       |eg AS (SELECT DISTINCT unnest(g) AS gm FROM g4 WHERE doc_id % 97 = 0),
       |contam AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT doc_id, unnest(g) AS gm FROM g4 WHERE doc_id % 97 != 0) c
       |  JOIN eg ON c.gm = eg.gm),
       |keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |srcq AS (
       |  SELECT source,
       |    CASE WHEN COUNT(*) OVER (PARTITION BY sha256(text)) > 1
       |         THEN 1 ELSE 0 END AS is_dup
       |  FROM documents),
       |keptsrc AS (
       |  SELECT source FROM srcq GROUP BY source
       |  HAVING SUM(is_dup) * 1.0 / COUNT(*) <= 0.5)""".stripMargin

  private lazy val corpusPipelineWhere: String =
    s"""d.doc_id % 97 != 0
       |  AND d.doc_id IN (SELECT doc_id FROM keepers)
       |  AND d.doc_id IN (SELECT doc_id FROM nonrep)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
       |  AND d.source IN (SELECT source FROM keptsrc)
       |  AND ${oRound(qualitySql("d.text"), 6)} >= 0.5
       |  AND d.lang IN ('en', 'de')""".stripMargin

  /** Capstone #2 — the FULL corpus-hygiene composition, one manifest
    * query chaining every r10/r11 filter family the way a production
    * pre-training pipeline does (each stage is the same injectable core
    * its standalone operator uses, so the composition is proven against
    * the same oracles): exact-dedup keepers ∧ NOT Gopher-repetitive ∧
    * NOT eval-contaminated ∧ source keep/drop ∧ language allowlist ∧
    * quality floor — eval docs themselves excluded from the training
    * manifest. Extends [[llmCorpusSelect]] (dedup ∧ lang ∧ quality ∧
    * split), which stays as the minimal composition.
    *
    * Scale shape: each stage keeps its own documented shape (per-row
    * arithmetic + two-phase aggs + broadcast eval/source sides); the
    * composition adds only id-keyed semi/anti joins and one broadcast
    * semi join on the tiny source list. Docs under the stages' minimum
    * word counts drop out via the repetition semi join (< 2 words has
    * no bigram — not scoreable, not trainable). */
  /** The r10/r11 hygiene conjunction joined and filtered, pre-select —
    * shared base of the two capstone manifests. */
  private def hygieneBase(d: DataFrame): DataFrame = {
    val keepers = keeperIdsOf(d)
    val nonRepetitive = repetitionOf(d.select("doc_id", "text"))
      .filter(!col("repetitive")).select("doc_id")
    // contaminationOf emits only docs with at least one shared gram
    // (inner join against the eval gram set), so its output IS the
    // contaminated set — no threshold filter needed
    val contaminated = contaminationOf(d.select("doc_id", "text"),
      id => id % 97 === 0).select("doc_id")
    val keptSources = sourceStatsOf(d).filter(col("keep")).select("source")
    d.filter(col("doc_id") % 97 =!= 0)
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nonRepetitive, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(broadcast(keptSources), Seq("source"), "left_semi")
  }

  /** The capstones' final gate and manifest: the heuristic quality score
    * at ≥ 0.5 on en/de docs (oracle twin: the tail of
    * `corpusPipelineWhere`). */
  private def qualityManifest(kept: DataFrame): DataFrame =
    kept.select(col("doc_id"), col("lang"), col("source"),
        dround(qualityCol(split(col("text"), " ")), 6).as("quality"))
      .filter(col("quality") >= 0.5 && col("lang").isin("en", "de"))
      .orderBy("doc_id")

  /** DuckDB twin of [[qualityManifest]] over the v1 hygiene
    * conjunction; v2 and v3 append their stage conditions. */
  private lazy val qualityManifestSql: String =
    s"""SELECT d.doc_id, d.lang, d.source,
       |  ${oRound(qualitySql("d.text"), 6)} AS quality
       |FROM documents d
       |WHERE $corpusPipelineWhere""".stripMargin

  /** v2's rule-stage CTEs, which v3 extends: the Gopher battery at
    * (20, 1) → `gop` and the LM-frequency ceiling 5.2 → `lmq`. */
  private lazy val ruleStageCtes: String =
    s"""gd AS ($gopherSplitSql),
       |gr AS (SELECT doc_id, $gopherRuleColsSql FROM gd),
       |gop AS (SELECT doc_id FROM gr WHERE ${gopherKeepCondSql(20, 1)}),
       |${lmBitsCtes("lws", "lf", "lt", "lb")},
       |lmq AS (SELECT doc_id FROM lb GROUP BY doc_id
       |        HAVING $lmAvgBitsSql <= 5.2)""".stripMargin

  val llmCorpusPipeline: Q = (s, dir) =>
    qualityManifest(hygieneBase(Tables.t(s, dir, "documents")))

  /** Capstone #3 (r12) — the v1 manifest with the round's rule-based
    * stages folded in, at PIPELINE-CONFIGURED bounds: the Gopher rule
    * battery at (minWords = 20, minStops = 1) — the paper values empty
    * this fixture, see [[gopherRulesOf]]'s note; real pipelines tune
    * every bound per corpus — plus an LM-frequency ceiling
    * (avg_bits ≤ 5.2, inside the fixture's 5.0–5.42 spread, standing
    * in for CCNet's perplexity cut). Both stages are the SAME injectable
    * cores as their standalone oracle-checked operators, so this proves
    * the r12 composition against one oracle the way v1 proved r10/r11's. */
  val llmCorpusPipelineV2: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
    val gopherKeep = gopherRulesOf(d, minWords = 20, minStops = 1)
      .filter(col("keep")).select("doc_id")
    val lmKeep = lmQualityOf(d)
      .filter(col("avg_bits") <= 5.2).select("doc_id")
    qualityManifest(hygieneBase(d)
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(lmKeep, Seq("doc_id"), "left_semi"))
  }

  /** Capstone #4 (r20) — v2's manifest with the r19 signal families
    * folded in as gates, each the SAME injectable core as its standalone
    * oracle-checked operator (the shared-CTE no-drift discipline):
    *
    *  - perplexity ceiling (ppl ≤ 31.0, inside the fixture's 26–38
    *    spread): [[lmPerplexityOf]] — CCNet's LM filter, here against
    *    the corpus's own bigram JM model; prices word ORDER where v2's
    *    unigram avg_bits gate prices vocabulary.
    *  - code-composition bound (source code_frac ≤ 0.1):
    *    [[codeDetectOf]] — a prose corpus must not silently absorb a
    *    code-heavy source; fixture sources are pure prose so this gate
    *    passes everything, which is the honest reading of an audit
    *    bound (the gate is live; the corpus is clean).
    *  - topic-composition bound (max single-topic share ≤ 0.75 per
    *    source): [[topicMixOf]] — a topic-collapsed source skews the
    *    mix however correct its docs look individually.
    *  - containment sub-document drop: [[ngramContainmentFromHashed]]
    *    over the SAME banded-LSH candidates — a doc ≥ 80%-contained in
    *    another at low Jaccard is a sub-document (Broder containment);
    *    the CONTAINED side drops, the host survives.
    *
    * Scale shape: the doc-level gates stay id-keyed semi/anti joins;
    * both composition bounds collapse to source-keyed frames that
    * BROADCAST (≤ #sources rows); the containment chain is the
    * bucketed candidate machinery, never all-pairs. Nothing in the
    * composition adds a corpus-wide window or a driver collect. */
  val llmCorpusPipelineV3: Q = (s, dir) => {
    // NO fanOut on the shared input (A/B'd r21): the capstone's gate
    // subtrees DO serialize single-task on a single-split scan, but
    // they overlap across the five gates, and fanning the input out
    // read min 9.4 s vs the 4.0 s floor — the same mechanism as the
    // hashedWordsOf family A/B (v3 5.3→12.5 there): the containment
    // chain's many cache consumers each pay the wider shuffle matrix.
    val d = Tables.t(s, dir, "documents")
    val gopherKeep = gopherRulesOf(d, minWords = 20, minStops = 1)
      .filter(col("keep")).select("doc_id")
    val lmKeep = lmQualityOf(d)
      .filter(col("avg_bits") <= 5.2).select("doc_id")
    val pplKeep = lmPerplexityOf(d.select("doc_id", "text"))
      .filter(col("ppl") <= 31.0).select("doc_id")
    val codeOkSrc = codeDetectOf(d.select("source", "text"))
      .filter(col("code_frac") <= 0.1).select("source")
    val topicOkSrc = topicMixOf(d.select("doc_id", "source", "text"))
      .groupBy("source").agg(max(col("share")).as("max_share"))
      .filter(col("max_share") <= 0.75).select("source")
    val embedded = verifiedCandidates(d)(ngramContainmentFromHashed)
      .filter(col("embedded"))
      .select(when(col("cont_a") >= col("cont_b"), col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
    qualityManifest(hygieneBase(d)
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(lmKeep, Seq("doc_id"), "left_semi")
      .join(pplKeep, Seq("doc_id"), "left_semi")
      .join(broadcast(codeOkSrc), Seq("source"), "left_semi")
      .join(broadcast(topicOkSrc), Seq("source"), "left_semi")
      .join(embedded, Seq("doc_id"), "left_anti"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("llm_corpus_pipeline", llmCorpusPipeline,
      s"""WITH $corpusPipelineCtes
         |$qualityManifestSql
         |ORDER BY d.doc_id""".stripMargin),
    // v2: the same base conjunction plus the r12 rule stages at the
    // capstone's pipeline-configured bounds (gopher 20/1, lm 5.2) —
    // CTEs built from the SAME fragments as the standalone oracles.
    QueryDef("llm_corpus_pipeline_v2", llmCorpusPipelineV2,
      s"""WITH $corpusPipelineCtes,
         |$ruleStageCtes
         |$qualityManifestSql
         |  AND d.doc_id IN (SELECT doc_id FROM gop)
         |  AND d.doc_id IN (SELECT doc_id FROM lmq)
         |ORDER BY d.doc_id""".stripMargin),
    // v3 (r20): v2 plus the r19 signal gates — perplexity ceiling,
    // code/topic composition bounds, containment sub-document drop —
    // every CTE from the SAME shared fragments as the standalone
    // oracles (pplModelCtes / codeScoreCtes / topicMixCtes /
    // minhashPairsCtes + containmentCtes).
    QueryDef("llm_corpus_pipeline_v3", llmCorpusPipelineV3,
      s"""WITH $corpusPipelineCtes,
         |$ruleStageCtes,
         |${pplModelCtes("pwt", "pbg", "pc12", "pc1", "pcu", "pbt", "pmd")},
         |pplk AS (SELECT pbg.doc_id FROM pbg JOIN pmd USING (w1, w2)
         |         GROUP BY pbg.doc_id
         |         HAVING ${oRound(s"exp((${oSum("-ln(p)", 9)}) / COUNT(*))", 6)} <= 31.0),
         |${codeScoreCtes("cds", "cdsc")},
         |ckeep AS (SELECT source FROM cdsc GROUP BY source
         |          HAVING ${oRound("CAST(SUM(CASE WHEN score >= 0.05 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} <= 0.1),
         |${topicMixCtes("tmt", "tmh", "tmd", "tmd2", "tmlab", "tmce", "tmtt")},
         |tmsh AS (SELECT tmce.source,
         |           ${oRound("CAST(tmce.n_docs AS DOUBLE) / tmtt.n_src", 6)} AS share
         |         FROM tmce JOIN tmtt USING (source)),
         |tkeep AS (SELECT source FROM tmsh GROUP BY source
         |          HAVING MAX(share) <= 0.75),
         |$minhashPairsCtes,
         |${containmentCtes("ccand", "cgr", "cjn", "cj2")},
         |cemb AS (SELECT CASE WHEN cont_a >= cont_b THEN doc_a
         |                     ELSE doc_b END AS doc_id
         |         FROM cj2
         |         WHERE GREATEST(cont_a, cont_b) >= 0.8 AND jaccard < 0.5)
         |$qualityManifestSql
         |  AND d.doc_id IN (SELECT doc_id FROM gop)
         |  AND d.doc_id IN (SELECT doc_id FROM lmq)
         |  AND d.doc_id IN (SELECT doc_id FROM pplk)
         |  AND d.source IN (SELECT source FROM ckeep)
         |  AND d.source IN (SELECT source FROM tkeep)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cemb)
         |ORDER BY d.doc_id""".stripMargin)
  )
}
