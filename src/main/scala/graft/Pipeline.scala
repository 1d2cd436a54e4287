package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import graft.queries.{CorpusStats, Dedup, LmStats, MmFeat, MmRow, Multimodal, Quality, Sampling,
  Vectors}

/** Public library surface for the training-data pipeline operators, over
  * CALLER-OWNED DataFrames — the `SparkEntry.queries` registry binds the
  * same cores to the fixture layout for the oracle gate; this facade is
  * what an application imports to run them on its own tables.
  *
  * Session contract: the session must be built with
  * `spark.sql.extensions=graft.GraftExtensions` (as [[GraftSession.local]]
  * does) — the operators call graft's SQL functions (`word_hashes_text`,
  * `dot_product`, `unicode_normalize`, …) by name, and the extension is
  * the only place they enter a session.
  *
  * Input contracts (column names are positional requirements, extra
  * columns are ignored unless noted):
  *  - `docs`: `doc_id: long`, `text: string` — plus `lang` where a
  *    method says so, `source`/`lang` for [[sourceStats]].
  *  - All operators are deterministic (no RNG), shuffle-minimal, and
  *    scale-shaped as documented on their cores in
  *    the `graft.queries` family modules: banded/bucketed candidate generation with
  *    hot-bucket caps, two-phase aggregation, O(log d) star-contraction
  *    clustering, and incremental-state joins that broadcast only the
  *    bounded batch.
  *
  * Cache contract: operators pin their multi-consumed intermediates
  * through `graft.queries.pin` (a MEMORY_AND_DISK persist with one eager
  * count) and cut iterative lineage through `graft.queries.ckpt`, whose
  * local form leaves RDD-level `localCheckpoint()` blocks that
  * `spark.catalog.clearCache()` alone never frees (it empties only the
  * Dataset CacheManager). Nothing unpersists either kind when your
  * terminal action completes. Long-lived sessions invoking operators in
  * a loop should call [[releaseCaches]], which frees both, between
  * invocations, as graft's own Bench, Verify, Profile, PlanDump and
  * SurfaceProbe mains do between queries.
  */
object Pipeline {

  /** Release the persisted intermediates left by prior operator calls:
    * everything in this session's CacheManager AND every surviving
    * RDD-level block (the iterative operators' `localCheckpoint()`
    * blocks live there, invisible to `clearCache()` — the r20
    * measurement-harness finding, a 3× late-query inflation in-suite).
    * Call between loop iterations in long-lived sessions; see the
    * cache contract above. Safe because no graft operator legitimately
    * persists ACROSS invocations. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Per-doc minhash signature table (12-value signature + exact
    * shingle-id set) — the persisted state schema of the dedup family.
    * Docs with fewer than 3 words carry no signature (no 3-shingle
    * exists) and are absent from the result. */
  def minhashSignatures(docs: DataFrame): DataFrame = Dedup.signaturesOf(docs)

  /** Verified near-duplicate pairs (doc_a < doc_b, shingle-Jaccard ≥ 0.5)
    * via banded MinHash-LSH — candidates only ever form inside
    * (band, signature) buckets, capped against boilerplate blowup. */
  def nearDupPairs(docs: DataFrame): DataFrame = Dedup.minhashDupPairs(docs)

  /** UNVERIFIED banded-LSH candidate pairs (doc_a < doc_b) — the pair
    * source for a downstream verify stage ([[ngramJaccard]], or your
    * own) when you want to separate candidate generation from the
    * verification feature. */
  def minhashCandidatePairs(docs: DataFrame): DataFrame =
    Dedup.minhashCandidatePairs(docs)

  /** Exact word-bigram Jaccard verify over caller candidate pairs
    * (doc_a, doc_b) → (doc_a, doc_b, bigram_jac). The one-argument
    * overload wires in [[minhashCandidatePairs]], the deployed
    * generate → verify composition. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.ngramJaccardOf(docs, pairs)
  def ngramJaccard(docs: DataFrame): DataFrame =
    Dedup.ngramJaccardOf(docs, Dedup.minhashCandidatePairs(docs))

  /** Near-dup clusters: connected components over [[nearDupPairs]] by
    * alternating large-star/small-star contraction (O(log d) rounds).
    * Returns (doc_id, cluster_id = component-min doc_id). */
  def nearDupClusters(docs: DataFrame): DataFrame =
    Dedup.connectedComponents(
      docs.select("doc_id"),
      Dedup.minhashDupPairs(docs).select("doc_a", "doc_b"))

  /** Connected components over a caller-supplied undirected edge list
    * (any two equal-typed id columns); returns (doc_id, cluster_id) for
    * `nodes` (single id column). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    Dedup.connectedComponents(nodes, edges)

  /** One production incremental-dedup round: dedup `batch` against the
    * persisted signature state at `statePath` (exact content-hash layer
    * + banded near layer), returning survivor ids; `append = true` folds
    * the survivors' state rows back in so the next batch dedups against
    * corpus ∪ survivors. Initialize the state with [[writeDedupState]].
    * Each batch document is hashed once; the batch is broadcast and the
    * state streams, so the state may outgrow broadcast range while the
    * batch stays bounded. */
  def incrementalDedup(spark: SparkSession, batch: DataFrame,
      statePath: String, append: Boolean = true): DataFrame =
    Dedup.incrementalDedupRound(spark, batch, statePath, append)

  /** Build and write the initial dedup state (signatures + content
    * hashes) for a corpus: one shuffle-free projection per document, so
    * output parallelism follows the corpus scan. A per-file record cap
    * lands a TB-scale corpus as many bounded shards and a fixture corpus
    * as a handful of files — never the single-reducer bottleneck a
    * coalesce(1) would force at scale. */
  def writeDedupState(corpus: DataFrame, statePath: String): Unit =
    Dedup.dedupStateOf(corpus)
      .write.mode("overwrite").option("maxRecordsPerFile", 1000000)
      .parquet(statePath)

  /** Streaming twin of [[incrementalDedup]]'s EXACT layer: dedup a
    * STREAMING frame of (doc_id, text) rows against the persisted state
    * hashes — a stream-static join (state is broadcast-sized relative to
    * a batch by the incremental contract), emitting survivors in append
    * mode as they arrive. The near layer stays a batch pass (band-bucket
    * candidate generation needs the whole batch); running
    * exact-streaming + near-batch is the standard split. Stream-left /
    * static-right LEFT ANTI is a supported streaming shape (the checker
    * only rejects anti joins with the STREAM on the right).
    *
    * Internal columns use the `__graft_` prefix, so caller columns
    * survive untouched (a batch frame may itself carry an `h`). */
  def incrementalDedupExactStream(spark: SparkSession, batch: DataFrame,
      statePath: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val stateHashes = spark.read.parquet(statePath)
      .select(col("h").as("__graft_state_h")).distinct()
    batch
      .withColumn("__graft_h", Dedup.contentHashCol) // state's hash scheme, shared
      .join(stateHashes, col("__graft_h") === col("__graft_state_h"), "left_anti")
      .drop("__graft_h")
  }

  /** FULL streaming twin of the incremental-dedup loop — exact AND near
    * layers: each micro-batch runs the same core as [[incrementalDedup]]
    * (the static state's hashes and band rows streamed against the
    * broadcast micro-batch, exact-Jaccard verify), its survivors land in `outPath`
    * (parquet, stamped with the micro-batch id) and, when `append`, fold
    * back into the state so later micro-batches dedup against
    * corpus ∪ earlier survivors.
    *
    * Why `foreachBatch` and not one continuous DAG: the near layer ends
    * in an anti-join of the batch against its own verified candidates —
    * a stream-stream anti join, which Structured Streaming (correctly)
    * rejects; only the exact layer is expressible as a pure
    * stream-static plan ([[incrementalDedupExactStream]]). Each
    * micro-batch is a bounded DataFrame, so the batch core applies
    * unchanged and stream ≡ batch-loop by construction (pinned in
    * StreamingSpec on a planted two-batch corpus).
    *
    * Delivery note: `foreachBatch` is at-least-once, and the body is
    * retry-safe by ORDERING, not just sink idempotence. Survivors are
    * decided against state-at-batch-start, written to their
    * `batch_id=<id>` output partition FIRST (dynamic partition
    * overwrite — a retry replaces its own partition), and only then
    * folded back into the state. Every crash window retries cleanly:
    * before the output commit, state is untouched and the batch replays
    * from scratch; between output and state append, the recomputed
    * survivors are identical and overwrite in place; after the state
    * append, the retry's exact layer suppresses the batch against its
    * own hashes — an EMPTY survivor frame, which dynamic overwrite
    * leaves the committed partition alone for and which appends no
    * state rows. (State-append-then-output — the naive order — would
    * make that last window LOSE the batch's output: the retry
    * anti-joins the batch against its own just-appended hashes and
    * overwrites the partition with nothing.) A double state append in
    * the middle window duplicates state rows, which is harmless: both
    * layers' matches collapse under the dups' distinct before the
    * anti-join; compaction is out-of-band
    * ([[writeDedupState]]'s contract). */
  def incrementalDedupStream(stream: DataFrame, statePath: String,
      outPath: String, checkpoint: String, append: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // survivors' state rows vs state-at-batch-start; pinned before
        // any writes, and the state append writes these same rows
        val survivors = Dedup.survivorStateOf(b.sparkSession, b, statePath)
          .localCheckpoint()
        // dynamic overwrite scoped to THIS write (DataFrameWriter
        // option, not a session-conf toggle): a conf set/restore here
        // would leak 'dynamic' to any concurrent query on the shared
        // session during the micro-batch, and the restore could clobber
        // a value another thread set meanwhile.
        survivors.select(col("doc_id")).withColumn("batch_id", lit(id))
          .write.option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").partitionBy("batch_id").parquet(outPath)
        if (append) Dedup.appendSurvivorState(survivors, statePath)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Benchmark decontamination: per corpus doc, shared-4-gram count and
    * ratio against the eval partition selected by `isEval(doc_id)`.
    * The eval gram set broadcasts; the corpus side never shuffles. */
  def contamination(docs: DataFrame, isEval: Column => Column): DataFrame =
    Dedup.contaminationOf(docs, isEval)

  /** Streaming twin of [[contamination]]: score a STREAMING (doc_id,
    * text) frame against a STATIC eval-doc frame (broadcast gram set).
    * Run the result in UPDATE output mode — each doc's row finalizes in
    * its own micro-batch; see the core's scaladoc for the state-growth
    * caveat. */
  def contaminationStream(stream: DataFrame, evalDocs: DataFrame): DataFrame =
    Dedup.contaminationStream(stream, evalDocs)

  /** Fuzzy (near-duplicate) benchmark decontamination — catches the
    * paraphrased/partially-edited eval leakage [[contamination]]'s exact
    * 4-gram overlap misses: corpus docs LSH-bucket against the eval
    * partition's minhash signatures and candidate pairs verify by exact
    * shingle Jaccard ≥ 0.3 (recall-leaning; flagged docs get exact or
    * human follow-up). Returns (doc_id, eval_id, jaccard). Eval suites
    * are KB-sized, so the eval side of both joins broadcasts and the
    * corpus side streams map-side through them. */
  def fuzzyContamination(docs: DataFrame, isEval: Column => Column): DataFrame =
    Dedup.fuzzyContaminationOf(docs, isEval)

  /** Gopher-rule intra-doc repetition ratios (duplicate-word fraction,
    * top-bigram mass) with the 0.20 flag. */
  def repetition(docs: DataFrame): DataFrame = Dedup.repetitionOf(docs)

  /** MassiveText/Dolma duplicate-chunk fractions: share of each doc's
    * 20-word chunks that occur in at least one other doc. */
  def dupChunks(docs: DataFrame): DataFrame = Dedup.dupChunksOf(docs)

  /** Duplicate-chunk removal (Dolma paragraph dedup): strips every
    * cross-document duplicate 20-word chunk and reassembles the
    * survivors in order — returns (doc_id, n_chunks, n_kept,
    * clean_hash = md5 of the scrubbed text). */
  def chunkScrub(docs: DataFrame): DataFrame = Dedup.chunkScrubOf(docs)

  /** Per-source document cap (C4-style domain balancing): keep at most
    * `cap` docs per `source`, selected deterministically by md5(doc_id)
    * — an unbiased per-source sample. Plans through the heap-based
    * grouped-top-k operator, so no per-partition sort at scale. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame =
    Sampling.sourceCapOf(docs, cap).drop("__graft_rn")

  /** HTML → text extraction over a raw-markup `text` column: strips
    * script/style blocks, comments and tags, decodes the common
    * entities, collapses whitespace — the deterministic
    * boilerplate-removal stage ahead of quality scoring and dedup.
    * Returns (doc_id, clean_text). */
  def htmlExtract(docs: DataFrame): DataFrame = Quality.htmlExtractOf(docs)

  /** C4/RefinedWeb-style per-source corpus statistics and the
    * source-level keep/drop decision. Needs `source`, `lang`, `text`. */
  def sourceStats(docs: DataFrame): DataFrame = CorpusStats.sourceStatsOf(docs)

  /** CCNet-style LM-frequency quality score: per-doc mean unigram
    * surprise (integer-log2 bits) under the corpus's own word
    * distribution — natural text scores low, gibberish high. Words are
    * hashed into a fixed 2^16 feature-bucket space before counting
    * (broadcast-safe at any corpus scale; colliding words pool
    * counts). Returns (doc_id, n_words, avg_bits, suspect). */
  def lmQuality(docs: DataFrame): DataFrame = LmStats.lmQualityOf(docs)

  /** Bigram-conditional LM surprise — the context-aware dual of
    * [[lmQuality]]: per adjacent word pair, bits(c(prev)) −
    * bits(c(prev,cur)) clamped at 0, averaged per doc. Low
    * avg_cond_bits = strongly collocated (boilerplate/templates), high
    * = word salad. Same fixed 2^16 hashed-bucket count tables
    * (broadcast-safe at any scale). Docs under 2 words carry no row.
    * Returns (doc_id, n_bigrams, avg_cond_bits). */
  def lmBigram(docs: DataFrame): DataFrame = LmStats.lmBigramOf(docs)

  /** CCNet head/middle/tail partitioning (Wenzek et al. 1911.00359
    * §4.3): per language, docs split into best/middle/worst thirds by
    * the integer LM-surprise score — head is what CCNet trains on.
    * Thresholds come from a per-(lang, quantized-score) histogram, so
    * no per-doc ntile/sort at any corpus scale. Returns (doc_id, lang,
    * avg_bits, bucket). */
  def ccnetBuckets(docs: DataFrame): DataFrame = Quality.ccnetBucketsOf(docs)

  /** Hybrid retrieval: BM25 lexical + 64-dim hashed-count cosine dense
    * rankers fused by Reciprocal Rank Fusion (Cormack et al. 2009,
    * `Σ 1/(60+rank)`) — the standard lexical+dense combiner in RAG
    * stacks. A doc in only one ranker's pool keeps the other rank NULL
    * and scores on the present term alone. Returns (q_id, rnk, doc_id,
    * rrf, lex_rnk, dense_rnk). */
  def rrfFusion(docs: DataFrame, isQuery: Column => Column,
      poolK: Int = 20, topK: Int = 5): DataFrame =
    LmStats.rrfFusionOf(docs, isQuery, poolK, topK)

  /** Exact-quota stratified sampling: per language, EXACTLY
    * ⌈frac · n_lang⌉ docs in md5(doc_id) order — quota honored exactly
    * (unlike threshold sampling), membership stable under corpus growth
    * up to hash interleaving. Returns (doc_id, lang, rn, n_lang,
    * quota). */
  def stratifiedSample(docs: DataFrame, frac: Double = 0.2): DataFrame =
    Sampling.stratifiedSampleOf(docs, frac)

  /** Population Stability Index drift monitor between the doc_id % 7
    * candidate slice and the rest: 100-char length bins (capped at 9),
    * ε-floored shares, per-bin PSI terms — sum the `psi_term`
    * column and alert above ~0.25. Input needs (doc_id, n_chars);
    * returns the 10-bin (bin, c_ref, c_cand, p_ref, p_cand, psi_term)
    * frame. One two-phase count over the corpus. */
  def driftPsi(docs: DataFrame): DataFrame = CorpusStats.driftPsiOf(docs)

  /** Two-sample Kolmogorov–Smirnov drift statistic between the same
    * slices — [[driftPsi]]'s binless companion: the sup-norm CDF
    * distance with the feature value attaining it. Corpus-sized work is
    * one two-phase count; the cumulative window runs over the bounded
    * distinct-value frame. Returns one row (ks_d, at_x, n_ref,
    * n_cand). */
  def driftKs(docs: DataFrame): DataFrame = CorpusStats.driftKsOf(docs)

  /** Corpus snapshot diff: added/removed/changed/unchanged counts by
    * content hash across two derived snapshots — one co-partitioned
    * full-outer join on the doc key, so downstream stages recompute
    * only the delta. Input needs (doc_id, text). */
  def corpusDiff(docs: DataFrame): DataFrame = CorpusStats.corpusDiffOf(docs)

  /** t-closeness audit (the third release-privacy gate beside kAnon and
    * lDiversity): per QI group, the EMD (= total-variation distance for
    * categorical attributes) between the group's sensitive-value
    * distribution and the corpus-wide one, plus the t-pass flag. All
    * comparison frames are aggregated — one corpus pass. Input needs
    * (lang, n_chars, source). */
  def tCloseness(docs: DataFrame, t: Double = 0.25): DataFrame =
    CorpusStats.tClosenessOf(docs, t)

  /** K-minimum-values distinct-count sketch over the corpus vocabulary:
    * (k, u_k, est_ndv, exact_ndv, rel_err) one-row self-gate — the
    * exactly-replayable counterpart of the HLL++ NDV estimate. Input
    * needs a text column. */
  def kmvNdv(docs: DataFrame, k: Int = 256): DataFrame =
    CorpusStats.kmvNdvOf(docs, k)

  /** Count-min sketch heavy-hitter read-out: d×w occurrence counters
    * over the vocabulary, then per top-k exact word the CMS estimate,
    * the overestimate, and the one-sided-error invariant — the
    * mergeable-sketch counterpart of kmvNdv. Input needs a text
    * column. */
  def cmsTopk(docs: DataFrame, d: Int = 4, wBuckets: Int = 1024,
      topK: Int = 10): DataFrame = CorpusStats.cmsTopkOf(docs, d, wBuckets, topK)

  /** Excess-loss data selection (RHO-style): top-k docs by
    * uni_bits − bi_bits — the per-word information the context model
    * explains that the unigram reference cannot; high gain = learnable
    * structure, ~0 = word soup a loss-based curator skips. */
  def rhoSelect(docs: DataFrame, topK: Int = 100): DataFrame =
    Quality.rhoSelectOf(docs, topK)

  /** ε-DP contingency-release audit: the (lang × source) count table
    * with deterministic per-cell Laplace(1/ε) noise, round-and-clamp
    * post-processing, true counts and utility loss beside the release
    * — completes the privacy family (kAnon/lDiversity/tCloseness audit
    * the data; this audits the released statistic). */
  def dpRelease(docs: DataFrame, eps: Double = 1.0): DataFrame =
    CorpusStats.dpReleaseOf(docs, eps)

  /** Per-source quality-score calibration (batch-effect correction):
    * per doc, the raw quantized score plus its in-source percent rank
    * (uniform [0,1] per source — what a per-source quota cuts at) and
    * in-source z-score (shape-preserving). Input needs (doc_id,
    * source, text). Per-source window + broadcast moment frame. */
  def qualityCalibrate(docs: DataFrame): DataFrame =
    Quality.qualityCalibrateOf(docs)

  /** Zipf rank-frequency fit over the top-V vocabulary: least-squares
    * (exponent, intercept, R²) of ln(freq) on ln(rank) — natural text
    * fits exponent ≈ 1 with high R²; template floods and synthetic
    * spam bend it. One wordcount + a V-row regression. Input needs a
    * text column. */
  def zipfFit(docs: DataFrame, topV: Int = 1000): DataFrame =
    LmStats.zipfFitOf(docs, topV)

  /** Heaps'-law vocabulary-growth fit — the companion gate to
    * [[zipfFit]]: least-squares β of ln(vocab) on ln(tokens) at nCkpt
    * integer-exact corpus prefixes. Natural text fits β ≈ 0.4–0.8 at
    * high R²; β near 0 = closed template vocabulary, near 1 = token
    * soup. Input needs (doc_id, text); wordcount-shaped shuffles plus
    * an nCkpt-row regression frame. */
  def heapsLaw(docs: DataFrame, nCkpt: Int = 16): DataFrame =
    LmStats.heapsLawOf(docs, nCkpt)

  /** UniMax budget allocation (Chung et al., ICLR 2023): water-fill a
    * token budget across languages under a per-language epoch cap —
    * closed-form threshold on the k-language frame, no iteration.
    * Input needs (lang, text); returns per-language allocation,
    * epochs, and the capped flag. */
  def unimax(docs: DataFrame): DataFrame = Sampling.unimaxOf(docs)

  /** Poisson-bootstrap 95% CI for the corpus mean quality — each of
    * nB replicates draws every doc's multiplicity independently as
    * Poisson(1) (scale-free, one corpus pass). Input needs (doc_id,
    * text); returns one row (n_docs, b_resamples, mean_q, lo95,
    * hi95). */
  def bootstrapCi(docs: DataFrame, nB: Int = 64): DataFrame =
    CorpusStats.bootstrapCiOf(docs, nB)

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * top-k by the deterministic key ln(u)/w with md5-derived u — the
    * quality-∝ corpus-subset draw. Input needs (doc_id, n_chars);
    * returns the k selected (doc_id, w, es_key). Per-row arithmetic
    * into a bounded top-k heap merge — scan speed at any scale. */
  def weightedSample(docs: DataFrame, k: Int = 200): DataFrame =
    Sampling.weightedSampleOf(docs, k)

  /** k-anonymity suppression over the (lang, source, size-bucket)
    * quasi-identifier triple: rows whose QI group holds fewer than k
    * docs get their QIs masked to '*' before release. Returns (doc_id,
    * lang, source, size_bucket, group_n). */
  def kAnon(docs: DataFrame, k: Int = 5): DataFrame = CorpusStats.kAnonOf(docs, k)

  /** l-diversity audit over the (lang, size-bucket) quasi-identifier
    * pair with `source` as the sensitive attribute: per QI group, size,
    * distinct-l, sensitive-distribution entropy, and the distinct-l ≥ l
    * flag — the homogeneity-attack check k-anonymity alone misses.
    * Returns (lang, size_bucket, n_docs, distinct_l, entropy, diverse). */
  def lDiversity(docs: DataFrame, l: Int = 3): DataFrame =
    CorpusStats.lDiversityOf(docs, l)

  /** Retrieval evaluation (nDCG@k / MRR / hits) of the brute-cosine
    * ranking against label relevance. Returns per eval query
    * (q_id, n_rel, hits, mrr, dcg, ndcg). */
  def ndcgEval(embeddings: DataFrame, k: Int = 10): DataFrame =
    Vectors.ndcgEvalOf(embeddings, k)

  /** Per-source boilerplate-prefix detection: the most frequent w-word
    * document prefix per source, its share of the source's docs, and
    * the share ≥ thresh flag — the audit before a template-strip pass.
    * Returns (source, n_docs, top_prefix, top_count, share, boilerplate). */
  def boilerplate(docs: DataFrame, w: Int = 8,
      thresh: Double = 0.2): DataFrame = CorpusStats.boilerplateOf(docs, w, thresh)

  /** Multi-touch conversion attribution (linear + last-touch side by
    * side, 7-day lookback, value-conserving `direct` bucket) over a
    * (user_id, event_id, tsu, event_type, value) event frame. Returns
    * (touch_type, n_touches, linear_value, last_touch_value). */
  def attribution(events: DataFrame,
      lookbackUs: Long = 604800000000L): DataFrame =
    graft.queries.Sequences.attributionOf(events, lookbackUs)

  /** CUPED variance-reduced A/B readout over an event frame: per
    * md5-parity arm, (n_users, mean_y, mean_y_cuped, theta, var_y,
    * var_y_cuped) with the pre/post split at the observation window's
    * midpoint. The variance ratio is the sample-size saving the
    * covariate adjustment buys. */
  def cuped(events: DataFrame): DataFrame =
    graft.queries.Sequences.cupedOf(events)

  /** Markov removal-effect attribution — the data-driven upgrade of
    * [[attribution]]: journeys as a first-order chain over touch
    * channels with absorbing conv/null, channel credit ∝ the drop in
    * start→conv absorption when the channel is removed (12-step
    * truncated fixed point, exact cross-engine). Returns one row per
    * channel: (p_base, p_removed, removal_effect, share,
    * attributed_value). */
  def attributionMarkov(events: DataFrame, steps: Int = 12): DataFrame =
    graft.queries.Sequences.attributionMarkovOf(events, steps)

  /** Experiment sample-size estimate: users per arm to detect a
    * `mdeRel` relative lift at α=.05 / power .80, with variance and
    * baseline measured from the control arm's post-period spend — the
    * planning read in front of [[cuped]]. */
  def power(events: DataFrame, mdeRel: Double = 0.05): DataFrame =
    graft.queries.Sequences.powerOf(events, mdeRel)

  /** Sample-ratio-mismatch guardrail: χ² of the realized md5-parity arm
    * split against 50/50 with the 1-dof 95% flag — run it before
    * reading any [[cuped]]/[[did]] estimate. */
  def srm(events: DataFrame): DataFrame = graft.queries.Sequences.srmOf(events)

  /** Difference-in-differences estimate over an event frame: md5-parity
    * arms × midpoint pre/post split, per-cell user means and the DiD
    * point estimate in one row — the quasi-experimental companion to
    * [[cuped]]. */
  def did(events: DataFrame): DataFrame = graft.queries.Sequences.didOf(events)

  /** Holt linear-trend forecast per event-type daily-count series:
    * (level, trend, 1- and 7-step-ahead forecasts) per series;
    * sequential per series, parallel across series. */
  def forecastHolt(events: DataFrame): DataFrame =
    graft.queries.Sequences.forecastHoltOf(events)

  /** Holt-Winters additive weekly-seasonal forecast per event_type —
    * level/trend/seasonal-amplitude + h=1 and h=7 forecasts; series
    * under two seasons (14 days) emit nothing. Input needs
    * (event_type, ts). */
  def holtWinters(events: DataFrame): DataFrame =
    graft.queries.Sequences.holtWintersOf(events)

  /** STL-lite trend/seasonal/residual decomposition of the per-type
    * daily count series (centered MA7 trend, dow-mean seasonal).
    * Input needs (event_type, ts). */
  def stlDecompose(events: DataFrame): DataFrame =
    graft.queries.Sequences.stlDecomposeOf(events)

  /** Per-state entropy contributions of the first-order behavior
    * Markov chain (share · H(state), summing to the chain's entropy
    * rate). Input needs (user_id, event_id, ts, event_type). */
  def entropyRate(events: DataFrame): DataFrame =
    graft.queries.Sequences.entropyRateOf(events)

  /** Per-lang source-concentration indices: HHI, Shannon entropy,
    * effective-source count. Input needs (lang, source). */
  def sourceHhi(docs: DataFrame): DataFrame =
    CorpusStats.sourceHhiOf(docs)

  /** KMV theta-sketch set operations between the even/odd doc_id
    * slices: NDV estimates for each slice, their union and
    * intersection, with exact counts beside every estimate. Input
    * needs (doc_id, text). */
  def sketchSetops(docs: DataFrame, k: Int = 200): DataFrame =
    CorpusStats.sketchSetopsOf(docs, k)

  /** RAKE keyword extraction: top-N stopword-free phrases scored by
    * summed member-word degree/frequency. Input needs (text). */
  def rakeKeywords(docs: DataFrame, topN: Int = 20): DataFrame =
    LmStats.rakeKeywordsOf(docs, topN)

  /** Per-source code-likeness audit (symbol-char + code-keyword
    * ratios, code-like doc fraction). Input needs (source, text). */
  def codeDetect(docs: DataFrame, thresh: Double = 0.05): DataFrame =
    Quality.codeDetectOf(docs, thresh)

  /** Lexicon-based per-doc topic argmax rolled up as per-(source,
    * topic) shares. Input needs (doc_id, source, text). */
  def topicMix(docs: DataFrame): DataFrame =
    Quality.topicMixOf(docs)

  /** Per-doc perplexity under the corpus's own interpolated bigram LM
    * (docs with fewer than 2 words have no defined perplexity and are
    * absent). Input needs (doc_id, text). */
  def lmPerplexity(docs: DataFrame): DataFrame =
    LmStats.lmPerplexityOf(docs)

  /** Jensen-Shannon divergence between the even/odd doc_id slices'
    * word distributions (one row: vocab sizes, overlap, JS in nats and
    * normalized to [0,1]). Input needs (doc_id, text). */
  def jsDivergence(docs: DataFrame): DataFrame =
    CorpusStats.jsDivergenceOf(docs)

  /** Per-source document-length profile: exact interpolated
    * p10/p50/p90 of n_chars plus the mean. Input needs
    * (source, n_chars). */
  def lengthProfile(docs: DataFrame): DataFrame =
    CorpusStats.lengthProfileOf(docs)

  /** Near-dup threshold sensitivity curve: per candidate Jaccard cut
    * (0.5–0.9), the verified pairs and distinct docs a dedup pass at
    * that cut would touch. Input needs (doc_id, text). */
  def dedupThresholdCurve(docs: DataFrame): DataFrame =
    Dedup.dedupThresholdCurveOf(docs)

  /** Asymmetric n-gram containment over pre-built LSH candidate pairs
    * — the sub-document-duplicate detector symmetric Jaccard misses
    * (the `embedded` flag fires on high containment at low Jaccard).
    * `hashed` = [[graft.queries.Dedup.hashedWordsOf]] output (caller
    * persists it); `pairs` needs (doc_a, doc_b). */
  def ngramContainment(hashed: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.ngramContainmentFromHashed(hashed, pairs)

  /** URL-level dedup (RefinedWeb §3.1): canonicalize a `url` column
    * (strip fragments/default ports/trailing slashes/tracking params,
    * sort survivors), then per canonical key keep the best-quality doc
    * (max `n_chars`, `doc_id` tiebreak). Input needs (doc_id, n_chars,
    * url); returns (canonical_url, dup_cnt, keeper_id, best_chars).
    * A pure projection plus ONE shuffle on the canonical key — the
    * pre-content dedup stage, runnable before any text is fetched. */
  def urlDedup(docs: DataFrame): DataFrame = Dedup.urlDedupOf(docs)

  /** Exact duplicated-substring detection (Lee et al., ACL 2022) via
    * bounded prefix doubling over word-level suffix equivalence
    * classes: per doc, the deepest tested prefix depth (1/2/4/8/16
    * words) at which any position's prefix repeats corpus-wide, plus
    * duplicated-position counts at depths 8 and 16 — collision-free
    * (class ids are representative positions, not hashes). Input needs
    * (doc_id, text); returns (doc_id, n_pos, max_dup_depth, n_dup8,
    * n_dup16). log₂(depth) equi-shuffle rounds, no global sort. */
  def suffixDup(docs: DataFrame): DataFrame = Dedup.suffixDupOf(docs)

  /** The dedup action on the [[suffixDup]] signal (Lee et al. §4):
    * cut every non-first occurrence of a duplicated `spanW`-word span
    * (first = min packed (doc_id, pos) key) and reassemble surviving
    * words; overlapping removable spans union through the covered set.
    * Input needs (doc_id, text); returns (doc_id, n_words, n_removed,
    * clean_text). One gram pass + two-phase gram stats + skew-safe
    * equi-join + bounded per-doc covered set. */
  def suffixScrub(docs: DataFrame, spanW: Int = 8): DataFrame =
    Dedup.suffixScrubOf(docs, spanW)

  /** MMR diversity reranking (Carbonell & Goldstein 1998) of a cosine
    * retrieval pool: greedy λ·rel − (1−λ)·max-sim-to-selected picks,
    * sequential per query but parallel across queries
    * (groupByKey(q_id) group fold — no per-step plan growth). Returns
    * (q_id, step, vec_id, mmr). */
  def mmrRerank(embeddings: DataFrame, isQuery: Column => Column,
      poolK: Int = 10, selectK: Int = 5, lambda: Double = 0.7): DataFrame =
    Vectors.mmrRerankOf(embeddings, isQuery, poolK, selectK, lambda)

  /** PMI-ranked collocation extraction (Church & Hanks 1990): adjacent
    * word pairs scored by the un-logged association ratio
    * p(a,b)/(p(a)·p(b)), hapax-guarded (`minCount`), global top-k via
    * TakeOrderedAndProject. Returns (a, b, cab, ca, cbn, ratio). */
  def collocations(docs: DataFrame, minCount: Int = 3,
      topK: Int = 20): DataFrame = LmStats.collocationsOf(docs, minCount, topK)

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the word co-occurrence graph, surfacing words
    * central to the topology even when raw counts are unremarkable.
    * Returns the top-k (word, score). */
  def textrank(docs: DataFrame, iterations: Int = 5,
      topK: Int = 10): DataFrame = LmStats.textrankOf(docs, iterations, topK)

  /** Cavnar-Trenkle char-trigram language ID: per-language top-30
    * trigram rank profiles built from the corpus's own labels, docs
    * classified by the all-integer out-of-place distance. Returns
    * (doc_id, lang, predicted, dist, correct). */
  def charLangId(docs: DataFrame): DataFrame = Quality.charLangIdOf(docs)

  /** Per-doc character-distribution entropy in the integer bin-length
    * surrogate — the cheap low-entropy garbage gate (single-char
    * floods, keyboard mash) that runs before heavier n-gram scorers.
    * Returns (doc_id, len, alphabet, ent_bits). */
  def charEntropy(docs: DataFrame): DataFrame = LmStats.charEntropyOf(docs)

  /** Media preprocessing manifest: per payload, the resize plan
    * (longest side to 224 px, aspect preserved) and the uniform
    * frame-sample plan (≤ 4 frames at stride indices, stub timestamps
    * and byte offsets) — one row per sampled frame, the work list a
    * decode fleet executes downstream. Shuffle-free per-row
    * arithmetic; at 100 TB the manifest generation is the
    * corpus-sized pass, the decode is per-row work behind it. */
  def mediaManifest(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.llmMediaManifest(spark, sfDir)

  /** Cross-document repeated-span removal with text reconstruction
    * (Lee et al. 2107.06499's finding that span-level cutting beats
    * document-level dropping, at non-overlapping `chunkWords`-word
    * chunk granularity): a chunk occurring anywhere else in the corpus
    * survives only at its global first occurrence, and clean_text
    * reassembles each doc's kept chunks in order. Returns (doc_id,
    * n_chunks, kept, removed, clean_text). Chunk stats are one
    * hash-keyed two-phase agg; reconstruction is per-doc bounded. */
  def spanDedup(docs: DataFrame, chunkWords: Int = 5): DataFrame =
    Dedup.spanDedupOf(docs, chunkWords)

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007) of the
    * held-out slice (`!isTrain`) under the train slice's hashed count
    * tables — the quality-family member where backoff genuinely fires
    * on unseen n-grams. Integer bin-length bits, +1 bit per backoff
    * level. Returns (doc_id, n_trigrams, avg_bits, backoff_frac) for
    * held-out docs with ≥ 3 words; backoff_frac is itself a strong
    * out-of-distribution signal. All three count tables are ≤ 65,536
    * rows at any corpus scale (broadcast-safe by construction). */
  def lmTrigram(docs: DataFrame, isTrain: Column => Column): DataFrame =
    LmStats.lmTrigramOf(docs, isTrain)

  /** SemDeDup (semantic dedup inside coarse embedding clusters) over a
    * caller (vec_id, embedding) frame: returns (dup_id, keeper_id,
    * best_cos) — every vector with a lower-id same-cell partner above
    * the cosine threshold maps to its lowest such partner. Coarse
    * quantizer convention: the `k` vectors with the smallest
    * md5(vec_id) serve as centroid seeds (a deterministic,
    * oracle-replayable stand-in for trained k-means centers; k is
    * FIXED per invocation — independent of corpus size — so the
    * centroid broadcast and the O(N·k) assignment hold at any scale,
    * with exact-duplicate seed ties resolved deterministically).
    * SIZE k FOR YOUR CORPUS: expected cell size is N/k and cells past
    * the hot-cell candidate cap (1000) are DROPPED, so pick
    * k ≳ N / 1000 (≈ 2^16 at tens of millions of vectors; the default
    * 40 suits the test fixtures). Works for any id space, including
    * frames smaller than k. */
  def semDedup(embeddings: DataFrame, k: Int = Vectors.ivfK): DataFrame =
    Vectors.semDedupOf(embeddings, k)

  /** Lexical-diversity battery over a caller (doc_id, text) frame:
    * type-token ratio, hapax fraction, Yule's K — the vocabulary-
    * richness axis template spam passes every length/ratio gate on. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    LmStats.lexicalDiversityOf(docs)

  /** Embedding outlier audit over a caller (vec_id, embedding) frame:
    * flags each coarse cell's most-peripheral 5% by quantized cosine
    * to the cell centroid (exact interpolated per-cell p05). `k` sizes
    * the coarse quantizer (see [[semDedup]]'s sizing rule). */
  def embedOutliers(embeddings: DataFrame, k: Int = Vectors.ivfK): DataFrame =
    Vectors.embedOutliersOf(embeddings, k)

  /** Mutual k-NN graph over a caller (vec_id, embedding) frame: edge
    * (id_a < id_b, cos) iff each endpoint ranks the other in its
    * top-`k` by cosine — mutuality filters the hub vectors plain kNN
    * graphs drown in. Candidates form only within the coarse quantizer
    * cells (`cells` seeds — see [[semDedup]]'s sizing rule), so the
    * pair space stays cell-bounded at any corpus size. */
  def knnGraph(embeddings: DataFrame, k: Int = 3,
      cells: Int = Vectors.ivfK): DataFrame =
    Vectors.knnGraphOf(embeddings, k, cells)

  /** SemDeDup pairs resolved into CLUSTERS via connected components
    * (the same O(log d) star-contraction operator the MinHash path
    * uses): (vec_id, cluster_id = component-min vec_id) for every
    * vector; keep one representative per cluster. Use this instead of
    * [[semDedup]] when transitive semantic-dup chains (A~B~C with A≁C)
    * must resolve consistently — the pairwise keeper rule maps B to A
    * but C to B, which a per-pair drop mishandles. `k` sizes the coarse
    * quantizer (see [[semDedup]]'s sizing rule). */
  def semDedupClusters(embeddings: DataFrame, k: Int = Vectors.ivfK): DataFrame =
    Vectors.semDedupClustersOf(embeddings, k)

  /** Cluster-balanced diversity sampling: keep at most `m` vectors per
    * semantic cluster (the [[semDedupClusters]] labels), selected by
    * deterministic md5 order. m = 1 reproduces SemDeDup's retention;
    * m > 1 trades residual redundancy for coverage. Returns (vec_id,
    * cluster_id) for the kept vectors. */
  def clusterSample(embeddings: DataFrame, m: Int,
      k: Int = Vectors.ivfK): DataFrame =
    Vectors.clusterSampleOf(embeddings, m, k)
      .select("vec_id", "cluster_id")

  /** IVF approximate-nearest-neighbor search over CALLER frames —
    * `corpus` and `queries` both (vec_id: long, embedding:
    * array&lt;float&gt;). Returns (q_id, rnk, vec_id, cos): the `topK`
    * highest-cosine corpus neighbors of each query, scanning only each
    * query's `nprobe` nearest inverted lists. The coarse quantizer is
    * the k-seed md5 sample refined by `refineSteps` deterministic
    * Lloyd iterations (0 = raw sample); hot cells beyond the candidate
    * cap are dropped rather than scanned (boilerplate-cluster guard).
    * Centroids broadcast (k-sized at any corpus scale); assignment is
    * O(N·k); the scan shuffles only probed cells. SIZE k FOR YOUR
    * CORPUS: expected inverted-list length is N/k and lists past the
    * cap (1000) are dropped, so pick k ≳ N / 1000 (≈ 2^16 at tens of
    * millions of vectors; the default 40 suits the test fixtures) and
    * scale `nprobe` with the recall you need. */
  def annSearch(corpus: DataFrame, queries: DataFrame, topK: Int = 5,
      nprobe: Int = 2, refineSteps: Int = 1, k: Int = Vectors.ivfK): DataFrame = {
    import org.apache.spark.sql.functions._
    def prep(df: DataFrame): DataFrame =
      Vectors.withNorm(df.select(col("vec_id"), Vectors.embeddingV))
    val c = prep(corpus)
    var cents = Vectors.ivfSeeds(c, k)
    (1 to refineSteps).foreach(_ => cents = Vectors.lloydRefine(c, cents))
    Vectors.ivfRetrieve(c, prep(queries), cents, topK, nprobe)
  }

  /** Temperature-scaled (α = 0.5) domain-mixing weights per `source`:
    * (source, n_docs, n_tokens, mix_p, epochs). */
  def mixWeights(docs: DataFrame): DataFrame = Sampling.mixWeightsOf(docs)

  /** The full Gopher document-filter rule battery (word-count bounds,
    * mean word length, symbol/bullet/ellipsis ratios, alphabetic-word
    * ratio, stopword presence) with per-rule columns and the `keep`
    * conjunction. Pair with [[repetition]] for Table A1's
    * duplication half. */
  def gopherRules(docs: DataFrame): DataFrame = Quality.gopherRulesOf(docs)

  /** DSIR-style importance scoring of raw docs against the target
    * distribution selected by `isTarget(doc_id)`: (doc_id, n_words,
    * avg_importance, selected) — selected docs look more target-like
    * than corpus-like under per-word integer-log2 likelihood ratios,
    * computed over the paper's fixed 2^16 hashed feature buckets
    * (count tables broadcast-safe at any corpus scale).
    * Precondition: `isTarget` must match at least one doc — an empty
    * target distribution has no likelihoods, and every score degrades
    * to null. */
  def dsirSelect(docs: DataFrame, isTarget: Column => Column): DataFrame =
    Quality.dsirSelectOf(docs, isTarget)

  /** Trained linear quality classifier (the GPT-3-style "train a
    * classifier on labeled docs, score the corpus" selection step):
    * batch perceptron over 2^16 hashed unigram counts, `positive` is
    * the ±1 label predicate evaluated over `docs`. Integer weights —
    * training and scoring are bit-exact across engines. Returns
    * (doc_id, y, score, pred) for every doc; `pred` is the trained
    * decision, `score` the raw margin for thresholding at a different
    * operating point. Weight tables are ≤ 65,536 rows at any corpus
    * scale (broadcast-safe by construction). */
  def qualityClassifier(docs: DataFrame, positive: Column,
      epochs: Int = 3): DataFrame =
    Quality.qualityClassifierOf(docs, epochs, positive)

  /** Split-conformal prediction sets over [[qualityClassifier]]'s
    * scores: calibration split doc_id % 5 = 0, α = 0.1, integer-exact
    * order-statistic threshold. Returns per eval doc the label set
    * membership flags, coverage bit, and set size — the
    * distribution-free coverage guarantee a pipeline checks before
    * trusting a learned quality cut. Input needs (doc_id, lang, text)
    * — lang supplies the classifier's ±1 labels. */
  def conformal(docs: DataFrame): DataFrame = Quality.conformalOf(docs)

  /** PCA top-component projection over a caller (vec_id, v) frame:
    * center, estimate the dominant variance direction by `iters`
    * power-iteration steps over the collected d×d covariance (a model
    * artifact — d² cells at any corpus scale), return (vec_id, pc1).
    * The data passes are the mean/covariance aggregations and one
    * projection join; quantized-long sums end to end, so the trained
    * direction and every projection replay bit-exact in DuckDB. */
  def pcaProject(emb: DataFrame, iters: Int = 8): DataFrame =
    Vectors.pcaProjectOf(emb, iters)

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003) per doc:
    * window-minimum selection over the positional 3-word hash-gram
    * stream at density 2/(w+1). Any ≥ (w+2)-word substring shared by
    * two docs yields at least one shared fingerprint, so the
    * (fingerprint → doc) inverted index this feeds detects extract-level
    * overlap that whole-doc hashing misses. Returns (doc_id, n_fp,
    * fp_sum, fp_min, fp_max) summary rows; shuffle-free per-row
    * arithmetic. Docs under w+2 words carry no window and are absent. */
  def winnow(docs: DataFrame): DataFrame = Dedup.winnowOf(docs)

  /** First-iteration BPE merge-candidate table (Sennrich et al., ACL
    * 2016): the `topK` most frequent adjacent character pairs weighted
    * by corpus word frequency — (pair, cnt). The pair explode runs over
    * DISTINCT words (vocabulary-sized), never the token stream. */
  def bpeMerges(docs: DataFrame, topK: Int = 20): DataFrame =
    LmStats.bpeMergesOf(docs, topK)

  /** BPE APPLY: train the top-`topK` merge table on `docs` (collected
    * driver-side — the tokenizer model artifact, `topK` rows) and
    * encode the corpus VOCABULARY through it with exact whole-symbol
    * greedy merging. Returns (w, encoded, n_syms) — the encode table a
    * tokenizer service ships; vocab-sized, never the token stream.
    * Contract: words must not contain code points U+0001/U+0002 (the
    * internal symbol sentinels). */
  def bpeEncode(docs: DataFrame, topK: Int = 10): DataFrame =
    LmStats.bpeEncodeOf(docs, topK)

  /** BM25 retrieval (Okapi k1 = 1.2, b = 0.75): docs matching
    * `isQuery(doc_id)` are multi-term queries against the rest; top-`k`
    * docs per query by the integer-bits-idf BM25 score. The df join is
    * co-partitioned with the postings aggregation (inverted-index
    * shape — no vocabulary broadcast); ranking runs through
    * TopKPerKeyExec. */
  def bm25(docs: DataFrame, isQuery: Column => Column, topK: Int = 5): DataFrame =
    LmStats.bm25Of(docs, isQuery, topK)

  /** Sparse-random-projection dimensionality reduction (Achlioptas
    * ternary JL matrix, 64 → 16 dims): (vec_id, j, y) projected
    * coordinates, deterministic across engines and partitionings.
    * Shuffle-free per-row arithmetic against a plan-time literal
    * matrix — run it before LSH/clustering to cut vector bytes and
    * hash cost 4x. */
  def randomProject(embeddings: DataFrame): DataFrame =
    Vectors.randomProjOf(embeddings)

  /** Product-quantization ANN over caller (vec_id, v: array&lt;double&gt;)
    * frames: seed `m`×32 sub-codebooks from a deterministic corpus
    * sample, train them with `refineSteps` per-subspace Lloyd
    * iterations (exact quantized-long arithmetic — deterministic across
    * engines and partitionings; 0 = raw sampled seeds), encode the
    * corpus to `m` code ids per vector, answer queries by asymmetric
    * distance computation, then re-rank the `rerank`·topK ADC shortlist
    * by exact L2 over the full vectors (FAISS refine-stage style; 0 =
    * pure ADC) — (q_id, rnk, vec_id, adist). `m` · `subDim` must equal
    * the vector dimensionality. Codebook and query distance table are
    * fixed-size broadcasts at any corpus scale; each Lloyd step adds
    * one O(N·M·Ks) assignment pass whose shuffle is bounded by the
    * M·Ks·subDim cell grid; the exact refine touches only
    * rerank·topK·|queries| pairs; the only corpus-sized shuffle is the
    * per-candidate ADC sum. */
  def pqSearch(corpus: DataFrame, queries: DataFrame, topK: Int = 5,
      m: Int = 8, subDim: Int = 8, refineSteps: Int = 1,
      rerank: Int = 4): DataFrame =
    Vectors.pqRetrieve(corpus, queries, topK, m, subDim, refineSteps, rerank = rerank)

  /** IVF-PQ ANN (FAISS IndexIVFPQ shape) over caller (vec_id, v, nrm)
    * frames + a centroid frame from [[annSearch]]'s quantizer family:
    * coarse cells route vectors, PQ encodes the residual against the
    * assigned centroid, queries ADC-scan only their `nprobe` probed
    * cells, and exact L2 re-ranks the `rerank`·topK shortlist —
    * (q_id, rnk, vec_id, adist). The billion-scale production index:
    * centroids and sub-codebooks stay broadcast-sized at any corpus
    * scale, candidate volume is bounded by nprobe × capped cell size.
    * Use a wider `rerank` than flat PQ (default 8 vs 4): residual ADC
    * mis-orders inside tight clusters even when the true neighbors are
    * all probed (measured on the clustered probe: recall 0.76 at 4 →
    * 1.000 at 8). */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      topK: Int = 5, nprobe: Int = 4, rerank: Int = 8): DataFrame =
    Vectors.ivfPqRetrieve(corpus, queries, cents, topK, nprobe, rerank = rerank)

  /** Deterministic global training-order shuffle + shard assignment:
    * (shard, pos, doc_id) where the whole ordering replays
    * byte-identically from `seed` alone. Set `nShards` to total_bytes /
    * target_shard_bytes at scale — it is the write-parallelism knob and
    * bounds every per-shard sort. */
  def shuffleShards(docs: DataFrame, nShards: Int, seed: String): DataFrame =
    Sampling.shuffleOrderOf(docs, nShards, seed)

  /** Token-budget corpus selection: the highest-quality docs whose
    * cumulative token count fits `frac` of the corpus total — exact to
    * the document, via two-phase quality buckets so no corpus-wide
    * single-partition window exists (only the ~1/nBuckets boundary
    * bucket pays a doc-level running sum). Returns (doc_id, bucket,
    * n_tokens, q). */
  def tokenBudget(docs: DataFrame, frac: Double = 0.5,
      nBuckets: Int = 20): DataFrame =
    Sampling.tokenBudgetOf(docs, frac, nBuckets)

  /** Hard-negative mining for contrastive retrieval training (DPR/ANCE):
    * per query vector (label carried), the top same-label positive and
    * the `negK` most-similar different-label negatives with triplet
    * margins — a negative margin flags a confusable/mislabeled query.
    * Queries are a broadcast-sized training batch; the candidate corpus
    * streams once; swap the brute pairing for [[annSearch]]'s shortlist
    * at scale with identical downstream mining. */
  def hardNegatives(embeddings: DataFrame, isQuery: Column => Column,
      negK: Int = 3): DataFrame =
    Vectors.hardNegativesOf(embeddings, isQuery, negK)

  /** Train/val split-leakage audit: near-dup pairs (banded-LSH
    * candidates verified by exact bigram Jaccard) tagged with the
    * md5-bucket split rule, aggregated per split-pair category — the
    * `train-val` row counts validation docs whose loss measures
    * memorization, not generalization. */
  def splitLeakage(docs: DataFrame): DataFrame = Dedup.splitLeakageOf(docs)

  /** Matryoshka truncation audit: per-query recall@k of first-`truncDim`
    * -dims retrieval against full-dimension retrieval — quantifies the
    * quality cost of serving a truncated index before it ships. */
  def matryoshkaRecall(embeddings: DataFrame, isQuery: Column => Column,
      truncDim: Int = 16, k: Int = 5): DataFrame =
    Vectors.matryoshkaRecallOf(embeddings, isQuery, truncDim, k)

  /** Spearman rank agreement between the heuristic quality composite and
    * the LM-frequency surprise over the corpus — one (n, Σd², ρ) row;
    * ranks are doc_id-tie-broken total orders, bucket-decomposed (no
    * global window). Near-zero ρ = the two selection signals are
    * measuring different things. */
  def scoreAgreement(docs: DataFrame): DataFrame = Quality.scoreAgreementOf(docs)

  /** T5-style span corruption: (input with `<extra_id_k>` sentinels,
    * paired target) per doc, deterministic md5 Bernoulli masking at
    * `rate`% with run compaction. Substituting targets back into the
    * input reproduces the original text (test-pinned). */
  def spanCorrupt(docs: DataFrame, rate: Int = 15): DataFrame =
    Sampling.spanCorruptOf(docs, rate)

  /** Fill-in-the-middle PSM transformation with deterministic cut
    * points; docs under 3 words pass through unsplit. */
  def fim(docs: DataFrame): DataFrame = Sampling.fimOf(docs)

  /** Blocklist-lexicon filter: per-doc hit count/ratio against a
    * caller-owned term list, keep = mention-not-concentration. */
  def blocklistFilter(docs: DataFrame,
      terms: Seq[String] = Quality.demoBlockTerms): DataFrame =
    Quality.blocklistOf(docs, terms)

  /** Greedy longest-match wordpiece token count for one word — the exact
    * matcher behind the `llm_tokenize` query (set-backed, JVM-side; use
    * inside typed maps over partition iterators). */
  def wordpieceTokenCount(word: String): Int = LmStats.wpTokenCountRef(word)

  /** Batched multimodal feature extraction over typed payload rows:
    * real PNG/JPEG header decode, deterministic stub for other media —
    * iterator→iterator per partition, partitioning preserved. */
  def multimodalFeatures(rows: Dataset[MmRow]): Dataset[MmFeat] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions(_.map(Multimodal.decodeFeatures))
  }
}
