package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** §2.9 corpus sampling and mixing: stratified, weighted and per-source
  * capped samples, domain mixing weights (temperature, UniMax), split
  * assignment, shard shuffling, token budgets, keeper selection,
  * chunking and sequence packing, and the span-corruption / FIM
  * training-example transforms.
  */
object Sampling {
  import Quality.{qualityCol, qualitySql}
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** T5-style span-corruption preprocessing (Raffel et al. JMLR 2020
    * §3.1.4 — the pretraining objective's DATA-PREP step: replace
    * masked spans with sentinels, emit the (input, target) pair): each
    * token flags via a deterministic per-(doc, pos) md5 Bernoulli at
    * `rate`%, consecutive flagged runs compact to ONE `<extra_id_k>`
    * sentinel in the input, and the target lists each sentinel with its
    * masked-out tokens. Bernoulli selection yields geometric run
    * lengths (T5 samples span lengths explicitly; the FORMAT — sentinel
    * compaction, paired target — is the load-bearing contract).
    *
    * Scale shape: posexplode + doc-partitioned windows (run starts via
    * lag, run ids via running sum — one shuffle on doc_id, state
    * bounded by the longest doc), then one ordered re-assembly per doc
    * (array_sort over collected (pos, token) structs; nulls — the
    * non-emitting positions — drop in array_join). No corpus-global
    * ordering anywhere. */
  private[graft] def spanCorruptOf(docs: DataFrame, rate: Int = 15): DataFrame = {
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("flag",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("pos"))), 1, 4),
          16, 10).cast("int") % 100 < lit(rate))
      .withColumn("is_start", col("flag") && !lag(col("flag"), 1, false).over(wd))
      .withColumn("run_id", sum(col("is_start").cast("int")).over(wd))
    val sentinel = concat(lit("<extra_id_"), col("run_id") - 1, lit(">"))
    val tagged = toks.select(col("doc_id"), col("pos"), col("flag"),
      when(!col("flag"), col("w"))
        .when(col("is_start"), sentinel)
        .otherwise(lit(null)).as("in_tok"),
      when(col("flag") && col("is_start"), concat(sentinel, lit(" "), col("w")))
        .when(col("flag"), col("w"))
        .otherwise(lit(null)).as("tgt_tok"))
    def assemble(tok: String) = array_join(
      transform(array_sort(collect_list(struct(col("pos"), col(tok)))),
        s => s.getField(tok)), " ")
    tagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(col("flag").cast("long")).as("n_masked"),
      assemble("in_tok").as("input"),
      assemble("tgt_tok").as("target"))
      .orderBy("doc_id")
  }

  val llmSpanCorrupt: Q = (s, dir) =>
    spanCorruptOf(Tables.t(s, dir, "documents"))

  /** Fill-in-the-middle transformation (Bavarian et al. 2207.14255 —
    * the FIM data-prep behind code-model infilling: cut each doc into
    * (prefix, middle, suffix) at two deterministic points and emit the
    * PSM reordering `<PRE> p <SUF> s <MID> m`, so the causal LM learns
    * to infill conditioned on both sides). Cut points are md5-derived
    * per doc — reproducible across runs/engines/partitionings; docs
    * under 3 words pass through unsplit (is_split = false).
    *
    * Scale shape: pure shuffle-free per-row array arithmetic (split +
    * two integer cuts + three slices) — the cheapest possible plan; at
    * 100 TB this runs at scan speed. */
  private[graft] def fimOf(docs: DataFrame): DataFrame = {
    def h(tag: String) =
      conv(substring(md5(concat_ws(":", col("doc_id"), lit(tag))), 1, 8),
        16, 10).cast("long")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      .withColumn("p1", when(col("n") >= 3, lit(1) + h("a") % (col("n") - 2)))
      .withColumn("p2", when(col("n") >= 3,
        col("p1") + 1 + h("b") % (col("n") - 1 - col("p1"))))
      .select(col("doc_id"), col("n").as("n_words"),
        coalesce(col("p1"), lit(0L)).cast("long").as("p1"),
        coalesce(col("p2"), lit(0L)).cast("long").as("p2"),
        (col("n") >= 3).as("is_split"),
        when(col("n") >= 3, concat(
          lit("<PRE> "), array_join(slice(col("ws"), lit(1), col("p1").cast("int")), " "),
          lit(" <SUF> "), array_join(slice(col("ws"), (col("p2") + 1).cast("int"),
            (col("n") - col("p2")).cast("int")), " "),
          lit(" <MID> "), array_join(slice(col("ws"), (col("p1") + 1).cast("int"),
            (col("p2") - col("p1")).cast("int")), " ")))
          .otherwise(array_join(col("ws"), " ")).as("psm"))
      .orderBy("doc_id")
  }

  val llmFim: Q = (s, dir) =>
    fimOf(Tables.t(s, dir, "documents"))

  /** Temperature-scaled domain mixing weights (the T5/Pile recipe,
    * Raffel et al. arXiv:1910.10683 §3.4.3): sampling probability per
    * source ∝ (token count)^α with α = 0.5, which up-weights small
    * high-quality sources relative to proportional sampling. `epochs`
    * reports how many passes over each source one full-corpus-token
    * budget implies — the number a pipeline checks against its
    * repetition tolerance (>4-5 epochs degrades, Muennighoff et al.).
    * Determinism: per-source token counts are exact long sums; α = 0.5
    * is sqrt, which IEEE 754 requires correctly rounded (bit-exact in
    * both engines, unlike libm pow/log); the weight-sum normalizer goes
    * through the dsum quantized-long trick, so no float summation-order
    * drift. Scale shape: one two-phase agg on source, a ~sources-sized
    * frame after — the broadcast 1-row total is the only join. */
  private[graft] def mixWeightsOf(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("w", sqrt(col("n_tokens").cast("double")))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"),
      dsum(col("w"), 6).as("tot_w"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        dround(col("w") / col("tot_w"), 6).as("mix_p"),
        dround(col("w") / col("tot_w") * col("tot_tokens").cast("double")
          / col("n_tokens"), 6).as("epochs"))
  }

  val llmMixWeights: Q = (s, dir) =>
    mixWeightsOf(Tables.t(s, dir, "documents")).orderBy("source")

  /** Capstone corpus selection — the manifest a training pipeline
    * actually materializes: exact-dedup keepers ∧ language allowlist ∧
    * quality threshold ∧ train-split membership, composed from the same
    * expressions the individual operators use (so the pieces are proven
    * to compose). Keeper set via hash-group min, everything else per-row
    * projections; one semi join, one aggregation. */
  /** Exact-dedup keeper ids (min doc_id per content hash) — ONE keeper
    * rule shared by both capstone manifests; [[llmExactDedup]] reports
    * the same rule with its per-hash copy counts. */
  private[queries] def keeperIdsOf(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  val llmCorpusSelect: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
    val keepers = keeperIdsOf(d)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    val quality = qualityCol(split(col("text"), " "))
    d.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        dround(quality, 6).as("quality"))
      .filter(col("lang").isin("en", "de") && col("bucket") < 95 &&
        col("quality") >= 0.7)
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens + chars. */
  /** Training-data chunking: fixed 50-word windows with 10-word overlap
    * (stride 40) — the standard pre-tokenization step before packing
    * sequences. Chunk construction is per-row array arithmetic
    * (sequence → slice → join); posexplode emits (chunk_idx, chunk).
    * Shuffle-free except the deterministic output sort. */
  /** (lang, doc_id, chunk_idx, n_tokens, chunk) rows — shared by the
    * chunking query and the sequence packer. */
  private def chunkRows(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val chunkW = 50
    val stride = 40
    val nChunks = greatest(lit(1),
      (ceil((size(col("ws")) - chunkW) / lit(stride.toDouble)) + 1).cast("int"))
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(col("ws"), i * stride + 1, lit(chunkW)), " "))
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        size(split(col("chunk"), " ")).as("n_tokens"), col("chunk"))
  }

  val llmChunkSplit: Q = (s, dir) =>
    chunkRows(s, dir)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** Sequence packing (the step after chunking in a pretraining
    * pipeline): per shard (= lang here), chunks concatenate into one
    * token stream in (doc_id, chunk_idx) order and split at a
    * 2048-token budget — bin = which context window a chunk starts in,
    * offset = where (documents cross bin boundaries, GPT-style).
    * A running-sum window per shard: one shuffle on the shard key,
    * deterministic integer arithmetic, so DuckDB replays it exactly.
    * At 100 TB the shard key is a real shard id (thousands of them),
    * keeping every window partition executor-sized. */
  val llmPackSequences: Q = (s, dir) => {
    val budget = 2048
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id", "chunk_idx")
    chunkRows(s, dir)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("lang"), col("doc_id"), col("chunk_idx"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budget).cast("int").as("bin"),
        ((col("cum") - col("n_tokens")) % budget).cast("int").as("bin_offset"))
      .orderBy("lang", "doc_id", "chunk_idx")
  }

  /** Exact-quota stratified sampling: per language, EXACTLY
    * ⌈0.2 · n_lang⌉ docs, chosen in md5(doc_id) order — the
    * deterministic complement of `sort_hashsample`'s threshold sampling
    * (which gives each row an independent 20% chance and only
    * approximates the per-stratum count; survey-style corpus audits and
    * eval-set construction need the quota honored exactly).
    *
    * Scale shape: quota selection DECOMPOSES the per-lang rank through
    * 4096 hash-prefix buckets (the distributed order-statistic /
    * histogram-refinement shape) — a row_number partitioned on `lang`
    * alone would funnel the dominant language (English ≈ most of a web
    * corpus) through ONE WindowExec partition, the same CCNet-sort
    * anti-pattern [[qualityCalibrateOf]] avoids. Here: groupBy
    * (lang, bucket) counts → a cumulative below-count over the ≤4096-row
    * per-lang bucket frame → join back; buckets entirely past the quota
    * are PRUNED before ranking (~1−frac of the corpus never enters a
    * window), and the within-bucket row_number partitions on
    * (lang, bucket) — 4096× finer than lang. rn = below + in-bucket rank
    * is exactly the per-lang md5-order rank, since the bucket is the
    * hash's own 3-hex-digit prefix. The per-lang counts ride a broadcast
    * #langs-row join. Hash order means adding NEW docs later shifts
    * membership only where hashes interleave — unlike positional
    * sampling, no global renumbering. */
  private[graft] def stratifiedSampleOf(docs: DataFrame,
      frac: Double = 0.2): DataFrame = {
    val keyed = docs.select("doc_id", "lang")
      .withColumn("k", md5(col("doc_id").cast("string")))
      .withColumn("bkt", conv(substring(col("k"), 1, 3), 16, 10).cast("int"))
    val counts = keyed.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cums = keyed.groupBy("lang", "bkt").agg(count(lit(1)).as("cb"))
      .withColumn("below", coalesce(sum(col("cb")).over(wCum), lit(0L)))
      .drop("cb")
    val wBkt = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "bkt").orderBy("k", "doc_id")
    keyed.join(cums, Seq("lang", "bkt"))
      .join(broadcast(counts), "lang")
      .withColumn("quota", ceil(col("n_lang") * lit(frac)))
      .filter(col("below") < col("quota"))
      .withColumn("rn", (col("below") + row_number().over(wBkt)).cast("int"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("rn"),
        col("n_lang"), col("quota").cast("long").as("quota"))
  }

  val llmStratifiedSample: Q = (s, dir) =>
    stratifiedSampleOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    * (IPL 2006)'s A-ES one-pass reduction: give each row the key
    * u^(1/w) for u ~ U(0,1) and keep the top k; the selection is
    * distributed exactly as sequential weighted draws without
    * replacement. This is the quality-weighted corpus-subset draw
    * curation actually runs (sample 100k docs ∝ quality score) that
    * neither [[stratifiedSampleOf]] (per-stratum quotas, unweighted)
    * nor `sort_hashsample` (uniform threshold) expresses.
    *
    * Determinism: u derives from the md5 hex-cast idiom (12 hex digits
    * + 0.5, over 16^12 — bit-identical in both engines), and ln(u)/w
    * replaces u^(1/w) (same argmax order, no pow-precision hazard;
    * ln agrees cross-engine at the proven dround 9-decimal grain —
    * `fn_math`). Ordering and membership both use the ROUNDED key with
    * a doc_id tiebreak, so the k-boundary can never split on an
    * engine's last ulp.
    *
    * Scale shape: pure per-row arithmetic (weight = doc length) into a
    * top-k — TakeOrderedAndProject's per-partition heaps and one
    * bounded merge; no shuffle of the corpus, no window, runs at scan
    * speed at any size. */
  private[graft] def weightedSampleOf(docs: DataFrame, k: Int = 200): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
          .cast("double") + 0.5) / lit(281474976710656.0))
      .select(col("doc_id"), col("w"),
        dround(org.apache.spark.sql.functions.log(col("u"))
          / col("w").cast("double"), 9).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)

  val llmWeightedSample: Q = (s, dir) =>
    weightedSampleOf(Tables.t(s, dir, "documents"))

  /** UniMax budget allocation (Chung et al., ICLR 2023): distribute a
    * token budget B across languages by water-filling under a per-
    * language epoch cap — every language gets the uniform threshold τ
    * unless its cap (epochCap × its tokens) is below τ, in which case
    * it is fully capped; τ solves Σ min(cap_i, τ) = B. Fairer than the
    * temperature mixing of [[mixWeightsOf]] for low-resource languages
    * (no head language starves the tail, no tail language over-epochs).
    *
    * Closed form, no iteration: sort languages by cap ascending; at
    * rank j the candidate τ_j = (B − Σ_{i<j} cap_i)/(k−j+1), and the
    * active segment is the FIRST j with τ_j ≤ cap_j (all earlier
    * languages capped, the rest share τ_{j*}).
    *
    * Determinism/scale: the corpus-sized work is one two-phase
    * token-count agg on lang; caps, prefix sums and B are exact longs
    * (budget 1.5×total as total·3 DIV 2, epoch cap ×2 integer), τ is a
    * ratio of exact longs evaluated identically in both engines; the
    * sort/rank/prefix windows run over the k-language frame only
    * (bounded by language inventory, ~10² at any corpus size). */
  private[graft] def unimaxOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * 2)
    val tot = per.agg(sum(col("n_tokens")).as("tot"),
      sum(col("cap")).as("totcap"), count(lit(1)).as("k"))
    val wR = Window.orderBy(col("cap"), col("lang"))
    val wAll = Window.orderBy(col("cap"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.crossJoin(broadcast(tot))
      .withColumn("budget", least(col("totcap"), expr("(tot * 3) DIV 2")))
      .withColumn("j", row_number().over(wR))
      .withColumn("pfx", sum(col("cap")).over(
        wR.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("tau_j",
        (col("budget") - coalesce(col("pfx"), lit(0L))).cast("double")
          / (col("k") - col("j") + 1).cast("double"))
      .withColumn("jstar", min(when(col("tau_j") <= col("cap").cast("double"),
        col("j"))).over(wAll))
      .withColumn("tau", max(when(col("j") === col("jstar"), col("tau_j")))
        .over(wAll))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("cap")
          .as("cap_tokens"),
        (col("jstar").isNotNull && col("j") < col("jstar")).as("capped"),
        dround(when(col("jstar").isNotNull && col("j") < col("jstar"),
          col("cap").cast("double")).otherwise(
          coalesce(col("tau"), col("cap").cast("double"))), 4)
          .as("alloc_tokens"),
        dround(when(col("jstar").isNotNull && col("j") < col("jstar"),
          col("cap").cast("double")).otherwise(
          coalesce(col("tau"), col("cap").cast("double")))
          / col("n_tokens").cast("double"), 6).as("epochs_alloc"))
      .orderBy("lang")
  }

  val llmUnimax: Q = (s, dir) =>
    unimaxOf(Tables.t(s, dir, "documents").select("lang", "text"))

  /** Deterministic train/val split: bucket = first 16 bits of
    * md5(doc_id) mod 100, split on the 95th percentile — reproducible
    * across runs, engines, and partitionings (never rand()), and adding
    * documents later cannot reshuffle existing assignments. */
  val llmSplitAssign: Q = (s, dir) => {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int") % 100
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"),
        when(bucket < 95, "train").otherwise("val").as("split"))
      .orderBy("doc_id")
  }

  /** Domain mixing + deterministic training order: upsample domains by an
    * integer epoch weight (the Llama/Dolma-style corpus-mixing step,
    * Touvron et al. 2023 arXiv:2302.13971 §2 —
    * low-resource languages here get 3 epochs, en gets 1), then assign
    * every (doc, epoch) copy a reproducible shuffle position:
    * shard = md5-bucket of (doc_id, epoch), pos = rank of the md5 key
    * within the shard. A data loader replays the exact same global order
    * from (shard, pos) with no RNG state.
    *
    * Scale shape: upsampling is a per-row explode (no shuffle); ordering
    * is a window PARTITIONED BY shard — never a global sort. 8 shards at
    * fixture scale; at 100 TB the same plan runs with ~100k shards, each
    * a few GB, and shards are exactly the files a loader reads. */
  val llmDomainMix: Q = (s, dir) => {
    val weight = when(col("lang") === "en", 1)
      .when(col("lang") === "zh", 2).otherwise(3)
    val keyed = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), weight - 1)).as("epoch"))
      .withColumn("k", md5(concat_ws("_", col("doc_id"), col("epoch"))))
      .withColumn("shard",
        (conv(substring(col("k"), 1, 4), 16, 10).cast("long") % 8).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("k"), col("doc_id"), col("epoch"))
    keyed.select(col("doc_id"), col("lang"), col("epoch").cast("int").as("epoch"),
        col("shard"), row_number().over(w).as("pos"))
      .orderBy("shard", "pos")
  }

  /** Per-source document cap — C4/RefinedWeb-style domain balancing:
    * keep at most `cap` docs per source so no single domain dominates
    * the mix, selected deterministically by md5(doc_id) (an unbiased
    * per-source sample rather than first-crawled bias). The
    * `row_number ≤ k` filter plans through TopKPerKeyExec (the custom
    * grouped-top-k operator — PlanSpec pins the rewrite), so at 100 TB
    * the cap keeps a bounded heap per source instead of sorting every
    * partition. */
  /** The shared cap core (registered query + Pipeline facade — one
    * definition of the ordering and filter, so the two cannot drift).
    * Internal rank column is `__graft_`-prefixed per the facade's
    * reserved-name contract. */
  private[graft] def sourceCapOf(docs: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    docs.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= cap)
  }

  val llmSourceCap: Q = (s, dir) =>
    sourceCapOf(Tables.t(s, dir, "documents"), 10)
      .select(col("source"), col("doc_id"), col("__graft_rn").as("rn"))
      .orderBy("source", "rn")

  /** Deterministic global training-order shuffle + shard assignment:
    * order key = md5 over a seeded doc key, shard = key mod `nShards`,
    * position = rank within the shard under the key order. The writer
    * shape of a pretraining data loader: examples land in `nShards`
    * files, each internally shuffled, and the whole assignment replays
    * byte-identically from the seed alone — the reproducibility property
    * a resumable pipeline needs (no rand(), no zipWithIndex).
    *
    * Scale shape: one hash-partition shuffle on `shard` plus a per-shard
    * sort (row_number partitioned by shard) — exactly the
    * repartition(shard).sortWithinPartitions write path. `nShards` is the
    * parallelism knob: fixture 8; at 100 TB set total_bytes /
    * target_shard_bytes (≫ cores), keeping every sort partition bounded. */
  private[graft] def shuffleOrderOf(docs: DataFrame, nShards: Int,
      seed: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("okey", "doc_id")
    docs.select(col("doc_id"),
        conv(substring(md5(concat(lit(seed + ":"), col("doc_id"))), 1, 7), 16, 10)
          .cast("long").as("okey"))
      .select(col("doc_id"), col("okey"),
        (col("okey") % nShards).cast("int").as("shard"))
      .select(col("shard"),
        row_number().over(w).cast("int").as("pos"), col("doc_id"))
  }

  val llmShuffleOrder: Q = (s, dir) =>
    shuffleOrderOf(Tables.t(s, dir, "documents").select("doc_id"), 8, "shuf1")
      .orderBy("shard", "pos")

  /** Token-budget corpus selection: keep the highest-quality documents
    * whose cumulative token count fits a budget (a fixed fraction of the
    * corpus total) — the curation step that turns "score every doc" into
    * "the n-token training set".
    *
    * Scale shape — the naive form is one global quality-ordered running
    * sum: a single-partition window, dead at 100 TB. This is the
    * two-phase bucket form: (1) docs aggregate into `nBuckets` fixed
    * quality buckets (map-side combine, ≤ nBuckets+1 result rows); the
    * bucket-level running total — a window over that tiny aggregate —
    * picks the buckets that fit entirely plus the single boundary
    * bucket; (2) only boundary-bucket docs (~1/nBuckets of the corpus)
    * pay a doc-level running sum, partitioned by bucket. Selection is
    * exact to the document; raise nBuckets to shrink the boundary
    * share. Quality is the quantized [[qualityCol]] composite, ties
    * broken by doc_id — fully deterministic across engines. */
  private[graft] def tokenBudgetOf(docs: DataFrame, frac: Double = 0.5,
      nBuckets: Int = 20): DataFrame = {
    val scored = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_tokens"),
        dround(qualityCol(col("ws")), 6).as("q"))
      .select(col("doc_id"), col("n_tokens"), col("q"),
        floor(col("q") * nBuckets).cast("int").as("bucket"))
    val tot = scored.agg(sum(col("n_tokens")).as("total"))
    // bucket-level running totals: bounded by construction (≤ nBuckets+1
    // rows), so the unpartitioned window is safe here and only here
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
    val cls = scored.groupBy("bucket").agg(sum(col("n_tokens")).as("btok"))
      .withColumn("cum", sum(col("btok")).over(wb))
      .crossJoin(broadcast(tot))
      .withColumn("budget", floor(col("total") * frac))
      .select(col("bucket"), col("btok"), col("cum"), col("budget"),
        (col("cum") <= col("budget")).as("full_in"),
        (col("cum") > col("budget") &&
          (col("cum") - col("btok")) < col("budget")).as("boundary"))
    val tagged = scored.join(broadcast(cls), "bucket")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("q").desc, col("doc_id"))
    val boundaryRows = tagged.filter(col("boundary"))
      .withColumn("dcum", sum(col("n_tokens")).over(wd))
      .filter(col("dcum") + (col("cum") - col("btok")) <= col("budget"))
      .drop("dcum")
    tagged.filter(col("full_in")).unionByName(boundaryRows)
      .select(col("doc_id"), col("bucket"), col("n_tokens"), col("q"))
  }

  val llmTokenBudget: Q = (s, dir) =>
    tokenBudgetOf(Tables.t(s, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("llm_domain_mix", llmDomainMix,
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 1 WHEN lang = 'zh' THEN 2 ELSE 3 END AS w
        |  FROM documents),
        |e AS (SELECT doc_id, lang, unnest(range(w)) AS epoch FROM b),
        |k AS (SELECT doc_id, lang, CAST(epoch AS INT) AS epoch,
        |        md5(CAST(doc_id AS VARCHAR) || '_' || CAST(epoch AS VARCHAR)) AS k
        |      FROM e),
        |s AS (SELECT doc_id, lang, epoch, k,
        |        CAST(('0x' || substr(k, 1, 4))::BIGINT % 8 AS INT) AS shard
        |      FROM k)
        |SELECT doc_id, lang, epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY k, doc_id, epoch) AS INT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin),
    QueryDef("llm_source_cap", llmSourceCap,
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin),
    // FIM: identical md5 cut points, 1-based inclusive list slices.
    QueryDef("llm_fim", llmFim,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |             len(string_split(text, ' ')) AS n FROM documents),
         |c AS (SELECT doc_id, ws, n,
         |        CASE WHEN n >= 3 THEN 1 +
         |          (('0x' || substr(md5(doc_id || ':a'), 1, 8))::BIGINT % (n - 2))
         |        END AS p1
         |      FROM d),
         |c2 AS (SELECT doc_id, ws, n, p1,
         |        CASE WHEN n >= 3 THEN p1 + 1 +
         |          (('0x' || substr(md5(doc_id || ':b'), 1, 8))::BIGINT
         |            % (n - 1 - p1))
         |        END AS p2
         |      FROM c)
         |SELECT doc_id, CAST(n AS INT) AS n_words,
         |  COALESCE(p1, 0) AS p1, COALESCE(p2, 0) AS p2,
         |  n >= 3 AS is_split,
         |  CASE WHEN n >= 3 THEN
         |    '<PRE> ' || array_to_string(ws[1:CAST(p1 AS INT)], ' ') ||
         |    ' <SUF> ' || array_to_string(ws[CAST(p2 + 1 AS INT):CAST(n AS INT)], ' ') ||
         |    ' <MID> ' || array_to_string(ws[CAST(p1 + 1 AS INT):CAST(p2 AS INT)], ' ')
         |  ELSE array_to_string(ws, ' ') END AS psm
         |FROM c2 ORDER BY doc_id""".stripMargin),
    // Span corruption: identical per-(doc,pos) md5 Bernoulli, run
    // compaction via lag/run-sum windows, ordered string_agg re-assembly
    // (COALESCE: an unmasked doc's target is '' in both engines).
    QueryDef("llm_span_corrupt", llmSpanCorrupt,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |t AS (SELECT doc_id, i - 1 AS pos, ws[CAST(i AS INT)] AS w,
         |        (('0x' || substr(md5(doc_id || ':' || (i - 1)), 1, 4))::INT
         |          % 100) < 15 AS flag
         |      FROM d, unnest(range(1, len(ws) + 1)) AS u(i)),
         |r0 AS (SELECT doc_id, pos, w, flag,
         |        (flag AND NOT COALESCE(lag(flag) OVER wd, FALSE)) AS is_start
         |      FROM t WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)),
         |r AS (SELECT doc_id, pos, w, flag, is_start,
         |        SUM(CASE WHEN is_start THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS run_id
         |      FROM r0),
         |g AS (SELECT doc_id, pos, flag,
         |        CASE WHEN NOT flag THEN w
         |             WHEN is_start THEN '<extra_id_' || (run_id - 1) || '>'
         |             ELSE NULL END AS in_tok,
         |        CASE WHEN flag AND is_start
         |               THEN '<extra_id_' || (run_id - 1) || '> ' || w
         |             WHEN flag THEN w
         |             ELSE NULL END AS tgt_tok
         |      FROM r)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  COALESCE(string_agg(in_tok, ' ' ORDER BY pos), '') AS input,
         |  COALESCE(string_agg(tgt_tok, ' ' ORDER BY pos), '') AS target
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // sqrt is IEEE-correctly-rounded in both engines (unlike pow/log);
    // the normalizer goes through the oSum quantized-long sum.
    QueryDef("llm_mix_weights", llmMixWeights,
      s"""WITH per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs, n_tokens,
         |        sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM per),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         |        ${oSum("w", 6)} AS tot_w FROM w)
         |SELECT source, n_docs, n_tokens,
         |  ${oRound("w.w / t.tot_w", 6)} AS mix_p,
         |  ${oRound("w.w / t.tot_w * CAST(t.tot_tokens AS DOUBLE) / w.n_tokens", 6)} AS epochs
         |FROM w, t ORDER BY source""".stripMargin),
    QueryDef("llm_split_assign", llmSplitAssign,
      """SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS INT) AS bucket,
        |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 < 95
        |    THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_chunk_split", llmChunkSplit,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws,
        |  GREATEST(1, CAST(CEIL((len(ws) - 50)/40.0) AS INT) + 1) AS nc FROM w),
        |c AS (SELECT doc_id, unnest(range(nc)) AS chunk_idx, ws FROM n),
        |c2 AS (SELECT doc_id, chunk_idx,
        |  array_to_string(ws[(chunk_idx*40+1):(chunk_idx*40+50)], ' ') AS chunk FROM c)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_tokens, chunk
        |FROM c2 ORDER BY doc_id, chunk_idx""".stripMargin),
    QueryDef("llm_corpus_select", llmCorpusSelect,
      s"""WITH keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |sel AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT % 100 AS INT) AS bucket,
         |    ${oRound(qualitySql("d.text"), 6)} AS quality
         |  FROM documents d JOIN keep k USING (doc_id))
         |SELECT doc_id, lang, bucket, quality FROM sel
         |WHERE lang IN ('en', 'de') AND bucket < 95 AND quality >= 0.7
         |ORDER BY doc_id""".stripMargin),
    QueryDef("llm_pack_sequences", llmPackSequences,
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, lang, ws,
        |  GREATEST(1, CAST(CEIL((len(ws) - 50)/40.0) AS INT) + 1) AS nc FROM w),
        |c AS (SELECT doc_id, lang, unnest(range(nc)) AS chunk_idx, ws FROM n),
        |c2 AS (SELECT doc_id, lang, chunk_idx,
        |  len(string_split(array_to_string(ws[(chunk_idx*40+1):(chunk_idx*40+50)], ' '), ' ')) AS n_tokens
        |  FROM c),
        |cum AS (SELECT doc_id, lang, chunk_idx, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_idx
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM c2)
        |SELECT lang, doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(FLOOR((cum - n_tokens) / 2048) AS INT) AS bin,
        |  CAST((cum - n_tokens) % 2048 AS INT) AS bin_offset
        |FROM cum ORDER BY lang, doc_id, chunk_idx""".stripMargin),
    // Exact-quota stratified sample: rank within lang by md5(doc_id),
    // keep rn <= ceil(0.2 * n_lang) — all-integer membership test.
    // Bucket-decomposed per-lang rank (the builder's distributed
    // order-statistic shape): hash-prefix buckets, cumulative
    // below-counts over the per-lang bucket frame, within-bucket
    // row_number — never a row window partitioned on lang alone. The
    // text doubles as the Spark surface entry, where the plan shape
    // is PlanSpec-guarded.
    QueryDef("llm_stratified_sample", llmStratifiedSample,
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
        |           FROM documents GROUP BY lang),
        |kb AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS k,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 3))::BIGINT AS INT) AS bkt
        |       FROM documents),
        |cm AS (SELECT lang, bkt,
        |         COALESCE(SUM(CAST(COUNT(*) AS BIGINT)) OVER
        |           (PARTITION BY lang ORDER BY bkt
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS below
        |       FROM kb GROUP BY lang, bkt),
        |r AS (SELECT kb.doc_id, kb.lang,
        |        CAST(cm.below + row_number() OVER (PARTITION BY kb.lang, kb.bkt
        |          ORDER BY kb.k, kb.doc_id) AS INT) AS rn
        |      FROM kb
        |      JOIN cm ON cm.lang = kb.lang AND cm.bkt = kb.bkt
        |      JOIN c ON c.lang = kb.lang
        |      WHERE cm.below < CEIL(c.n_lang * 0.2))
        |SELECT r.doc_id, r.lang, r.rn, c.n_lang,
        |  CAST(CEIL(c.n_lang * 0.2) AS BIGINT) AS quota
        |FROM r JOIN c USING (lang)
        |WHERE r.rn <= CEIL(c.n_lang * 0.2)
        |ORDER BY r.doc_id""".stripMargin),
    // UniMax water-filling: exact-long caps/prefix sums/budget, τ as a
    // ratio of exact longs, rank/threshold windows over the k-language
    // frame only.
    QueryDef("llm_unimax", llmUnimax,
      s"""WITH per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |c AS (SELECT lang, n_docs, n_tokens, n_tokens * 2 AS cap FROM per),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
         |    CAST(SUM(cap) AS BIGINT) AS totcap,
         |    CAST(COUNT(*) AS BIGINT) AS k FROM c),
         |r AS (SELECT c.lang, c.n_docs, c.n_tokens, c.cap, t.k,
         |    LEAST(t.totcap, (t.tot * 3) // 2) AS budget,
         |    row_number() OVER (ORDER BY c.cap, c.lang) AS j,
         |    COALESCE(CAST(SUM(c.cap) OVER (ORDER BY c.cap, c.lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) AS pfx
         |  FROM c, t),
         |s AS (SELECT r.*,
         |    CAST(budget - pfx AS DOUBLE) / CAST(k - j + 1 AS DOUBLE) AS tau_j
         |  FROM r),
         |g AS (SELECT s.*,
         |    MIN(CASE WHEN tau_j <= CAST(cap AS DOUBLE) THEN j END) OVER ()
         |      AS jstar
         |  FROM s),
         |h AS (SELECT g.*,
         |    MAX(CASE WHEN j = jstar THEN tau_j END) OVER () AS tau FROM g)
         |SELECT lang, n_docs, n_tokens, cap AS cap_tokens,
         |  (jstar IS NOT NULL AND j < jstar) AS capped,
         |  ${oRound("CASE WHEN jstar IS NOT NULL AND j < jstar" +
             " THEN CAST(cap AS DOUBLE)" +
             " ELSE COALESCE(tau, CAST(cap AS DOUBLE)) END", 4)}
         |    AS alloc_tokens,
         |  ${oRound("(CASE WHEN jstar IS NOT NULL AND j < jstar" +
             " THEN CAST(cap AS DOUBLE)" +
             " ELSE COALESCE(tau, CAST(cap AS DOUBLE)) END)" +
             " / CAST(n_tokens AS DOUBLE)", 6)} AS epochs_alloc
         |FROM h ORDER BY lang""".stripMargin),
    // Efraimidis–Spirakis A-ES: u from the 12-hex md5 cast (+0.5 over
    // 16^12), key = ln(u)/w; ORDER/LIMIT on the ROUNDED key + doc_id so
    // the k-boundary can never split on an engine's last ulp.
    QueryDef("llm_weighted_sample", llmWeightedSample,
      s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |  ${oRound(
             "ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT" +
             " + 0.5) / 281474976710656.0) / CAST(n_chars AS DOUBLE)", 9)}
         |    AS es_key
         |FROM documents
         |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin),
    QueryDef("llm_shuffle_order", llmShuffleOrder,
      """WITH k AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS okey
        |  FROM documents),
        |s AS (SELECT doc_id, okey, CAST(okey % 8 AS INT) AS shard FROM k)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS INT) AS pos,
        |  doc_id
        |FROM s ORDER BY shard, pos""".stripMargin),
    // Token-budget replay: same two-phase bucket selection — bucket-level
    // running totals pick full buckets + the single boundary bucket; only
    // boundary docs pay a doc-level running sum. Window default frames
    // (RANGE .. CURRENT ROW) agree across engines; both order keys are
    // tie-free (distinct buckets; unique doc_id).
    QueryDef("llm_token_budget", llmTokenBudget,
      s"""WITH s0 AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |    ${oRound(qualitySql("text"), 6)} AS q
         |  FROM documents),
         |s1 AS (SELECT doc_id, n_tokens, q,
         |       CAST(FLOOR(q * 20) AS INT) AS bucket FROM s0),
         |tot AS (SELECT SUM(n_tokens) AS total FROM s1),
         |cls AS (SELECT bucket, SUM(n_tokens) AS btok FROM s1 GROUP BY bucket),
         |cls2 AS (SELECT bucket, btok,
         |  SUM(btok) OVER (ORDER BY bucket DESC) AS cum,
         |  FLOOR(total * 0.5) AS budget FROM cls, tot),
         |tagged AS (
         |  SELECT s.doc_id, s.n_tokens, s.q, s.bucket, c.btok, c.cum, c.budget,
         |    (c.cum <= c.budget) AS full_in,
         |    (c.cum > c.budget AND (c.cum - c.btok) < c.budget) AS boundary
         |  FROM s1 s JOIN cls2 c ON s.bucket = c.bucket),
         |bnd AS (
         |  SELECT doc_id, bucket, n_tokens, q, cum, btok, budget,
         |    SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY q DESC, doc_id) AS dcum
         |  FROM tagged WHERE boundary),
         |sel AS (
         |  SELECT doc_id, bucket, n_tokens, q FROM tagged WHERE full_in
         |  UNION ALL
         |  SELECT doc_id, bucket, n_tokens, q FROM bnd
         |  WHERE dcum + (cum - btok) <= budget)
         |SELECT doc_id, CAST(bucket AS INT) AS bucket,
         |  CAST(n_tokens AS INT) AS n_tokens, q
         |FROM sel ORDER BY doc_id""".stripMargin)
  )
}
