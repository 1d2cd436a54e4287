package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** §2.9 LLM-data-pipeline operators over documents/embeddings: exact +
  * near deduplication (MinHash/LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (language ID,
  * quality scoring, token counting, fingerprinting).
  *
  * 100 TB design notes:
  *  - Near-dedup is BANDED LSH: each doc explodes to `bands` rows, pairs
  *    form only inside identical (band, signature) buckets — never an
  *    all-pairs product. Candidate verification joins shingle sets only
  *    for candidate pairs.
  *  - Cross-engine determinism: word hashes come from md5 hex prefixes
  *    (7 hex chars < 2^28), shingle ids from base-multiplier combination
  *    mod P, then integer min-hash arithmetic — every step stays < 2^63
  *    and is bit-identical in Spark and DuckDB.
  *  - Brute-force cosine is the sf-small oracle baseline; the LSH-bucketed
  *    ANN (`llm_ann_lsh`) is the scale path (bucket join, not crossJoin).
  */
/** Typed rows for the batched multimodal decode path. */
case class MmRow(doc_id: Long, payload: Array[Byte], lang: String)
case class MmFeat(doc_id: Long, lang: String, bytes: Int,
  width: Int, height: Int, frames: Int)

/** Per-(query, candidate-pair) input row for the MMR group fold: the
  * candidate `a` with its query relevance plus one pool neighbor `b`
  * and their similarity (self rows a=b keep pool singletons present). */
case class MmrIn(q_id: Long, a: Long, rel_a: Double, b: Long, sim: Double)
/** One MMR selection: `vec_id` chosen at `step` with the quantized
  * marginal-relevance score that won the step. */
case class MmrOut(q_id: Long, step: Int, vec_id: Long, mmr: Double)

object Text {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Native text-hash functions resolve via the session registry —
    * GraftExtensions sessions have them; the Pipeline library path over a
    * caller-built session gets them here. Idempotent, one registry put
    * per name — call at every helper entry that uses wordHashCol /
    * hashGramCol / the other [[graft.functions.TextHashOps]] kernels
    * (same defensive-registration precedent as Pipeline's dot_product). */
  private def reg(df: DataFrame): DataFrame = {
    graft.functions.TextHashFunctions.register(df.sparkSession)
    df
  }


  // single definition with the native kernels (graft.functions.TextHashOps):
  // a base/seed change lands in the Column twins, the codegen kernels and
  // the DuckDB oracle SQL together or not at all
  private val P = graft.functions.TextHashOps.P // 2^31-1
  /** MinHash seed pairs (aᵢ, bᵢ) — 12 hashes = 4 bands × 3 rows. */
  private val seeds: Seq[(Long, Long)] = graft.functions.TextHashOps.SEEDS
  private val bands = 4
  private val rowsPerBand = 3
  /** Hot-bucket cap for LSH pair generation (see minhashDupPairs). Far
    * above any honest bucket at fixture scale; the guard exists for the
    * 100 TB pathology of boilerplate-heavy buckets. */
  private val maxBucket = 1000

  /** Hash-shingling bases: shingle id = (h₁·B1 + h₂·B2 + h₃·B3) mod P over
    * 28-bit word hashes — never materializes shingle strings. Products stay
    * < 2^49 and the mod-P reduction keeps minhash arithmetic (a·sid + b)
    * < 2^51, overflow-safe in both engines. */
  private val (b1, b2, b3) = (graft.functions.TextHashOps.B1,
    graft.functions.TextHashOps.B2, graft.functions.TextHashOps.B3)

  /** Word-hash array per doc: one md5 per word, materialized as a single
    * array column. Kept as its OWN projection step — the alias is
    * non-cheap and referenced repeatedly downstream, so CollapseProject
    * leaves it in place and the md5 pass runs exactly once per row.
    *
    * r22: the interpreted `transform(split(text, " "), w =>
    * conv(substring(md5(w), 1, 7), 16, 10).cast("long"))` HOF became the
    * fused native kernel (bit-identity argument and the original
    * formulation at [[graft.functions.TextHashOps.wordHashesFromText]];
    * equivalence pinned by TextHashExpressionsSpec) — per-element
    * interpreted eval with three string allocations per word became one
    * static codegen call per row. */
  private def wordHashCol: Column =
    call_function("word_hashes_text", col("text"))

  /** Fixed 2^16 hashed vocabulary bucket of a word — the DSIR paper's
    * hashed-features mechanism (Xie et al., arXiv:2302.03169): the
    * lm_quality/DSIR unigram count tables key on this bucket instead of
    * the raw word, bounding them at 65,536 rows at ANY corpus scale
    * (broadcast-safe by construction, where the raw web vocabulary —
    * billions of distinct URLs/typos/code tokens — is not). First 16
    * md5 bits; [[vocabBucketSql]] is the bit-identical DuckDB twin. */
  private def vocabBucket(w: Column): Column =
    // r22: the codegen'd-but-allocation-heavy `conv(substring(md5(w), 1,
    // 4), 16, 10).cast("long")` chain (hex string + substring + decimal
    // string per word occurrence) became the native scalar kernel —
    // bit-identity at [[graft.functions.TextHashOps.md5Prefix]], pinned
    // by TextHashExpressionsSpec
    call_function("md5_prefix", w, lit(4))
  private val vocabBucketSql: String = "('0x' || substr(md5(w), 1, 4))::BIGINT"

  /** Windowed hash n-gram ids over the word-hash array column `hs`:
    * gram(i) = Σⱼ hs[i+j]·Cⱼ mod P with C = (B1, B2, B3, 1) — widths 2/3
    * are the historical bigram/shingle arithmetic verbatim; width 4
    * appends an un-scaled fourth term (the sum stays < 2^51,
    * overflow-safe in both engines). Requires size(hs) >= width; the
    * single definition keeps every gram consumer (shingles, jaccard,
    * contamination, repetition) and its DuckDB twin [[hashGramSql]] in
    * lock-step — a base/width change lands everywhere or nowhere. */
  private def hashGramCol(width: Int, distinct: Boolean = true): Column =
    // r22: the interpreted `transform(sequence(0, size(hs)-width), i =>
    // (Σ_j element_at(hs, i+j+1) * coefs(j)) % P)` (+ array_distinct) HOF
    // became the native kernel — original formulation and bit-identity
    // argument at [[graft.functions.TextHashOps.hashGrams]], equivalence
    // pinned by TextHashExpressionsSpec
    call_function("hash_grams", col("hs"), lit(width), lit(distinct))

  /** Distinct 3-word shingle ids from a word-hash array column `hs` —
    * pure per-row array arithmetic (requires size(hs) >= 3). */
  private def shingleSetCol: Column = hashGramCol(3)

  /** One row per doc: 12-value minhash signature + exact shingle-id set —
    * the dedup "signature table" schema shared by the self-dedup and
    * incremental paths.
    *
    * This is a pure PROJECTION — no explode, no window, no aggregation:
    * word hashes, shingle ids, and all 12 minhash values are per-row array
    * arithmetic, so the signature build is embarrassingly parallel and
    * shuffle-free (the r3 shape exploded to word rows and paid a full
    * shuffle+sort through WindowExec plus a collect_set aggregation —
    * measurably the suite's hottest path on slow-shuffle-disk hosts). */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame =
    signaturesFromHashed(hashedWordsOf(docs))

  /** The (doc_id, word-hash array) frame every shingle/gram consumer
    * derives from — ONE md5-per-word pass over the corpus. Operators that
    * need BOTH the minhash signatures and a gram set (the LSH-candidate →
    * bigram-verify composition) persist THIS frame once instead of
    * re-running the md5 pass per feature family (r15's ngram_jaccard paid
    * it twice — two scans, two persists of duplicate work). */
  private[graft] def hashedWordsOf(docs: DataFrame): DataFrame =
    // NO fanOut here, deliberately (A/B'd r21, same stormy window): the
    // md5 pass is sub-second at fixture scale, and fanning it out made
    // every family member ~2× SLOWER (minhash_lsh 0.55→1.14,
    // ngram_jaccard 0.91→1.90, threshold_curve 2.74→5.0, v3 5.3→12.5)
    // — the added exchange, extra 32-task stages, and 32×-wider shuffle
    // block matrix on every downstream join cost more than the
    // parallelism bought. fanOut pays only where a SINGLE stage is
    // multi-second single-task (suffix_dedup's gram build, ann_pq's
    // encode argmin).
    reg(docs).select(col("doc_id"), wordHashCol.as("hs"))

  /** [[signaturesOf]] from a pre-built [[hashedWordsOf]] frame: shingle
    * ids and all 12 minhash values are per-row array arithmetic above
    * `hs` — no rescan, no re-hash. */
  private[graft] def signaturesFromHashed(hashed: DataFrame): DataFrame = {
    // r22: the 12 interpreted `array_min(transform(sh, sid =>
    // (a*sid + b) % P))` passes became ONE native pass over `sh`
    // ([[graft.functions.TextHashOps.minHashSig]] — same seeds, same
    // arithmetic, same array_min null/empty semantics; equivalence pinned
    // by TextHashExpressionsSpec). `mhs` is a non-cheap alias referenced
    // 12 times, so CollapseProject keeps the pass in its own projection.
    val mhCols = seeds.indices.map(i =>
      element_at(col("mhs"), i + 1).as(s"mh$i"))
    reg(hashed)
      .filter(size(col("hs")) >= 3)
      .select(col("doc_id"), shingleSetCol.as("sh"))
      .select(col("doc_id"), col("sh"),
        call_function("minhash_sig", col("sh")).as("mhs"))
      .select(col("doc_id") +: col("sh") +: mhCols: _*)
  }

  /** (band, sig) struct per LSH band, built from mh0..mh11 columns. */
  private def bandStructs: Seq[Column] = (0 until bands).map { j =>
    struct(lit(j).as("band"),
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh${j * rowsPerBand + r}")): _*).as("sig"))
  }

  /** (doc_id, band, sig) LSH bucket rows from a signature table. */
  private def bucketsOf(sets: DataFrame): DataFrame =
    sets
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))

  /** Hot-bucket guard: a degenerate (band, sig) bucket with B members
    * yields B² candidate pairs — one templated/boilerplate cluster can
    * dominate the whole job. Buckets past the cap are dropped (their
    * members still pair through their other bands; a cluster pathological
    * in EVERY band is boilerplate to handle upstream of dedup). The
    * overflow list is tiny or empty, so the guard costs one id-only
    * aggregation and a broadcast anti-join. Mirrored in the DuckDB
    * oracle so both engines implement the same semantics. */
  private[graft] def capBuckets(buckets: DataFrame, cap: Int,
      keys: Seq[String] = Seq("band", "sig")): DataFrame = {
    val hot = buckets.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn")).filter(col("bn") > lit(cap))
      .select(keys.map(col): _*)
    buckets.join(broadcast(hot), keys, "left_anti")
  }

  /** Exact dedup via content hash (sha2-256), keeper = min doc_id. */
  val llmExactDedup: Q = (s, dir) => {
    Tables.t(s, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
      .orderBy("keeper")
  }

  /** Deterministic messy-URL synthesis from doc_id (the fixture has no
    * URL column; variation — scheme/host case, default port, trailing
    * slash, tracking params, param order, fragments — is derived from
    * doc_id arithmetic so both engines build the identical corpus).
    * Canonical identity depends only on (doc_id%25, doc_id%3, doc_id%2),
    * i.e. 75 canonical keys over the corpus → real dup groups. */
  private def syntheticUrlSql(cast: String): String =
    s"""CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
       |CASE WHEN doc_id % 3 = 0 THEN 'CDN.Site.COM' ELSE 'cdn.site.com' END ||
       |CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
       |'/articles/p' || CAST(doc_id % 25 AS $cast) ||
       |CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
       |CASE WHEN doc_id % 3 = 0
       |     THEN '?utm_source=feed&ref=' || CAST(doc_id % 2 AS $cast)
       |     WHEN doc_id % 3 = 1
       |     THEN '?ref=' || CAST(doc_id % 2 AS $cast) || '&utm_campaign=x'
       |     ELSE '' END ||
       |CASE WHEN doc_id % 7 = 0 THEN '#sec' || CAST(doc_id % 5 AS $cast)
       |     ELSE '' END""".stripMargin.replace("\n", " ")

  /** URL canonicalization: strip fragment, lowercase scheme://host, drop
    * default ports, drop trailing slashes, strip tracking params (the
    * utm_ prefix, gclid, fbclid), sort the surviving query params. The
    * standard pre-content URL-dedup normalizer (Penedo et al. 2023,
    * RefinedWeb §3.1 — URL-level dedup runs before any content pass
    * because it needs no text: a pure projection at any corpus scale). */
  private[graft] def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val head = regexp_extract(noFrag, "^[^:]+://[^/?#]*", 0)
    val tail = noFrag.substr(length(head) + 1, length(noFrag))
    // Default-port stripping is SCHEME-AWARE: :80 is only the default for
    // http and :443 only for https — http://host:443/x is a DIFFERENT
    // resource than http://host/x and must keep its key distinct.
    val canonHead = regexp_replace(regexp_replace(lower(head),
      "^(http://[^/?#]*):80$", "$1"), "^(https://[^/?#]*):443$", "$1")
    val canonPath = regexp_replace(regexp_extract(tail, "^[^?]*", 0), "/+$", "")
    val query = regexp_extract(tail, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.startsWith("utm_") &&
        !p.startsWith("gclid=") && !p.startsWith("fbclid=")))
    val qc = array_join(params, "&")
    concat(canonHead, canonPath,
      when(qc =!= "", concat(lit("?"), qc)).otherwise(lit("")))
  }

  /** URL-level dedup core: canonicalize, then per canonical key keep the
    * best-quality doc (max n_chars, doc_id tiebreak). ONE shuffle on the
    * canonical key — the window and the groupBy share its partitioning
    * (subset rule), the same shape as [[llmDedupRows]]. */
  def urlDedupOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_url")
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.withColumn("canonical_url", canonicalUrl(col("url")))
      .withColumn("rn", row_number().over(w))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("dup_cnt"),
        min(when(col("rn") === 1, col("doc_id"))).as("keeper_id"),
        max(col("n_chars")).as("best_chars"))
      .orderBy("canonical_url")
  }

  /** URL canonicalization + keep-best dedup over the synthetic messy
    * URLs (RefinedWeb-style URL dedup — the stage that runs BEFORE
    * content hashing/minhashing because it needs no document text). */
  val llmUrlDedup: Q = (s, dir) =>
    urlDedupOf(Tables.t(s, dir, "documents")
      .withColumn("url", expr(syntheticUrlSql("STRING"))))

  /** Dedup with real duplicates: lineitem's (orderkey, linenumber) is
    * non-unique in the fixtures — keep row_number()=1 per key under a
    * total order (the hash-partitioned, fully distributed dedup shape). */
  val llmDedupRows: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey", "l_linenumber")
      .orderBy("l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    Tables.t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("kept"), dsum(col("l_quantity")).as("kept_qty"))
      .orderBy("l_returnflag")
  }

  /** Banded MinHash-LSH near-dedup: candidates from band buckets, then
    * exact shingle-Jaccard verification ≥ 0.5.
    *
    * Everything runs on integer shingle IDs (hash-shingling): one codegen'd
    * md5 per word, then shingle ids, the sid set, and all 12 min-hash
    * signature values are per-row array arithmetic — the whole signature
    * build is a shuffle-free projection (see [[signaturesOf]]). The only
    * shuffles left are the ones the algorithm genuinely needs: the band
    * bucket self-join and the candidate-verification joins. */
  /** Verified near-dup pairs (doc_a < doc_b, shingle-Jaccard ≥ 0.5) — the
    * edge list shared by `llm_minhash_lsh` and the cluster builder. */
  private[graft] def minhashDupPairs(docs: DataFrame): DataFrame = {
    // One row per doc: signature + sid set. Feeds three consumers (buckets
    // + both sides of the verification join); persisted so the corpus scan
    // happens once — the checkpointed intermediate a production dedup
    // pipeline materializes anyway (MEMORY_AND_DISK spills, never OOMs).
    val sets = signaturesOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count() // eager: downstream stages run concurrently and would
                 // otherwise race to populate the cache, tripling the work
    val cand = minhashCandidates(sets)
    val sh = sets.select(col("doc_id"), col("sh"))
    // |A∪B| = |A|+|B|-|A∩B|: one intersect per pair, never a union array
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("ni") * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - col("ni"))).as("jac"))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), dround(col("jac"), 6).as("jaccard"))
  }

  /** The banded-LSH CANDIDATE generator (pre-verification): distinct
    * bucket-cohabiting (doc_a < doc_b) id pairs over a [[signaturesOf]]
    * frame. Buckets carry only ids — the sid arrays are NOT shuffled
    * through the bucket self-join; verification stages re-join features
    * by id. At 100 TB this is the difference between shuffling doc
    * contents 4x and 16-byte rows. Callers own the persistence of
    * `sets` (both registered consumers persist+count it — the cache
    * barrier against the filter-pushdown recompute pathology). */
  private[graft] def minhashCandidates(sets: DataFrame): DataFrame = {
    val buckets = capBuckets(bucketsOf(sets), maxBucket)
    buckets.alias("a")
      .join(buckets.alias("b"), Seq("band", "sig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** [[minhashCandidates]] over a raw docs frame, with the signature
    * persist barrier the candidate join needs (the caller-facing pair
    * source for verify stages like [[ngramJaccardOf]]). */
  private[graft] def minhashCandidatePairs(docs: DataFrame): DataFrame = {
    // r22: project `sh` OUT before the persist — minhashCandidates' three consumers
    // consume only (doc_id, mh*) band columns, and the shingle array is
    // the cache's fattest column (it scales with doc length where the 12
    // mh longs are fixed); caching it inflated the materialization job
    // and every single-task consumer scan of the 1-partition cache
    val sets = signaturesOf(docs).drop("sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    minhashCandidates(sets)
  }

  val llmMinhashLsh: Q = (s, dir) =>
    minhashDupPairs(Tables.t(s, dir, "documents")).orderBy("doc_a", "doc_b")

  /** MinHash sketch calibration — the quality audit every production
    * dedup pipeline owes its sketch: over the LSH candidate pairs, the
    * 12-component signature-agreement ESTIMATE of Jaccard vs the EXACT
    * shingle Jaccard, summarized as MAE, signed bias, and the 0.5-
    * threshold confusion counts (est ≥ 0.5 ⟺ match_k ≥ 6 — an
    * integer compare, no float boundary). Systematic bias here means
    * the near-dup threshold is silently wrong at corpus scale.
    *
    * Scale shape: the [[signaturesOf]] persist + candidate join the
    * LSH dedup already pays; per-pair work is two 12-element array
    * folds and one set intersect; output is ONE row. */
  private[graft] def minhashCalibrationOf(docs: DataFrame): DataFrame = {
    val sets = signaturesOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count() // eager: bucket join + both feature joins share it
    val feat = sets.select(col("doc_id"), col("sh"),
      array((0 until bands * rowsPerBand).map(i => col(s"mh$i")): _*).as("mhs"))
    minhashCandidates(sets)
      .join(feat.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("mhs").as("mh_a")), "doc_a")
      .join(feat.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("mhs").as("mh_b")), "doc_b")
      .withColumn("match_k", aggregate(zip_with(col("mh_a"), col("mh_b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x))
      .withColumn("ni", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("est", col("match_k") / lit(12.0))
      .withColumn("xact", col("ni") * lit(1.0) /
        (size(col("sh_a")) + size(col("sh_b")) - col("ni")))
      .agg(count(lit(1)).as("n_pairs"),
        davg(abs(col("est") - col("xact")), 6).as("mae"),
        davg(col("est") - col("xact"), 6).as("bias"),
        sum(when(col("match_k") >= 6, 1L).otherwise(0L)).as("est_pos"),
        sum(when(col("xact") >= 0.5, 1L).otherwise(0L)).as("exact_pos"),
        sum(when(col("match_k") >= 6 && col("xact") >= 0.5, 1L)
          .otherwise(0L)).as("both_pos"))
  }

  val llmMinhashCalibration: Q = (s, dir) =>
    minhashCalibrationOf(Tables.t(s, dir, "documents"))

  /** Marginal n-gram novelty — the dedup-economics metric behind
    * "is this source still contributing?": per doc, the fraction of
    * its DISTINCT 4-grams whose first corpus occurrence (min doc_id)
    * is this doc. A source whose docs trend toward zero novelty is
    * re-crawling what the corpus already holds — the curve data
    * acquisition teams actually watch.
    *
    * Scale shape: the shared gram arithmetic as a persisted projection
    * (explode feeds the first-occurrence groupBy AND the join back),
    * one two-phase min-agg on the gram id, one co-partitioned join on
    * the same key. */
  private[graft] def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val grams = reg(docs)
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), explode(hashGramCol(4)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // eager: two consumers would race the cache
    val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        dround(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  val llmNgramNovelty: Q = (s, dir) =>
    ngramNoveltyOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Hot-bucket guard, oracle-compared: the production cap (1000) never
    * trips at fixture scale, so this cap=2 twin exists to force real
    * drops and compare the kept-bucket membership engine-vs-engine — a
    * Spark/DuckDB divergence in over-cap drop semantics cannot pass
    * silently. */
  val llmLshCapped: Q = (s, dir) => {
    // Persist the id-only bucket rows: capBuckets' hot-bucket count and
    // its anti-join probe side would otherwise EACH recompute the full
    // signature projection (md5 word hashes + shingles + 12 minhashes)
    // — measured 2.7 s at sf0.1 un-persisted, ~1.3 s with the barrier.
    val b = bucketsOf(signaturesOf(Tables.t(s, dir, "documents")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b.count() // eager, same cache-race rationale as llmMinhashLsh
    capBuckets(b, 2)
      .select(col("band"), col("sig"), col("doc_id"))
      .orderBy("band", "sig", "doc_id")
  }

  /** Near-dup CLUSTERING: connected components over the verified LSH edge
    * list, so each group of mutual near-dups collapses to one canonical
    * keeper (min doc_id) — the step after pairing that a production dedup
    * actually ships. Pairwise LSH alone can't do this: near-dup is not
    * transitive pairwise, but the dedup decision must be (keep ONE doc per
    * component).
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14).
    * Large-star re-hangs every strictly-larger neighbor of u onto
    * m = min(Γ(u) ∪ {u}); small-star re-hangs every smaller neighbor (and
    * u itself) onto the min of u's smaller neighborhood. The pair of
    * steps is a distributed pointer-doubling: tree depth at least halves
    * per round, so a diameter-d component converges in O(log d) rounds —
    * unlike plain min-neighbor contraction, whose per-round progress on a
    * path graph is O(1) hop and which therefore needs O(d) rounds. At
    * convergence the edge set is a disjoint union of stars whose centers
    * are the component minima; the label map falls out of one left join.
    * Each step is one symmetric-edge groupBy(min) + one key-partitioned
    * hash join — no driver-side data, the driver only steers on a
    * converged-yet probe per round. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(nodes, pairs)._1

  /** [[connectedComponents]] plus the number of star-contraction rounds it
    * took — exposed so tests can assert the O(log d) round bound and ops
    * can watch for pathological inputs. */
  private[graft] def connectedComponentsWithRounds(
      nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    // Canonical orientation (a > b, deduped, self-loops dropped) makes
    // round-over-round equality a set compare of identical shapes.
    def canon(e: DataFrame): DataFrame = e
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
    // large-star: for each u, hang every neighbor v > u onto
    // m = min(Γ(u) ∪ {u}). Output (v, m) has v > m strictly (m ≤ u < v),
    // so it is already canonically a > b oriented and distinct — feeding
    // smallStar directly, no re-canon (an extra distinct shuffle) needed.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a").agg(min(col("b")).as("nb"))
        .select(col("a"), least(col("a"), col("nb")).as("m"))
      sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star: for each u, hang u and all its SMALLER neighbors onto
    // the min of that set (input must be a > b oriented).
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("a").agg(min(col("b")).as("m"))
      e.join(m, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(m.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // Each round's edge set is checkpointed eagerly (`ckpt`, queries package).
    // Checkpoint + edge count in ONE job: observe() plants a
    // CollectMetricsExec above the star step, and the eager checkpoint's
    // internal materialization action delivers the metric — verified
    // empirically on Spark 4.1.2 to propagate with the EXACT row count
    // through both the localCheckpoint and reliable-checkpoint branches
    // (single traversal each). The alternative (a separate next.count()
    // per round) is a whole extra job per round; at 1000-executor scale
    // job setup is nontrivial, so halving jobs/round is real money.
    // obs.get blocks only until the already-finished action's listener
    // fires. Unlike an accumulator row-tap via mapPartitions, observe()
    // stays inside whole-stage codegen. Convergence does NOT depend on
    // the count being exact: if a Spark version ever re-traversed the
    // plan when writing reliable checkpoint files (inflating the
    // metric), every round's count would inflate by the same factor
    // within a session, the plateau prefilter still fires on equality,
    // and the except() set-compare remains the authoritative gate — an
    // inexact count can only mistime the prefilter, never mis-converge.
    def ckptCounted(df: DataFrame, name: String): (DataFrame, Long) = {
      val obs = Observation(name)
      val out = ckpt(df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get("n").asInstanceOf[Long])
    }
    var (edges, prevCount) =
      ckptCounted(canon(pairs.toDF("a", "b")), "cc_canon")
    var converged = prevCount == 0L
    var iter = 0
    // O(log d) rounds means 60 covers any representable graph; hitting it
    // signals a bug, and returning a partial contraction would silently
    // split clusters — so throw instead.
    val maxIter = 60
    while (!converged && iter < maxIter) {
      // The inner ckpt on largeStar STAYS (re-A/B'd r21): dropping it in
      // favor of AQE exchange reuse (smallStar's two consumers both sit
      // above largeStar's distinct() exchange — the r15 BM25 rule) read
      // NET WORSE same-window (5-query CC micro total 18.4 s vs 17.5
      // with the ckpt; graph_cc 3.63 vs 3.42, cc_sizes 3.68 vs 3.21,
      // cluster_sample 4.55 vs 4.04) — the fatter single job loses more
      // to planning/AQE re-optimization than the extra materialization
      // job costs. Negative result recorded so later rounds don't
      // re-try it.
      // K=2 checkpoint cadence (two star rounds per OUTER materialization,
      // the r21-verdict item-5 second attempt) A/B'd WORSE r22 same-window
      // (REPEATS=5, sf0.1 medians): graph_cc 5.81 vs 3.53, graph_cc_sizes
      // 4.75 vs 3.53, llm_dedup_cc 3.75 vs 2.74, llm_semdedup_cc /
      // llm_cluster_sample a wash — same mechanism as r21's inner-ckpt
      // removal: each un-materialized round REFERENCES its input 2-3×
      // (sym union + min join), so the fused pair's plan is ~4-6× fatter
      // and planning/AQE re-optimization cost more than the one skipped
      // checkpoint job saved. Fixpoint IS stable under both stars
      // (largeStar(F)=F, smallStar(F)=F), so the variant was semantically
      // sound — just slower. Recorded so K>1 isn't re-tried.
      val (next, n) =
        ckptCounted(smallStar(ckpt(largeStar(edges))), s"cc_round_$iter")
      // The observed counts are a plateau PREFILTER only; the authoritative
      // gate is a SYMMETRIC set compare (both one-sided differences empty),
      // so correctness never depends on the metric being exact. This
      // matters because accumulator-backed metrics can inflate per-round
      // under stage retry / speculative re-execution: an inflated n could
      // coincidentally equal prevCount while next is a strict SUBSET of
      // edges, and a one-sided next.except(edges) check would then declare
      // convergence on a non-fixpoint, silently splitting clusters. Both
      // frames are materialized checkpoints and this only runs on plateau
      // rounds, so the second except costs one more shuffle on the final
      // round(s) only.
      converged = n == prevCount &&
        next.except(edges).limit(1).count() == 0 &&
        edges.except(next).limit(1).count() == 0
      edges = next
      prevCount = n
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds")
    log.info(s"connectedComponents: converged in $iter rounds, " +
      s"$prevCount star edges (non-root nodes)")
    // Converged stars: every non-center node appears exactly once as the
    // larger endpoint, pointing at its component min.
    val labels = nodes.toDF("doc_id")
      .join(edges.select(col("a").as("doc_id"), col("b").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    (labels, iter)
  }

  val llmDedupCc: Q = (s, dir) =>
    connectedComponents(
      Tables.t(s, dir, "documents").select("doc_id"),
      minhashDupPairs(Tables.t(s, dir, "documents")).select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** `bits`-wide SimHash fingerprints from word-hash bit votes (word
    * hashes are 28-bit md5 prefixes, so up to 28 fingerprint bits; the
    * shape widens to 64 bits unchanged given a wider word hash).
    *
    * Shape note: explode → two-phase groupBy LOOKS like a word-level
    * shuffle but is not — the partial HashAggregate combines map-side,
    * so only per-doc partial vote rows (24 longs each) cross the wire,
    * and the whole path is codegen'd. A shuffle-free projection variant
    * (24 `aggregate()` higher-order lambdas over the word-hash array)
    * measured 2× SLOWER here: HOF lambdas evaluate interpreted,
    * per-element, outside codegen. */
  private def simhashDf(s: org.apache.spark.sql.SparkSession, dir: String,
      bits: Int): DataFrame = {
    // NO fanOut (A/B'd r21, same window): the word explode + votes map
    // stage is fast enough that the extra exchange is a wash here
    // (simhash 1.02/0.66 fanned vs 0.96/0.71 plain; neardup 2.31/1.97
    // vs 2.19/1.87 [med/min]).
    val words = reg(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // r22: same scalar md5-prefix chain -> native kernel (md5_prefix)
      .withColumn("h", call_function("md5_prefix", col("w"), lit(7)))
    val votes = (0 until bits).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i")
    }
    val sim = (0 until bits).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    words.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  val llmSimhash: Q = (s, dir) => simhashDf(s, dir, 16).orderBy("doc_id")

  /** SimHash near-dup pairing over a 24-bit fingerprint: 12-bit bands
    * bucket the fingerprints (a pair within hamming ≤ 1 must agree on one
    * 12-bit half exactly, by pigeonhole), candidates verify with
    * `bit_count(xor)` — banded bucket join, never all-pairs, same scale
    * shape as the MinHash path. Band width trades recall radius against
    * bucket size: wider bands → fewer, tighter candidates. */
  val llmSimhashNeardup: Q = (s, dir) => {
    val sim = simhashDf(s, dir, 24)
    val bandCols = (0 until 2).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 12).bitwiseAND(lit(4095L)).as("sig"))
    }
    // NO persist barrier here, deliberately (r11, measured): the banded
    // frame sits above simhashDf's groupBy SHUFFLE, and ReuseExchange
    // already dedups the identical shuffle subtree across all three
    // consumers (capBuckets' hot count + both self-join sides), so the
    // work runs once without a cache. A persist+eager-count variant
    // benched 1.32-1.48 s vs 1.04 s without (7-repeat micro protocol) —
    // the extra materialization job only added cost. Contrast
    // llmLshCapped / lshCandidatePairs, whose signature pipelines are
    // pure PROJECTIONS: no exchange to reuse there, so their persist
    // barriers are real (measured) wins.
    val buckets = capBuckets(sim
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.sig").as("sig")),
      maxBucket)
    buckets.alias("a").join(buckets.alias("b"), Seq("band", "sig"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 1)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact word-bigram Jaccard VERIFY stage over caller-supplied
    * candidate pairs (`doc_a`, `doc_b`) — the second-feature
    * verification a production dedup pipeline runs over its LSH
    * candidates (the registered query feeds it [[minhashCandidatePairs]]
    * so candidate generation → verify compose exactly as deployed; any
    * (doc_a, doc_b) frame works, e.g. a sampled audit set).
    * Same hash-shingling as llmMinhashLsh: the distinct bigram-id SET per
    * doc is a shuffle-free per-row array projection; |A∩B| comes from a
    * gram-equality join over the exploded sets and |A|,|B| from array
    * sizes — shuffling only (doc, gram-id) long pairs for the
    * intersection, never bigram strings. */
  private[graft] def ngramJaccardOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val hashed = hashedWordsOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count() // eager for the same cache-race reason as llmMinhashLsh
    ngramJaccardFromHashed(hashed, pairs)
  }

  /** [[ngramJaccardOf]] from a pre-built (and caller-persisted)
    * [[hashedWordsOf]] frame — the gram set is pure array arithmetic
    * above the cached `hs` column, so no second corpus scan and no
    * second md5 pass (and no second persist: each consumer re-derives
    * the cheap bigram projection from the shared cache). */
  private[graft] def ngramJaccardFromHashed(hashed: DataFrame, pairs: DataFrame): DataFrame = {
    val gramSet = when(size(col("hs")) >= 2, hashGramCol(2))
      .otherwise(array().cast("array<long>"))
    val g = reg(hashed).select(col("doc_id"), gramSet.as("g"))
    val sizes = g.select(col("doc_id"), size(col("g")).as("n"))
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val ex = g.select(col("doc_id"), explode(col("g")).as("g"))
    val inter = p
      .join(ex.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    p
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // guard the degenerate caller pair where BOTH docs have no
        // bigram (sub-2-word texts): |A∪B| = 0 would NaN the double
        // division — two empty sets share nothing, so the score is 0
        // (unreachable from the registered query: minhash candidates
        // require a 3-word signature)
        when(col("n_a") + col("n_b") === 0, lit(0.0))
          .otherwise(dround(coalesce(col("n_inter"), lit(0L)) * lit(1.0) /
            (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6))
          .as("bigram_jac"))
  }

  /** LSH-candidate → exact-bigram-verify composition over one shared
    * [[hashedWordsOf]] persist: the md5-per-word pass runs ONCE and feeds
    * both the minhash-signature side (candidates) and the bigram side
    * (verification). The signature frame additionally persists because
    * the bucket self-join consumes it three times (capBuckets' hot-count
    * aggregation + both join sides) and the 12 minhash transforms are
    * the costliest projection above `hs`. */
  private[graft] def verifiedBigramPairsOf(docs: DataFrame): DataFrame = {
    val hashed = hashedWordsOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count() // eager: one md5 pass before the concurrent consumers
    // r22: project `sh` OUT before the persist — the candidate join's three consumers
    // consume only (doc_id, mh*) band columns, and the shingle array is
    // the cache's fattest column (it scales with doc length where the 12
    // mh longs are fixed); caching it inflated the materialization job
    // and every single-task consumer scan of the 1-partition cache
    // (the jaccard verify re-derives bigrams from `hashed`, never sh)
    val sets = signaturesFromHashed(hashed).drop("sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    ngramJaccardFromHashed(hashed, minhashCandidates(sets))
  }

  val llmNgramJaccard: Q = (s, dir) =>
    verifiedBigramPairsOf(Tables.t(s, dir, "documents"))
      .orderBy("doc_a", "doc_b")

  /** Asymmetric n-gram CONTAINMENT over the LSH candidate pairs
    * (Broder SEQUENCES 1997 distinguished resemblance from
    * containment for exactly this case): C(A→B) = |A∩B| / |A| catches
    * a document EMBEDDED in another — quote-and-extend posts, licence
    * headers inside larger files — which symmetric Jaccard
    * structurally underscores (a small doc inside a huge one has
    * jac ≈ |A|/|B| ≈ 0 but containment ≈ 1). The `embedded` flag fires
    * on high max-containment with low Jaccard: the sub-document-dup
    * signature `llm_ngram_jaccard` cannot see.
    *
    * Scale shape: [[ngramJaccardFromHashed]]'s exactly — shared
    * [[hashedWordsOf]] persist (one md5 pass), banded-LSH candidates
    * (never all-pairs), intersection via the id-only explode/equi-join
    * two-phase count; per-side sizes join back on the doc key. */
  private[graft] def ngramContainmentFromHashed(hashed: DataFrame,
      pairs: DataFrame): DataFrame = {
    val gramSet = when(size(col("hs")) >= 2, hashGramCol(2))
      .otherwise(array().cast("array<long>"))
    val g = reg(hashed).select(col("doc_id"), gramSet.as("g"))
    val sizes = g.select(col("doc_id"), size(col("g")).as("n"))
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val ex = g.select(col("doc_id"), explode(col("g")).as("g"))
    val inter = p
      .join(ex.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    p
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        when(col("n_a") === 0, lit(0.0))
          .otherwise(dround(coalesce(col("n_inter"), lit(0L)) * lit(1.0)
            / col("n_a"), 6)).as("cont_a"),
        when(col("n_b") === 0, lit(0.0))
          .otherwise(dround(coalesce(col("n_inter"), lit(0L)) * lit(1.0)
            / col("n_b"), 6)).as("cont_b"),
        when(col("n_a") + col("n_b") === 0, lit(0.0))
          .otherwise(dround(coalesce(col("n_inter"), lit(0L)) * lit(1.0)
            / (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6))
          .as("jaccard"))
      .withColumn("embedded",
        greatest(col("cont_a"), col("cont_b")) >= 0.8 && col("jaccard") < 0.5)
  }

  /** Near-dup threshold sensitivity curve — the calibration read
    * behind picking the Jaccard cut every dedup pipeline hardcodes
    * (Lee et al. use 0.8; RefinedWeb 0.85; the right value is
    * corpus-dependent): for each candidate threshold, how many
    * verified pairs and how many distinct docs would a dedup pass at
    * that cut touch. A curve with a knee says the threshold matters; a
    * flat one says the dup mass is unambiguous.
    *
    * Scale shape: the verified-pair frame is [[verifiedBigramPairsOf]]
    * verbatim (banded LSH, never all-pairs); the 5-row threshold
    * literal broadcasts into a non-equi join (≤ 5× the PAIR frame,
    * never the corpus), and every rollup is pair-bounded. Thresholds
    * with zero qualifying pairs stay visible via the left join (the
    * srm silent-vanish rule).
    *
    * Determinism: bigram_jac is already 1e-6-quantized, so >= against
    * the literal thresholds has no float boundary. */
  private[graft] def dedupThresholdCurveOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = verifiedBigramPairsOf(docs)
    val ths = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
    val qual = pairs.join(broadcast(ths),
      pairs("bigram_jac") >= ths("threshold"))
    val cnt = qual.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val docsIn = qual
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_dup_docs"))
    ths.join(cnt, Seq("threshold"), "left")
      .join(docsIn, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
      .orderBy("threshold")
  }

  val llmDedupThresholdCurve: Q = (s, dir) =>
    dedupThresholdCurveOf(Tables.t(s, dir, "documents"))

  val llmNgramContainment: Q = (s, dir) => {
    val hashed = hashedWordsOf(Tables.t(s, dir, "documents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count() // eager: candidates + grams consume it concurrently
    // r22: project `sh` OUT before the persist — the candidate join's three consumers
    // consume only (doc_id, mh*) band columns, and the shingle array is
    // the cache's fattest column (it scales with doc length where the 12
    // mh longs are fixed); caching it inflated the materialization job
    // and every single-task consumer scan of the 1-partition cache
    val sets = signaturesFromHashed(hashed).drop("sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    ngramContainmentFromHashed(hashed, minhashCandidates(sets))
      .orderBy("doc_a", "doc_b")
  }

  /** Train/val split-leakage audit — the self-contamination check
    * `llm_contamination` (corpus vs EXTERNAL eval set) cannot do: when
    * near-duplicate docs straddle the train/val split, validation loss
    * silently measures memorization (Lee et al. ACL 2022 §6.2 measure
    * exactly this leak on C4/RealNews). Composes the SHARED machinery so
    * the three operators cannot disagree: candidate pairs from the
    * banded-LSH chain, verified with the exact bigram Jaccard, splits
    * from `llm_split_assign`'s md5-bucket rule. Output = one row per
    * split-pair category (train-train / train-val / val-val) with pair
    * and verified-near-dup (jac ≥ 0.5 on the quantized value — no float
    * boundary) counts; the train-val row IS the leakage number.
    *
    * Scale shape: rides the signaturesOf persist + bucket join the LSH
    * dedup already pays; split assignment is a per-row md5 projection on
    * the pair frame (no join back to documents); the category agg is a
    * ≤ 3-row two-phase hash aggregate. */
  private[graft] def splitLeakageOf(docs: DataFrame): DataFrame = {
    val bucketOf = (c: Column) =>
      conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("int") % 100
    val splitOf = (c: Column) =>
      when(bucketOf(c) < 95, "train").otherwise("val")
    verifiedBigramPairsOf(docs)
      .select(col("bigram_jac"),
        array_join(array_sort(array(splitOf(col("doc_a")),
          splitOf(col("doc_b")))), "-").as("cat"))
      .groupBy("cat")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("bigram_jac") >= 0.5, 1L).otherwise(0L)).as("n_neardup"),
        dround(max(col("bigram_jac")), 6).as("max_jac"))
      .orderBy("cat")
  }

  val llmSplitLeakage: Q = (s, dir) =>
    splitLeakageOf(Tables.t(s, dir, "documents"))

  /** Brute-force cosine top-k (oracle baseline; scale path = llm_ann_lsh).
    * Query set is small (20 vecs) and broadcast against all candidates.
    * Norms are precomputed once per vector in the projection — per pair
    * only the single dot-product traversal remains. */
  val llmCosineTopk: Q = (s, dir) => {
    graft.functions.VectorExpressions.register(s)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val sims = broadcast(q).join(emb.filter(col("vec_id") >= 20))
      .select(col("q_id"), col("vec_id"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rnk")
  }

  /** Retrieval-quality evaluation — nDCG@k, MRR and hit-count per query
    * (Järvelin & Kekäläinen, TOIS 2002 for DCG; the standard eval
    * triple every retrieval stack reports): rank the corpus per query
    * by the [[llmCosineTopk]] brute-cosine baseline, grade binary
    * relevance by the embedding fixture's `label` (a retrieved doc is
    * relevant iff it shares the query's label — real class structure,
    * not a synthetic rule), and score the top-k list. This is the
    * measurement leg the ANN family's recall gates quote — as a
    * registered operator the pipeline can run per release, not just in
    * tests.
    *
    * Scale shape: the eval query set is a bounded sample (the ANN
    * convention here: vec_id < 20), so the ranking join is a broadcast
    * of ~20 query vectors against the corpus — one pass, no corpus ×
    * corpus anything; the per-query window partitions on q_id. The
    * ideal-DCG side needs only each query's TOTAL relevant count (an
    * equi-join on label, two-phase counted) joined to a k-row literal
    * discount frame.
    *
    * Cross-engine determinism: cosines are the proven dround(6) grain
    * with vec_id tiebreaks; every log-discount term is spelled
    * ln(r+1)/ln(2) in BOTH engines (identical IEEE ops — never an
    * engine's own log2) and quantized to 1e-9 before the exact long
    * sum; MRR's 1/rank and the final ratios round at the same grains. */
  private[graft] def ndcgEvalOf(emb0: DataFrame, k: Int = 10): DataFrame = {
    val spark = emb0.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val lg = (c: Column) => org.apache.spark.sql.functions.log(c)
    val disc = (r: Column) =>
      dround(lit(1.0) / (lg(r.cast("double") + lit(1.0)) / lg(lit(2.0))), 9)
    val emb = emb0.select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("q_lab"),
        col("v").as("qv"), col("nrm").as("qn"))
    val corpus = emb.filter(col("vec_id") >= 20)
    val rtot = broadcast(q.select("q_id", "q_lab"))
      .join(corpus.select("label"), col("q_lab") === col("label"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val top = broadcast(q).join(corpus)
      .select(col("q_id"), col("q_lab"), col("vec_id"), col("label"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .withColumn("rel", (col("q_lab") === col("label")).cast("int"))
    val per = top.groupBy("q_id").agg(
      sum(col("rel")).as("hits"),
      dround(coalesce(lit(1.0) /
        min(when(col("rel") === 1, col("rnk"))), lit(0.0)), 9).as("mrr"),
      dsum(col("rel") * disc(col("rnk")), 9).as("dcg"))
    val ranks = spark.range(1, k + 1L)
      .select(col("id").cast("int").as("r"))
      .withColumn("d", disc(col("r")))
    val idcg = rtot
      .join(broadcast(ranks), col("r") <= least(col("n_rel"), lit(k.toLong)))
      .groupBy("q_id", "n_rel").agg(dsum(col("d"), 9).as("idcg"))
    // LEFT join: an eval query whose label has ZERO relevant corpus
    // docs never reaches rtot/idcg (both are built by inner joins), but
    // the per-query contract still owes it a row — n_rel 0, ndcg 0
    // (r18 ADVICE: the old inner join silently dropped it and made the
    // idcg > 0 guard dead code).
    per.join(idcg, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"), col("mrr"), dround(col("dcg"), 6).as("dcg"),
        when(col("idcg") > 0, dround(col("dcg") / col("idcg"), 6))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("q_id")
  }

  val llmNdcgEval: Q = (s, dir) =>
    ndcgEvalOf(Tables.t(s, dir, "embeddings"))

  /** ROUGE-1/2 overlap between paired texts (Lin, ACL-WS 2004) — the
    * summarization-eval staple beside [[ndcgEvalOf]]'s retrieval
    * metric: clipped multiset n-gram matches give precision, recall
    * and F1 per (candidate, reference) pair. Fixture binding: each
    * consecutive doc pair (even doc_id = reference, odd = candidate);
    * a production caller passes its (summary, reference) columns and
    * the arithmetic is identical.
    *
    * Scale shape: the pair frame is ONE co-partitioned equi-join on
    * doc_id+1 (never all-pairs); one explode per side per gram width
    * into two-phase (pair_id, gram) counts; the clipped intersection
    * is an equi-join on (pair_id, gram) — everything keyed by pair_id,
    * totals read off per-row array sizes (no extra aggregate).
    *
    * Determinism: matches and totals are exact integer sums; P/R
    * quantize at 1e-6 before F1's fixed-shape (2PR)/(P+R), which
    * quantizes again; zero denominators score 0.0 (the codeDetectOf
    * convention). */
  private[graft] def rougeOverlapOf(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    // Persist barrier: five consumers (four gram-count frames + the
    // size frame) re-derive the scan + split + pair join otherwise —
    // their differing projections defeat exchange reuse (the
    // sketch_setops precedent). A/B'd per the module rule (7-repeat
    // sf0.1 micros): 1.110 → 1.040 s median, 1.018 → 0.886 min — a
    // modest win here because the shared subtree is scan-light at
    // fixture scale; the five-fold scan elimination is what matters
    // at 100 TB.
    val pairs = w.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("pair_id"), col("ws").as("rws"))
      .join(w.select((col("doc_id") - 1).as("pair_id"), col("ws").as("cws")),
        "pair_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count() // eager: the five consumers would race the cache
    def grams(c: Column, n: Int): Column =
      if (n == 1) c
      else when(size(c) >= n, transform(sequence(lit(1), size(c) - (n - 1)),
          i => concat_ws(" ", element_at(c, i), element_at(c, i + 1))))
        .otherwise(array().cast("array<string>"))
    def counts(src: String, n: Int, as: String): DataFrame = pairs
      .select(col("pair_id"), explode(grams(col(src), n)).as("g"))
      .groupBy("pair_id", "g").agg(count(lit(1)).as(as))
    def matched(n: Int): DataFrame =
      counts("cws", n, "cc").join(counts("rws", n, "cr"), Seq("pair_id", "g"))
        .groupBy("pair_id")
        .agg(sum(least(col("cc"), col("cr"))).as(s"m$n"))
    def pr(m: Column, tot: Column): Column =
      when(tot === 0, lit(0.0))
        .otherwise(dround(m.cast("double") / tot, 6))
    def f1(p: Column, r: Column): Column =
      when(p + r === 0.0, lit(0.0))
        .otherwise(dround(lit(2.0) * p * r / (p + r), 6))
    val sized = pairs
      .select(col("pair_id"),
        size(col("cws")).cast("long").as("n_cand1"),
        greatest(size(col("cws")) - 1, lit(0)).cast("long").as("n_cand2"),
        size(col("rws")).cast("long").as("n_ref1"),
        greatest(size(col("rws")) - 1, lit(0)).cast("long").as("n_ref2"))
      .join(matched(1), Seq("pair_id"), "left")
      .join(matched(2), Seq("pair_id"), "left")
      .select(col("pair_id"), col("n_cand1"), col("n_ref1"),
        coalesce(col("m1"), lit(0L)).as("m1"),
        coalesce(col("m2"), lit(0L)).as("m2"),
        col("n_cand2"), col("n_ref2"))
    sized
      .select(col("pair_id"), col("n_cand1"), col("n_ref1"), col("m1"), col("m2"),
        pr(col("m1"), col("n_cand1")).as("r1_p"),
        pr(col("m1"), col("n_ref1")).as("r1_r"),
        pr(col("m2"), col("n_cand2")).as("r2_p"),
        pr(col("m2"), col("n_ref2")).as("r2_r"))
      .select(col("pair_id"), col("n_cand1"), col("n_ref1"), col("m1"), col("m2"),
        col("r1_p"), col("r1_r"), f1(col("r1_p"), col("r1_r")).as("r1_f"),
        col("r2_p"), col("r2_r"), f1(col("r2_p"), col("r2_r")).as("r2_f"))
      .orderBy("pair_id")
  }

  val llmRougeOverlap: Q = (s, dir) =>
    rougeOverlapOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** MMR diversity reranking (Carbonell & Goldstein, SIGIR 1998):
    * greedily re-order a retrieval pool so each pick maximizes
    * `λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)` — relevance traded against
    * redundancy with what's already selected. THE standard
    * result-diversification step after any retriever (here: the
    * brute-cosine pool; the fused RRF list would slot in identically).
    *
    * Scale shape — greedy selection is inherently sequential PER QUERY
    * but embarrassingly parallel ACROSS queries, so the engine shape is
    * `groupByKey(q_id).flatMapGroups`: each group folds its own
    * ≤ pool² similarity rows with a bounded greedy loop (pool = 10 →
    * ≤ 90 pair rows/group), one shuffle on q_id, no driver-side state
    * and no per-step plan growth (an unrolled DataFrame chain would
    * reference the selected-set three times per step — the PCA planning
    * -blowup lesson). Pool relevances and pairwise sims are computed
    * distributed first: broadcast query join + per-query pool self-join.
    *
    * Cross-engine determinism: rel and sim are the [[llmCosineTopk]]
    * dround(6) cosines; each step's score quantizes to 1e-9 before the
    * argmax (vec_id tiebreak), so the greedy trajectory replays exactly
    * in DuckDB's unrolled per-step CTEs. */
  private[graft] def mmrRerankOf(emb0: DataFrame, isQuery: Column => Column,
      poolK: Int = 10, selectK: Int = 5, lambda: Double = 0.7): DataFrame = {
    val spark = emb0.sparkSession
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = emb0
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val poolW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rel").desc, col("vec_id"))
    val pool = broadcast(q).join(emb.filter(!isQuery(col("vec_id"))))
      .select(col("q_id"), col("vec_id"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("rel"))
      .withColumn("prnk", row_number().over(poolW))
      .filter(col("prnk") <= poolK)
    val withVec = pool.join(emb, "vec_id")
    val a = withVec.select(col("q_id"), col("vec_id").as("a"),
      col("rel").as("rel_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withVec.select(col("q_id"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, "q_id")
      .select(col("q_id"), col("a"), col("rel_a"), col("b"),
        when(col("a") === col("b"), lit(1.0))
          .otherwise(dround(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
          .as("sim"))
      .as[MmrIn]
    def q9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    pairs.groupByKey(_.q_id).flatMapGroups { (qid, it) =>
      val rows = it.toVector
      val rel = rows.map(r => r.a -> r.rel_a).toMap
      val sim = rows.iterator.filter(r => r.a != r.b)
        .map(r => (r.a, r.b) -> r.sim).toMap
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      val remaining = scala.collection.mutable.TreeSet[Long](rel.keys.toSeq: _*)
      while (selected.length < selectK && remaining.nonEmpty) {
        val scored = remaining.iterator.map { cand =>
          val red =
            if (selected.isEmpty) 0.0
            else selected.iterator
              .map(s => sim.getOrElse((cand, s._1), 0.0)).max
          cand -> q9(lambda * rel(cand) - (1 - lambda) * red)
        }.toVector
        val best = scored.minBy { case (id, sc) => (-sc, id) }
        selected += best
        remaining -= best._1
      }
      selected.iterator.zipWithIndex.map { case ((id, sc), i) =>
        MmrOut(qid, i + 1, id, sc)
      }
    }.toDF()
  }

  val llmMmrRerank: Q = (s, dir) =>
    mmrRerankOf(Tables.t(s, dir, "embeddings"), id => id < 3)
      .orderBy("q_id", "step")

  /** Random-hyperplane LSH candidate pairs — vectors hash to sign-pattern
    * buckets; pairs form per bucket (shuffle on bucket id), no crossJoin.
    * Deterministic pseudo-random planes from integer arithmetic (no RNG),
    * so the DuckDB oracle replays the bucketing bit-for-bit.
    *
    * MULTI-TABLE (r11): `lshTables` independent 8-plane hash tables, a
    * pair is a candidate if it collides in ANY table (Indyk–Motwani LSH;
    * Charikar STOC'02 for the hyperplane family). One table's collision
    * probability for angle θ is (1−θ/π)^8 — ~1–5% for the
    * near-orthogonal pairs of an unclustered corpus, which the r11
    * recall@5 gate made visible (0.039 measured single-table); L tables
    * lift it to 1−(1−p)^L ≈ L·p at small p, the standard
    * recall-vs-candidate-volume dial. Plane index pi = table·8 + plane
    * keeps table 0 identical to the r10 planes. Scale shape: vectors
    * explode to L bucket rows (bucket id = table·256 + sign bits, so
    * tables never cross-collide), the per-bucket self-join and hot-bucket
    * cap apply per table, and cross-table duplicate candidates collapse
    * by DISTINCT on the (id, id, cos) row — cos is the same IEEE
    * expression over the same operands in every table, so the distinct
    * is exact. */
  private[graft] val lshTables = 4
  private def lshCandidatePairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    def planeW(pi: Int): Column = typedLit(
      (0 until 64).map(d => ((pi.toLong * 73856093 + d.toLong * 19349663) % 2000).toDouble / 1000.0 - 1.0))
    def dotW(pi: Int): Column = call_function("dot_product", col("v"), planeW(pi))
    def sig(t: Int): Column = (0 until 8)
      .map(p => when(dotW(t * 8 + p) > 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _) + lit(t * 256)
    // One signature pass (32 plane dots per vector), persisted: the
    // bucket self-join's two sides AND capBuckets' hot-bucket count
    // would otherwise each recompute the scan + dots (3× total) — the
    // same materialize-once barrier minhashDupPairs uses for `sets`.
    val sigs = emb
      .withColumn("buckets", array((0 until lshTables).map(sig): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // eager, same cache-race rationale as llmMinhashLsh
    val bucketed = capBuckets(
      sigs.select(col("vec_id"), col("v"), col("nrm"),
        explode(col("buckets")).as("bucket")),
      maxBucket, Seq("bucket"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dround(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6).as("cos"))
      .distinct()
      .filter(col("cos") > 0.3)
  }

  /** LSH-bucketed ANN — the 100 TB similarity-search path (scale twin of
    * the brute-force `llm_cosine_topk` baseline). Oracle-checked: DuckDB
    * recomputes planes, buckets, and cosines. */
  val llmAnnLsh: Q = (s, dir) =>
    lshCandidatePairs(s, dir).orderBy("id_a", "id_b")

  /** Embedding-cosine near-dedup (brief §dedup): LSH candidates collapse
    * to a keeper/duplicate mapping — every vector with a lower-id
    * candidate partner above the threshold is a duplicate of its lowest
    * such partner. Same banded scale shape as the MinHash path: pairs
    * only ever form inside buckets. (Synthetic fixtures have no true
    * near-dups, so the demo threshold is the candidate cut 0.3; a real
    * corpus would use ~0.95 — the plan shape is identical.) */
  val llmEmbedNeardup: Q = (s, dir) =>
    lshCandidatePairs(s, dir)
      .groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("keeper_id"), max(col("cos")).as("best_cos"))
      .orderBy("dup_id")

  /** Fixed centroid-seed count for the IVF/SemDeDup coarse quantizer.
    * INDEPENDENT of corpus size — this is the 100 TB knob (production
    * IVF trains ~2^16 k-means centers; the fixture uses 40): the seed
    * set is the k vectors with the smallest md5(vec_id), a
    * deterministic uniform sample selected by ONE TakeOrderedAndProject
    * pass (per-partition top-k, no global sort of the corpus), so
    * `broadcast(cents)` is k-sized at ANY corpus scale and
    * nearest-centroid assignment costs O(N·k) dot products with
    * expected cell size N/k — never the O(N²/const) blowup the
    * previous every-50th-vector rule degenerated to (centroid count
    * grew linearly with N). DuckDB replays the identical selection
    * (`ORDER BY md5(vec_id) LIMIT k`). */
  private[graft] val ivfK = 40

  /** The fixed-k centroid seed set of a (vec_id, v, nrm) frame, plus a
    * dense seed rank `r` (1..k in md5 order) for deterministic argmax
    * tie-breaking in cell assignment ([[cellKey]]). Both windows run
    * AFTER the limit — single-partition windows over ≤ k rows on the
    * broadcast side, not over the corpus.
    *
    * Duplicate-vector seeds are collapsed to the min-rank copy:
    * trained k-means never emits two identical centers, but a SAMPLED
    * seed set over a dup-heavy corpus (SemDeDup's target data) can —
    * and duplicate seeds would split one semantic cell across several
    * cell ids and waste IVF probes on empty duplicate-direction
    * lists. */
  private[graft] def ivfSeeds(emb: DataFrame, k: Int = ivfK): DataFrame = {
    val ord = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy("r")
    emb.orderBy(ord: _*).limit(k)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord: _*)))
      .withColumn("dup_rn", row_number().over(byVec))
      .filter(col("dup_rn") === 1)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("r"))
  }

  /** Cell-assignment ordering key: cosine quantized to 1e-9 resolution
    * with the seed rank as the low-order tie-break, packed into ONE
    * LONG so `max_by` keeps the argmax inside a codegen'd
    * HashAggregate (a struct ordering would force SortAggregate).
    * EXACT csim ties — identical embeddings, the very case SemDeDup
    * exists for, where duplicate vectors can BOTH be sampled as seeds —
    * resolve deterministically to the same cell on both engines
    * (highest seed rank wins). |key| ≤ 1e9·2^16 + 2^16, long-safe up
    * to k = 2^16, the at-scale knob. */
  private def cellKey(csim: Column, r: Column): Column =
    floor(csim * lit(1e9) + lit(0.5)).cast("long") * lit(65536L) + r

  /** SemDeDup (Abbas et al., arXiv:2303.09540) — semantic dedup inside
    * coarse clusters, the method used to prune LAION/web-scale corpora:
    * k-means-cluster the embeddings, then within each cluster drop every
    * vector whose cosine to another cluster member exceeds a threshold,
    * keeping one representative. The IVF coarse quantizer ([[ivfSeeds]]
    * fixed-k md5 sample, [[cellKey]] argmax cell — deterministic
    * arithmetic `llm_ann_ivf` replays bit-exact in DuckDB) doubles as
    * the clustering; the keeper rule is `llm_embed_neardup`'s
    * (lowest-id partner wins). Scale shape: candidates only ever form
    * INSIDE a cell (pairs join keyed on cell), hot cells are capped by
    * the same single-pass window guard, and the centroid table is
    * k-sized — broadcast-safe at any N — never an all-pairs join.
    * Fixture vectors are random, so the demo threshold is the candidate
    * cut 0.3; production SemDeDup uses ~0.95 — identical plan. */
  val llmSemdedup: Q = (s, dir) =>
    semDedupOf(Tables.t(s, dir, "embeddings")).orderBy("dup_id")

  /** SemDeDup core over a caller (vec_id, embedding) frame — see
    * [[llmSemdedup]] for semantics and scale shape. Pairwise keeper
    * mapping (lowest-id partner); transitive chains resolve via
    * [[llmSemdedupCc]]'s connected-components composition instead. */
  private[graft] def semDedupOf(raw: DataFrame, k: Int = ivfK): DataFrame =
    semDedupPairs(raw, k)
      .groupBy(col("id_b").as("dup_id"))
      .agg(min(col("id_a")).as("keeper_id"), max(col("cos")).as("best_cos"))

  /** The thresholded within-cell cosine pairs (id_a < id_b, cos > 0.3)
    * behind both SemDeDup resolutions — the cell machinery of
    * [[llmSemdedup]]. `k` = centroid-seed count (tests pin degenerate
    * geometries with k = 1; production uses the [[ivfK]] default).
    * `minCos = None` keeps EVERY within-cell pair (the
    * [[knnGraphOf]] consumer ranks per-node instead of thresholding). */
  private[graft] def semDedupPairs(raw: DataFrame, k: Int = ivfK,
      minCos: Option[Double] = Some(0.3)): DataFrame = {
    graft.functions.VectorExpressions.register(raw.sparkSession)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = raw
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = ivfSeeds(emb, k)
    // unlike the ANN path there is no query/corpus split: EVERY vector
    // (centroid seeds included) is a corpus member to dedup
    val cells = emb.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        cellKey((dot(col("v"), col("cv")) / (col("nrm") * col("cn"))), col("r")).as("ck"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), col("ck")).as("cell"))
    val cellW = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    val assigned = cells
      .join(emb.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cn", count(lit(1)).over(cellW))
      .filter(col("cn") <= maxBucket)
      .drop("cn")
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val pairs = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        dround(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6).as("cos"))
    minCos.fold(pairs)(t => pairs.filter(col("cos") > t))
  }

  /** Mutual k-NN graph over the embedding table — the neighborhood
    * structure behind SemDeDup's clusters, HNSW-style index builds, and
    * local-density curation analyses: node j is node i's neighbor iff
    * EACH ranks the other in its top-`k` by cosine (mutuality filters
    * the hub vectors that plain kNN graphs drown in). Candidates form
    * only within IVF cells (the [[semDedupPairs]] machinery minus its
    * threshold), so at 100 TB the pair space is cell-bounded, never
    * all-pairs; per-node ranking is a cell-sized window, and the
    * mutuality check is a self-join on the (src, dst) key.
    *
    * Cross-engine determinism: ranks order by the dround(6) cosine
    * with dst as tie-break — a total order both engines replay. */
  private[graft] def knnGraphOf(raw: DataFrame, k: Int = 3,
      cells: Int = ivfK): DataFrame = {
    // Both persists are load-bearing (plan audit: the unbarriered first
    // cut re-planned the whole cell/pair chain FOUR times — 48 parquet
    // scans — because the union's two directions and the mutual
    // self-join's two sides each re-derive it; the BM25-style exchange
    // reuse cannot fire across the union's column swap). `und` is the
    // cell-bounded pair frame any kNN builder materializes; `top` is
    // the N·k edge list.
    val und = semDedupPairs(raw, cells, minCos = None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count() // eager: the union's branches would race the cache
    val dirAll = und
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionAll(und
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val top = dirAll.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("src", "dst", "cos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    top.count() // eager: the mutual join reads it twice
    val reversed = top.select(col("dst").as("src"), col("src").as("dst"))
    top.join(reversed, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"), col("cos"))
  }

  val llmKnnGraph: Q = (s, dir) =>
    knnGraphOf(Tables.t(s, dir, "embeddings")).orderBy("id_a", "id_b")

  /** k-NN label-consistency audit (leave-one-out within cells) — the
    * standard label-noise / embedding-quality probe: predict each
    * vector's label as the majority label of its 3 nearest within-cell
    * neighbors (ties break to the smaller label) and score per-class
    * accuracy. A class whose kNN accuracy collapses has noisy labels
    * or an embedding that doesn't separate it — the two defects this
    * audit exists to surface before anyone trains on the labels.
    *
    * Scale shape: the same cell-bounded pair space as [[knnGraphOf]]
    * (persisted once), per-vector top-3 via a cell-sized window, the
    * vote a (vector, label)-keyed count + argmax rank, and the final
    * score a #classes-row aggregate. */
  private[graft] def knnClassifyOf(raw: DataFrame, k: Int = 3,
      cells: Int = ivfK): DataFrame = {
    val und = semDedupPairs(raw.select("vec_id", "embedding"), cells,
      minCos = None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count() // eager: the direction-union would race the cache
    val dirAll = und
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionAll(und
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val labels = raw.select(col("vec_id"), col("label"))
    val votes = dirAll.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(labels.select(col("vec_id").as("dst"),
        col("label").as("nl")), "dst")
      .groupBy("src", "nl").agg(count(lit(1)).as("v"))
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("v").desc, col("nl"))
    val pred = votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("src").as("vec_id"), col("nl").as("pred"))
    labels.join(pred, "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc",
        dround(col("n_correct").cast("double") / col("n"), 6))
      .orderBy("label")
  }

  val llmKnnClassify: Q = (s, dir) =>
    knnClassifyOf(Tables.t(s, dir, "embeddings"))

  /** Hard-negative mining for contrastive retrieval training (DPR —
    * Karpukhin et al. EMNLP 2020 §3.2; ANCE — Xiong et al. 2020): for
    * each query vector, the strongest POSITIVE (most-similar same-label
    * candidate) and the top-3 strongest NEGATIVES (most-similar
    * different-label candidates). The negatives closest to the query are
    * the "hard" ones — random negatives saturate the loss early — and
    * `margin = pos_cos − neg_cos` is the per-triplet training signal (a
    * negative margin marks the query as confusable: its best
    * wrong-label neighbor outranks its best right-label one).
    *
    * Scale shape: the query side is a training batch (broadcast-sized
    * by construction); the candidate corpus streams ONCE through the
    * broadcast join, and ONE (q_id, same-label?) -partitioned window
    * ranks positives and negatives from that single pass — never a
    * global sort, skew bounded by the per-query candidate count, no
    * label-filtered re-scan. At 100 TB the brute-force pairing swaps
    * for the ANN shortlist (`llm_ann_ivf_trained` / `pqSearch`) with
    * identical downstream mining; the oracle pins this exact variant.
    * Cosines are the [[llmCosineTopk]] dround(6) values, so DuckDB
    * replays the ranking bit-for-bit. */
  private[graft] def hardNegativesOf(raw: DataFrame, isQuery: Column => Column,
      negK: Int = 3): DataFrame = {
    graft.functions.VectorExpressions.register(raw.sparkSession)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = raw
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("label").as("q_lab"),
        col("v").as("qv"), col("nrm").as("qn"))
    val sims = broadcast(q).join(emb.filter(!isQuery(col("vec_id"))))
      .select(col("q_id"), col("q_lab"), col("vec_id"), col("label"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
    // ONE pass over the pairing: ranking within (q_id, same-label?)
    // partitions gives the positive rank and the negative rank from a
    // single window — no label-filtered second scan of the candidates
    val bySide = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id", "is_same").orderBy(col("cos").desc, col("vec_id"))
    val ranked = sims
      .withColumn("is_same", col("label") === col("q_lab"))
      .withColumn("rnk", row_number().over(bySide))
    val pos = ranked.filter(col("is_same") && col("rnk") === 1)
      .select(col("q_id"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = ranked.filter(!col("is_same") && col("rnk") <= negK)
      .select(col("q_id"), col("rnk"), col("vec_id").as("neg_id"),
        col("cos").as("neg_cos"))
    pos.join(neg, "q_id")
      .select(col("q_id"), col("pos_id"), col("pos_cos"), col("rnk"),
        col("neg_id"), col("neg_cos"),
        dround(col("pos_cos") - col("neg_cos"), 6).as("margin"))
  }

  val llmHardNegatives: Q = (s, dir) =>
    hardNegativesOf(Tables.t(s, dir, "embeddings"), _ < 20)
      .orderBy("q_id", "rnk")

  /** Matryoshka truncation audit (Kusupati et al. NeurIPS 2022): per
    * query, recall@k of retrieval over the FIRST `truncDim` embedding
    * dimensions against full-dimension retrieval — the measurement
    * behind "can we serve the 16-dim prefix and cut vector bytes 4×?".
    * MRL-trained embeddings hold recall near 1.0 under truncation;
    * ordinary embeddings (this fixture's) degrade — the audit quantifies
    * the cost BEFORE an index ships truncated.
    *
    * Scale shape: the cosine_topk broadcast-batch pairing computing both
    * cosines in ONE candidate pass (truncated norms are per-row
    * projections); both ranks annotate that same pass — two Window
    * nodes sharing one q_id exchange — and the overlap is a per-row
    * flag conjunction + a groupBy on the same partitioning (no second
    * candidate pass, no self-join). Absent queries can't vanish: the
    * recall frame left-joins from the query list. */
  private[graft] def matryoshkaRecallOf(raw: DataFrame,
      isQuery: Column => Column, truncDim: Int = 16, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(raw.sparkSession)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = raw
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vt", slice(col("v"), 1, truncDim))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("nrmt", sqrt(dot(col("vt"), col("vt"))))
    val q = emb.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("vt").as("qvt"),
        col("nrm").as("qn"), col("nrmt").as("qnt"))
    val sims = broadcast(q).join(emb.filter(!isQuery(col("vec_id"))))
      .select(col("q_id"), col("vec_id"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("cos_full"),
        dround(dot(col("qvt"), col("vt")) / (col("qnt") * col("nrmt")), 6)
          .as("cos_trunc"))
    // both ranks annotate ONE pass over the pairing (two Window nodes
    // sharing the q_id exchange), and the overlap is a per-row flag
    // conjunction + groupBy on the same partitioning — no second
    // candidate pass, no self-join
    def byDesc(score: String) = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col(score).desc, col("vec_id"))
    val common = sims
      .withColumn("in_full", row_number().over(byDesc("cos_full")) <= k)
      .withColumn("in_trunc", row_number().over(byDesc("cos_trunc")) <= k)
      .groupBy("q_id")
      .agg(sum(when(col("in_full") && col("in_trunc"), 1L).otherwise(0L))
        .as("n_common"))
    q.select(col("q_id")).join(common, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        dround(coalesce(col("n_common"), lit(0L)).cast("double") / k, 6)
          .as("recall_at_k"))
      .orderBy("q_id")
  }

  val llmMatryoshkaRecall: Q = (s, dir) =>
    matryoshkaRecallOf(Tables.t(s, dir, "embeddings"), _ < 20)

  /** Scale-safe exact global ranking of (doc_id, sq: quantized-long
    * score) by (sq asc, doc_id asc): scores bucket by their high bits,
    * each bucket ranks locally (bucket-partitioned window), and bucket
    * offsets come from ONE running total over the bucket-count frame —
    * bounded by the score RANGE (≤ range/2^shift rows), never the
    * corpus (the tokenBudget posture; a bare global row_number would
    * single-partition every doc at 100 TB). */
  private[graft] def decomposedRank(df: DataFrame, shift: Int = 10): DataFrame = {
    val b = df.withColumn("bk", expr(s"sq DIV ${1 << shift}"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy("bk")
    val offsets = b.groupBy("bk").agg(count(lit(1)).as("bn"))
      .withColumn("off", sum(col("bn")).over(wb) - col("bn"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("bk").orderBy(col("sq"), col("doc_id"))
    b.join(broadcast(offsets.select("bk", "off")), "bk")
      .withColumn("rnk", col("off") + row_number().over(wd))
      .select(col("doc_id"), col("rnk"))
  }

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

  /** IVF quantizer cell-balance audit — the index-health number every
    * production ANN deployment watches (FAISS's imbalance_factor): cell
    * sizes under the SHARED fixed-k assignment, summarized as max/mean.
    * Imbalance ≈ 1 = uniform routing; ≫ 1 = a hot cell that serializes
    * every probe landing in it (the ANN twin of the skewed-join
    * problem) — the signal to retrain the quantizer (llm_ann_ivf_trained)
    * or cap the cell (the llm_lsh_capped discipline).
    *
    * Scale shape: the one broadcast-centroid assignment pass the IVF
    * family already pays, a cell-keyed two-phase count, ONE summary
    * row. Exact integer counts; the ratio is one quantized division. */
  private[graft] def ivfBalanceOf(raw: DataFrame, k: Int = ivfK): DataFrame = {
    graft.functions.VectorExpressions.register(raw.sparkSession)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = raw
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val sizes = emb.join(broadcast(ivfSeeds(emb, k)))
      .select(col("vec_id"),
        cellKey(dot(col("v"), col("cv")) / (col("nrm") * col("cn")),
          col("r")).as("ck"),
        col("c_id"))
      .groupBy("vec_id").agg(max_by(col("c_id"), col("ck")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    sizes.agg(count(lit(1)).as("n_cells"), sum("n").as("n_vecs"),
        max("n").as("max_cell"), min("n").as("min_cell"))
      .select(col("n_cells"), col("n_vecs"), col("max_cell"), col("min_cell"),
        dround((col("max_cell") * col("n_cells")) / col("n_vecs").cast("double"),
          6).as("imbalance"))
  }

  val llmIvfBalance: Q = (s, dir) =>
    ivfBalanceOf(Tables.t(s, dir, "embeddings"))

  /** Embedding outlier audit — the curation stage that catches
    * mislabeled/noise vectors SemDeDup's similarity thresholds never
    * see (an outlier is far from EVERYTHING in its cell, not close to
    * something): each vector's quantized cosine to its own centroid —
    * recovered from the packed [[cellKey]] argmax key, so assignment
    * and score cannot disagree — compared against its cell's exact
    * interpolated 5th percentile (the proven `agg_percentile`
    * cross-engine idiom). Flagged = the cell's most-peripheral 5%.
    *
    * Scale shape: the broadcast k-sized centroid join + one vec-keyed
    * argmax agg (the IVF assignment cost, shared shape), a per-cell
    * two-phase percentile over ≤ cell-sized integer groups, and a
    * broadcast #cells-row threshold join back. No windows, no global
    * sort. */
  private[graft] def embedOutliersOf(raw: DataFrame, k: Int = ivfK): DataFrame = {
    graft.functions.VectorExpressions.register(raw.sparkSession)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val emb = raw
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = ivfSeeds(emb, k)
    val assigned = emb.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        cellKey(dot(col("v"), col("cv")) / (col("nrm") * col("cn")),
          col("r")).as("ck"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), col("ck")).as("cell"), max("ck").as("bk"))
      // quantized own-centroid cosine (1e9 scale), unpacked from the key
      .withColumn("q", expr("bk DIV 65536"))
    val thresholds = assigned.groupBy("cell")
      .agg(expr("percentile(q, 0.05)").as("p05_raw"),
        count(lit(1)).as("cell_n"))
    assigned.join(broadcast(thresholds), "cell")
      .select(col("vec_id"), col("cell"),
        dround(col("q").cast("double") / 1e9, 6).as("cos_c"),
        col("cell_n"),
        dround(col("p05_raw") / 1e9, 6).as("cell_p05"),
        (col("q").cast("double") < col("p05_raw")).as("is_outlier"))
  }

  val llmEmbedOutliers: Q = (s, dir) =>
    embedOutliersOf(Tables.t(s, dir, "embeddings")).orderBy("vec_id")

  /** SemDeDup pairs resolved into CLUSTERS by the same O(log d)
    * star-contraction operator the MinHash path uses
    * ([[connectedComponents]]): the per-pair keeper rule alone handles
    * transitive semantic-dup chains (A~B~C with A≁C) inconsistently —
    * B maps to keeper A while C maps to keeper B, so dropping all
    * dup_ids removes B, C's keeper context with it. Components give
    * every chain ONE cluster id (the component-min vec_id); keep =
    * cluster representative, drop = everything else in the cluster.
    * Returns (vec_id, cluster_id) for every vector. */
  /** The shared composition core (registered query + Pipeline facade —
    * one spelling of the pairs → CC → relabel chain). */
  private[graft] def semDedupClustersOf(raw: DataFrame, k: Int = ivfK): DataFrame =
    connectedComponents(
      raw.select("vec_id"),
      semDedupPairs(raw, k).select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  val llmSemdedupCc: Q = (s, dir) =>
    semDedupClustersOf(Tables.t(s, dir, "embeddings")).orderBy("vec_id")

  /** Cluster-balanced diversity sampling — the generalization of
    * SemDeDup's keep-one: keep at most `m` vectors per SEMANTIC cluster
    * ([[semDedupClustersOf]] labels), chosen by deterministic md5 order
    * (an unbiased within-cluster sample). m = 1 reproduces SemDeDup's
    * retention; m > 1 trades residual redundancy for coverage — the
    * knob diversity-aware curation actually tunes (cf. Abbas et al.
    * 2303.09540 §5's dedup-strength sweep). The cap plans through
    * TopKPerKeyExec over the cluster label; clustering costs what
    * llm_semdedup_cc costs, the cap itself is heap-bounded. */
  private[graft] def clusterSampleOf(raw: DataFrame, m: Int,
      k: Int = ivfK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    semDedupClustersOf(raw, k)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= m)
  }

  val llmClusterSample: Q = (s, dir) =>
    clusterSampleOf(Tables.t(s, dir, "embeddings"), 2)
      .select(col("cluster_id"), col("vec_id"), col("__graft_rn").as("rn"))
      .orderBy("cluster_id", "rn")

  /** IVF (inverted-file) ANN — the second 100 TB scale path beside
    * random-hyperplane LSH: a deterministic fixed-k coarse quantizer
    * ([[ivfSeeds]] — k vectors with smallest md5(vec_id), k independent
    * of corpus size) assigns vectors to cells; each query probes only
    * its `nprobe` nearest cells and scans those inverted lists. The
    * candidate join is (queries × probed cells) on the cell key — never
    * a full cross product — and the centroid table is k-sized and
    * broadcast at any N. Oracle-checked: the quantizer is deterministic
    * IEEE arithmetic, so DuckDB replays cells, probes, and top-5
    * bit-exact (plus a brute-force value check in ScalaTest). */
  val llmAnnIvf: Q = (s, dir) => {
    graft.functions.VectorExpressions.register(s)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    // norms once per vector; per candidate pair only the dot remains
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    ivfTopk(emb)
  }

  /** The IVF retrieval body shared by the float and int8 paths: `emb` =
    * (vec_id, v: array&lt;double&gt;, nrm). Caller must have registered
    * `dot_product`. */
  private[graft] def ivfTopk(emb: DataFrame, k: Int = ivfK): DataFrame =
    ivfRetrieve(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), ivfSeeds(emb, k))

  /** ONE deterministic Lloyd refinement step over a seed set — the
    * "trained k-means centers" the sampled quantizer stands in for,
    * made real AND oracle-replayable: assign every vector to its
    * nearest seed (the same [[cellKey]] preference retrieval uses),
    * replace each seed's vector with its cell's per-dimension MEAN,
    * drop seeds whose cell came up empty (standard Lloyd). Exactness:
    * dimension sums run over 1e-6-quantized longs (the dsum trick —
    * float summation order differs between engines, long sums cannot),
    * and the mean divides in one fixed order, so DuckDB reproduces the
    * refined centroids bit-for-bit. Cost: O(N·k) assignment dots +
    * O(N·dims) sum rows per iteration, both shuffle-bounded by (cell,
    * dim) cardinality k·dims — iterate as many steps as the corpus
    * warrants (production k-means-- runs a handful). The refined
    * centroid keeps its seed's rank `r`, so tie-breaks stay
    * deterministic. */
  private[graft] def lloydRefine(emb: DataFrame, cents: DataFrame): DataFrame = {
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val cells = emb.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        cellKey(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), col("r")).as("ck"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), col("ck")).as("cell"))
    val dims = cells.join(emb.select(col("vec_id"), col("v")), "vec_id")
      .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
    val sums = dims.groupBy("cell", "d").agg(
      sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("qs"),
      count(lit(1)).as("n"))
    sums
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("d"),
        ((col("qs").cast("double") / lit(1e6)) / col("n")).as("m")))).as("dm"))
      .select(col("cell").as("c_id"),
        transform(col("dm"), s => s.getField("m")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      .join(cents.select(col("c_id"), col("r")), "c_id")
  }

  /** IVF retrieval over Lloyd-refined centroids ([[lloydRefine]] one
    * step from the [[ivfSeeds]] sample) — the trained-quantizer path
    * beside `llm_ann_ivf`'s sampled seeds, fully oracle-checked. */
  val llmAnnIvfTrained: Q = (s, dir) => {
    graft.functions.VectorExpressions.register(s)
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    // NO persist barrier, deliberately (measured): six consumers re-scan
    // this projection, but at 2,000 rows the rescans are cheaper than a
    // materialization job — A/B'd 1.267 s without vs 1.659 s with
    // (7-repeat micro medians). The persist rule pays over EXPENSIVE
    // multi-consumed projections (lmQualityOf's per-occurrence md5,
    // ngramJaccardOf's gram sets), not over a cheap scan+norm.
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    ivfRetrieve(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), lloydRefine(emb, ivfSeeds(emb)))
  }

  /** The retrieval body over caller corpus/query frames (vec_id, v,
    * nrm) and a centroid frame (c_id, cv, cn, r) — sampled seeds
    * ([[ivfSeeds]]) or Lloyd-refined centers ([[lloydRefine]]) plug in
    * interchangeably; the registered queries bind the fixture's
    * vec_id-split convention, the [[graft.Pipeline.annSearch]] facade
    * binds caller tables. */
  private[graft] def ivfRetrieve(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, topK: Int = 5, nprobe: Int = 2): DataFrame = {
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    def cellSim = dot(col("v"), col("cv")) / (col("nrm") * col("cn"))
    // assign every vector to its nearest centroid; max_by keeps the argmax
    // inside a codegen'd two-phase aggregate (no window over all pairs).
    // The aggregation carries ONLY fixed-width columns (vec_id, c_id,
    // ck) so it stays in HashAggregate — carrying the vector through
    // first(v) would put an array in the agg buffer and force
    // SortAggregate; the vectors re-join by id afterwards instead. The
    // ordering is cellKey (quantized csim + seed-rank tie-break), one
    // long, for the same HashAggregate reason.
    val cells = corpus.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"), cellKey(cellSim, col("r")).as("ck"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), col("ck")).as("cell"))
    // Hot-cell guard, same posture as the LSH/MinHash capBuckets: a cell
    // holding >maxBucket vectors means the coarse quantizer collapsed on a
    // boilerplate embedding cluster, and the (queries × probed cells) join
    // would scan that whole list for every probing query. Dropping the
    // cell bounds the candidate join; a quantizer that degenerate needs
    // retraining upstream, not a bigger scan. Mirrored in the DuckDB
    // oracle (annIvfSql) so both engines share the drop semantics.
    //
    // SINGLE-PASS: the cell size rides a window count over the frame the
    // guard filters, not a second aggregation. The r10 capBuckets shape
    // recomputed the whole assignment plan (scan + broadcast + argmax agg
    // + vec_id join) for the hot-cell side and anti-joined — a full extra
    // pass over `assigned`, the bulk of llm_ann_ivf's 2.38× r9→r10 drift.
    // The window's shuffle-by-cell is one this plan pays anyway: the
    // probes join below keys on `cell`, so the window's HashPartitioning
    // (and sort) feed straight into that join instead of a fresh
    // exchange — the guard's marginal cost is just the per-partition
    // count, with no second pass and no extra array shuffle.
    val cellW = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    val assigned = cells
      .join(corpus.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cn", count(lit(1)).over(cellW))
      .filter(col("cn") <= maxBucket)
      .drop("cn")
    // queries probe their nprobe nearest cells. Probe preference is the
    // SAME cellKey the assignment argmax uses (quantized csim +
    // seed-rank tie-break): a query that looks like a member must probe
    // the member's actual cell first, so tie-heavy geometries (e.g.
    // near-duplicate directions) can never send a probe to a cell the
    // assignment never populated.
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("pk").desc)
    val probes = queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qn"), col("c_id"),
        cellKey(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), col("r")).as("pk"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("cell"))
    // scan only the probed inverted lists
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, "cell")
      .select(col("q_id"), col("vec_id"),
        dround(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
      .withColumn("rnk", row_number().over(topW))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rnk")
  }

  /** Quantization-aware IVF ANN — `llm_embed_quantize`'s int8 codes
    * composed into the retrieval path (what a production vector store
    * actually scans: FAISS `IndexIVFScalarQuantizer(QT_8bit)`-style,
    * 4 bytes/dim → 1 at rest and through the shuffle). Vectors are
    * scalar-quantized per row (same scheme and arithmetic as
    * `llm_embed_quantize`: code = floor((x−mn)/scale + 0.5) − 128,
    * scale = (mx−mn)/255), materialized as a tinyint array — the stored
    * form — then every assignment/probe/scan similarity runs over the
    * RECONSTRUCTION mn + (code+128)·scale. The (−128/+128) cancels to
    * mn + floor(…)·scale, deterministic IEEE both engines, so DuckDB
    * replays cells, probes, and rounded top-5 bit-exact; the recall
    * delta vs the float path (pinned in QueriesSpec) is therefore the
    * TRUE quantization cost, not engine noise. Scale shape = the float
    * path's exactly ([[ivfTopk]]): broadcast centroids, single-pass
    * hot-cell window, cell-keyed probe join — the int8 codes only
    * shrink what flows through it. */
  /** The int8 quantize→dequantize reconstruction of a raw embeddings
    * frame as an ivfTopk-ready (vec_id, v, nrm) frame — extracted so
    * the k-vs-recall probe (AnnScaleProbeSpec) can compose it with
    * [[ivfTopk]] at non-default k. Caller must have registered
    * `dot_product`. */
  private[graft] def int8ReconstructedEmb(raw0: DataFrame): DataFrame = {
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val raw = raw0
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v0"))
      .withColumn("mn", array_min(col("v0")))
      .withColumn("mx", array_max(col("v0")))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
    // the stored form: one tinyint per dim (+ per-vector mn/scale)
    val codes = transform(col("v0"), x =>
      when(col("mx") === col("mn"), lit(0))
        .otherwise(floor((x - col("mn")) / col("scale") + lit(0.5)).cast("int") - 128)
        .cast("byte"))
    val quant = raw.select(col("vec_id"), col("mn"), col("scale"), codes.as("code"))
    // dequantized scan: (code+128) is exact in [0,255], so this is
    // mn + floor(…)·scale — the identical doubles DuckDB computes
    quant
      .select(col("vec_id"),
        transform(col("code"),
          c => col("mn") + (c.cast("int") + lit(128)).cast("double") * col("scale")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  val llmAnnIvfInt8: Q = (s, dir) => {
    graft.functions.VectorExpressions.register(s)
    ivfTopk(int8ReconstructedEmb(Tables.t(s, dir, "embeddings")))
  }

  /** Product-quantization ANN (Jégou/Douze/Schmid, TPAMI 33(1) 2011 —
    * the FAISS IVF-PQ compression family): split each 64-dim vector
    * into [[pqM]] = 8 subspaces of 8 dims, learn a [[pqKs]] = 32-entry
    * codebook per subspace, store each corpus vector as 8 code ids
    * (5 bits each — 256 float bytes → 5, the storage that makes
    * billion-vector indexes fit; production uses Ks = 256 = 1 byte per
    * code, the same plan at a bigger broadcast), and answer queries by
    * ASYMMETRIC
    * DISTANCE COMPUTATION: one small query×codebook distance table,
    * then per-candidate distance = Σₘ table[m][codeₘ] — M lookups per
    * vector instead of d multiplies.
    *
    * Codebooks seed from the [[ivfSeeds]] deterministic sampling idiom
    * (the pqKs corpus vectors with smallest md5(vec_id), subvector m of
    * seed r = codebook entry (m, r)) and then TRAIN: [[pqLloydStep]]
    * runs per-subspace Lloyd over the (m, r) cells in exact
    * quantized-long arithmetic, so DuckDB replays sampling, training,
    * encoding, and retrieval bit-exact. Distances fold left over the sub-dims
    * (Spark `aggregate` ≡ DuckDB `list_reduce` — both sequential, same
    * order), quantize to 1e-9 longs, and the ADC sum runs over exact
    * longs; argmin encoding packs (quantized dist, rank) into one long
    * for the same codegen'd HashAggregate max_by/min_by shape as
    * [[cellKey]].
    *
    * Scale shape: codebook is M·Ks rows at ANY corpus scale →
    * broadcast-safe; encoding = one broadcast join + two-phase
    * min_by agg (O(N·M·Ks) sub-distances); the code table — the
    * persisted index artifact — is M small ints per vector; the ADC
    * scan joins codes against a broadcast query×codebook table and
    * partial-aggregates map-side, so the only corpus-sized shuffle is
    * the final (q_id, vec_id) sum over M rows each. Top-5 per query
    * plans through TopKPerKeyExec. */
  private val pqM = 8
  private val pqSubDim = 8
  private val pqKs = 32

  /** Left-fold squared L2 distance between two sub-dim arrays — the
    * sequential-order spelling both engines share.
    *
    * Spelled as a STATICALLY UNROLLED `+` chain, not an
    * `aggregate(transform(...))` fold: higher-order lambdas evaluate
    * interpreted per element outside whole-stage codegen (the
    * catalogued simhash finding), and this expression runs O(N·M·Ks)
    * times in the encode argmin — the r21 profile read the single
    * HOF-fold encode stage at 2.1 s/repeat in llm_ann_pq. The chain is
    * bit-identical to the fold: `reduceLeft(+)` associates
    * ((t1+t2)+t3)… exactly like the fold's ((0.0+t1)+t2)… (0.0+t1 ≡ t1
    * for every square — squares are never -0.0, and NaN/Inf propagate
    * the same), so the quantized-long distances the oracle replays are
    * unchanged. */
  private def pqDist2(xs: Column, cs: Column, subDim: Int): Column =
    (1 to subDim).map { j =>
      (element_at(xs, j) - element_at(cs, j)) *
        (element_at(xs, j) - element_at(cs, j))
    }.reduceLeft(_ + _)

  /** (id, m, xs) subvector rows of a (idCol, v) frame. */
  private def pqSubvectors(frame: DataFrame, idCol: String,
      m: Int, subDim: Int): DataFrame =
    frame.select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("m"), col("v"))
      .select(col(idCol), col("m"),
        slice(col("v"), col("m") * lit(subDim) + lit(1), lit(subDim)).as("xs"))

  private[graft] def pqTopk(emb: DataFrame, topK: Int = 5): DataFrame =
    pqRetrieve(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), topK)

  /** ONE deterministic Lloyd step over a PQ codebook — [[lloydRefine]]'s
    * idiom transposed to the (m, r) sub-codebook grid: per subspace m,
    * assign every corpus SUBVECTOR to its nearest codebook entry (the
    * same packed (1e-9-quantized dist, rank) argmin encoding uses), then
    * replace each entry with its cell's per-dimension mean over
    * 1e-6-quantized long sums (float summation order differs between
    * engines; long sums cannot), dividing in one fixed order so DuckDB
    * reproduces the trained codebook bit-for-bit. Entries whose cell
    * came up empty drop (standard Lloyd); ranks survive so argmin
    * tie-breaks stay deterministic. Cost per step: O(N·M·Ks)
    * sub-distances + an (m, r, d)-keyed sum — the shuffle is bounded by
    * M·Ks·subDim cells at ANY corpus scale. */
  private[graft] def pqLloydStep(csub: DataFrame, cb: DataFrame,
      subDim: Int): DataFrame = {
    val qd = floor(pqDist2(col("xs"), col("cs"), subDim) * lit(1e9) + lit(0.5)).cast("long")
    // argmin carries only fixed-width columns (HashAggregate-safe — see
    // ivfRetrieve's cells comment); subvectors re-join by key afterwards
    val assigned = csub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("r"), (qd * lit(256L) + col("r")).as("k"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("r"), col("k")).as("r"))
      .join(csub, Seq("vec_id", "m"))
    assigned
      .select(col("m"), col("r"), posexplode(col("xs")).as(Seq("d", "x")))
      .groupBy("m", "r", "d")
      .agg(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).as("qs"),
        count(lit(1)).as("n"))
      .groupBy("m", "r")
      .agg(sort_array(collect_list(struct(col("d"),
        ((col("qs").cast("double") / lit(1e6)) / col("n")).as("mv")))).as("dm"))
      .select(col("m"), col("r"), transform(col("dm"), s => s.getField("mv")).as("cs"))
  }

  /** PQ training + encode + ADC retrieval over caller (vec_id, v)
    * frames — see [[llmAnnPq]] for semantics and scale shape. `m` ×
    * `subDim` must equal the vector dimensionality. `refineSteps` Lloyd
    * iterations ([[pqLloydStep]]) turn the md5 seed sample into trained
    * per-subspace centers; `rerank` · topK is the ADC shortlist the
    * exact-L2 refine stage re-ranks (0 disables — pure ADC). Defaults
    * (1 step, 4·topK shortlist) are what the DuckDB oracle replays.
    * Measured on AnnScaleProbeSpec's clustered corpus: 0.670 pure-ADC
    * sampled seeds → 0.920 trained (on the fixed 16·Ks md5 sample) +
    * re-ranked (Ks is the other dial:
    * 0.810/0.970 pure-ADC at Ks = 64/128). */
  private[graft] def pqRetrieve(corpus: DataFrame, queries: DataFrame,
      topK: Int = 5, m: Int = pqM, subDim: Int = pqSubDim,
      refineSteps: Int = 1, ks: Int = pqKs, rerank: Int = 4): DataFrame = {
    // codebook training: deterministic fixed-size md5 sample of the
    // corpus (rank window runs over <= ks rows, after the limit)
    val ord = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val seeds = corpus.orderBy(ord: _*).limit(ks)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(ord: _*)))
    val seedCb = pqSubvectors(seeds.select(col("r"), col("v")), "r", m, subDim)
      .select(col("m"), col("r"), col("xs").as("cs"))
    // corpus subvectors feed training assignment AND encoding; kept
    // unpersisted deliberately — the slice projection is a cheap
    // per-row rearrangement of the scan, the llmAnnIvfTrained measured
    // posture (persist pays over EXPENSIVE projections, not these)
    val csub = pqSubvectors(corpus, "vec_id", m, subDim)
    // Lloyd refinement trains on a FIXED-SIZE deterministic sample
    // (16·Ks vectors by the same md5 order the seeds use) — the FAISS
    // posture: k-means needs a bounded multiple of Ks points per
    // centroid, not the corpus, so the O(|train|·M·Ks) assignment cost
    // is constant at ANY corpus scale while encoding (every vector,
    // once) stays the only corpus-sized pass. Clustered-probe recall
    // 0.920 trained + re-ranked (0.960 with full-corpus training).
    val trainN = 16 * ks
    val csubTrain = pqSubvectors(corpus.orderBy(ord: _*).limit(trainN),
      "vec_id", m, subDim)
    val codebook = (1 to refineSteps).foldLeft(seedCb)((cb, _) =>
      pqLloydStep(csubTrain, cb, subDim))
    // encoding: per (vector, subspace) argmin over the broadcast codebook;
    // (1e-9-quantized dist, rank) packs into one long so min_by stays in
    // a codegen'd HashAggregate and ties break to the smallest rank
    val qd = floor(pqDist2(col("xs"), col("cs"), subDim) * lit(1e9) + lit(0.5)).cast("long")
    val codes = csub
      .join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"), col("r"), (qd * lit(256L) + col("r")).as("k"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("r"), col("k")).as("r"))
    // ADC: query-side distance table (queries × M × Ks rows — broadcast),
    // exact long distances; candidate distance = sum of M lookups
    val dtable = pqSubvectors(
        queries.select(col("vec_id").as("q_id"), col("v")), "q_id", m, subDim)
      .join(broadcast(codebook), "m")
      .select(col("q_id"), col("m"), col("r"), qd.as("dq"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("qsum").asc, col("vec_id").asc)
    val adc = codes.join(broadcast(dtable), Seq("m", "r"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("dq")).as("qsum"))
      .withColumn("rnk", row_number().over(win))
    if (rerank <= 0)
      adc.filter(col("rnk") <= topK)
        .select(col("q_id"), col("rnk"), col("vec_id"),
          dround(col("qsum").cast("double") / lit(1e9), 6).as("adist"))
        .orderBy("q_id", "rnk")
    else {
      // FAISS-style refine stage (IndexRefineFlat over IVFPQ): the coded
      // index produces a rerank·topK ADC shortlist per query, then the
      // TRUE squared L2 over the full vectors re-ranks it — the coded
      // scan does the corpus-sized work, the exact pass touches only
      // R·|queries| candidate pairs (a vec_id-keyed fetch join; at 100 TB
      // this is the standard accuracy/IO trade every production PQ
      // deployment ships). Exact distance = the same left-fold spelling
      // as the sub-distances ([[pqDist2]] over all m·subDim dims),
      // 1e-9-quantized for the deterministic (dist, vec_id) order both
      // engines share. The reported adist stays the ADC distance — the
      // number the index computed; the RANK is what the refine corrects.
      val shortlist = adc.filter(col("rnk") <= lit(rerank * topK))
        .select(col("q_id"), col("vec_id"), col("qsum"))
      val dims = m * subDim
      val exactQ = floor(pqDist2(col("v"), col("qv"), dims) * lit(1e9) + lit(0.5))
        .cast("long")
      val rwin = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dqe").asc, col("vec_id").asc)
      shortlist
        .join(corpus.select(col("vec_id"), col("v")), "vec_id")
        .join(broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"))),
          "q_id")
        .select(col("q_id"), col("vec_id"), col("qsum"), exactQ.as("dqe"))
        .withColumn("rnk", row_number().over(rwin))
        .filter(col("rnk") <= topK)
        .select(col("q_id"), col("rnk"), col("vec_id"),
          dround(col("qsum").cast("double") / lit(1e9), 6).as("adist"))
        .orderBy("q_id", "rnk")
    }
  }

  val llmAnnPq: Q = (s, dir) =>
    // fanOut: the encode argmin's O(N·M·Ks) sub-distances are derived
    // scan-side; a small embeddings input planned single-task (profiled
    // 2.1 s on one core, r21). Round-robin — see fanOut's scaladoc.
    pqTopk(fanOut(Tables.t(s, dir, "embeddings"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))

  /** IVF-PQ — the two index families composed the way production
    * vector stores actually ship them (FAISS `IndexIVFPQ`, the
    * billion-scale workhorse): the coarse IVF quantizer routes every
    * vector to a cell ([[ivfSeeds]]/[[cellKey]], hot-cell guard), PQ
    * encodes the RESIDUAL x − centroid(cell) (Jégou TPAMI 2011 §IV.B —
    * residuals concentrate near 0, so the same Ks entries quantize
    * them far better than raw vectors), and a query scans only its
    * nprobe probed cells with a per-(query, cell) ADC distance table
    * over the query's own residual against that cell. The exact-L2
    * refine stage re-ranks the rerank·topK shortlist as in
    * [[pqRetrieve]].
    *
    * Scale shape: centroids and sub-codebooks are k- and M·Ks-sized at
    * ANY corpus scale (broadcast); the corpus-sized passes are cell
    * assignment, residual encode (each vector once), and the ADC scan
    * of probed cells only — candidate volume is bounded by nprobe ×
    * cell size (hot cells dropped), never the corpus. The dtable is
    * |queries|·nprobe·M·Ks rows — broadcast. Codebook training runs on
    * the fixed 16·Ks md5 residual sample ([[pqRetrieve]]'s posture).
    * Every step — assignment, residuals, training, encoding, ADC,
    * refine — is quantized-long arithmetic the DuckDB oracle replays
    * bit-exact. */
  private[graft] def ivfPqRetrieve(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, topK: Int = 5, nprobe: Int = 4,
      m: Int = pqM, subDim: Int = pqSubDim, ks: Int = pqKs,
      rerank: Int = 8): DataFrame = {
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val W = org.apache.spark.sql.expressions.Window
    // coarse assignment + hot-cell guard (ivfRetrieve's shape)
    val cells = corpus.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        cellKey(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), col("r")).as("ck"))
      .groupBy("vec_id").agg(max_by(col("c_id"), col("ck")).as("cell"))
    val assigned = cells
      .join(corpus.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cnt", count(lit(1)).over(W.partitionBy("cell")))
      .filter(col("cnt") <= maxBucket).drop("cnt")
    // residuals against the assigned centroid
    val resid = assigned
      .join(broadcast(cents.select(col("c_id").as("cell"), col("cv"))), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv"))
    // residual sub-codebooks: md5 seeds + one Lloyd step on the fixed
    // 16·ks training sample (the pqRetrieve posture, over residuals)
    val ord = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
    val seeds = resid.select(col("vec_id"), col("rv").as("v"))
      .orderBy(ord: _*).limit(ks)
      .withColumn("r", row_number().over(W.orderBy(ord: _*)))
    val seedCb = pqSubvectors(seeds.select(col("r"), col("v")), "r", m, subDim)
      .select(col("m"), col("r"), col("xs").as("cs"))
    val trainSub = pqSubvectors(resid.select(col("vec_id"), col("rv").as("v"))
      .orderBy(ord: _*).limit(16 * ks), "vec_id", m, subDim)
    val codebook = pqLloydStep(trainSub, seedCb, subDim)
    // encode every residual: per-(vector, subspace) argmin; codes carry
    // their cell so the ADC join below stays probed-cells-only
    val rsub = pqSubvectors(resid.select(col("vec_id"), col("rv").as("v")),
      "vec_id", m, subDim)
    val qd = floor(pqDist2(col("xs"), col("cs"), subDim) * lit(1e9) + lit(0.5))
      .cast("long")
    val codes = rsub.join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"), col("r"), (qd * lit(256L) + col("r")).as("k"))
      .groupBy("vec_id", "m").agg(min_by(col("r"), col("k")).as("r"))
      .join(resid.select(col("vec_id"), col("cell")), "vec_id")
    // probes + per-(query, cell) residual distance tables
    val probes = queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .join(broadcast(cents))
      .select(col("q_id"), col("qv"), col("c_id"),
        cellKey(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), col("r")).as("pk"))
      .withColumn("pr", row_number().over(W.partitionBy("q_id").orderBy(col("pk").desc)))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("qv"), col("c_id").as("cell"))
    val dtable = probes
      .join(broadcast(cents.select(col("c_id").as("cell"), col("cv"))), "cell")
      .select(col("q_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("v"))
      .select(col("q_id"), col("cell"),
        explode(sequence(lit(0), lit(m - 1))).as("m"), col("v"))
      .select(col("q_id"), col("cell"), col("m"),
        slice(col("v"), col("m") * lit(subDim) + lit(1), lit(subDim)).as("xs"))
      .join(broadcast(codebook), "m")
      .select(col("q_id"), col("cell"), col("m"), col("r"), qd.as("dq"))
    // ADC over probed cells only, then the exact-L2 refine stage
    val adc = codes.join(broadcast(dtable), Seq("cell", "m", "r"))
      .groupBy("q_id", "vec_id").agg(sum(col("dq")).as("qsum"))
      .withColumn("rnk", row_number().over(
        W.partitionBy("q_id").orderBy(col("qsum").asc, col("vec_id"))))
    val dims = m * subDim
    val exactQ = floor(pqDist2(col("v"), col("qv"), dims) * lit(1e9) + lit(0.5))
      .cast("long")
    adc.filter(col("rnk") <= lit(rerank * topK))
      .select(col("q_id"), col("vec_id"), col("qsum"))
      .join(corpus.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv"))),
        "q_id")
      .withColumn("dqe", exactQ)
      .withColumn("rnk", row_number().over(
        W.partitionBy("q_id").orderBy(col("dqe").asc, col("vec_id"))))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("vec_id"),
        dround(col("qsum").cast("double") / lit(1e9), 6).as("adist"))
      .orderBy("q_id", "rnk")
  }

  /** IVF-PQ over a (vec_id, v) frame with the fixture's query/corpus
    * split — the probe-spec entry point beside [[pqTopk]]. Caller must
    * have registered `dot_product`. */
  private[graft] def ivfPqTopk(emb: DataFrame, topK: Int = 5): DataFrame = {
    val dot = (x: Column, y: Column) => call_function("dot_product", x, y)
    val e = emb.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    ivfPqRetrieve(e.filter(col("vec_id") >= 20),
      e.filter(col("vec_id") < 20), ivfSeeds(e), topK)
  }

  val llmAnnIvfPq: Q = (s, dir) => {
    graft.functions.VectorExpressions.register(s)
    // NO fanOut here, deliberately (A/B'd r21): unlike llm_ann_pq, this
    // pipeline re-derives `corpus` in MANY subtrees (assignment, resid,
    // seeds, training sample, encode, exact rerank), and the fan-out
    // exchange + extra 32-partition stages measured 4.8 s min vs 2.8 s
    // without, same window. The pqDist2 codegen unroll carries the win.
    ivfPqTopk(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))
  }

  /** Per-vector int8 quantization + reconstruction-error statistics —
    * the storage-compression step a 100 TB embedding pipeline runs
    * before writing vectors (4 bytes/dim → 1; scalar min/max
    * quantization, the baseline scheme in FAISS/vector-DB storage).
    * code(x) = floor((x−mn)/scale + 0.5) − 128 with scale =
    * (mx−mn)/255; the error column reports per-vector max/mean
    * |x − dequant(code(x))|, which the spec pins against the scheme's
    * analytic bound (max_err ≤ scale/2). Constant vectors (mx = mn)
    * quantize to code 0 with zero error.
    *
    * Scale shape: pure per-row array arithmetic, shuffle-free; every
    * step is deterministic IEEE arithmetic evaluated in the same order
    * in DuckDB, so the oracle replays codes and errors bit-for-bit. */
  val llmEmbedQuantize: Q = (s, dir) => {
    val emb = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
    val scale = (col("mx") - col("mn")) / lit(255.0)
    // err_i = |x − mn − floor((x−mn)/scale + 0.5)·scale| (dequant folded
    // in — the −128/+128 code offset cancels, so no zip is needed)
    val errs = transform(col("v"), x =>
      when(col("mx") === col("mn"), lit(0.0))
        .otherwise(abs(x - col("mn") -
          floor((x - col("mn")) / scale + 0.5) * scale)))
    emb.withColumn("e", errs)
      .select(col("vec_id"),
        size(col("v")).as("n_dims"),
        dround(col("mn"), 6).as("mn"),
        dround(col("mx"), 6).as("mx"),
        dround(array_max(col("e")), 6).as("max_err"),
        dround(aggregate(col("e"), lit(0.0), _ + _) / size(col("e")), 6).as("mean_err"))
      .orderBy("vec_id")
  }

  /** Sparse-random-projection dimensionality reduction (Achlioptas, JCSS
    * 66(4) 2003 — Johnson–Lindenstrauss with database-friendly binary
    * coins): project 64-dim embeddings to [[rpOutDims]] dims through a
    * fixed ternary matrix r(i,j) ∈ {+1, 0, −1} with P(±1) = 1/6 each,
    * y_j = sqrt(3/p) · Σᵢ r(i,j)·xᵢ — the step a 100 TB embedding
    * pipeline runs BEFORE LSH/clustering to cut per-vector bytes and
    * hash cost 4× while preserving pairwise distances to JL tolerance
    * (2/3 of the matrix is zero, so the projection is also 3× fewer
    * multiplies than dense Gaussian).
    *
    * Determinism: the matrix is a pure function of (i, j) — entry bucket
    * = first 16 md5 bits of "i_j" mod 6 (0→+1, 1→−1, else 0), the
    * [[vocabBucket]] idiom — computed driver-side into ONE plan-time
    * literal (matrix size is p·d, data-independent; nothing is
    * collected). Inputs quantize to 1e-6 longs, the inner product runs
    * over exact longs (|Σ| < 64·10⁶ ≪ 2⁵³, so DuckDB's double
    * list_inner_product is still exact), and only the final scale by
    * sqrt(3/p) — 3.0/16.0 is a power-of-two divide, sqrt is
    * correctly-rounded IEEE in both engines — touches floats.
    *
    * Scale shape: per-row array arithmetic against a literal matrix —
    * no shuffle, no explode in the compute (the output posexplode is
    * presentation), no broadcast, fully codegen'd. */
  private val rpOutDims = 16
  private val rpInDims = 64

  /** The (i, j) → {−1, 0, +1} Achlioptas entry — Scala twin of the
    * oracle's `('0x'||substr(md5(i||'_'||j),1,4))::BIGINT % 6`. */
  private[graft] def rpEntry(i: Int, j: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_${j}".getBytes("UTF-8"))
    val hex4 = d.take(2).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex4, 16) % 6 match {
      case 0 => 1L
      case 1 => -1L
      case _ => 0L
    }
  }

  private[graft] def randomProjOf(raw: DataFrame): DataFrame = {
    // p rows of d ternary longs, [j][i] — one nested literal in the plan
    val m = Seq.tabulate(rpOutDims, rpInDims)((j, i) => rpEntry(i, j))
    val matrix = typedLit(m)
    val qx = transform(col("v"), x =>
      floor(x * lit(1e6) + lit(0.5)).cast("long"))
    val yq = transform(sequence(lit(0), lit(rpOutDims - 1)), j =>
      aggregate(
        zip_with(col("qx"), element_at(matrix, j + 1), (a, b) => a * b),
        lit(0L), (acc, t) => acc + t))
    raw.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"), qx.as("qx"))
      .select(col("vec_id"), posexplode(yq).as(Seq("j", "yq")))
      .select(col("vec_id"), col("j"),
        dround((col("yq").cast("double") / lit(1e6)) *
          lit(math.sqrt(3.0 / rpOutDims)), 6).as("y"))
  }

  val llmRandomProj: Q = (s, dir) =>
    randomProjOf(Tables.t(s, dir, "embeddings")).orderBy("vec_id", "j")

  /** PCA top-component projection — the data-dependent counterpart of
    * [[randomProjOf]]'s data-free JL matrix, and the standard embedding
    * preprocessing step (center, find the dominant variance direction,
    * project) a pipeline runs before whitening/visualisation/drift
    * checks. Three stages, all exactly replayable:
    *
    *  1. per-dimension means over 1e-6-quantized long sums
    *     ([[dsum]] — float summation order cannot drift);
    *  2. the 64×64 centered covariance from a vec_id-co-partitioned
    *     self-join of the centered (vec_id, d, x) rows, every C[i,j]
    *     a 1e-9-quantized long sum — the matrix is d² cells at ANY
    *     corpus scale, and map-side partial aggregation collapses the
    *     per-vector outer products before the (i, j) shuffle;
    *  3. `iters` POWER-ITERATION steps v ← C·v / ‖C·v‖ from the
    *     all-ones start, run DRIVER-SIDE over the collected d×d
    *     matrix: each matvec entry is a 1e-9-quantized long sum over
    *     64 products, the norm the same quantized sum +
    *     IEEE-correctly-rounded sqrt — arithmetic the oracle's
    *     unrolled CTEs replay bit-for-bit.
    *
    * The covariance is a MODEL ARTIFACT — d² cells at ANY corpus scale
    * — so collecting it is the [[bpeTrainOf]] merge-table boundary,
    * not a data collect (power iteration is O(d²) scalar math; an
    * in-plan iteration chain would reference each step twice — value +
    * norm — doubling the logical plan per step, ~2⁸ copies of the
    * covariance subtree by iteration 8; measured: 110 s of mostly
    * planning at sf0.01 vs ~15 s total this shape). Output:
    * (vec_id, pc1) — the centered projection onto the dominant
    * component, the 1-dim embedding a drift monitor or stratified
    * sampler keys on. Fixed iteration count, not a convergence test:
    * deterministic plans beat adaptive stopping for an oracle-checked
    * artifact (8 doublings square the eigengap ratio 256-fold —
    * converged for any spectrum a real embedding cloud shows). */
  private[graft] def pcaProjectOf(emb: DataFrame, iters: Int = 8): DataFrame = {
    val dims = 64
    val x = emb.select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
    val mu = x.groupBy("d").agg((dsum(col("x"), 6) / count(lit(1))).as("mu"))
    val cent = x.join(broadcast(mu), "d")
      .select(col("vec_id"), col("d"), (col("x") - col("mu")).as("x"))
    val cov = cent.as("a").join(cent.as("b"), "vec_id")
      .groupBy(col("a.d").as("i"), col("b.d").as("j"))
      .agg((dsum(col("a.x") * col("b.x"), 9) / count(lit(1))).as("c"))
    val cm = Array.ofDim[Double](dims, dims)
    cov.collect().foreach { r =>
      cm(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("c")
    }
    var v = Array.fill(dims)(1.0)
    for (_ <- 1 to iters) {
      // long sums are order-exact, so driver j-order ≡ the oracle's
      // GROUP BY sum; every double op is IEEE-identical across engines
      val w = Array.tabulate(dims)(i =>
        (0 until dims).map(j =>
          math.floor(cm(i)(j) * v(j) * 1e9 + 0.5).toLong).sum / 1e9)
      val nm = math.sqrt(
        w.map(wi => math.floor(wi * wi * 1e9 + 0.5).toLong).sum / 1e9)
      v = w.map(_ / nm)
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val vdf = v.toSeq.zipWithIndex.map { case (vd, d) => (d, vd) }
      .toDF("d", "v")
    cent.join(broadcast(vdf), "d")
      .groupBy("vec_id")
      .agg(dround(dsum(col("x") * col("v"), 9), 6).as("pc1"))
      .orderBy("vec_id")
  }

  val llmPcaProject: Q = (s, dir) =>
    pcaProjectOf(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v")))

  /** Incremental dedup — the production shape: a NEW batch (doc_id ≥ 250)
    * dedups against an EXISTING corpus (doc_id < 250), not against itself.
    * Exact layer: anti-join on content hash. Near layer: minhash band
    * buckets computed per side, candidates only where a new doc shares a
    * bucket with a corpus doc, verified by exact sid-set Jaccard ≥ 0.5.
    * Survivors = new docs passing both layers.
    *
    * The corpus side is a PRECOMPUTED artifact, not inline work: its
    * signature + content-hash tables are built once and persisted as
    * parquet (the maintained state of a production dedup pipeline — at
    * 100 TB it's the only viable shape), then every batch run just reads
    * them back. Only the batch slice is shingled/hashed per run, and the
    * batch-docs filter is pushed into the documents scan. The corpus
    * tables are broadcast-sized relative to a batch (here literally
    * broadcast by AQE), so the bucket join and both anti-joins run
    * shuffle-free on the corpus side. */
  val llmDedupIncremental: Q = (s, dir) => {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    // State path is keyed by a fingerprint of the SOURCE data (per-file
    // size + mtime over the resolved file list, so a Spark-written
    // DIRECTORY source fingerprints its data files, not the directory
    // inode) plus a signature-scheme version: regenerated fixtures or a
    // changed algorithm rebuild state instead of silently serving stale
    // results (a production pipeline would key on snapshot id). A missing
    // source fails fast rather than collapsing to a constant fingerprint.
    val srcFile = new java.io.File(dir, "documents.parquet")
    require(srcFile.exists(), s"llm_dedup_incremental: source not found: $srcFile")
    val srcParts: Seq[java.io.File] =
      if (srcFile.isDirectory)
        srcFile.listFiles().filter(f => f.isFile && !f.getName.startsWith("_"))
          .sortBy(_.getName).toSeq
      else Seq(srcFile)
    val schemeVersion = "v4" // v4: hash rows for ALL docs (left-join state)
    // 64-bit sha-256 prefix (not String.hashCode: 32 bits collide too
    // easily to key correctness-bearing state).
    val srcDigest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(srcParts.map(f => s"${f.length()}_${f.lastModified()}")
        .mkString("_").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val fingerprint = s"${schemeVersion}_$srcDigest"
    val stateRoot = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_dedup_state")
    // Reap stale state for this source tag (older fingerprints/schemes) so
    // fixture regenerations don't accumulate dead state dirs unboundedly.
    // Match the exact `<tag>_v<N>_<hex>` shape rather than a bare tag
    // prefix: a prefix test would also claim (and delete) the live state
    // of a DIFFERENT dataset whose tag merely extends this one
    // (".../sf0_1" vs ".../sf0_1_big").
    val ownState = s"^${java.util.regex.Pattern.quote(tag)}_v[0-9]+_[0-9a-f]+$$".r
    Option(stateRoot.listFiles()).getOrElse(Array.empty)
      .filter(d => ownState.matches(d.getName) && d.getName != s"${tag}_$fingerprint")
      .foreach(deleteRecursively)
    val sigPath = s"$stateRoot/${tag}_$fingerprint/corpus_signatures"
    val docs = Tables.t(s, dir, "documents")
    if (!new java.io.File(sigPath, "_SUCCESS").exists()) {
      // One state table: minhash signature + sid set + content hash per
      // corpus doc. KB-scale state → one file (a TB-scale corpus table
      // would instead be partitioned/bucketed on the join keys).
      dedupStateOf(docs.filter(col("doc_id") < 250))
        .coalesce(1).write.mode("overwrite").parquet(sigPath)
    }
    // The registered query keeps ONE-batch semantics (append = false) so
    // the DuckDB oracle replays it statelessly; the production loop that
    // folds survivors back into the state is [[incrementalDedupRound]]
    // with append = true, exercised by the two-batch ScalaTest.
    incrementalDedupRound(s, docs.filter(col("doc_id") >= 250), sigPath,
        append = false)
      .orderBy("doc_id")
  }

  /** State-table rows for `docs` — content hash for EVERY doc, minhash
    * signature + sid set where one exists (docs under 3 words have no
    * 3-shingle: their signature columns are null and they participate in
    * the exact layer only). The hash side is a LEFT join base, not an
    * inner join — an inner join silently dropped short docs from the
    * state, so an exact byte-for-byte copy of a short doc was never
    * deduplicated (the DuckDB oracle always hashed every doc; the join
    * direction here was the divergent side, latent only because the
    * fixtures carry no short docs). */
  /** The exact-dedup content hash — ONE definition for the state table,
    * the batch exact layer, and the streaming twin in [[graft.Pipeline]];
    * a scheme change lands everywhere or the join keys stop matching. */
  private[graft] def contentHashCol: Column = sha2(col("text"), 256)

  private[graft] def dedupStateOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), contentHashCol.as("h"))
      .join(signaturesOf(docs), Seq("doc_id"), "left")

  /** One round of the production incremental-dedup loop: dedup `batch`
    * (doc_id, text) against the persisted state at `statePath` (exact
    * content-hash layer + banded minhash near layer, Jaccard ≥ 0.5),
    * return the survivor ids — and, when `append`, fold the survivors'
    * state rows back into `statePath` so the NEXT batch dedups against
    * corpus ∪ survivors(batch₁) ∪ … (the shape a production pipeline
    * runs; each round appends one survivor-only parquet file, compacted
    * out-of-band at scale). Batch-INTERNAL duplicates are deliberately
    * out of scope here — that is the self-dedup operators' job
    * ([[llmExactDedup]] / [[minhashDupPairs]]), run per batch upstream.
    *
    * Scale notes as [[llmDedupIncremental]]: the state side is
    * broadcast-sized relative to a batch, so the bucket join and both
    * anti-joins run shuffle-free on the state side; past broadcast range
    * flip to llmMinhashLsh's id-only bucket-join shape. The append write
    * localCheckpoints the survivor ids first — the write would otherwise
    * plan a read of the very path it appends to. */
  private[graft] def incrementalDedupRound(s: org.apache.spark.sql.SparkSession,
      batch: DataFrame, statePath: String, append: Boolean): DataFrame = {
    val corpusAll = s.read.parquet(statePath)
    // Signature-bearing state rows only for the NEAR layer: short docs
    // carry null signature columns (see dedupStateOf), and letting them
    // through would concat_ws null minhashes into a shared "" band
    // signature — fabricating one giant bucket of all short docs. The
    // exact layer below uses the UNFILTERED hash column, so short docs
    // still dedup byte-for-byte.
    val corpusSets = corpusAll.filter(col("mh0").isNotNull)
    // exact layer: batch docs whose content hash is unseen in the state
    val exactSurvivors = batch
      .select(col("doc_id"), contentHashCol.as("h"))
      .join(corpusAll.select(col("h")), Seq("h"), "left_anti")
      .select(col("doc_id"))
    // Near layer: the batch streams once through a broadcast join against
    // the state bucket table; the sid set rides along (free under a
    // broadcast — the batch side never shuffles), so no persist/second
    // pass over the batch is needed. Verification happens per candidate
    // row, duplicates collapsed by the final distinct on doc_id alone.
    //
    // The batch side is signaturesOf DIRECTLY, not dedupStateOf: the
    // state-row left join belongs only in the append write below.
    // Exploding band structs above filter(mh0 notNull)-over-the-join let
    // InferFiltersFromGenerate substitute the inferred not-null filters
    // through the join into the signature projection — recomputing the
    // md5/shingle/minhash chain at the scan, the SAME pushdown pathology
    // as llmContamination's (measured: 46 s at sf0.1 in that shape vs
    // ~1.1 s in this one; signaturesOf output is signature-bearing by
    // construction, so the join bought nothing the near layer needed).
    val nearDups = signaturesOf(batch)
      .select(col("doc_id"), col("sh"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      .join(bucketsOf(corpusSets).withColumnRenamed("doc_id", "corpus_id"),
        Seq("band", "sig"))
      .join(corpusSets.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .withColumn("ni", size(array_intersect(col("sh"), col("sh_c"))))
      .filter(col("ni") * lit(1.0) /
        (size(col("sh")) + size(col("sh_c")) - col("ni")) >= 0.5)
      .select(col("doc_id")).distinct()
    val survivors = exactSurvivors.join(nearDups, Seq("doc_id"), "left_anti")
    if (!append) survivors
    else {
      // materialize the id list so the append's write plan no longer
      // references statePath (and the survivor set is decided BEFORE the
      // state gains this batch's rows)
      val ids = survivors.localCheckpoint()
      appendSurvivorState(batch, ids, statePath)
      ids
    }
  }

  /** Fold `survivorIds`' state rows back into `statePath` — the
    * state-append half of the incremental-dedup loop, shared by the
    * batch round above and the streaming twin (which must sequence it
    * AFTER its output commit; see [[graft.Pipeline.incrementalDedupStream]]).
    * The state-row left join runs only here, in the write job — no
    * explode above it, so the pushdown pathology documented on the near
    * layer cannot reach it. */
  private[graft] def appendSurvivorState(batch: DataFrame,
      survivorIds: DataFrame, statePath: String): Unit =
    dedupStateOf(batch).join(survivorIds, Seq("doc_id"), "left_semi")
      .coalesce(1).write.mode("append").parquet(statePath)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

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
  private def qualityCol(ws: Column): Column =
    qualityExpr(size(ws), size(filter(ws, w => w.isin(stopEn: _*))))

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

  /** Shared lm-quality CTE chain ending in `<b>(doc_id, bits)` — the
    * registered oracle and the v2 capstone build from it with their own
    * CTE names (one definition, no drift). */
  private def lmBitsCtes(ws: String, f: String, t: String, b: String): String =
    s"""$ws AS (SELECT doc_id, $vocabBucketSql AS wb
       |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |                  FROM documents) raw_$ws),
       |$f AS (SELECT wb, COUNT(*) AS c FROM $ws GROUP BY wb),
       |$t AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM $f),
       |$b AS (SELECT $ws.doc_id,
       |        length(bin($t.tc)) - length(bin($f.c)) AS bits
       |      FROM $ws JOIN $f USING (wb), $t)""".stripMargin
  private lazy val lmAvgBitsSql: String =
    oRound("CAST(SUM(bits) AS DOUBLE) / COUNT(*)", 6)

  /** Shared DuckDB fragments for the Gopher battery (registered oracle
    * + the v2 capstone CTE — one definition, no drift). */
  private val gopherSplitSql: String =
    """SELECT doc_id, text,
      |    string_split(text, ' ') AS ws,
      |    string_split(text, chr(10)) AS ls
      |  FROM documents""".stripMargin
  private lazy val gopherRuleColsSql: String =
    s"""CAST(len(ws) AS INT) AS n_words,
       |  ${oRound("CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws)", 6)} AS mean_word_len,
       |  ${oRound("CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(ws)", 6)} AS symbol_ratio,
       |  ${oRound("CAST(len(list_filter(ls, l -> list_contains(['-','*','•'], substr(l, 1, 1)))) AS DOUBLE) / len(ls)", 6)} AS bullet_ratio,
       |  ${oRound("CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE) / len(ls)", 6)} AS ellipsis_ratio,
       |  ${oRound("CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE) / len(ws)", 6)} AS alpha_word_ratio,
       |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
       |    sw -> list_contains(list_transform(ws, w -> lower(w)), sw))) AS INT) AS stop_words""".stripMargin
  private def gopherKeepCondSql(minWords: Int, minStops: Int): String =
    s"""n_words >= $minWords AND n_words <= 100000 AND
       |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
       |   symbol_ratio <= 0.1 AND bullet_ratio <= 0.1 AND
       |   ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8 AND
       |   stop_words >= $minStops""".stripMargin

  /** Shared r19-signal CTE chains (r20): the standalone oracles and the
    * v3 capstone build from the SAME fragments with their own CTE names
    * — one definition, no drift (the lmBitsCtes/gopher precedent).
    * Each ends in the names given; callers add their own gate CTE. */
  /** Jelinek-Mercer bigram LM ending in `<md>(w1, w2, p)` plus the
    * doc-bigram stream `<bg>(doc_id, w1, w2)` ([[lmPerplexityOf]]). */
  private def pplModelCtes(wt: String, bg: String, c12: String,
      c1: String, cu: String, bt: String, md: String): String =
    s"""$wt AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents),
       |$bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
       |        FROM $wt WHERE len(ws) >= 2) t),
       |$c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM $bg GROUP BY 1, 2),
       |$c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
       |  FROM $c12 GROUP BY 1),
       |$cu AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS cu
       |  FROM $c12 GROUP BY 1),
       |$bt AS (SELECT CAST(SUM(c12) AS BIGINT) AS bt FROM $c12),
       |$md AS (SELECT $c12.w1, $c12.w2,
       |    0.9 * CAST($c12.c12 AS DOUBLE) / $c1.c1
       |      + 0.1 * CAST($cu.cu AS DOUBLE) / (SELECT bt FROM $bt) AS p
       |  FROM $c12 JOIN $c1 USING (w1) JOIN $cu USING (w2))""".stripMargin

  /** Per-doc code-score chain ending in `<sc>(source, score)`
    * ([[codeDetectOf]]'s per-row heuristic). */
  private def codeScoreCtes(s: String, sc: String): String =
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

  /** Lexicon topic-mix chain ending in `<ce>(source, topic, n_docs)` and
    * `<tt>(source, n_src)` ([[topicMixOf]]). */
  private def topicMixCtes(t: String, hh: String, dt: String, dt2: String,
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

  /** Containment chain over the banded-LSH `pairs` frame (callers
    * prepend [[minhashPairsCtes]]) ending in `<j2>(doc_a, doc_b, n_a,
    * n_b, n_inter, cont_a, cont_b, jaccard)`
    * ([[ngramContainmentFromHashed]]). */
  private def containmentCtes(cand: String, g: String, j: String,
      j2: String): String =
    s"""$cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
       |$g AS (
       |  SELECT doc_id, ${hashGramSql(2)} AS g
       |  FROM ($wordHashSql) t),
       |$j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    len(list_filter(a.g, x -> list_contains(b.g, x))) AS ni,
       |    len(a.g) AS n_a, len(b.g) AS n_b
       |  FROM $cand c JOIN $g a ON a.doc_id = c.doc_a
       |  JOIN $g b ON b.doc_id = c.doc_b),
       |$j2 AS (
       |  SELECT doc_a, doc_b,
       |    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |    CAST(ni AS BIGINT) AS n_inter,
       |    CASE WHEN n_a = 0 THEN 0.0
       |      ELSE ${oRound("ni * 1.0 / n_a", 6)} END AS cont_a,
       |    CASE WHEN n_b = 0 THEN 0.0
       |      ELSE ${oRound("ni * 1.0 / n_b", 6)} END AS cont_b,
       |    CASE WHEN n_a + n_b = 0 THEN 0.0
       |      ELSE ${oRound("ni * 1.0 / (n_a + n_b - ni)", 6)} END AS jaccard
       |  FROM $j)""".stripMargin

  /** DuckDB twin of [[qualityCol]] over a text column reference. */
  private def qualitySql(textRef: String): String = {
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

  /** CCNet-style LM-frequency quality scoring (Wenzek et al.,
    * arXiv:1911.00359 — perplexity filtering): score each doc by the
    * mean "surprise" of its words under the corpus's own unigram
    * distribution — natural high-frequency text scores low, gibberish /
    * rare-token text high. CCNet scores against a pretrained LM; the
    * engine-side analogue is the corpus unigram table, and the per-word
    * −log₂ p(w) ≈ bits(total) − bits(count) is computed as INTEGER log2
    * (length of `bin(x)`) — libm log/log2 differs in the last ulp
    * across engines (the same reason llm_tfidf avoids log-idf,
    * `Text.scala` §tfidf), while bin-length is bit-exact everywhere.
    *
    * Scale shape: words are hashed into a FIXED 2^16 feature-bucket
    * space ([[vocabBucket]] — the DSIR paper's own hashed-features
    * mechanism) before counting, so the count table is ≤ 65,536 rows
    * at ANY corpus scale and the broadcast hint is unconditionally
    * safe — a web corpus's raw vocabulary (billions of distinct URLs /
    * typos / code tokens) never materializes as a join side. Collision
    * semantics: words sharing a bucket pool their counts, so a rare
    * word colliding with a common one reads as common (score is
    * under-, never over-estimated) — exactly the hashed-DSIR trade-off,
    * and deterministic on both engines. Bucket counts remain exact
    * longs, so the integer-log2 scoring is still bit-exact. The
    * per-doc mean is a two-phase agg on doc_id, and the grand total
    * rides a broadcast 1-row crossJoin (llm_tfidf's shape). */
  private[graft] def lmQualityOf(docs: DataFrame): DataFrame = {
    // Persist barrier over the (doc_id, bucket) projection: both
    // consumers (bucket-count agg + scoring join) would otherwise
    // recompute the per-occurrence md5 — a pure projection, so there is
    // no exchange for ReuseExchange to dedup (the same measured rule as
    // ngramJaccardOf's gram sets); 16 bytes/row, MEMORY_AND_DISK.
    val words = reg(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), vocabBucket(col("w")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    words.count() // eager: concurrent consumers would race the cache
    val freq = words.groupBy("b").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("tc"))
    words
      .join(broadcast(freq), "b")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (length(bin(col("tc"))) - length(bin(col("c")))).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        dround(sum(col("bits")).cast("double") / count(lit(1)), 6).as("avg_bits"))
      // High mean surprise = rare-token-dominated text; threshold is a
      // demo cut on the deterministic rounded score. Fixture note: the
      // tiny synthetic vocabulary keeps every doc at 5.0-5.4 bits, so
      // `suspect` never fires there — the oracle checks the score
      // arithmetic; the planted PipelineSpec corpus pins exact bit
      // values on both sides of a common-vs-rare contrast.
      .withColumn("suspect", col("avg_bits") >= 12.0)
  }

  val llmLmQuality: Q = (s, dir) =>
    lmQualityOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Bigram-conditional LM surprise — the context-aware half of the
    * CCNet-style quality family ([[lmQualityOf]] scores tokens against
    * the unigram distribution; real filters use n-gram LMs, cf. Wenzek
    * et al. arXiv:1911.00359 §4.3): per adjacent word pair, conditional
    * surprise ≈ log2 c(prev) − log2 c(prev, cur) in the integer
    * bin-length arithmetic, clamped at 0 (hash collisions can pool a
    * bigram bucket above its context's), averaged per doc. Low
    * avg_cond_bits = strongly collocated text (boilerplate, templates);
    * high = word salad — the dual signal to unigram rarity.
    *
    * Scale shape: BOTH count tables hash into the fixed 2^16
    * [[vocabBucket]] feature space (the bigram keys on the joined
    * "prev_cur" string), so each is ≤ 65,536 rows at ANY corpus scale
    * and broadcast-safe by construction; the bigram projection persists
    * once (pure projection, two consumers — the measured barrier rule);
    * per-doc means are two-phase aggs. Docs under 2 words carry no
    * bigram and are absent. */
  private[graft] def lmBigramOf(docs: DataFrame): DataFrame = {
    // Drop <2-word docs BEFORE building pair indices: sequence(1, 0) in
    // Spark is the DESCENDING [1, 0] (not empty like DuckDB's range), so
    // an unguarded transform would element_at index 2 of a 1-word array
    // and crash the job. The filter keeps the documented drop-semantics.
    val ws = reg(docs).select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
    val pairs = ws
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("wp"),
          element_at(col("ws"), i + 1).as("wc")))).as("p"))
      .select(col("doc_id"),
        vocabBucket(col("p.wp")).as("bp"),
        vocabBucket(concat(col("p.wp"), lit("_"), col("p.wc"))).as("bb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count() // eager: concurrent consumers would race the cache
    val freqU = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(vocabBucket(col("w")).as("bp"))
      .groupBy("bp").agg(count(lit(1)).as("cp"))
    val freqB = pairs.groupBy("bb").agg(count(lit(1)).as("cb"))
    pairs
      .join(broadcast(freqU), "bp")
      .join(broadcast(freqB), "bb")
      .select(col("doc_id"),
        greatest(lit(0), length(bin(col("cp"))) - length(bin(col("cb")))).as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        dround(sum(col("bits")).cast("double") / count(lit(1)), 6).as("avg_cond_bits"))
  }

  val llmLmBigram: Q = (s, dir) =>
    lmBigramOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

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
    // same persist rationale as lmQualityOf: the per-occurrence md5
    // projection feeds both the count table and the scoring join
    val words = reg(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), vocabBucket(col("w")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    words.count() // eager: concurrent consumers would race the cache
    val freq = words.groupBy("b").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("tc"))
    val scored = words
      .join(broadcast(freq), "b")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (length(bin(col("tc"))) - length(bin(col("c")))).as("bits"))
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

  /** Stupid-backoff trigram LM scoring (Brants et al., EMNLP 2007 §4 —
    * the web-scale LM recipe: unnormalized relative frequencies with a
    * fixed backoff penalty, no discounting) — the HELD-OUT half of the
    * CCNet quality family: [[lmQualityOf]]/[[lmBigramOf]] score docs
    * against the corpus's OWN counts, where every observed n-gram has
    * count ≥ 1 and backoff can never fire; here the count tables come
    * from the TRAIN slice (doc_id % 7 ≠ 0) and the scored docs are the
    * held-out slice, so unseen trigrams are real and the backoff chain
    * trigram → bigram → unigram does what it exists to do. Per scored
    * position (w1 w2 w3), in integer bin-length bits with a +1-bit
    * penalty per backoff level (the integer analogue of α = 0.4's
    * −log₂ ≈ 1.3 bits):
    *
    *   c(w1w2w3) > 0 → bits(c(w1w2)+1) − bits(c(w1w2w3))
    *   c(w2w3)   > 0 → 1 + bits(c(w2)+1) − bits(c(w2w3))
    *   else          → 2 + bits(N) − bits(c(w3)+1)
    *
    * (each clamped at 0 before the penalty; contexts +1-smoothed so an
    * absent context bucket is well-defined). Output per held-out doc:
    * n_trigrams, avg_bits, and backoff_frac — the fraction of
    * positions that backed off, itself a strong OOD signal.
    *
    * Scale shape: all three count tables hash into the fixed 2^16
    * [[vocabBucket]] space (trigram/pair/unigram keys on the joined
    * strings) — each ≤ 65,536 rows and broadcast-safe at ANY corpus
    * scale; ONE pair table serves both the trigram context (w1_w2) and
    * the bigram level (w2_w3) lookups, one unigram table both contexts.
    * The train side pays three token-stream passes (trigram, pair,
    * unigram explodes — distinct aggregates, unlike BM25's six copies
    * of ONE aggregate); the scored side is one pass; per-doc means are
    * two-phase aggs over exact integer bits. Docs under 3 words carry
    * no position and are absent. */
  private[graft] def lmTrigramOf(docs: DataFrame,
      isTrain: Column => Column): DataFrame = {
    val train = reg(docs).filter(isTrain(col("doc_id")))
    val t3 = trigramPositions(train)
      .select(vocabBucket(concat_ws("_", col("p.w1"), col("p.w2"), col("p.w3"))).as("b3"))
      .groupBy("b3").agg(count(lit(1)).as("c3"))
    val t2 = train.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => concat_ws("_", element_at(col("ws"), i),
          element_at(col("ws"), i + 1)))).as("pr"))
      .select(vocabBucket(col("pr")).as("b2"))
      .groupBy("b2").agg(count(lit(1)).as("c2"))
    val t1 = train.select(explode(split(col("text"), " ")).as("w"))
      .select(vocabBucket(col("w")).as("b1"))
      .groupBy("b1").agg(count(lit(1)).as("c1"))
    val totals = t1.agg(sum(col("c1")).as("n"))
    val pos = trigramPositions(docs.filter(!isTrain(col("doc_id"))))
      .select(col("doc_id"),
        vocabBucket(concat_ws("_", col("p.w1"), col("p.w2"), col("p.w3"))).as("b3"),
        vocabBucket(concat_ws("_", col("p.w1"), col("p.w2"))).as("b2c"),
        vocabBucket(concat_ws("_", col("p.w2"), col("p.w3"))).as("b2"),
        vocabBucket(col("p.w2")).as("b1c"),
        vocabBucket(col("p.w3")).as("b1w"))
    val bitsOf = (c: Column) => length(bin(c))
    val joined = pos
      .join(broadcast(t3), Seq("b3"), "left")
      .join(broadcast(t2.withColumnRenamed("b2", "b2c")
        .withColumnRenamed("c2", "c2ctx")), Seq("b2c"), "left")
      .join(broadcast(t2), Seq("b2"), "left")
      .join(broadcast(t1.withColumnRenamed("b1", "b1c")
        .withColumnRenamed("c1", "c1ctx")), Seq("b1c"), "left")
      .join(broadcast(t1.withColumnRenamed("b1", "b1w")
        .withColumnRenamed("c1", "c1w")), Seq("b1w"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        coalesce(col("c3"), lit(0L)).as("c3"),
        coalesce(col("c2ctx"), lit(0L)).as("c2ctx"),
        coalesce(col("c2"), lit(0L)).as("c2"),
        coalesce(col("c1ctx"), lit(0L)).as("c1ctx"),
        coalesce(col("c1w"), lit(0L)).as("c1w"),
        col("n"))
    joined.select(col("doc_id"),
        when(col("c3") > 0,
          greatest(lit(0), bitsOf(col("c2ctx") + 1) - bitsOf(col("c3"))))
          .when(col("c2") > 0,
            greatest(lit(0), bitsOf(col("c1ctx") + 1) - bitsOf(col("c2"))) + 1)
          .otherwise(
            greatest(lit(0), bitsOf(col("n")) - bitsOf(col("c1w") + 1)) + 2)
          .as("bits"),
        (col("c3") === 0).cast("long").as("backed"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        dround(sum(col("bits")).cast("double") / count(lit(1)), 6).as("avg_bits"),
        dround(sum(col("backed")).cast("double") / count(lit(1)), 6).as("backoff_frac"))
  }

  /** (doc_id, p: struct&lt;w1, w2, w3&gt;) rows at every trigram
    * position of a docs frame — the &lt; 3-word docs filter out BEFORE
    * the index transform, [[lmBigramOf]]'s guard (Spark's
    * sequence(1, 0) is descending, not empty). */
  private def trigramPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2"),
          element_at(col("ws"), i + 2).as("w3")))).as("p"))

  val llmLmTrigram: Q = (s, dir) =>
    lmTrigramOf(Tables.t(s, dir, "documents"), id => id % 7 =!= 0)
      .orderBy("doc_id")

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
    val words = reg(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), vocabBucket(col("w")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    words.count() // same barrier rationale as lmQualityOf
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
    val labeled = reg(docs).select(col("doc_id"),
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
    // 0.98 s median cold micro with the barrier); eager count because
    // the kq/eval stages run concurrently and would race the cache
    // population.
    val scored = qualityClassifierOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()
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
    reg(docs)
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

  val llmGopherRules: Q = (s, dir) =>
    gopherRulesOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

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
  private def keeperIdsOf(docs: DataFrame): DataFrame =
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

  /** Per-document top-5 terms by tf-idf (linear idf variant: tf·N/df —
    * no transcendental functions, so the score arithmetic is the same
    * IEEE sequence in both engines and the ranking replays exactly;
    * log-idf would hang the oracle on libm last-ulp differences).
    * Shape: word-count aggregation, df aggregation over distinct terms,
    * broadcast of the tiny corpus-size scalar, ranked window per doc. */
  val llmTfidfTop: Q = (s, dir) => {
    val words = Tables.t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val total = Tables.t(s, dir, "documents").agg(count(lit(1)).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("w"))
    tf.join(dfc, "w").crossJoin(broadcast(total))
      .withColumn("score", col("tf") * lit(1.0) * col("n") / col("df"))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("w").as("term"),
        col("tf"), col("df"), dround(col("score"), 6).as("score"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 retrieval (Robertson/Walker, TREC-3 Okapi weighting; k1 = 1.2,
    * b = 0.75): the first 3 documents act as multi-term QUERIES against
    * the rest of the corpus, top-5 docs per query. The idf term uses the
    * integer-bits surrogate `bits(N) − bits(df)` ([[llmLmQuality]]'s
    * bin-length idiom) instead of ln((N−df+.5)/(df+.5)) — same
    * monotonicity, bit-exact on both engines where libm `ln` is not —
    * and per-(query, doc) accumulation runs over 1e-6-quantized longs
    * ([[dsum]]) so the term-score sum has no float-order drift.
    *
    * Scale shape — the inverted-index join, not a vocabulary broadcast:
    * postings (doc, term, tf) and document frequencies both come off the
    * SAME groupBy-on-term exchange, so the df join is co-partitioned and
    * reuses it; the query side is query-sized (broadcast by AQE); the
    * only corpus-sized shuffles are the tf/dl aggregations every index
    * build pays once. avgdl/N ride broadcast 1-row totals. Top-5 per
    * query plans through TopKPerKeyExec. */
  val llmBm25Topk: Q = (s, dir) =>
    bm25Of(Tables.t(s, dir, "documents").select("doc_id", "text"),
      id => id < 3)

  /** BM25 core over a caller (doc_id, text) frame: docs matching
    * `isQuery(doc_id)` act as multi-term queries against the rest —
    * see [[llmBm25Topk]] for the weighting and scale shape. */
  private[graft] def bm25Of(docs: DataFrame, isQuery: Column => Column,
      topK: Int = 5): DataFrame = {
    // ONE corpus scan: explode → postings (doc, term, tf). This is the
    // inverted index a retrieval system materializes anyway —
    // per-doc-distinct-term-sized, far smaller than the raw token stream.
    // Everything downstream derives from it: dl = Σ tf per doc (exact,
    // since every token lands in exactly one (doc, term) posting), df from
    // the term-side groupBy, and the corpus totals n/avgdl from dl (split
    // of any string yields ≥1 element, so dl has a row for EVERY doc).
    // No persist: every consumer sits above the SAME (doc_id, w) groupBy
    // exchange, so ReuseExchange dedups the scan+explode+shuffle once in
    // the physical plan (PlanSpec pins scan count ≤ 2 and the reuse) —
    // shuffle-file reuse, unlike a MEMORY_AND_DISK persist, costs no
    // executor memory at 100 TB and no materialization job at any scale.
    // Before deriving everything from tf the plan re-scanned and
    // re-exploded the corpus six times (tf, dl, dfc, n, avgdl, qterms).
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val corpus = tf.filter(!isQuery(col("doc_id")))
    val qterms = tf.filter(isQuery(col("doc_id")))
      .select(col("doc_id").as("q_id"), col("w")).distinct()
    // The tf >= 1 filter is semantically a no-op (tf is a group count),
    // but the optimizer cannot prove it, so it keeps the tf column alive
    // in this subtree. Without it, ColumnPruning rewrites the df branch
    // into a bare DISTINCT(doc_id, w) whose pre-exchange plan no longer
    // matches the postings exchange — and AQE stage reuse only fires on
    // canonically identical subtrees, costing a second corpus scan
    // (measured: final plan 2 corpus scans → 1 with this filter).
    val dfc = corpus.filter(col("tf") >= 1).groupBy("w").agg(count(lit(1)).as("df"))
    // one broadcast 1-row frame carries both corpus totals
    val totals = dl.filter(!isQuery(col("doc_id")))
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // per-(term, doc) partial score: every factor is fixed-order IEEE
    // arithmetic the oracle mirrors parenthesis-for-parenthesis
    val termScore =
      (length(bin(col("n"))) - length(bin(col("df")))).cast("double") *
        ((col("tf") * (lit(1.2) + lit(1.0))) /
          (col("tf") + lit(1.2) *
            ((lit(1.0) - lit(0.75)) + lit(0.75) * (col("dl") / col("avgdl")))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    qterms.join(corpus, "w")
      .join(dfc, "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("s", termScore)
      .groupBy("q_id", "doc_id")
      .agg(dsum(col("s"), 6).as("score"), count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("doc_id"),
        col("score"), col("n_terms"))
      .orderBy("q_id", "rnk")
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al., SIGIR
    * 2009: `score(d) = Σ_rankers 1/(60 + rank_r(d))` — the standard way
    * production RAG stacks combine lexical and dense retrieval, robust
    * to the two score scales being incomparable). Lexical ranker =
    * [[bm25Of]] (pool of `poolK` per query); dense ranker = cosine over
    * 64-dim HASHED word-count vectors (feature hashing: dim =
    * md5-bucket mod 64, value = occurrence count — integer dot products
    * and norms, so cosine = dot/(√n2q·√n2d) is exact IEEE arithmetic in
    * both engines; sqrt is correctly rounded per IEEE 754, not libm
    * folklore). A doc missing from one ranker's pool contributes only
    * the other's term (its rank column stays NULL in the output).
    *
    * Scale shape: the lexical side is the shared-postings-exchange BM25
    * index; the dense side here is the brute pairwise baseline over the
    * query-sized probe set (3 queries × corpus — fine for a bounded
    * query batch; a standing 100 TB dense index would swap in the IVF
    * family's cell-probed search, same fusion step). Fusion itself is a
    * full-outer join of two poolK-bounded lists per query — trivially
    * small at any corpus scale. */
  private[graft] def rrfFusionOf(docs: DataFrame, isQuery: Column => Column,
      poolK: Int = 20, topK: Int = 5): DataFrame = {
    val lex = bm25Of(docs, isQuery, poolK)
      .select(col("q_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val vecs = reg(docs)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), (vocabBucket(col("w")) % 64).as("dim"))
      .groupBy("doc_id", "dim").agg(count(lit(1)).as("v"))
    val norms = vecs.groupBy("doc_id").agg(sum(col("v") * col("v")).as("n2"))
    val dots = vecs.filter(isQuery(col("doc_id")))
      .select(col("doc_id").as("q_id"), col("dim"), col("v").as("vq"))
      .join(vecs.filter(!isQuery(col("doc_id"))), "dim")
      .groupBy("q_id", "doc_id")
      .agg(sum(col("vq") * col("v")).as("dot"))
    val denseWin = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("doc_id"))
    val dense = dots
      .join(norms.select(col("doc_id").as("q_id"), col("n2").as("n2q")), "q_id")
      .join(norms, "doc_id")
      .withColumn("cos",
        dround(col("dot") / (sqrt(col("n2q")) * sqrt(col("n2"))), 6))
      .withColumn("dense_rnk", row_number().over(denseWin))
      .filter(col("dense_rnk") <= poolK)
      .select(col("q_id"), col("doc_id"), col("dense_rnk"))
    val fuseWin = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf", dround(
        coalesce(lit(1.0) / (lit(60) + col("lex_rnk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("dense_rnk")), lit(0.0)), 9))
      .withColumn("rnk", row_number().over(fuseWin))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("rrf"),
        col("lex_rnk"), col("dense_rnk"))
      .orderBy("q_id", "rnk")
  }

  val llmRrfFusion: Q = (s, dir) =>
    rrfFusionOf(Tables.t(s, dir, "documents").select("doc_id", "text"),
      id => id < 3)

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

  /** Zipf rank-frequency fit (Zipf 1949; the corpus-linguistics
    * diagnostic tokenizer and dedup work lean on): least-squares slope
    * of ln(freq) on ln(rank) over the top-V vocabulary — a healthy
    * natural corpus fits exponent ≈ 1 with high R²; template/boiler-
    * plate floods and synthetic spam bend the curve (flat head or
    * collapsed tail), so the (exponent, r2) pair is a cheap whole-
    * corpus hygiene gate beside the per-doc quality family.
    *
    * Determinism/scale: the corpus-sized work is the standard
    * two-phase wordcount; the top-V cut is ORDER/LIMIT
    * (TakeOrderedAndProject heaps — never a global sort), and the
    * rank window runs over the V-row frame only (bounded by
    * construction). Regression sums quantize each per-row ln-product
    * to 1e-9 longs before the exact long sum ([[dsum]]), so float
    * summation order cannot drift between engines; the closed-form
    * slope/intercept/R² arithmetic then runs on identical doubles. */
  private[graft] def zipfFitOf(docs: DataFrame, topV: Int = 1000): DataFrame = {
    val ln = (c: Column) => org.apache.spark.sql.functions.log(c)
    val top = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topV)
    val wR = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    val pts = top.withColumn("r", row_number().over(wR))
      .select(ln(col("r").cast("double")).as("x"),
        ln(col("c").cast("double")).as("y"))
    pts
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(col("x"), 9).as("sx"), dsum(col("y"), 9).as("sy"),
        dsum(col("x") * col("x"), 9).as("sxx"),
        dsum(col("x") * col("y"), 9).as("sxy"),
        dsum(col("y") * col("y"), 9).as("syy"))
      .withColumn("b", (col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n").cast("long").as("n_fit"),
        dround(-col("b"), 6).as("zipf_exponent"),
        dround((col("sy") - col("b") * col("sx")) / col("n"), 6)
          .as("intercept"),
        // zero-variance guard (the quality_calibrate rule, same as
        // heapsLawOf): a degenerate corpus where all top-V counts are
        // equal leaves n·syy − sy² as a ±quantization residue — the
        // unguarded ratio would emit NaN or an impossible R² in the
        // hygiene column. Pin r2 to 0 there in BOTH engines.
        when(col("n") * col("syy") - col("sy") * col("sy") <= lit(1e-9),
          lit(0.0)).otherwise(
          dround((col("n") * col("sxy") - col("sx") * col("sy"))
            * (col("n") * col("sxy") - col("sx") * col("sy"))
            / ((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("r2"))
  }

  val llmZipfFit: Q = (s, dir) =>
    zipfFitOf(Tables.t(s, dir, "documents").select("text"))

  /** Heaps'-law vocabulary-growth fit (Heaps 1978) — the companion
    * diagnostic to [[zipfFitOf]]: V(N) ≈ K·N^β, the sub-linear growth
    * of distinct vocabulary V with corpus tokens N. A healthy natural
    * corpus fits β ≈ 0.4–0.8 with high R²; β near 0 flags a closed
    * template vocabulary (boilerplate floods), β near 1 flags
    * near-random token soup — either way the corpus needs a look
    * before tokenizer training trusts it.
    *
    * Measured at `nCkpt` corpus prefixes in doc_id order. The bucket of
    * a doc is integer-exact ceil-division ⌈nCkpt·(doc_id+1)/M⌉ (M =
    * max doc_id + 1), so both engines bucket identically with no float
    * boundary risk. V at a checkpoint counts words whose FIRST carrier
    * doc falls at or before it — a word→min(doc_id) agg, the same
    * wordcount shuffle shape as [[zipfFitOf]]; N is the doc-level
    * token sum per bucket. Cumulation and the ln-ln least-squares fit
    * run over the nCkpt-row frame only (bounded by construction), with
    * regression sums quantized to 1e-9 longs ([[dsum]]) so float
    * summation order cannot drift between engines. */
  private[graft] def heapsLawOf(docs: DataFrame, nCkpt: Int = 16): DataFrame = {
    val ln = (c: Column) => org.apache.spark.sql.functions.log(c)
    // m feeds BOTH branches below, but no persist: its broadcast
    // exchanges are canonically identical, and the POST-EXECUTION plan
    // shows `ReusedExchange [m] BroadcastExchange` — the doc_id scan
    // behind it runs once (verified at sf0.1; the no-persist-over-
    // reusable-exchange rule).
    val m = docs.agg((max(col("doc_id")) + 1).as("m"))
    val docTok = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .crossJoin(broadcast(m))
      .withColumn("bkt", expr(s"CAST(((doc_id + 1) * $nCkpt + m - 1) DIV m AS INT)"))
      .groupBy("bkt").agg(sum(col("nt")).as("toks"))
    val newWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(m))
      .withColumn("bkt", expr(s"CAST(((fd + 1) * $nCkpt + m - 1) DIV m AS INT)"))
      .groupBy("bkt").agg(count(lit(1)).as("nw"))
    val wC = org.apache.spark.sql.expressions.Window
      .orderBy("bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pts = docTok.join(newWords, Seq("bkt"), "left")
      .withColumn("n_cum", sum(col("toks")).over(wC))
      .withColumn("v_cum", sum(coalesce(col("nw"), lit(0L))).over(wC))
      .select(ln(col("n_cum").cast("double")).as("x"),
        ln(col("v_cum").cast("double")).as("y"),
        col("n_cum"), col("v_cum"))
    pts
      .agg(count(lit(1)).cast("double").as("n"),
        dsum(col("x"), 9).as("sx"), dsum(col("y"), 9).as("sy"),
        dsum(col("x") * col("x"), 9).as("sxx"),
        dsum(col("x") * col("y"), 9).as("sxy"),
        dsum(col("y") * col("y"), 9).as("syy"),
        max(col("n_cum")).as("tokens_total"),
        max(col("v_cum")).as("vocab_total"))
      .withColumn("b", (col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n").cast("long").as("n_fit"),
        dround(col("b"), 6).as("heaps_beta"),
        dround((col("sy") - col("b") * col("sx")) / col("n"), 6)
          .as("intercept"),
        // zero-variance guard (the quality_calibrate rule): a closed
        // vocabulary — the very regime this gate detects — makes every
        // y identical, so n·syy − sy² is a ±1e-7 quantization residue
        // of arbitrary sign; an unguarded ratio then emits NaN or an
        // impossible R² in the hygiene column. Pin r2 = 0 there.
        when(col("n") * col("syy") - col("sy") * col("sy") <= lit(1e-9),
          lit(0.0)).otherwise(
          dround((col("n") * col("sxy") - col("sx") * col("sy"))
            * (col("n") * col("sxy") - col("sx") * col("sy"))
            / ((col("n") * col("sxx") - col("sx") * col("sx"))
              * (col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("r2"),
        col("tokens_total"), col("vocab_total"))
  }

  val llmHeapsLaw: Q = (s, dir) =>
    heapsLawOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

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

  /** PMI-ranked collocation extraction (Church & Hanks 1990, the
    * association-ratio method): for each adjacent word pair, the
    * pointwise-mutual-information RATIO p(a,b)/(p(a)·p(b)) =
    * (c_ab/T_b)·(T_w/c_a)·(T_w/c_b) — ranked un-logged, since log is
    * monotone and libm-free ranking keeps both engines bit-identical.
    * Pairs under 3 occurrences are dropped (the classic sparse-PMI
    * guard: a hapax pair maximizes PMI vacuously). Top-20 collocations
    * by (ratio, a, b).
    *
    * Scale shape: bigram counts are a two-phase agg over observed
    * pairs (bounded by the token stream, not vocab²); unigram counts
    * are vocab-sized (Heaps' law — the [[llmTfidfTop]] posture);
    * corpus totals ride broadcast 1-row frames; the global top-20 is
    * TakeOrderedAndProject (per-partition heads, never a global
    * sort). The ratio arithmetic is parenthesized identically in both
    * engines — products never materialize beyond double-exact range
    * because the division interleaves. */
  private[graft] def collocationsOf(docs: DataFrame,
      minCount: Int = 3, topK: Int = 20): DataFrame = {
    // size >= 2 guard: Spark's sequence(1, 0) is the descending [1, 0],
    // not empty — the lmBigramOf lesson
    val pairs = docs
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("a"),
          element_at(col("ws"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cw = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tw = cw.agg(sum(col("c")).as("tw"))
    val cb = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val tb = cb.agg(sum(col("cab")).as("tb"))
    cb.filter(col("cab") >= minCount)
      .join(cw.select(col("w").as("a"), col("c").as("ca")), "a")
      .join(cw.select(col("w").as("b"), col("c").as("cbn")), "b")
      .crossJoin(broadcast(tw))
      .crossJoin(broadcast(tb))
      .select(col("a"), col("b"), col("cab"), col("ca"), col("cbn"),
        dround(((col("cab") * lit(1.0) * col("tw") / col("tb")) *
          (col("tw") * lit(1.0) / col("ca"))) / col("cbn"), 6).as("ratio"))
      .orderBy(col("ratio").desc, col("a"), col("b"))
      .limit(topK)
  }

  val llmCollocations: Q = (s, dir) =>
    collocationsOf(Tables.t(s, dir, "documents"))

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * weighted PageRank over the word co-occurrence graph — nodes are
    * distinct words, an undirected edge per adjacent pair weighted by
    * its count, score `PR(w) = 0.15 + 0.85·Σ_v (w_vw/outw(v))·PR(v)`
    * iterated 5 times from 1.0, top-10 words by final score. The
    * graph-ranking dual of [[collocationsOf]]' frequency-ratio view:
    * TextRank surfaces words central to the co-occurrence topology
    * even when raw counts are unremarkable.
    *
    * Scale shape: nodes/edges are vocab-sized (Heaps' law), weights are
    * a two-phase bigram agg bounded by the token stream; each iteration
    * is one vocab-sized join + dst groupBy (the [[graft.queries.Graph]]
    * PageRank dataflow), with AQE stage reuse deduping the weight
    * exchange across iterations; the top-10 is TakeOrderedAndProject.
    * 1e-9 quantized sums/rounds per iteration keep the trajectory
    * bit-exact vs the DuckDB MATERIALIZED-CTE replay. */
  private[graft] def textrankOf(docs: DataFrame, iterations: Int = 5,
      topK: Int = 10): DataFrame = {
    val pairs = docs
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("a"),
          element_at(col("ws"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val und = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
    val wgt = und.groupBy("a", "b").agg(count(lit(1)).as("wgt"))
    val outw = wgt.groupBy("a").agg(sum(col("wgt")).as("ow"))
    val e = wgt.join(outw, "a")
    val nodes = outw.select(col("a").as("word"))
    var pr = nodes.select(col("word"), lit(1.0).as("score"))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(pr.withColumnRenamed("word", "a"), "a")
        .select(col("b").as("word"),
          (col("score") * col("wgt") / col("ow")).as("c"))
      pr = nodes
        .join(contribs, Seq("word"), "left")
        .groupBy("word")
        .agg(dsum(coalesce(col("c"), lit(0.0)), 9).as("sc"))
        .select(col("word"),
          dround(lit(0.15) + lit(0.85) * col("sc"), 9).as("score"))
    }
    pr.orderBy(col("score").desc, col("word")).limit(topK)
  }

  val llmTextrank: Q = (s, dir) =>
    // NO fanOut (A/B'd r21, same window): 2.94/2.62 fanned vs 3.15/2.48
    // plain [med/min] — a wash; the pair explode feeds the (a, b)
    // count exchange whose 5 downstream iterations dominate.
    textrankOf(Tables.t(s, dir, "documents"))

  /** Character-n-gram language ID (Cavnar & Trenkle 1994, "N-Gram-Based
    * Text Categorization" — the method fastText-era lang-ID descends
    * from): per-language char-TRIGRAM rank profiles (top 30 by count)
    * built from the corpus's own labels, each doc classified by the
    * OUT-OF-PLACE distance — Σ over the doc's top-30 trigrams of
    * |doc-rank − profile-rank|, absent trigrams costing the max rank
    * 30. The character-level counterpart of the word-list
    * [[Text.scala]] `llm_lang_id` heuristic — all-integer ranks and
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
    val grams = reg(docs)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(call_function("char_trigrams", col("text"))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grams.count() // eager: concurrent consumers would race the cache
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

  /** Per-document character-distribution entropy, in the engine's
    * integer bin-length surrogate (Σ cᵢ·(bits(L) − bits(cᵢ))/L over the
    * doc's char counts — the libm-free stand-in for Shannon −Σp·log₂p,
    * same monotone ordering): the cheap low-entropy detector that flags
    * single-char floods and keyboard-mash BEFORE the heavier n-gram
    * scorers run — Gopher-class pipelines gate on exactly this signal
    * first because it needs one char pass and no model tables.
    *
    * Scale shape: explode chars → two-phase (doc, char) count agg →
    * per-doc weighted agg; alphabet size bounds the per-doc group count,
    * nothing global, no joins beyond the per-doc length carried through
    * the agg. */
  private[graft] def charEntropyOf(docs: DataFrame): DataFrame = {
    // split(text, "") — O(len) per row, vs the substr-over-range
    // idiom's O(len²): UTF8String.substring re-scans to the code-point
    // offset on every call. A/B at sf0.1 (REPEATS=7 medians): substr
    // 5.11 s → array-lambda filter 3.55 (interpreted HOFs cost ~2 µs
    // per element) → this split + codegen'd post-explode filter 0.61.
    // The DuckDB twin keeps substr-over-range (no empty-delimiter
    // split there; oracle runtime is not on the path). The length
    // filter below also drops the trailing "" the empty-regex split
    // appends under Spark's limit=-1.
    val chars = docs
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), length(col("text")).as("len"),
        explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1) // codegen'd post-explode guard —
        // an array-lambda filter here would run interpreted per element
    chars.groupBy("doc_id", "len", "ch")
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("len"),
        (col("c") * (length(bin(col("len").cast("long"))) -
          length(bin(col("c"))))).as("w"))
      .groupBy("doc_id", "len")
      .agg(sum(col("w")).as("sw"), count(lit(1)).as("alphabet"))
      .select(col("doc_id"), col("len").cast("long").as("len"),
        col("alphabet"),
        dround(col("sw").cast("double") / col("len"), 6).as("ent_bits"))
  }

  val llmCharEntropy: Q = (s, dir) =>
    charEntropyOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Vocabulary coverage curve — for budgets k ∈ {10, 100, 1000, 10000}:
    * what fraction of all token OCCURRENCES the top-k most frequent
    * words cover (the analysis behind every tokenizer-budget decision:
    * Zipf's law makes the head cover most of the stream, and the k
    * where coverage plateaus is the economic vocab size; the same curve
    * justifies [[Text.scala]] `llm_bpe_*`'s subword fallback for the
    * tail). Ranking ties break by word for a total order.
    *
    * Scale shape: the heavy pass is the two-phase word count; the
    * ranking + cumulative windows run over the VOCAB-sized count table
    * (Heaps' law — not the token stream), and the 4-row budget frame
    * cross-joins in. All-integer counts; only the final fraction is a
    * quantized division. */
  val llmVocabCoverage: Q = (s, dir) => {
    val budgets = Seq(10, 100, 1000, 10000)
    val cw = Tables.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    val ranked = cw
      .withColumn("rnk", row_number().over(rankW))
      .withColumn("cum", sum("c").over(rankW.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
    val totals = cw.agg(sum(col("c")).as("total"),
      count(lit(1)).as("vocab"))
    // one conditional agg over the vocab-sized ranked table, unpivoted
    // via stack — no k×vocab theta join. For k > vocab the MAX simply
    // sees every row and covered = total (the curve saturates).
    val kCols = budgets.map(k =>
      max(when(col("rnk") <= k, col("cum"))).as(s"c$k"))
    val perK = ranked.agg(kCols.head, kCols.tail: _*)
    val stackExpr = budgets.map(k => s"$k, c$k").mkString(", ")
    perK
      .select(expr(s"stack(${budgets.size}, $stackExpr) AS (k, covered)"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("covered"), col("total"), col("vocab"),
        dround(col("covered").cast("double") / col("total"), 6).as("coverage"))
      .orderBy("k")
  }

  /** Soft deduplication weighting (the SoftDeDup idea — reweight
    * duplicated content instead of dropping it, so the keep/drop cliff
    * of [[llmExactDedup]] becomes a smooth loss scale: a doc appearing
    * n times trains with weight 1/n and the CORPUS-level token
    * distribution is preserved while duplicate gradient mass is
    * neutralized). Clusters are exact content groups over the shared
    * [[contentHashCol]] scheme — the same hash the exact-dedup layer
    * and the incremental state table key on, so the three operators
    * can never disagree about what "a duplicate" is.
    *
    * Scale shape: one two-phase count on the 32-byte hash + a
    * co-partitioned join back on the same key (both sides share the
    * hash exchange); weight arithmetic is per-row. */
  val llmDedupWeights: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), contentHashCol.as("h"))
    val counts = d.groupBy("h").agg(count(lit(1)).as("n_copies"))
    d.join(counts, "h")
      .select(col("doc_id"), col("n_copies"),
        dround(lit(1.0) / col("n_copies"), 9).as("weight"))
      .orderBy("doc_id")
  }

  /** Per-dimension winsorization audit of the embedding table (clip to
    * [p05, p95] — the standard outlier guard before quantization or
    * whitening; [[Text.scala]] `llm_embed_quantize`'s int8 range is
    * exactly what un-clipped tails blow out): for each of the 64 dims,
    * the exact interpolated 5th/95th percentiles (the `agg_percentile`
    * cross-engine idiom — Spark `percentile` ≡ DuckDB `quantile_cont`,
    * dround(6)) and how many values each side would clip.
    *
    * Scale shape: posexplode to (dim, v) — persisted, a pure projection
    * consumed by the stats agg AND the clip-count pass — then a 64-row
    * broadcast join back; percentiles are per-dim two-phase aggs, never
    * a global sort. */
  val llmEmbedClip: Q = (s, dir) => {
    val vals = Tables.t(s, dir, "embeddings")
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"),
        col("col").cast("double").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vals.count() // eager: concurrent consumers would race the cache
    val stats = vals.groupBy("dim").agg(
      dround(expr("percentile(v, 0.05)"), 6).as("lo"),
      dround(expr("percentile(v, 0.95)"), 6).as("hi"),
      count(lit(1)).as("n"))
    vals.join(broadcast(stats), "dim")
      .groupBy("dim", "lo", "hi", "n")
      .agg(sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_hi"))
      .select("dim", "lo", "hi", "n", "n_lo", "n_hi")
      .orderBy("dim")
  }

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
    * collapse → trim), reusable ahead of any content-hash stage. The
    * caller must have run [[graft.functions.UnicodeNormalize.register]]
    * on the session. */
  private[graft] def normTextCol(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        call_function("unicode_normalize", c, lit("NFC")),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\r\\n]+", " "))

  val llmTextNormalize: Q = (s, dir) => {
    graft.functions.UnicodeNormalize.register(s)
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"), normTextCol(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("text")).as("raw_len"),
        length(col("norm")).as("norm_len"),
        (col("norm") =!= col("text")).as("changed"),
        md5(col("norm")).as("h"))
      .orderBy("doc_id")
  }

  /** Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the smoothing
    * behind every serious count-based LM, and the principled upgrade of
    * [[lmBigramOf]]'s raw conditional estimate): with discount D = 0.75,
    *
    *   P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
    *               + D · N1+(w1·)/c(w1·) · N1+(·w2)/B
    *
    * where c(w1·) = Σ_w c(w1,w), N1+(w1·) = distinct continuations of
    * w1, N1+(·w2) = distinct left contexts of w2 (the CONTINUATION
    * count — "how novel is w2", the idea that makes KN beat Katz), and
    * B = distinct bigram types. Emits the top-20 bigrams by smoothed
    * probability (quantized-long ordering, then (w1,w2) — total order).
    *
    * Scale shape: one pass builds the bigram-TYPE table (vocab²-bounded
    * but Zipf-sparse — Heaps' law, not the token stream), persisted and
    * consumed by all four count views; the context/continuation joins
    * re-use the bigram table's key exchanges; B broadcasts as a 1-row
    * frame. All counts integer; only the final probability is double
    * (identical fixed-order IEEE arithmetic in the DuckDB twin). */
  private[graft] def lmKnOf(docs: DataFrame): DataFrame = {
    val big = docs
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1,0) is [1,0], the lmBigramOf trap
      .select(explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      // A/B'd vs the BM25-style exchange-reuse derivation (no persist,
      // REPEATS=7, sf0.1): persist 0.595 s median vs 0.743 without —
      // with FOUR consumers of different shapes (two re-groupings, a
      // global count, the final join) pruning breaks canonical equality
      // for at least one, so the exchange is not reused everywhere and
      // the cache barrier wins here.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    big.count() // eager: four consumers would race the cache
    val ctx = big.groupBy("w1")
      .agg(sum("c").as("cw1"), count(lit(1)).as("n1f"))
    val cont = big.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val tot = big.agg(count(lit(1)).as("bt"))
    val pkn = greatest(col("c") - lit(0.75), lit(0.0)) / col("cw1") +
      lit(0.75) * col("n1f") / col("cw1") * (col("n1b") / col("bt"))
    big.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(tot))
      .withColumn("pq", floor(pkn * 1e6 + lit(0.5)).cast("long"))
      .select(col("w1"), col("w2"), col("c"),
        (col("pq").cast("double") / 1e6).as("p_kn"), col("pq"))
  }

  val llmLmKn: Q = (s, dir) =>
    lmKnOf(Tables.t(s, dir, "documents"))
      .orderBy(col("pq").desc, col("w1"), col("w2"))
      .limit(20)
      .drop("pq")

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

  val llmTokenCount: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
    d.select(col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("int").as("bpe_tokens"),
      length(col("text")).as("chars"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).as("spaces"))
      .orderBy("doc_id")
  }

  /** Greedy longest-match wordpiece vocabulary, split by piece LENGTH.
    * The split is load-bearing: a piece list holding only exact-length-l
    * strings means a clamped end-of-word substring (shorter than l) can
    * never equal a member, so the greedy matcher needs NO bounds checks —
    * and single characters need no list at all, because an unmatched
    * character advances 1 and counts 1 whether it's "in vocab" or [UNK]
    * (identical arithmetic either way). Shared verbatim by the Spark
    * fold, the DuckDB oracle (interpolated below), and the ScalaTest
    * reference tokenizer. */
  private[graft] val wpVocab4 = Seq("tion", "ment", "able", "ight", "ough", "ance")
  private[graft] val wpVocab3 = Seq(
    "ing", "ion", "ent", "ter", "est", "ers", "ate", "ive", "the", "and", "for", "ith")
  private[graft] val wpVocab2 = Seq(
    "th", "er", "on", "an", "re", "he", "in", "ed", "nd", "ha", "at", "en",
    "es", "of", "or", "nt", "ea", "ti", "to", "it", "st", "io", "le", "is",
    "ou", "ar", "as", "de", "rt", "ve")
  // The no-bounds-check greedy scan is SOUND ONLY IF every piece has its
  // list's exact length (a clamped end-of-word substring then can never
  // equal a member). A misplaced piece would silently desynchronize the
  // Spark scan from the DuckDB fold — fail fast at class load instead.
  for ((vs, l) <- Seq((wpVocab4, 4), (wpVocab3, 3), (wpVocab2, 2)); v <- vs)
    require(v.length == l && v.codePointCount(0, v.length) == l,
      s"wpVocab$l piece '$v' must be exactly $l codepoints")

  /** Greedy longest-match token count of one word ([[wpVocab4]]/3/2 +
    * 1-char fallback) — the matcher the query's typed map runs per word,
    * and the tests' reference. Set-backed lookups, O(1) per probe. */
  private[graft] val wpSet4 = wpVocab4.toSet
  private[graft] val wpSet3 = wpVocab3.toSet
  private[graft] val wpSet2 = wpVocab2.toSet
  private[graft] def wpTokenCountRef(w: String): Int = {
    // Walk Unicode CODEPOINTS, not UTF-16 code units: DuckDB's
    // length()/substr() are codepoint-based, so a supplementary-plane
    // character (an emoji) must advance the scan by ONE position in both
    // engines or wp_tokens diverges the moment a corpus leaves ASCII.
    // (The vocab is ASCII, so piece strings are codepoint==unit; only
    // the scan positions needed the fix.)
    val cps = w.codePoints().toArray
    val n = cps.length
    def piece(i: Int, l: Int) = new String(cps, i, l)
    var i = 0; var cnt = 0
    while (i < n) {
      val step =
        if (i + 4 <= n && wpSet4.contains(piece(i, 4))) 4
        else if (i + 3 <= n && wpSet3.contains(piece(i, 3))) 3
        else if (i + 2 <= n && wpSet2.contains(piece(i, 2))) 2
        else 1
      i += step; cnt += 1
    }
    cnt
  }

  /** Real subword tokenization beside [[llmTokenCount]]'s regex proxy:
    * greedy longest-match wordpiece over a fixed vocabulary (the
    * WordPiece/BPE-inference algorithm, Wu et al. 2016 arXiv:1609.08144
    * §4.1 — at inference a trained BPE/wordpiece vocab is applied by
    * exactly this deterministic longest-match scan; unmatched characters
    * are the [UNK] fallback, counting 1 like any 1-char piece).
    *
    * Execution shape: a typed iterator→iterator `mapPartitions` (same
    * pattern as [[llmMultimodalDecode]]) — tokenization is compute-bound
    * per-row work that production pipelines run as JVM/native code over
    * partition batches, and that is measurably the right call here too:
    * the same greedy scan expressed as a Catalyst `aggregate` HOF fold
    * (packed pos·100000+count state over character positions) was built
    * first and measured 2.09 s at sf0.1 — HOF lambdas evaluate
    * interpreted per element, and a per-char lambda with three membership
    * probes is the worst case — vs ~0.3 s for the set-backed JVM scan.
    * No shuffle either way; partitioning preserved. The DuckDB twin
    * replays the identical fold via list_reduce, so the oracle compares
    * real tokenizer semantics end-to-end against an INDEPENDENT
    * implementation. */
  val llmTokenize: Q = (s, dir) => {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val ws = text.split(" ", -1)
        var i = 0; var toks = 0L
        while (i < ws.length) { toks += wpTokenCountRef(ws(i)); i += 1 }
        (id, ws.length, toks)
      })
      .toDF("doc_id", "n_words", "wp_tokens")
      .orderBy("doc_id")
  }

  /** Tokenizer fertility by language — tokens-per-word for the three
    * tokenizers the engine carries (whitespace, the BPE-ish regex of
    * [[llmTokenCount]], the greedy wordpiece of [[llmTokenize]]):
    * THE multilingual-budget metric — a language whose fertility runs
    * 2× pays 2× the context window and 2× the training compute per
    * word, which is exactly what vocab allocation decisions (and the
    * [[llmVocabCoverage]] curve per language) trade off.
    *
    * Scale shape: one corpus pass — the regex count rides the codegen'd
    * `regexp_count` projection, the wordpiece fold a typed
    * iterator→iterator mapPartitions (same core as llm_tokenize) —
    * then a #langs-row aggregate. */
  val llmTokenizerFertility: Q = (s, dir) => {
    import s.implicits._
    Tables.t(s, dir, "documents")
      .select(col("lang"), col("text"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast("long").as("bpe"))
      .as[(String, String, Long)]
      .mapPartitions(_.map { case (lang, text, bpe) =>
        val ws = text.split(" ", -1)
        var i = 0; var wp = 0L
        while (i < ws.length) { wp += wpTokenCountRef(ws(i)); i += 1 }
        (lang, ws.length.toLong, wp, bpe)
      })
      .toDF("lang", "n_words", "wp_tokens", "bpe_tokens")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("wp_tokens").as("wp_tokens"), sum("bpe_tokens").as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("wp_tokens"), col("bpe_tokens"),
        dround(col("wp_tokens").cast("double") / col("n_words"), 6)
          .as("wp_fertility"),
        dround(col("bpe_tokens").cast("double") / col("n_words"), 6)
          .as("bpe_fertility"))
      .orderBy("lang")
  }

  /** Lexical diversity battery — the vocabulary-richness quality axis
    * the length/ratio scorers miss (template spam can pass every
    * [[llmQualityScore]] gate while cycling 30 words): per doc,
    * type-token ratio, hapax fraction (types seen once — low hapax =
    * formulaic text), and Yule's K = 10⁴·(Σc² − N)/N² (Yule 1944;
    * repeat-rate characteristic — HIGH K = concentrated reuse), all
    * from exact integer counts (Σc² ride the same (doc, word) count
    * table; the only doubles are three fixed-order divisions).
    *
    * Scale shape: one two-phase (doc, word) hash count, then a per-doc
    * agg over the doc's TYPE rows (vocab-bounded per doc) — no windows,
    * no global state. */
  private[graft] def lexicalDiversityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        dround(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        dround(col("n_hapax").cast("double") / col("n_types"), 6)
          .as("hapax_frac"),
        dround(lit(10000.0) * (col("sum_c2") - col("n_tokens")) /
          (col("n_tokens") * col("n_tokens")), 6).as("yules_k"))

  val llmLexicalDiversity: Q = (s, dir) =>
    lexicalDiversityOf(Tables.t(s, dir, "documents")).orderBy("doc_id")

  /** Document fingerprint: rolling polynomial hash over word codes —
    * deterministic integer fold, identical in both engines. */
  val llmFingerprint: Q = (s, dir) => {
    val codes = transform(split(col("text"), " "),
      w => length(w).cast("long") * 256 + ascii(substring(w, 1, 1)))
    val fp = aggregate(codes, lit(0L), (acc, c) => (acc * 31 + c) % lit(P))
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), fp.as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Multimodal plumbing: text → binary payload column + typed metadata
    * struct, "decode" = deterministic stub features (octet length, hex
    * prefix) — the schema/partitioning/batch shape is real, the codec is
    * stubbed (no image libs offline; SURVEY.md §2.9). */
  val llmMultimodal: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(col("lang").as("lang"), col("source").as("source"),
          col("n_chars").as("n_chars")).as("meta"))
    d.select(col("doc_id"),
      octet_length(col("payload")).as("payload_bytes"),
      hex(substring(col("payload"), 1, 4)).as("magic"),
      col("meta").getField("lang").as("lang"),
      col("meta").getField("n_chars").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Real decode, PNG container: width/height are the two big-endian u32s
    * of the IHDR chunk, which the
    * spec pins to bytes 16–23 of the file (signature 0–7, IHDR length 8–11,
    * "IHDR" tag 12–15) — so the parse needs only the first 24 bytes of the
    * payload, exactly the bounded-read shape a 100 TB decode stage wants
    * (header peek first, full-codec fan-out only for rows that match). */
  private[graft] def pngDims(p: Array[Byte]): Option[(Int, Int)] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def be32(off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    if (p.length >= 24 && p.take(8).sameElements(sig) &&
        p.slice(12, 16).sameElements("IHDR".getBytes("US-ASCII"))) {
      val (w, h) = (be32(16), be32(20))
      // the PNG spec caps dimensions at 2^31-1 and forbids 0; a crafted
      // header past either bound falls back to the stub rather than
      // emitting non-positive dimensions into the feature contract
      if (w > 0 && h > 0) Some((w, h)) else None
    } else None
  }

  /** JPEG twin of [[pngDims]], same bounded-read shape: width/height live
    * in the first SOFn frame header (marker 0xC0–0xCF minus 0xC4/0xC8/0xCC,
    * covering baseline SOF0 and progressive SOF2), reached by hopping
    * marker segments via their big-endian length fields — the scan indexes
    * only a few header bytes per segment and never decodes entropy data
    * (it stops at SOS/EOI, which always follow the frame header). Payload:
    * marker, u16 length, u8 precision, u16 height, u16 width. A malformed
    * stream (desynced marker, undersized length, height 0 = DNL-deferred)
    * returns None and the caller falls back to the stub features. */
  private[graft] def jpegDims(p: Array[Byte]): Option[(Int, Int)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    if (p.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
    var i = 2
    // segment-count guard: a crafted stream of minimal segments could
    // otherwise walk the whole payload; real headers precede SOF within
    // a handful of segments (APPn/COM/DQT/DHT)
    var segs = 0
    while (i + 3 < p.length && segs < 1024) {
      segs += 1
      if (u8(i) != 0xff) return None // desynced: expected a marker
      val m = u8(i + 1)
      if (m == 0xff) i += 1 // fill byte before a marker
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
      else if (m == 0xd9 || m == 0xda) return None // EOI/SOS before any SOF
      else {
        val len = u16(i + 2)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7 || i + 9 > p.length) return None
          val (h, w) = (u16(i + 5), u16(i + 7))
          return if (w > 0 && h > 0) Some((w, h)) else None
        }
        i += 2 + len
      }
    }
    None
  }

  /** Per-batch feature extraction: PNG and JPEG payloads decode to their
    * true dimensions (single frame); everything else falls back to the
    * deterministic stub features (no other codecs offline — the fallback
    * keeps the contract total and the oracle replayable for text
    * payloads). Container dispatch is by each parser's own magic check —
    * a payload matching neither signature costs two O(1) header peeks. */
  private[graft] def decodeFeatures(r: MmRow): MmFeat = {
    val n = r.payload.length
    pngDims(r.payload).orElse(jpegDims(r.payload)) match {
      case Some((w, h)) => MmFeat(r.doc_id, r.lang, n, w, h, 1)
      case None =>
        val b0 = if (n > 0) r.payload(0) & 0xff else 0
        MmFeat(r.doc_id, r.lang, n, 64 + n % 640, 64 + (b0 * 3) % 480, 1 + n % 30)
    }
  }

  /** Batched multimodal decode plumbing — the Scala analogue of a Pandas
    * UDF over mapInPandas: a typed `mapPartitions` (iterator→iterator, one
    * JVM call per partition batch, partitioning preserved). The decode step
    * is REAL for PNG and JPEG payloads (header parses, see [[pngDims]] /
    * [[jpegDims]], ScalaTest-pinned against ImageIO-written files) and a deterministic
    * stub for other media (no image/audio codecs offline; the schema,
    * batch shape, and feature contract are oracle-checked — the fixture
    * corpus is text, so the DuckDB twin replays the stub branch). */
  val llmMultimodalDecode: Q = (s, dir) => {
    import s.implicits._
    val ds = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("lang"))
      .as[MmRow]
    ds.mapPartitions(_.map(decodeFeatures)).toDF().orderBy("doc_id")
  }

  /** Media preprocessing MANIFEST — the resize + frame-sample planning
    * pass of a multimodal pipeline ([[llmMultimodalDecode]] extracts
    * per-payload features; this operator turns them into the work
    * list a decode fleet executes): per payload, a resize plan fitting
    * the longest side to 224 px preserving aspect ratio, and a uniform
    * frame-sample plan — up to 4 frames at indices ⌊j·F/k⌋ (the
    * classic stride sample, distinct for k ≤ F), each with its stub
    * timestamp (25 fps) and byte offset (frame_idx · ⌊bytes/F⌋). At
    * 100 TB this manifest IS the distributed work: deciding which
    * frames to touch and at what offsets is corpus-sized arithmetic;
    * the decode itself (stubbed offline — no codecs) happens
    * per-manifest-row downstream. One row per sampled frame.
    *
    * Scale shape: pure per-row arithmetic + a ≤ 4-element explode —
    * shuffle-free except the presentation sort; every quantity derives
    * deterministically from payload bytes, so DuckDB replays the full
    * manifest bit-exact. */
  val llmMediaManifest: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text").cast("binary")).cast("int"))
      .withColumn("b0", when(length(col("text")) > 0,
        ascii(substring(col("text"), 1, 1))).otherwise(0))
      .withColumn("src_w", (lit(64) + col("n") % 640).cast("int"))
      .withColumn("src_h", (lit(64) + (col("b0") * 3) % 480).cast("int"))
      .withColumn("frames", (lit(1) + col("n") % 30).cast("int"))
      .withColumn("k", least(col("frames"), lit(4)))
      .withColumn("scale",
        lit(224.0) / greatest(col("src_w"), col("src_h")).cast("double"))
      .withColumn("out_w", floor(col("src_w") * col("scale") + 0.5).cast("int"))
      .withColumn("out_h", floor(col("src_h") * col("scale") + 0.5).cast("int"))
    d.select(col("doc_id"), col("n"), col("src_w"), col("src_h"),
        col("frames"), col("out_w"), col("out_h"),
        dround(col("scale"), 6).as("scale"),
        posexplode(transform(sequence(lit(0), col("k") - 1),
          j => floor(j * col("frames") / col("k")).cast("int"))).as(Seq("j", "frame_idx")))
      .select(col("doc_id"), col("j"), col("frame_idx"),
        (col("frame_idx") * 40).as("ts_ms"),
        (col("frame_idx").cast("long") *
          floor(col("n") / col("frames")).cast("long")).as("byte_off"),
        col("src_w"), col("src_h"), col("out_w"), col("out_h"), col("scale"))
      .orderBy("doc_id", "j")
  }

  /** Benchmark decontamination: flag corpus docs sharing any word 4-gram
    * with a held-out eval set (the GPT-3/PaLM-style n-gram overlap check,
    * Brown et al. 2020 arXiv:2005.14165 App. C —
    * a training corpus must not contain eval snippets). The eval set here
    * is carved deterministically from the corpus (doc_id % 97) so the
    * fixture exercises real hits via its planted near-dup docs.
    *
    * Scale shape: gram ids are per-row array arithmetic over the shared
    * 28-bit word-hash array (same B1/B2/B3 bases as shingling — no gram
    * strings ever materialize). The eval gram set is tiny relative to the
    * corpus (eval suites are KBs, corpora are TBs), so the overlap join
    * broadcasts it: the corpus side streams map-side through a
    * BroadcastHashJoin into a two-phase count — zero doc-content shuffle,
    * the only wire traffic is per-doc partial counts.
    *
    * Collision caveat: gram ids live in a 31-bit space (mod P = 2^31-1).
    * At fixture scale distinct 4-grams ≪ 2^31 and the counts are exact in
    * practice; at the 100 TB scale this shape targets, distinct 4-grams
    * exceed 2^31, so n_shared/contam_ratio OVERCOUNT by the hash-collision
    * false-positive rate — conservative in the right direction for a
    * contamination FILTER (flags a superset), and the oracle compare is
    * unaffected (DuckDB replays the identical hash). If exact overlap
    * counts matter at scale, widen the gram id to 64-bit mixing (e.g.
    * xxhash64 over the gram's word hashes). */
  /** Core of [[llmContamination]], factored over an injectable
    * (doc_id, text) frame so adversarial probes can feed pathological
    * corpora through the REAL pipeline (same pattern as
    * [[connectedComponents]] / DedupScaleProbeSpec). `isEval` partitions
    * the frame into the held-out eval set and the scanned corpus. */
  private[graft] def contaminationOf(docs: DataFrame,
      isEval: Column => Column): DataFrame = {
    val gram4 = hashGramCol(4)
    // The persist is load-bearing, not a tuning knob: the eval and corpus
    // branches both explode `g`, and InferFiltersFromGenerate plants
    // `size(g) > 0` filters below each Generate. Without a cache barrier,
    // predicate pushdown substitutes the alias chain into those filters
    // all the way to the scan — inlining the md5 word-hash array INSIDE
    // the gram lambda, so the scan-level filter recomputes ~n_words md5s
    // per gram element (measured 174 s at sf0.1 vs <1 s cached; the
    // CollapseProject multi-reference guard does not protect filter
    // pushdown substitution). Caching (doc_id, gram-ids) is also the
    // honest 100 TB shape: 8-byte ids, reused by both branches.
    val g = reg(docs)
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), gram4.as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    g.count() // eager, same cache-race rationale as llmNgramJaccard
    val evalGrams = g.filter(isEval(col("doc_id")))
      .select(explode(col("g")).as("gm")).distinct()
    val corpus = g.filter(!isEval(col("doc_id")))
      .select(col("doc_id"), size(col("g")).as("n_grams"), explode(col("g")).as("gm"))
    corpus.join(broadcast(evalGrams), "gm")
      // per-doc gram sets are distinct, so plain count = distinct overlap
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        col("n_grams").cast("int").as("n_grams"),
        dround(col("n_shared") * lit(1.0) / col("n_grams"), 6).as("contam_ratio"))
      .orderBy("doc_id")
  }

  val llmContamination: Q = (s, dir) =>
    contaminationOf(Tables.t(s, dir, "documents").select("doc_id", "text"),
      id => id % 97 === 0)

  /** Streaming twin of [[contaminationOf]]: score STREAMING (doc_id,
    * text) docs against a STATIC eval-doc frame as they arrive — the
    * production shape when a crawler feed must be checked against a
    * fixed benchmark suite. The stream side is the stateless gram
    * projection with ONE consumer (no persist barrier is possible on a
    * stream, and none is needed: the 174 s pathology was pushdown
    * recompute across TWO explode branches of one cached frame); the
    * eval gram set is static and broadcast, so each micro-batch pays
    * one batch-side hash pass and zero shuffles on the eval side. Run
    * the returned frame in UPDATE output mode: the per-doc count is a
    * streaming aggregation, and each doc's row finalizes in the
    * micro-batch that carries it (grams never span docs). Production
    * note: ids never recur here, so state grows with the stream —
    * a real deployment ages state with a watermark on arrival time. */
  private[graft] def contaminationStream(stream: DataFrame,
      evalDocs: DataFrame): DataFrame = {
    val gram4 = hashGramCol(4)
    val evalGrams = reg(evalDocs)
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(gram4.as("g"))
      .select(explode(col("g")).as("gm")).distinct()
    stream
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), gram4.as("g"))
      .select(col("doc_id"), size(col("g")).as("n_grams"), explode(col("g")).as("gm"))
      .join(broadcast(evalGrams), "gm")
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        col("n_grams").cast("int").as("n_grams"),
        dround(col("n_shared") * lit(1.0) / col("n_grams"), 6).as("contam_ratio"))
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

  /** Intra-document repetition scoring — the Gopher-rule quality filter
    * that drops template/boilerplate docs BEFORE cross-doc dedup ever sees
    * them: duplicate-word fraction plus the mass of the single most
    * frequent word bigram. Flag threshold 0.20 follows the published
    * Gopher top-2-gram rule (Rae et al. 2021 arXiv:2112.11446, quality
    * filtering appendix). Note the ratio is trivially high for very
    * short docs (a 2-word doc's single bigram is 100% of its mass) —
    * Gopher composes this with a minimum-length gate, which lives in
    * [[llmQualityScore]]'s length terms here; this operator reports the
    * raw ratios so the downstream corpus-select can compose its own
    * thresholds.
    *
    * Scale shape: word stats are pure per-row array arithmetic over the
    * shared word-hash array (no strings, no shuffle); the bigram mode
    * needs a per-(doc, gram) count, done as explode → two-phase
    * HashAggregate — only (doc_id, gram_id) long pairs reach the wire,
    * combined map-side (same justified shape as the SimHash vote). */
  /** Core of [[llmRepetition]] over an injectable (doc_id, text) frame —
    * see [[contaminationOf]] for the probe-injection rationale. */
  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    // non-distinct: the bigram MODE needs every occurrence
    val bigram = hashGramCol(2, distinct = false)
    // Load-bearing persist — same InferFiltersFromGenerate pushdown
    // pathology as llmContamination (see the comment there): without the
    // cache barrier the explode branch's inferred size(bg) > 0 filter
    // inlines the md5 word-hash array per bigram element at the scan.
    val base = reg(docs)
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 2)
      .select(col("doc_id"), size(col("hs")).as("n_words"),
        size(array_distinct(col("hs"))).as("n_distinct"),
        bigram.as("bg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager, same cache-race rationale as llmNgramJaccard
    val topBigram = base
      .select(col("doc_id"), explode(col("bg")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_bigram_count"))
    base.join(topBigram, "doc_id")
      .select(col("doc_id"), col("n_words"),
        dround(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_words"), 6)
          .as("dup_word_frac"),
        col("top_bigram_count"),
        dround(col("top_bigram_count") * lit(1.0) / (col("n_words") - 1), 6)
          .as("top_bigram_frac"),
        (col("top_bigram_count") * lit(1.0) / (col("n_words") - 1) > 0.20)
          .as("repetitive"))
      .orderBy("doc_id")
  }

  val llmRepetition: Q = (s, dir) =>
    repetitionOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Cross-document duplicate-chunk fraction — the MassiveText/Dolma
    * "duplicate paragraph" filter (Rae et al. 2021 arXiv:2112.11446;
    * Soldaini et al. 2024 arXiv:2402.00159): per doc, the fraction of its 20-word
    * chunks that also occur in at least one OTHER doc (chunk sets are
    * per-doc distinct, so a chunk repeated only WITHIN one document is by
    * design not flagged here — that's [[llmRepetition]]'s intra-doc job).
    * Docs past 0.3 are boilerplate-heavy and get flagged
    * before training. Complements [[llmRepetition]] (intra-doc) and the
    * MinHash path (whole-doc): this catches the doc that is 40% template
    * header and 60% unique content, which whole-doc near-dedup misses.
    *
    * Scale shape: chunk hashes are per-row array arithmetic (md5 per
    * 20-word window, distinct per doc); the cross-doc count is a
    * two-phase agg on the 16-byte hash, then a hash-keyed join back —
    * only (doc_id, hash) pairs cross the wire. */
  /** Non-overlapping `w`-word chunk strings over a words-array column
    * `ws` — ONE chunking definition shared by the duplicate-chunk flag
    * ([[dupChunksOf]]) and the scrub ([[chunkScrubOf]]), so both
    * operators always agree on chunk boundaries. */
  private def chunkCol(w: Int): Column = transform(
    sequence(lit(0), floor((size(col("ws")) - 1) / w).cast("int")),
    i => array_join(slice(col("ws"), i * w + 1, lit(w)), " "))

  private[graft] def dupChunksOf(docs: DataFrame): DataFrame = {
    val chunks = transform(chunkCol(20), c => md5(c))
    // load-bearing persist — same InferFiltersFromGenerate pushdown
    // pathology as llmContamination (see the comment there)
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), array_distinct(chunks).as("ch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager, same cache-race rationale as llmNgramJaccard
    val byChunk = base.select(explode(col("ch")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
    base.select(col("doc_id"), size(col("ch")).as("n_chunks"),
        explode(col("ch")).as("h"))
      .join(byChunk, "h")
      .groupBy("doc_id", "n_chunks")
      .agg(sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        col("n_dup_chunks"),
        dround(col("n_dup_chunks") * lit(1.0) / col("n_chunks"), 6)
          .as("dup_chunk_frac"),
        (col("n_dup_chunks") * lit(1.0) / col("n_chunks") > 0.3).as("dup_heavy"))
      .orderBy("doc_id")
  }

  /** Duplicate-chunk REMOVAL — the actionable form of [[dupChunksOf]]:
    * Dolma's paragraph-level dedup (Soldaini et al. 2024
    * arXiv:2402.00159 §2.2) does not merely flag duplicated paragraphs,
    * it strips every cross-document duplicate occurrence and keeps the
    * rest of the doc. Chunks (20-word windows, position-ordered) whose
    * hash occurs in ≥ 2 DISTINCT docs are dropped from all of them;
    * the survivors reassemble in order. Intra-doc repeats stay — that
    * is [[llmRepetition]]'s axis, same split as the flag operator.
    * Output carries md5(clean_text) + counts so compared rows stay
    * small (the full text write is [[WritePaths]]' job).
    *
    * Scale shape: chunk hashes are per-row array arithmetic; the
    * cross-doc count is a two-phase agg on the 16-byte hash over
    * per-doc DISTINCT hashes; the removal re-join ships (doc_id, hash)
    * pairs; reassembly is one ObjectHashAggregate collect over
    * (position, chunk) — each group is one document, executor-sized by
    * construction. */
  private[graft] def chunkScrubOf(docs: DataFrame): DataFrame = {
    // load-bearing persist — same InferFiltersFromGenerate pushdown
    // pathology as llmContamination (see the comment there)
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), chunkCol(20).as("ch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager, same cache-race rationale as llmNgramJaccard
    val occurrences = base.select(col("doc_id"),
      posexplode(col("ch")).as(Seq("idx", "chunk")))
      .withColumn("h", md5(col("chunk")))
    val docsPerChunk = occurrences.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
    occurrences
      .join(docsPerChunk, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("n_docs") === 1,
              struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ")).as("clean_hash"))
      .orderBy("doc_id")
  }

  val llmChunkScrub: Q = (s, dir) =>
    chunkScrubOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

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
      // (the lm_kn measured case), so the cache barrier wins.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Eager materialization (concurrent consumers race the cache), doubled
    // as the precondition gate (r19 ADVICE): the documented all-one-parity
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

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010 —
    * "Automatic keyword extraction from individual documents"):
    * candidate phrases are maximal stopword-free word runs (≤ 3 words
    * here), each word scores degree/frequency over all candidate
    * occurrences, a phrase scores the sum of its member word scores —
    * the zero-training keyword baseline every corpus-exploration pass
    * starts from ([[llmTextrank]]'s graph-free sibling; collocations
    * rank PAIRS, RAKE ranks variable-length phrases).
    *
    * Scale shape: phrase candidates are a pure per-row projection
    * (stopword masking + split — no window, no join); word stats and
    * phrase frequencies are two-phase counts; the scoring join runs on
    * the word key and the final top-N is one TakeOrderedAndProject.
    *
    * Determinism: word score quantizes at 1e-9 before the exact
    * per-phrase sum; the delimiter regex uses only literal space/pipe
    * classes (RE2 == Java semantics). */
  private[graft] def rakeKeywordsOf(docs: DataFrame, topN: Int = 20): DataFrame = {
    val stops = Seq("a", "the", "of", "to", "and", "in", "is", "on",
      "for", "with", "as", "by", "an", "at", "or", "be", "this",
      "that", "it", "from")
    val stopArr = array(stops.map(lit): _*)
    val occ = docs
      .select(split(col("text"), " ").as("ws"))
      .select(explode(split(array_join(transform(col("ws"),
        w => when(array_contains(stopArr, w), lit("|")).otherwise(w)),
        " "), "[ ]*[|][ ]*")).as("phrase"))
      .filter(length(col("phrase")) > 0)
      .select(col("phrase"), split(col("phrase"), " ").as("pws"))
      .filter(size(col("pws")) <= 3)
    val wordStats = occ
      .select(explode(col("pws")).as("w"), size(col("pws")).as("plen"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val pf = occ.groupBy("phrase").agg(count(lit(1)).as("occurrences"))
    pf.select(col("phrase"), col("occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordStats, "w")
      .groupBy("phrase", "occurrences")
      .agg(count(lit(1)).as("n_words"),
        dsum(col("deg").cast("double") / col("freq"), 9).as("score_raw"))
      .select(col("phrase"), col("n_words"), col("occurrences"),
        dround(col("score_raw"), 6).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topN)
  }

  val llmRakeKeywords: Q = (s, dir) =>
    rakeKeywordsOf(Tables.t(s, dir, "documents").select("text"))

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

  val llmTopicMix: Q = (s, dir) =>
    topicMixOf(Tables.t(s, dir, "documents").select("doc_id", "source", "text"))

  /** Per-document perplexity under the corpus's own interpolated
    * bigram LM (Jelinek-Mercer smoothing, λ = 0.9 bigram / 0.1 unigram
    * — Chen & Goodman 1998's baseline): THE canonical quality filter
    * (CCNet scores every doc against a KenLM; here the model is the
    * corpus itself, so the score reads "how typical is this doc of the
    * corpus" — outliers in either direction are cleaning candidates).
    * [[lmQualityOf]] scores unigram surprise; this prices word ORDER.
    *
    * Scale shape: one bigram-explode pass (corpus-sized), two-phase
    * model counts (c12, per-w1 totals, target unigrams), then ONE
    * equi-join of doc bigrams against the model on (w1, w2) — the
    * standard distributed LM-scoring shape; per-doc aggregation is the
    * second corpus-sized pass. Docs with no bigram (< 2 words) carry
    * no probability mass and are deliberately absent (unlike
    * [[ndcgEvalOf]]'s eval contract, a doc without bigrams has no
    * defined perplexity — documented drop, not an accident).
    *
    * Determinism: each ln p term quantizes at 1e-9 before the exact
    * per-doc sum; p itself is a fixed-shape double chain over exact
    * counts. */
  private[graft] def lmPerplexityOf(docs: DataFrame): DataFrame = {
    val lg = (c: Column) => org.apache.spark.sql.functions.log(c)
    val big = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // Persist barrier: the model side (three aggs) and the scoring
      // side both consume this explode projection; the consumers'
      // shapes differ enough that exchange reuse cannot dedup them
      // (the lm_kn measured precedent).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    big.count() // eager: concurrent consumers would race the cache
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val cu = c12.groupBy("w2").agg(sum(col("c12")).as("cu"))
    val t = c12.agg(sum(col("c12")).as("bt"))
    val model = c12.join(c1, "w1").join(cu, "w2").crossJoin(broadcast(t))
      .select(col("w1"), col("w2"),
        (lit(0.9) * col("c12").cast("double") / col("c1")
          + lit(0.1) * col("cu").cast("double") / col("bt")).as("p"))
    big.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        dsum(-lg(col("p")), 9).as("h_raw"))
      .select(col("doc_id"), col("n_bigrams"),
        dround(col("h_raw") / col("n_bigrams"), 6).as("cross_entropy"),
        dround(exp(col("h_raw") / col("n_bigrams")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  val llmLmPerplexity: Q = (s, dir) =>
    lmPerplexityOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Jensen-Shannon divergence between two corpus slices' word
    * distributions (Lin IEEE-IT 1991) — the TEXT twin of the numeric
    * drift monitors ([[Text]]'s psi/ks watch feature columns; JS
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

  val llmDupChunks: Q = (s, dir) =>
    dupChunksOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** Content-defined chunking (CDC — the Rabin/Gear rolling-hash
    * boundary idea behind storage dedup and shift-robust corpus
    * chunking): a chunk boundary falls AFTER word p wherever the
    * rolling 3-gram hash ending at p ≡ 0 (mod 16) — so an insertion
    * early in a doc re-aligns at the next content-defined boundary,
    * where [[dupChunksOf]]'s FIXED 20-word windows shift every
    * downstream chunk and miss the duplication. Same [[hashGramCol]]
    * B1/B2/B3·mod-P gram arithmetic (one definition, every consumer),
    * expected chunk length 16 words; emits per-doc chunk stats + the
    * cross-doc duplicate-chunk fraction on the CDC boundaries.
    *
    * Scale shape: flags are per-row array arithmetic; the chunk-index
    * running sum is a DOC-partitioned window (bounded by the longest
    * doc, never global); reassembly is one ObjectHashAggregate collect
    * per (doc, chunk) — executor-sized groups by construction; the
    * cross-doc count is a two-phase agg on the 16-byte chunk hash. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    // load-bearing persist — the explode sits above the md5 word-hash
    // projection (the InferFiltersFromGenerate pathology; see
    // llmContamination)
    // r22: the per-word md5 HOF and the rolling-hash flag HOF (the
    // r21-verdict lead item — 6 interpreted lambdas in the after-plan)
    // became the native kernels; original formulations and bit-identity
    // arguments at [[graft.functions.TextHashOps.wordHashes]] /
    // [[graft.functions.TextHashOps.cdcFlags]] (D = CDC_D = 16, same
    // b1/b2/b3/P), pinned by TextHashExpressionsSpec
    val base = reg(docs)
      .filter(size(split(col("text"), " ")) >= 1)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("hs", call_function("word_hashes", col("ws")))
      .withColumn("fl", call_function("cdc_flags", col("hs")))
      .select(col("doc_id"), col("ws"), col("fl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count() // eager, same cache-race rationale as llmNgramJaccard
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val chunks = base
      .select(col("doc_id"), posexplode(arrays_zip(col("ws"), col("fl"))))
      .select(col("doc_id"), col("pos"),
        col("col.ws").as("w"), col("col.fl").as("fl"))
      // boundary word CLOSES its chunk: index = boundaries strictly before
      .withColumn("chunk_idx", coalesce(sum("fl").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy("doc_id", "chunk_idx")
      .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("pw"))
      .select(col("doc_id"), col("chunk_idx"),
        md5(concat_ws(" ",
          transform(col("pw"), x => x.getField("w")))).as("h"),
        size(col("pw")).cast("long").as("cw"))
      // second barrier (plan audit): byChunk's DISTINCT rewrites the
      // pre-exchange subtree, so AQE stage reuse can't dedup it and the
      // unbarriered plan ran the explode+window+collect chain TWICE
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunks.count() // eager: two consumers would race the cache
    val byChunk = chunks.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
    chunks.join(byChunk, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("cw").as("n_words"),
        dround(sum("cw").cast("double") / count(lit(1)), 4)
          .as("avg_chunk_words"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        dround(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  val llmCdcChunks: Q = (s, dir) =>
    // fanOut: base's per-word md5 + rolling-hash flag transforms are
    // HOF-interpreted and built single-task on a single-split scan.
    cdcChunksOf(fanOut(Tables.t(s, dir, "documents")).select("doc_id", "text"))
      .orderBy("doc_id")

  /** Cross-document repeated-span REMOVAL with text reconstruction —
    * the surgical counterpart of [[dupChunksOf]]'s per-doc dup
    * FRACTION: where dup_chunks scores docs for wholesale dropping,
    * this operator cuts the repeated material out and keeps the rest,
    * the Lee et al. (arXiv:2107.06499 §4, ExactSubstr) finding that
    * span-level removal beats document-level dropping on mixed
    * boilerplate. Granularity is NON-OVERLAPPING `chunkWords`-word
    * chunks (the MapReduce-able approximation of the paper's
    * suffix-array substrings — C4 does the same at three-sentence
    * spans): a chunk occurring anywhere else in the corpus survives
    * only at its GLOBAL FIRST occurrence (min packed (doc_id, idx)
    * key — "keep one copy", not "drop all", so the corpus never loses
    * content entirely), and every doc's clean_text reassembles its
    * kept chunks in order.
    *
    * Scale shape: one token-stream chunk pass; chunk stats are a
    * two-phase count+min agg keyed on the 16-byte chunk hash (never
    * the chunk text); the keep decision joins back on the SAME hash
    * key (co-partitioned with the stats exchange); reconstruction is a
    * per-doc sort_array(collect_list) bounded by document size. The
    * packed first-occurrence key is doc_id·10⁶ + idx — valid while
    * docs stay under 10⁶ chunks (a 100k-word doc has 2·10⁴; the bound
    * is asserted nowhere because the fixture maximum is 3 orders of
    * magnitude under it, but a production caller with longer docs
    * widens the multiplier). */
  private[graft] def spanDedupOf(docs: DataFrame,
      chunkWords: Int = 5): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), (size(col("ws")) + chunkWords - 1)
          .divide(chunkWords).cast("int") - 1),
        j => array_join(slice(col("ws"), j * chunkWords + 1, lit(chunkWords)), " ")))
        .as(Seq("j", "chunk")))
      .select(col("doc_id"), col("j"), col("chunk"),
        md5(col("chunk")).as("h"),
        (col("doc_id") * lit(1000000L) + col("j")).as("pk"))
    val stats = chunks.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(col("pk")).as("firstk"))
    chunks.join(stats, "h")
      .select(col("doc_id"), col("j"), col("chunk"),
        (col("pk") === col("firstk")).as("keep"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("keep").cast("long")).as("kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("keep"), struct(col("j"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
      .select(col("doc_id"), col("n_chunks"), col("kept"),
        (col("n_chunks") - col("kept")).as("removed"), col("clean_text"))
      .orderBy("doc_id")
  }

  val llmSpanDedup: Q = (s, dir) =>
    spanDedupOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

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

  val llmCorpusPipeline: Q = (s, dir) =>
    hygieneBase(Tables.t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"),
        dround(qualityCol(split(col("text"), " ")), 6).as("quality"))
      .filter(col("quality") >= 0.5 && col("lang").isin("en", "de"))
      .orderBy("doc_id")

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
    hygieneBase(d)
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(lmKeep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"),
        dround(qualityCol(split(col("text"), " ")), 6).as("quality"))
      .filter(col("quality") >= 0.5 && col("lang").isin("en", "de"))
      .orderBy("doc_id")
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
    val hashed = hashedWordsOf(d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.count() // eager: candidates + grams consume it concurrently
    // r22: project `sh` OUT before the persist — the candidate join's three consumers
    // consume only (doc_id, mh*) band columns, and the shingle array is
    // the cache's fattest column (it scales with doc length where the 12
    // mh longs are fixed); caching it inflated the materialization job
    // and every single-task consumer scan of the 1-partition cache
    val sets = signaturesFromHashed(hashed).drop("sh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    val embedded = ngramContainmentFromHashed(hashed, minhashCandidates(sets))
      .filter(col("embedded"))
      .select(when(col("cont_a") >= col("cont_b"), col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
    hygieneBase(d)
      .join(gopherKeep, Seq("doc_id"), "left_semi")
      .join(lmKeep, Seq("doc_id"), "left_semi")
      .join(pplKeep, Seq("doc_id"), "left_semi")
      .join(broadcast(codeOkSrc), Seq("source"), "left_semi")
      .join(broadcast(topicOkSrc), Seq("source"), "left_semi")
      .join(embedded, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        dround(qualityCol(split(col("text"), " ")), 6).as("quality"))
      .filter(col("quality") >= 0.5 && col("lang").isin("en", "de"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------ r13b corpus curation

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 §4): over the POSITIONAL 3-word hash-gram sequence, slide a
    * window of [[winnowW]] consecutive gram hashes and select each
    * window's minimum; the distinct selected values are the document's
    * fingerprint set. The winnowing guarantee: any shared substring of
    * ≥ w+k-1 words produces at least one shared fingerprint, at expected
    * density 2/(w+1) — the robust substring-fingerprint alternative to
    * [[llmFingerprint]]'s single whole-doc rolling hash.
    *
    * Scale shape: pure per-row array arithmetic over the shared word-hash
    * projection — no explode, no shuffle, one bounded output row per doc.
    * The fingerprint→doc inverted index this feeds at 100 TB is a groupBy
    * over ~2/(w+1) of the gram stream; selection cuts index write volume
    * 2.5× at w=4 versus indexing every gram. */
  private val winnowW = 4

  private[graft] def winnowOf(docs: DataFrame): DataFrame =
    reg(docs)
      // length gate on the SPLIT, not the hash array: size(hs) would push
      // the whole md5 word-hash transform into the scan filter and pay
      // the hash pass twice per row (size(split) ≡ size(hs) — the
      // transform is length-preserving)
      .filter(size(split(col("text"), " ")) >= lit(winnowW + 2))
      .select(col("doc_id"), wordHashCol.as("hs"))
      .select(col("doc_id"), hashGramCol(3, distinct = false).as("g"))
      // r22: the interpreted min-slide HOF `transform(sequence(0,
      // size(g)-W), i => array_min(slice(g, i+1, W)))` became the native
      // kernel (original formulation and bit-identity argument at
      // [[graft.functions.TextHashOps.slidingMin]]; pinned by
      // TextHashExpressionsSpec) — no per-position slice allocation
      .select(col("doc_id"), array_distinct(
        call_function("sliding_min", col("g"), lit(winnowW))).as("fps"))
      // r22: `aggregate(fps, 0L, (a, x) => a + x)` → native exact fold
      // ([[graft.functions.TextHashOps.longArraySum]])
      .select(col("doc_id"),
        size(col("fps")).cast("int").as("n_fp"),
        call_function("long_array_sum", col("fps")).as("fp_sum"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))

  val llmWinnow: Q = (s, dir) =>
    // fanOut at the REGISTERED query only — winnowOf's core stays
    // shuffle-free (PlanSpec pins it); the per-position min-slide HOFs
    // ran single-task on a single-split scan (r21 profile).
    winnowOf(fanOut(Tables.t(s, dir, "documents")).select("doc_id", "text"))
      .orderBy("doc_id")

  /** Exact duplicated-substring detection over word-level suffix
    * equivalence classes — training-data hygiene the way Lee et al.
    * (ACL 2022, arXiv:2107.06499) use corpus suffix arrays to find
    * verbatim repeated spans. The hashed-chunk family ([[spanDedupOf]],
    * [[llmDupChunks]]) sees duplication only at FIXED aligned chunk
    * boundaries and only modulo hash collisions; suffix classes see it
    * at EVERY word position, collision-free: two positions share a
    * depth-d class iff their d-word prefixes are literally equal.
    *
    * Shape: a SINGLE pass over per-doc word arrays — `split(text)` IS
    * the positional array, so no token explode, no position join, no
    * re-docking groupBy ever runs. Every (position, depth) pair emits
    * its literal d-word slice (space-joined — words come from a
    * split-on-space, so the separator can never occur inside a word and
    * key equality is exactly d-gram equality, no hash anywhere) as the
    * grouping key; positions with p+d-1 > doc_len emit nothing (their
    * d-gram doesn't exist), and keys never cross document boundaries by
    * construction.
    *
    * 100 TB design: NO global sort, NO zipWithIndex, NO one-partition
    * window, NO iterative rounds — the whole operator is THREE
    * shuffles: the two-phase (d, key, doc) count, a PARTITIONED window
    * over (d, key) for the class total (no join-back), and the per-doc
    * rollup. Shuffle width is bounded by the depth cap (≤ 16 words —
    * Lee et al. cut at 50 BPE tokens; the fixture-scale policy bound is
    * 16). Two classical alternatives were measured (7-repeat sf0.1
    * micros) and rejected for the capped-depth contract: O(log d)
    * PREFIX DOUBLING (Manber & Myers 1993 / Larsson & Sadakane 1999) —
    * log-many barriered shuffle rounds each needing a persist+count,
    * 15.7 s for identical rows — and min-position ALPHABET COMPRESSION
    * before slicing (the SA rank-reduction step: vocab groupBy + token
    * join + per-doc re-collect buys 8-byte ids over word text), whose
    * three extra token-stream shuffles measured within box-weather
    * noise of this shape (2.8–4.4 s band across load windows) — not
    * worth the moving parts at gram widths this bounded, though it IS
    * the right trade when tokens are long (URLs) or depth is unbounded,
    * where doubling also becomes the right tool. Notes kept so later
    * rounds don't re-try them. */
  private val sfxDepths = Seq(1, 2, 4, 8, 16)

  private[graft] def suffixDupOf(docs: DataFrame): DataFrame = {
    // every (depth, position) emits its literal d-word slice as the key
    // r22: the interpreted slice-key HOF `transform(sequence(1,
    // size(ws)-d+1), p => array_join(slice(ws, p, d), " "))` became the
    // native kernel (original formulation at
    // [[graft.functions.TextHashOps.sliceJoinGrams]]; pinned by
    // TextHashExpressionsSpec) — one allocation per gram instead of a
    // slice array + interpreted join per position. The `when(size >= d,
    // ...).otherwise(array())` guard folds in: the kernel yields empty
    // below d.
    val keyed = reg(docs)
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        explode(array(sfxDepths.map(lit): _*)).as("d"))
      .select(col("doc_id"), col("d"),
        explode(call_function("slice_join_grams", col("ws"), col("d")))
          .as("key"))
    // A position is duplicated at depth d iff its key occurs >= 2 times
    // corpus-wide: two-phase (d, key, doc) count, then duplicated keys
    // join back as an equi-join on (d, key) — NOT a window partitioned
    // on (d, key): a hot gram ("the" at d=1) puts its whole corpus-wide
    // doc set in ONE WindowExec partition with no remedy, while the
    // equi-join's hot partitions AQE skew-splits. The pre-agg feeds both
    // the dup-key rollup and the join's left side; its subtree ends in
    // an exchange, so AQE stage reuse dedups it (no persist — the r15
    // BM25 rule: never cache a multi-consumed subtree that ends in an
    // exchange).
    val perDocClass = keyed.groupBy("d", "key", "doc_id")
      .agg(count(lit(1)).as("c"))
    val dupKeys = perDocClass.groupBy("d", "key")
      .agg(sum(col("c")).as("n")).filter(col("n") >= 2).select("d", "key")
    val agg = perDocClass.join(dupKeys, Seq("d", "key"))
      .groupBy("doc_id").agg(
        max(col("d")).as("max_dup_depth"),
        sum(when(col("d") === 8, col("c")).otherwise(0L)).as("n_dup8"),
        sum(when(col("d") === 16, col("c")).otherwise(0L)).as("n_dup16"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_pos"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"),
        coalesce(col("max_dup_depth"), lit(0)).cast("int").as("max_dup_depth"),
        coalesce(col("n_dup8"), lit(0L)).as("n_dup8"),
        coalesce(col("n_dup16"), lit(0L)).as("n_dup16"))
      .orderBy("doc_id")
  }

  val llmSuffixDedup: Q = (s, dir) =>
    // fanOut: the (depth × position) slice-key build is the most
    // CPU-expensive per-row derivation in the repo (~30 MB of gram keys
    // from a ~3 MB scan); on a small input it planned single-task —
    // 2 × 3.2–3.6 s serialized (profiled r21). See fanOut's scaladoc.
    suffixDupOf(fanOut(Tables.t(s, dir, "documents"))
      .select("doc_id", "text"))

  /** The dedup ACTION on [[suffixDupOf]]'s signal: remove every
    * NON-FIRST occurrence of a duplicated `spanW`-word span and
    * reconstruct the surviving text — Lee et al. (ACL 2022,
    * arXiv:2107.06499) §4's exact-substring removal policy (cut the
    * repeated span, keep one global occurrence), at EVERY word position
    * where [[spanDedupOf]] only cuts at aligned chunk boundaries. A
    * word survives unless it is covered by some removable span start;
    * overlapping removable spans union naturally through the covered
    * set, so a long verbatim block collapses to exactly its first
    * occurrence plus at most spanW-1 boundary words.
    *
    * Scale shape: one gram pass (per-row slice arithmetic, no token
    * explode), a two-phase (cnt, min-position-key) groupBy over grams,
    * the removable join on the gram key (hot boilerplate grams are
    * AQE-skew-splittable), a bounded per-doc covered-set collect
    * (≤ doc_len ints), and a per-row array rebuild — no global sort,
    * no driver state. First-occurrence choice is the deterministic
    * lexicographic min over (doc_id, pos) STRUCTS — no arithmetic
    * packing, so no magnitude assumption on either field (a packed
    * `doc_id*1e6+pos` key would silently collide once a document
    * exceeds 1M words; struct comparison is exact at any size). */
  private[graft] def suffixScrubOf(docs: DataFrame, spanW: Int = 8): DataFrame = {
    val wsDocs = reg(docs).select(col("doc_id"), split(col("text"), " ").as("ws"))
    // r22: same slice-key HOF → native kernel swap as [[suffixDupOf]]
    // (see [[graft.functions.TextHashOps.sliceJoinGrams]])
    val grams = wsDocs
      .filter(size(col("ws")) >= spanW)
      .select(col("doc_id"), posexplode(
          call_function("slice_join_grams", col("ws"), lit(spanW)))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("g"))
      // Persist barrier over the gram projection: both the stats agg and
      // the removable-join probe side consume it, and the two subtrees
      // are NOT canonically identical up to an exchange (probe side has
      // no pre-join exchange under broadcast; under SMJ the stats side
      // inserts a partial agg first), so AQE stage reuse can never dedup
      // the slice-and-join string materialization — without the barrier
      // the gram pass runs twice. A/B (7-repeat sf0.1 micros, 2 runs
      // each): persisted [0.971, 0.888, —] / [1.181, 1.100, —] vs
      // recompute [1.884, 1.724, —] / [1.764, …]. Eager count() per the
      // multi-consumer race rule.
      .persist()
    grams.count()
    val stats = grams.groupBy("g")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("p"))).as("firstocc"))
    val removable = grams.join(stats, "g")
      .filter(col("cnt") >= 2 &&
        struct(col("doc_id"), col("p")) =!= col("firstocc"))
      .select(col("doc_id"), col("p"))
    val covered = removable
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + spanW - 1)).as("q"))
      .groupBy("doc_id").agg(collect_set(col("q")).as("cov"))
    wsDocs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        array_join(transform(
          filter(sequence(lit(1), size(col("ws"))),
            i => col("cov").isNull || !array_contains(col("cov"), i)),
          i => element_at(col("ws"), i.cast("int"))), " ").as("clean_text"))
      .orderBy("doc_id")
  }

  val llmSuffixScrub: Q = (s, dir) =>
    // NO fanOut (A/B'd r21, same window): unlike the dedup twin (-22%),
    // fanning out read 3.56/2.72 vs 1.46/1.36 [med/min] — HERE the gram
    // pass lands in a persist whose cache already bounds the recompute,
    // and the extra exchange + 32-partition cache consumers (covered
    // collect_set, wsDocs re-join) cost 2.4× what the parallel build
    // saved.
    suffixScrubOf(Tables.t(s, dir, "documents").select("doc_id", "text"))

  /** BPE merge-candidate counting (Sennrich/Haddow/Birch, ACL 2016 §3.2 —
    * the first merge iteration a byte-pair-encoding tokenizer trainer
    * runs): corpus word frequencies, then adjacent character-pair counts
    * weighted by word frequency; the top pairs (count desc, pair asc on
    * ties) are the head of the merge table.
    *
    * Scale shape: the pair explode runs over DISTINCT words (vocab-sized,
    * Heaps'-law sublinear in corpus bytes), never the token stream — the
    * only corpus-sized stage is the word-count groupBy with map-side
    * partial aggregation; everything downstream is vocabulary-sized.
    * Top-k lands in TakeOrderedAndProject (no global sort materializes). */
  private[graft] def bpeMergesOf(docs: DataFrame, topK: Int = 20): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)

  val llmBpeMerges: Q = (s, dir) =>
    bpeMergesOf(Tables.t(s, dir, "documents").select("text"))

  /** Pair-key separator inside a candidate ("a\u0003b") — distinguishes
    * the (sym_a, sym_b) boundary once symbols grow past one char. Same
    * printable-text contract as the \u0001/\u0002 sentinels. */
  private val bpeSep = "\u0003"

  /** symbol list of a sentinel-wrapped form ("\u0001a\u0002\u0001b\u0002"
    * → [a, b]). */
  private def bpeSyms(s: Column): Column =
    split(ltrim(rtrim(s, bpeClose), bpeOpen), s"$bpeClose$bpeOpen")

  /** ITERATIVE BPE training — Sennrich §3.2's actual loop, not just its
    * first iteration ([[bpeMergesOf]] keeps that single-pass statistic):
    * count adjacent SYMBOL pairs over the frequency-weighted vocabulary,
    * merge the argmax pair everywhere, recount — so merged symbols
    * become candidates and later steps learn ≥3-char symbols ("th" + "e"
    * → "the"), which a single char-pair pass never can. Each step's
    * argmax is ONE collected row (cnt desc, pair asc tie-break —
    * TakeOrderedAndProject, deterministic); the merge applies as the
    * sentinel-literal replace [[bpeEncodeOf]] uses, so the training
    * states and the apply step share one exact semantics.
    *
    * Scale shape: the corpus-sized work is the word-count groupBy, paid
    * once into a persisted vocab (Heaps'-law sublinear); each of the
    * `steps` iterations is one vocab-sized job (pair explode + two-phase
    * agg + top-1) and one 1-row driver collect — the merge table IS the
    * model artifact, built steps rows at a time, exactly how a
    * production tokenizer trainer checkpoints. Returns (step, sym_a,
    * sym_b, cnt). */
  private[graft] def bpeTrainOf(docs: DataFrame, steps: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val vocab = reg(docs).select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        regexp_replace(col("w"), "(.)", s"$bpeOpen$$1$bpeClose").as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    vocab.count() // eager: every iteration's job re-reads this base
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var cur = vocab
    var step = 1
    var dry = false
    while (step <= steps && !dry) {
      // r22: the adjacent-pair HOF `transform(sequence(1, size-1), i =>
      // concat(syms[i], SEP, syms[i+1]))` is slice_join_grams(syms, 2,
      // SEP) exactly — the native kernel with the pair sentinel as the
      // join separator (the size>=2 guard folds in: empty below d); see
      // [[graft.functions.TextHashOps.sliceJoinGrams]], pinned by
      // TextHashExpressionsSpec's custom-separator case
      val top = cur
        .select(col("wc"), bpeSyms(col("s")).as("syms"))
        .select(col("wc"), explode(call_function("slice_join_grams",
          col("syms"), lit(2), lit(bpeSep))).as("pr"))
        .groupBy("pr").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr").asc)
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val pr = top(0).getAs[String]("pr")
        val cnt = top(0).getAs[Long]("cnt")
        val Array(a, b) = pr.split(bpeSep)
        merges += ((step, a, b, cnt))
        cur = cur.withColumn("s", replace(col("s"),
          lit(s"$bpeOpen$a$bpeClose$bpeOpen$b$bpeClose"),
          lit(s"$bpeOpen$a$b$bpeClose")))
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "sym_a", "sym_b", "cnt")
  }

  val llmBpeTrain: Q = (s, dir) =>
    bpeTrainOf(Tables.t(s, dir, "documents").select("text")).orderBy("step")

  /** BPE APPLY — encode the corpus vocabulary through the learned merge
    * table (Sennrich §3.2's apply step): each symbol is wrapped in
    * \u0001…\u0002 sentinels, so the merge of pair (a, b) is the
    * LITERAL replace of "\u0001a\u0002\u0001b\u0002" with
    * "\u0001ab\u0002" — the sentinels make whole-symbol matching exact
    * (pair "a b" can never match inside a previously merged "aa b"),
    * and because a replacement ends at a symbol boundary, left-to-right
    * non-overlapping replace chains adjacent repeats ("a a a a" →
    * "aa aa") exactly like the canonical one-pass merge. Replaying the
    * learned merges in TRAINING order, one pass each, is precisely the
    * canonical BPE apply (Sennrich §3.2) — training applied them to the
    * vocabulary in that same order, so the states agree step for step.
    * (Contract: input words must not contain the sentinel code points —
    * true of any text that has been through [[llmPiiScrub]]-style
    * printable normalization.)
    *
    * The merge table ([[bpeTrainOf]]'s iterative loop — merged symbols
    * become candidates, so entries can carry ≥3-char symbols) is
    * COLLECTED to the driver (10 rows — the trained tokenizer model
    * artifact; same metadata-sized train/apply boundary as
    * [[graft.queries.Maintenance]]'s touched-partition collect) and
    * folded into the plan as 10 chained literal replaces, so encoding
    * itself is a pure per-row projection.
    *
    * Scale shape: encoding runs over DISTINCT words (vocab-sized,
    * Heaps'-law sublinear — the encode table is the artifact a
    * tokenizer service ships), never the token stream; training costs
    * [[bpeTrainOf]]'s per-step vocab jobs. The oracle replays the
    * unrolled training CTEs and folds the same literal replaces. */
  private val bpeOpen = "\u0001"
  private val bpeClose = "\u0002"

  private[graft] def bpeEncodeOf(docs: DataFrame, topK: Int = 10): DataFrame = {
    val merges = bpeTrainOf(docs, topK).orderBy("step").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
    val start = regexp_replace(col("w"), "(.)", s"$bpeOpen$$1$bpeClose")
    val folded = merges.foldLeft(start) { case (c, (a, b)) =>
      replace(c,
        lit(s"$bpeOpen$a$bpeClose$bpeOpen$b$bpeClose"),
        lit(s"$bpeOpen$a$b$bpeClose"))
    }
    val encoded = ltrim(rtrim(replace(folded, lit(s"$bpeClose$bpeOpen"), lit(" ")),
      bpeClose), bpeOpen)
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1).distinct()
      .select(col("w"), encoded.as("encoded"))
      .select(col("w"), col("encoded"),
        size(split(col("encoded"), " ")).as("n_syms"))
  }

  val llmBpeEncode: Q = (s, dir) =>
    bpeEncodeOf(Tables.t(s, dir, "documents").select("text")).orderBy("w")

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

  /** Fuzzy benchmark decontamination — [[llmContamination]]'s exact
    * 4-gram overlap misses paraphrased or partially-edited eval leakage;
    * this is the near-dup variant (Llama/PaLM-style): corpus docs LSH-
    * bucket against the eval set's minhash signatures, and candidate
    * pairs verify by exact shingle Jaccard ≥ 0.3 (looser than the dedup
    * 0.5 — a contamination review prefers recall; flagged docs get human
    * or exact-substring follow-up).
    *
    * Scale shape: identical to [[minhashDupPairs]] except the bucket join
    * is corpus×eval instead of a self-join — eval suites are KB-sized, so
    * the eval bucket table and eval shingle sets broadcast and the corpus
    * side streams map-side through both joins; only candidate ids are
    * shuffled to re-fetch corpus shingle sets. */
  private[graft] def fuzzyContaminationOf(docs: DataFrame,
      isEval: Column => Column): DataFrame = {
    val sets = signaturesOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count() // eager, same cache-race rationale as llmMinhashLsh
    val buckets = capBuckets(bucketsOf(sets), maxBucket)
    val cand = buckets.filter(!isEval(col("doc_id"))).alias("c")
      .join(broadcast(buckets.filter(isEval(col("doc_id"))).alias("e")),
        Seq("band", "sig"))
      .select(col("c.doc_id").as("doc_id"), col("e.doc_id").as("eval_id"))
      .distinct()
    val sh = sets.select(col("doc_id"), col("sh"))
    cand
      .join(sh.select(col("doc_id"), col("sh").as("sh_c")), "doc_id")
      .join(broadcast(sh.filter(isEval(col("doc_id")))
        .select(col("doc_id").as("eval_id"), col("sh").as("sh_e"))), "eval_id")
      .withColumn("ni", size(array_intersect(col("sh_c"), col("sh_e"))))
      .select(col("doc_id"), col("eval_id"),
        (col("ni") * lit(1.0) /
          (size(col("sh_c")) + size(col("sh_e")) - col("ni"))).as("jac"))
      .filter(col("jac") >= 0.3)
      .select(col("doc_id"), col("eval_id"), dround(col("jac"), 6).as("jaccard"))
  }

  /** Registered split: `% 7` (denser than [[llmContamination]]'s `% 97`) —
    * the planted fixture near-dup pairs must cross the corpus/eval cut for
    * the oracle to exercise the verify arithmetic at the driver's sf0.01
    * gate (at `% 97` no fixture candidate pair crosses and the compare is
    * vacuously empty; measured: `% 7` → 9 verified hits at sf0.01). */
  val llmContaminationFuzzy: Q = (s, dir) =>
    fuzzyContaminationOf(
      Tables.t(s, dir, "documents").select("doc_id", "text"),
      id => id % 7 === 0)
      .orderBy("doc_id", "eval_id")

  // ---------------------------------------------------------------- oracle

  /** DuckDB twin of `wordHashRows`→`shingleIdRows`: 28-bit md5 word
    * hashes combined with the same B1/B2/B3 · mod-P arithmetic. */
  /** `nw` duplicates len(hs) from the CHEAP precursor (split only, no
    * md5): length guards must filter on nw, never len(hs) — a predicate
    * referencing hs alias-substitutes the md5 word-hash chain into the
    * scan's DataFilters when the text runs as the Spark surface entry
    * (the r10 pathology site; PlanSpec's SQL-surface sweep pins md5 out
    * of every FileScan line). list_transform preserves length, so the
    * two spellings are row-identical. */
  private val wordHashSql =
    """SELECT doc_id, lang,
      |  list_transform(string_split(text, ' '),
      |    w -> ('0x' || substr(md5(w), 1, 7))::BIGINT) AS hs,
      |  len(string_split(text, ' ')) AS nw
      |FROM documents""".stripMargin

  /** DuckDB twin of [[hashGramCol]] — same coefficients, same mod-P. */
  private def hashGramSql(width: Int, distinct: Boolean = true): String = {
    val coefs = Seq(s"*$b1", s"*$b2", s"*$b3", "")
    val terms = (0 until width).map(j => s"hs[i+${j + 1}]${coefs(j)}").mkString(" + ")
    val grams = s"list_transform(range(len(hs)-${width - 1}), i -> ($terms) % $P)"
    if (distinct) s"list_distinct($grams)" else grams
  }

  private val shingleSql =
    s"""SELECT doc_id, ${hashGramSql(3)} AS sh
       |FROM ($wordHashSql) t
       |WHERE nw >= 3""".stripMargin

  /** CTE block ending in `buckets(doc_id, sh, band, sig)` — the capped LSH
    * bucket table; `cap` mirrors the Spark-side [[capBuckets]] threshold. */
  private def bucketCtes(cap: Int): String = {
    val mhCols = seeds.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(sh, h -> ($a*h + $b) % $P)) AS mh$i"
    }.mkString(",\n")
    val bandRows = (0 until bands).map { j =>
      val sig = (0 until rowsPerBand).map(r => s"mh${j * rowsPerBand + r}").mkString(" || '_' || ")
      s"SELECT doc_id, sh, $j AS band, $sig AS sig FROM mh"
    }.mkString("\nUNION ALL\n")
    s"""sh AS ($shingleSql),
       |mh AS (SELECT doc_id, sh, $mhCols FROM sh),
       |buckets0 AS ($bandRows),
       |hot AS (SELECT band, sig FROM buckets0
       |        GROUP BY band, sig HAVING COUNT(*) > $cap),
       |buckets AS (SELECT * FROM buckets0 b WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h WHERE h.band = b.band AND h.sig = b.sig))""".stripMargin
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, jac)` — shared by the
    * minhash pair oracle and the connected-components oracle. */
  private val minhashPairsCtes: String = {
    s"""${bucketCtes(maxBucket)},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
       |    (len(a.sh) + len(b.sh)
       |     - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jac
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  private val minhashSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, ${oRound("jac", 6)} AS jaccard
       |FROM pairs WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components replayed in DuckDB: transitive closure by
    * recursive walk (fixture-scale edge lists only — the Spark side uses
    * logarithmic large-star/small-star contraction instead), min
    * reachable id = the
    * cluster label. */
  private val dedupCcSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |dup AS (SELECT doc_a, doc_b FROM pairs WHERE jac >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
       |          UNION SELECT doc_b, doc_a FROM dup),
       |walk AS (
       |  SELECT doc_id AS node, doc_id AS reach FROM documents
       |  UNION
       |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
       |SELECT node AS doc_id, MIN(reach) AS cluster_id
       |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin

  /** CTE block yielding `sim(doc_id, simhash)` — DuckDB twin of simhashDf. */
  private def simhashCoreSql(bits: Int): String = {
    val votes = (0 until bits).map(i => s"SUM(((h >> $i) & 1) * 2 - 1) AS s$i").mkString(",\n")
    val combine = (0 until bits).map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""wh AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 7))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t),
       |v AS (SELECT doc_id, $votes FROM wh GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  private val dedupIncrementalSql: String = {
    val mhCols = seeds.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(sh, h -> ($a*h + $b) % $P)) AS mh$i"
    }.mkString(",\n")
    val bandRows = (0 until bands).map { j =>
      val sig = (0 until rowsPerBand).map(r => s"mh${j * rowsPerBand + r}").mkString(" || '_' || ")
      s"SELECT doc_id, sh, $j AS band, $sig AS sig FROM mh"
    }.mkString("\nUNION ALL\n")
    val jac = "len(list_filter(a.sh, x -> list_contains(b.sh, x)))"
    s"""WITH sh AS ($shingleSql),
       |mh AS (SELECT doc_id, sh, $mhCols FROM sh),
       |buckets AS ($bandRows),
       |corpus_h AS (SELECT sha256(text) AS h FROM documents WHERE doc_id < 250),
       |exact_surv AS (
       |  SELECT d.doc_id FROM
       |    (SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id >= 250) d
       |  WHERE d.h NOT IN (SELECT h FROM corpus_h)),
       |near AS (
       |  SELECT DISTINCT n.doc_id
       |  FROM buckets n JOIN buckets c
       |    ON n.band = c.band AND n.sig = c.sig
       |   AND n.doc_id >= 250 AND c.doc_id < 250
       |  JOIN sh a ON a.doc_id = n.doc_id
       |  JOIN sh b ON b.doc_id = c.doc_id
       |  WHERE $jac * 1.0 / (len(a.sh) + len(b.sh) - $jac) >= 0.5)
       |SELECT doc_id FROM exact_surv
       |WHERE doc_id NOT IN (SELECT doc_id FROM near)
       |ORDER BY doc_id""".stripMargin
  }

  private val simhashSql: String =
    s"WITH ${simhashCoreSql(16)}\nSELECT doc_id, simhash FROM sim ORDER BY doc_id"

  private val simhashNeardupSql: String =
    s"""WITH ${simhashCoreSql(24)},
       |buckets0 AS (
       |  SELECT doc_id, simhash, b.band, (simhash >> (12*b.band)) & 4095 AS sig
       |  FROM sim, (SELECT unnest(range(2)) AS band) b),
       |hot AS (SELECT band, sig FROM buckets0
       |        GROUP BY band, sig HAVING COUNT(*) > $maxBucket),
       |buckets AS (SELECT * FROM buckets0 b WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h WHERE h.band = b.band AND h.sig = b.sig)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of `lshCandidatePairs`: same integer-arithmetic planes,
    * same per-table sign-pattern buckets (plane index = table·8 + plane,
    * bucket id = table·256 + bits), same cross-table DISTINCT, same
    * rounded-then-thresholded cosines. */
  private val lshPairsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sig0 AS (
      |  SELECT vec_id, v, unnest(list_transform(range(0,$lshTables), t ->
      |    CAST(t*256 + list_sum(list_transform(range(0,8), p ->
      |      CASE WHEN list_inner_product(v, list_transform(range(0,64),
      |        d -> (((t*8+p)*73856093 + d*19349663) % 2000)/1000.0 - 1.0)) > 0
      |      THEN 1<<p ELSE 0 END)) AS INT))) AS bucket
      |  FROM e),
      |hot AS (SELECT bucket FROM sig0 GROUP BY bucket HAVING COUNT(*) > $maxBucket),
      |sig AS (SELECT * FROM sig0 s WHERE NOT EXISTS (
      |  SELECT 1 FROM hot h WHERE h.bucket = s.bucket)),
      |pairs0 AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
      |    CAST(FLOOR((list_inner_product(a.v, b.v) /
      |      (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))))*1000000.0+0.5) AS DOUBLE)/1000000.0 AS cos
      |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |pairs AS (SELECT * FROM pairs0 WHERE cos > 0.3)""".stripMargin

  /** DuckDB twin of `llmAnnIvf`/`llmAnnIvfInt8`: same fixed-k md5-sample
    * coarse quantizer (`ivfSeeds`), same quantized-csim + seed-rank
    * argmax key (`cellKey`), nprobe=2 probe ranking, and rounded top-5
    * scan — all deterministic arithmetic evaluated in the same order,
    * so the replay is bit-exact (same approach as `llm_ann_lsh`'s
    * planes). The window rank in `cents` evaluates BEFORE the
    * ORDER BY/LIMIT, so r = global md5 rank of the kept k rows —
    * identical to Spark ranking the post-limit seed set. `embCte`
    * supplies the vector source CTE chain ending in `e(vec_id, v)` —
    * raw doubles for the float path, the quantize→dequantize
    * reconstruction for int8. */
  /** Unrolled iterative-BPE training CTEs (`v0, p1, m1, v1, …, m<steps>`)
    * — the DuckDB twin of [[bpeTrainOf]]'s loop. Each m{k} is the 1-row
    * argmax merge (chr(3)-separated pair key) and v{k} the vocab with it
    * applied; [[bpeTrainSql]] unions the m's into the merge table,
    * [[bpeEncodeSql]] folds them over the distinct-word vocabulary. */
  private def bpeTrainCtes(steps: Int): String = {
    val sb = new StringBuilder
    sb ++= """v0 AS (
      |  SELECT COUNT(*) AS wc,
      |    regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS s
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE length(w) >= 2 GROUP BY w)""".stripMargin
    for (k <- 1 to steps) {
      sb ++= s""",
        |p$k AS (
        |  SELECT wc, unnest(list_transform(range(1, len(syms)),
        |      i -> syms[i] || chr(3) || syms[i+1])) AS pr
        |  FROM (SELECT wc,
        |          string_split(ltrim(rtrim(s, chr(2)), chr(1)), chr(2) || chr(1)) AS syms
        |        FROM v${k - 1})),
        |m$k AS (SELECT pr, CAST(SUM(wc) AS BIGINT) AS cnt FROM p$k
        |        GROUP BY pr ORDER BY cnt DESC, pr LIMIT 1),
        |v$k AS (SELECT v.wc, replace(v.s,
        |    chr(1) || replace(m.pr, chr(3), chr(2) || chr(1)) || chr(2),
        |    chr(1) || replace(m.pr, chr(3), '') || chr(2)) AS s
        |  FROM v${k - 1} v, m$k m)""".stripMargin
    }
    sb.toString
  }

  /** Unrolled power-iteration oracle ([[pcaProjectOf]]): mean/center/
    * covariance CTEs, then one (w_k, v_k) CTE pair per iteration —
    * matvec entries and norms over the same quantized-long sums the
    * Spark side uses, so every intermediate eigenvector estimate is
    * bit-identical and the final projection replays exactly. */
  private def pcaProjectSql(iters: Int): String = {
    // MATERIALIZED is load-bearing on cov and each w_k: v_k references
    // w_k twice (value + norm scalar subquery), so DuckDB's default CTE
    // inlining would double the expression tree per iteration — ~2⁸
    // re-evaluations of the covariance join by iteration 8.
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS MATERIALIZED (SELECT i, ${oSum("c * v", 9)} AS w
         |  FROM cov JOIN $prev ON cov.j = $prev.d GROUP BY i),
         |v$k AS (SELECT i AS d, w / (SELECT sqrt(${oSum("w * w", 9)})
         |  FROM w$k) AS v FROM w$k),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (SELECT vec_id, t.d, v[t.d + 1] AS x FROM e, range(64) t(d)),
       |mu AS (SELECT d, ${oSum("x", 6)} / COUNT(*) AS mu FROM x GROUP BY d),
       |cent AS MATERIALIZED (SELECT vec_id, x.d, x.x - mu.mu AS x
       |  FROM x JOIN mu USING (d)),
       |cov AS MATERIALIZED (SELECT a.d AS i, b.d AS j,
       |    ${oSum("a.x * b.x", 9)} / COUNT(*) AS c
       |  FROM cent a JOIN cent b USING (vec_id) GROUP BY a.d, b.d),
       |v0 AS (SELECT d, 1.0::DOUBLE AS v FROM range(64) t(d)),
       |$steps
       |prj AS (SELECT vec_id, ${oSum("x * v", 9)} AS p
       |  FROM cent JOIN v$iters USING (d) GROUP BY vec_id)
       |SELECT vec_id, ${oRound("p", 6)} AS pc1
       |FROM prj ORDER BY vec_id""".stripMargin
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

  /** The full classifier oracle: [[qualityClassifierCtes]] + the
    * per-doc (y, score, pred) SELECT. */
  private def qualityClassifierSql(epochs: Int): String =
    s"""WITH ${qualityClassifierCtes(epochs)}
       |SELECT lab.doc_id, CAST(lab.y AS INT) AS y, fin.score,
       |  CASE WHEN fin.score > 0 THEN 1 ELSE -1 END AS pred
       |FROM lab JOIN fin USING (doc_id) ORDER BY doc_id""".stripMargin

  private def bpeTrainSql(steps: Int): String = {
    val union = (1 to steps).map { k =>
      s"""SELECT CAST($k AS INT) AS step,
         |  string_split(pr, chr(3))[1] AS sym_a,
         |  string_split(pr, chr(3))[2] AS sym_b, cnt FROM m$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${bpeTrainCtes(steps)}\nSELECT * FROM (\n$union\n) ORDER BY step"
  }

  private def bpeEncodeSql(steps: Int): String = {
    // fold the sentinel-wrapped word through m1..m<steps> in training
    // order; each step's search/replace strings come from the 1-row
    // m{k} scalar subqueries (same chr-literal construction as v{k})
    val folded = (1 to steps).foldLeft(
      "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')") { (acc, k) =>
      s"""replace($acc,
         |  chr(1) || replace((SELECT pr FROM m$k), chr(3), chr(2) || chr(1)) || chr(2),
         |  chr(1) || replace((SELECT pr FROM m$k), chr(3), '') || chr(2))""".stripMargin
    }
    s"""WITH ${bpeTrainCtes(steps)},
       |vocab AS (
       |  SELECT DISTINCT w
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE length(w) >= 1),
       |fin AS (SELECT w,
       |    ltrim(rtrim(replace($folded, chr(2) || chr(1), ' '), chr(2)), chr(1)) AS encoded
       |  FROM vocab)
       |SELECT w, encoded,
       |  CAST(len(string_split(encoded, ' ')) AS INT) AS n_syms
       |FROM fin ORDER BY w""".stripMargin
  }

  /** The IVF CTE prefix shared by the plain/trained/int8 retrieval
    * oracles ([[ivfSql]]) and the IVF-PQ composition ([[ivfPqSql]]) —
    * everything through `assigned` (hot-cell-guarded corpus cells) and
    * `probes` (per-query nprobe cells), so the coarse layers of the
    * two index families cannot drift. */
  private def ivfCoreCtes(embCte: String, refine: Boolean, nprobe: Int = 2): String = {
    // Optional one-step Lloyd refinement (twin of `lloydRefine`):
    // assignment over the SEED cents, exact per-dimension quantized-long
    // sums joined against a 64-row dim table (fixture embedding width;
    // DuckDB 1.0 lacks lateral range-over-column), mean in the same
    // division order as Spark, seed rank carried through.
    val fcents =
      if (!refine) "fcents AS (SELECT * FROM cents)"
      else
        s"""cells0 AS (
           |  SELECT vec_id, arg_max(c_id, CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS cell
           |  FROM n, cents GROUP BY vec_id),
           |dimsum AS (
           |  SELECT a.cell, t.d,
           |    SUM(CAST(FLOOR(n.v[t.d + 1]*1000000.0 + 0.5) AS BIGINT)) AS qs,
           |    COUNT(*) AS cnt
           |  FROM cells0 a JOIN n USING (vec_id), range(64) t(d)
           |  GROUP BY a.cell, t.d),
           |means AS (SELECT cell, list(CAST(qs AS DOUBLE)/1000000.0/cnt ORDER BY d) AS cv
           |          FROM dimsum GROUP BY cell),
           |fcents AS (
           |  SELECT m.cell AS c_id, m.cv, sqrt(list_inner_product(m.cv, m.cv)) AS cn, c.r
           |  FROM means m JOIN cents c ON c.c_id = m.cell)""".stripMargin
    s"""$embCte,
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |cents0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |  FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ivfK),
       |cents AS (SELECT c_id, cv, cn, r FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cv ORDER BY r) AS dup_rn
       |    FROM cents0) t WHERE dup_rn = 1),
       |$fcents,
       |cells AS (
       |  SELECT vec_id,
       |    arg_max(c_id, CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS cell
       |  FROM n, fcents WHERE vec_id >= 20 GROUP BY vec_id),
       |assigned0 AS (SELECT c.vec_id, c.cell, n.v, n.nrm FROM cells c JOIN n USING (vec_id)),
       |hotcell AS (SELECT cell FROM assigned0 GROUP BY cell HAVING COUNT(*) > $maxBucket),
       |assigned AS MATERIALIZED (SELECT * FROM assigned0 a
       |  WHERE NOT EXISTS (SELECT 1 FROM hotcell h WHERE h.cell = a.cell)),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT n.vec_id AS q_id, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY CAST(FLOOR(list_inner_product(n.v, c.cv)/(n.nrm*c.cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + c.r DESC) AS pr
       |    FROM n, fcents c WHERE n.vec_id < 20) t
       |  WHERE pr <= $nprobe)""".stripMargin
  }

  private def ivfSql(embCte: String, refine: Boolean = false): String =
    s"""WITH ${ivfCoreCtes(embCte, refine)},
       |cand AS (
       |  SELECT p.q_id, a.vec_id,
       |    ${oRound("list_inner_product(q.v, a.v)/(q.nrm*a.nrm)", 6)} AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN n q ON q.vec_id = p.q_id)
       |SELECT q_id, rnk, vec_id, cos FROM (
       |  SELECT q_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
       |  FROM cand) t
       |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** IVF-PQ oracle ([[ivfPqRetrieve]]): the shared [[ivfCoreCtes]]
    * coarse layer, then residuals against the assigned centroid,
    * sampled-Lloyd residual sub-codebooks, per-residual encoding,
    * per-(query, probed-cell) ADC tables, and the exact-L2 refine
    * tail — the PQ oracle's arithmetic over the IVF oracle's cells.
    * MATERIALIZED on the multi-referenced frames (resid, rsub, cb):
    * DuckDB's default CTE inlining would re-run the assignment join
    * once per reference. */
  private def ivfPqSql(embCte: String): String = {
    val d2 = (xs: String, cs: String) =>
      s"""CAST(FLOOR(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 9), j -> ($xs[j]-$cs[j])*($xs[j]-$cs[j]))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT)""".stripMargin
    s"""WITH ${ivfCoreCtes(embCte, refine = false, nprobe = 4)},
       |resid AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, 65), i -> a.v[i] - c.cv[i]) AS rv
       |  FROM assigned a JOIN fcents c ON c.c_id = a.cell),
       |rseeds AS (SELECT vec_id, rv,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |  FROM resid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqKs),
       |cb0 AS (SELECT m, r, list_slice(rv, m*8+1, m*8+8) AS cs
       |  FROM rseeds, range(8) t(m)),
       |rsub AS MATERIALIZED (SELECT vec_id, m, list_slice(rv, m*8+1, m*8+8) AS xs
       |  FROM resid, range(8) t(m)),
       |rtrain AS (SELECT vec_id FROM resid
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${16 * pqKs}),
       |rsubt AS (SELECT s.vec_id, m, xs FROM rsub s JOIN rtrain USING (vec_id)),
       |tassign AS (
       |  SELECT vec_id, m, arg_min(r, ${d2("xs", "cs")} * 256 + r) AS r
       |  FROM rsubt JOIN cb0 USING (m) GROUP BY vec_id, m),
       |tsum AS (
       |  SELECT a.m, a.r, t.d,
       |    SUM(CAST(FLOOR(c.xs[t.d + 1]*1000000.0 + 0.5) AS BIGINT)) AS qs,
       |    COUNT(*) AS cnt
       |  FROM tassign a JOIN rsubt c USING (vec_id, m), range(8) t(d)
       |  GROUP BY a.m, a.r, t.d),
       |cb AS MATERIALIZED (SELECT m, r,
       |    list(CAST(qs AS DOUBLE)/1000000.0/cnt ORDER BY d) AS cs
       |  FROM tsum GROUP BY m, r),
       |codes AS MATERIALIZED (
       |  SELECT k.vec_id, r2.cell, k.m, k.r FROM (
       |    SELECT vec_id, m, arg_min(r, ${d2("xs", "cs")} * 256 + r) AS r
       |    FROM rsub JOIN cb USING (m) GROUP BY vec_id, m) k
       |  JOIN resid r2 USING (vec_id)),
       |qres AS (SELECT p.q_id, p.cell,
       |    list_transform(range(1, 65), i -> n.v[i] - c.cv[i]) AS rv
       |  FROM probes p JOIN n ON n.vec_id = p.q_id
       |               JOIN fcents c ON c.c_id = p.cell),
       |dtable AS (SELECT q.q_id, q.cell, q.m, cb.r, ${d2("q.xs", "cb.cs")} AS dq
       |  FROM (SELECT q_id, cell, m, list_slice(rv, m*8+1, m*8+8) AS xs
       |        FROM qres, range(8) t(m)) q JOIN cb USING (m)),
       |adc AS (SELECT q_id, vec_id, CAST(SUM(dq) AS BIGINT) AS qsum
       |  FROM codes JOIN dtable USING (cell, m, r) GROUP BY q_id, vec_id),
       |short AS (SELECT q_id, vec_id, qsum FROM (
       |    SELECT q_id, vec_id, qsum,
       |      row_number() OVER (PARTITION BY q_id ORDER BY qsum, vec_id) AS rnk0
       |    FROM adc) t WHERE rnk0 <= 40),
       |rr AS (
       |  SELECT s.q_id, s.vec_id, s.qsum,
       |    CAST(FLOOR(list_reduce(list_prepend(0.0,
       |      list_transform(range(1, 65), j -> (c.v[j]-q.v[j])*(c.v[j]-q.v[j]))),
       |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT) AS dqe
       |  FROM short s JOIN n c ON c.vec_id = s.vec_id
       |               JOIN n q ON q.vec_id = s.q_id),
       |rk AS (SELECT q_id, vec_id, qsum,
       |  row_number() OVER (PARTITION BY q_id ORDER BY dqe, vec_id) AS rnk
       |  FROM rr)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
       |  ${oRound("CAST(qsum AS DOUBLE) / 1000000000.0", 6)} AS adist
       |FROM rk WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
  }

  /** CTE chain ending in `spairs(id_a, id_b, cos)` — the SemDeDup
    * thresholded within-cell pairs (DuckDB twin of [[semDedupPairs]]),
    * shared by the keeper-rule and CC-resolved oracles so the two
    * cannot drift. */
  /** DuckDB wordpiece token count over `text` — the packed-state greedy
    * fold, shared by the llm_tokenize and llm_tokenizer_fertility
    * oracles so the tokenizer replay cannot drift between them. Same
    * list_reduce + list_prepend(0) seed trick as llm_fingerprint; the
    * prepended 0 is the initial accumulator (pos 0, count 0).
    * Packing bound (cf. the 31-bit gram-id caveat on contamination):
    * acc = pos·1e5 + count, so a single word yielding ≥ 100,000 pieces
    * would wrap count into pos and diverge from the Spark Long count.
    * Pieces ≥ len/4, so that needs a ~400,000-char single word —
    * unreachable for fixture docs AND for any real tokenizer input
    * (words are pre-split on spaces); the Spark side has no such
    * bound. Documented, not widened. */
  private lazy val wpTokensSql: String = {
    def lst(vs: Seq[String]) = vs.map("'" + _ + "'").mkString("[", ",", "]")
    s"""CAST(list_sum(list_transform(string_split(text, ' '), w ->
       |    CASE WHEN length(w) = 0 THEN 0 ELSE
       |      list_reduce(list_prepend(0::BIGINT, range(length(w))), (acc, i) ->
       |        CASE WHEN i < acc // 100000 THEN acc
       |             WHEN list_contains(${lst(wpVocab4)}, substr(w, CAST(i+1 AS INT), 4))
       |               THEN (i+4)*100000 + acc % 100000 + 1
       |             WHEN list_contains(${lst(wpVocab3)}, substr(w, CAST(i+1 AS INT), 3))
       |               THEN (i+3)*100000 + acc % 100000 + 1
       |             WHEN list_contains(${lst(wpVocab2)}, substr(w, CAST(i+1 AS INT), 2))
       |               THEN (i+2)*100000 + acc % 100000 + 1
       |             ELSE (i+1)*100000 + acc % 100000 + 1 END) % 100000
       |    END)) AS BIGINT)""".stripMargin
  }

  private lazy val semPairsCtes: String = semPairsCtesWith("WHERE cos > 0.3")

  /** The shared embeddings + deduped-centroid CTE prefix (e, n, cents)
    * — one spelling for the SemDeDup pair chain and the outlier
    * chain, so the coarse quantizer cannot drift between them. */
  private lazy val embCentsCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |cents0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |  FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ivfK),
       |cents AS (SELECT c_id, cv, cn, r FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cv ORDER BY r) AS dup_rn
       |    FROM cents0) t WHERE dup_rn = 1)""".stripMargin

  /** The SemDeDup cell/pair CTE chain with a caller-chosen pair filter
    * (empty = every within-cell pair, the kNN-graph consumer). */
  private def semPairsCtesWith(pairFilter: String): String =
    s"""$embCentsCtes,
       |cells AS (
       |  SELECT vec_id, arg_max(c_id, CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS cell
       |  FROM n, cents GROUP BY vec_id),
       |assigned0 AS (SELECT c.vec_id, c.cell, n.v, n.nrm FROM cells c JOIN n USING (vec_id)),
       |hotcell AS (SELECT cell FROM assigned0 GROUP BY cell HAVING COUNT(*) > $maxBucket),
       |assigned AS (SELECT * FROM assigned0 a
       |  WHERE NOT EXISTS (SELECT 1 FROM hotcell h WHERE h.cell = a.cell)),
       |spairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${oRound("list_inner_product(a.v, b.v)/(a.nrm*b.nrm)", 6)} AS cos
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  $pairFilter)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("llm_exact_dedup", llmExactDedup,
      """SELECT h AS content_hash, min(doc_id) AS keeper, COUNT(*) AS copies
        |FROM (SELECT doc_id, sha256(text) AS h FROM documents) t
        |GROUP BY h ORDER BY keeper""".stripMargin),
    QueryDef("llm_url_dedup", llmUrlDedup,
      s"""WITH u AS (
         |  SELECT doc_id, n_chars, ${syntheticUrlSql("VARCHAR")} AS url
         |  FROM documents),
         |s1 AS (
         |  SELECT doc_id, n_chars, regexp_replace(url, '#.*$$', '') AS nf
         |  FROM u),
         |s2 AS (
         |  SELECT doc_id, n_chars, nf,
         |    regexp_extract(nf, '^[^:]+://[^/?#]*', 0) AS head
         |  FROM s1),
         |s3 AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN lower(head) LIKE 'http://%'
         |           THEN regexp_replace(lower(head), ':80$$', '')
         |         WHEN lower(head) LIKE 'https://%'
         |           THEN regexp_replace(lower(head), ':443$$', '')
         |         ELSE lower(head) END AS canon_head,
         |    substr(nf, length(head) + 1) AS tail
         |  FROM s2),
         |s4 AS (
         |  SELECT doc_id, n_chars, canon_head,
         |    regexp_replace(regexp_extract(tail, '^[^?]*', 0), '/+$$', '')
         |      AS canon_path,
         |    array_to_string(list_sort(list_filter(
         |      string_split(regexp_extract(tail, '[?](.*)$$', 1), '&'),
         |      p -> p <> '' AND NOT starts_with(p, 'utm_')
         |        AND NOT starts_with(p, 'gclid=')
         |        AND NOT starts_with(p, 'fbclid='))), '&') AS qc
         |  FROM s3),
         |c AS (
         |  SELECT doc_id, n_chars,
         |    canon_head || canon_path ||
         |      CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canonical_url
         |  FROM s4),
         |r AS (
         |  SELECT canonical_url, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY canonical_url
         |      ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM c)
         |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS dup_cnt,
         |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
         |  MAX(n_chars) AS best_chars
         |FROM r GROUP BY canonical_url ORDER BY canonical_url""".stripMargin),
    QueryDef("llm_dedup_rows", llmDedupRows,
      s"""WITH ranked AS (
         |  SELECT l_returnflag, l_quantity,
         |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
         |      ORDER BY l_quantity, l_extendedprice, l_discount, l_tax,
         |               l_returnflag, l_linestatus, l_shipdate) AS rn
         |  FROM lineitem)
         |SELECT l_returnflag, COUNT(*) AS kept, ${oSum("l_quantity")} AS kept_qty
         |FROM ranked WHERE rn = 1 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    QueryDef("llm_minhash_lsh", llmMinhashLsh, minhashSql),
    QueryDef("llm_lsh_capped", llmLshCapped,
      s"""WITH ${bucketCtes(2)}
         |SELECT band, sig, doc_id FROM buckets
         |ORDER BY band, sig, doc_id""".stripMargin),
    QueryDef("llm_dedup_cc", llmDedupCc, dedupCcSql),
    QueryDef("llm_dedup_incremental", llmDedupIncremental, dedupIncrementalSql),
    QueryDef("llm_simhash", llmSimhash, simhashSql),
    QueryDef("llm_simhash_neardup", llmSimhashNeardup, simhashNeardupSql),
    // Candidate pairs come from the SAME banded-LSH CTE chain as the
    // minhash oracle (shared fragment — no drift); the bigram verify
    // then re-joins each side's distinct bigram-id set.
    QueryDef("llm_ngram_jaccard", llmNgramJaccard,
      s"""WITH $minhashPairsCtes,
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |g AS (
         |  SELECT doc_id, ${hashGramSql(2)} AS g
         |  FROM ($wordHashSql) t)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(FLOOR((len(list_filter(a.g, x -> list_contains(b.g, x))) * 1.0 /
         |    len(list_distinct(list_concat(a.g, b.g))))*1000000.0+0.5) AS DOUBLE)/1000000.0 AS bigram_jac
         |FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Threshold curve: the jaccard chain + a 5-row threshold frame;
    // zero-pair thresholds stay visible via the left joins; the
    // threshold column CASTs to DOUBLE (a bare VALUES decimal would
    // type-mismatch the builder's double).
    QueryDef("llm_dedup_threshold_curve", llmDedupThresholdCurve, {
      s"""WITH $minhashPairsCtes,
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |g AS (
         |  SELECT doc_id, ${hashGramSql(2)} AS g
         |  FROM ($wordHashSql) t),
         |j AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(FLOOR((len(list_filter(a.g, x -> list_contains(b.g, x))) * 1.0 /
         |      len(list_distinct(list_concat(a.g, b.g))))*1000000.0+0.5) AS DOUBLE)/1000000.0 AS bigram_jac
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a
         |  JOIN g b ON b.doc_id = c.doc_b),
         |th AS (SELECT CAST(t AS DOUBLE) AS threshold
         |  FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) v(t)),
         |q AS (SELECT th.threshold, j.doc_a, j.doc_b
         |  FROM j JOIN th ON j.bigram_jac >= th.threshold),
         |c AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM q GROUP BY 1),
         |d AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_dup_docs
         |  FROM (SELECT DISTINCT threshold, d FROM (
         |      SELECT threshold, doc_a AS d FROM q
         |      UNION ALL SELECT threshold, doc_b FROM q) u0) u
         |  GROUP BY 1)
         |SELECT th.threshold,
         |  CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
         |FROM th LEFT JOIN c USING (threshold) LEFT JOIN d USING (threshold)
         |ORDER BY threshold""".stripMargin
    }),
    // Containment: the ngram_jaccard chain with asymmetric |A∩B|/|A|
    // read-outs; embedded = high max-containment at low Jaccard, off
    // the already-quantized values (no float boundary).
    QueryDef("llm_ngram_containment", llmNgramContainment, {
      s"""WITH $minhashPairsCtes,
         |${containmentCtes("cand", "g", "j", "j2")}
         |SELECT doc_a, doc_b, n_a, n_b, n_inter, cont_a, cont_b, jaccard,
         |  (GREATEST(cont_a, cont_b) >= 0.8 AND jaccard < 0.5) AS embedded
         |FROM j2 ORDER BY doc_a, doc_b""".stripMargin
    }),
    // Split leakage: the ngram_jaccard chain verbatim, each side tagged
    // with the split_assign md5-bucket rule, aggregated per category.
    QueryDef("llm_split_leakage", llmSplitLeakage, {
      def splitSql(c: String) =
        s"CASE WHEN ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 4))::INT % 100 < 95 THEN 'train' ELSE 'val' END"
      s"""WITH $minhashPairsCtes,
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
         |g AS (
         |  SELECT doc_id, ${hashGramSql(2)} AS g
         |  FROM ($wordHashSql) t),
         |j AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(FLOOR((len(list_filter(a.g, x -> list_contains(b.g, x))) * 1.0 /
         |      len(list_distinct(list_concat(a.g, b.g))))*1000000.0+0.5) AS DOUBLE)/1000000.0 AS bigram_jac
         |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b),
         |s AS (
         |  SELECT bigram_jac, ${splitSql("doc_a")} AS sa, ${splitSql("doc_b")} AS sb
         |  FROM j)
         |SELECT CASE WHEN sa <= sb THEN sa || '-' || sb
         |            ELSE sb || '-' || sa END AS cat,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN bigram_jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup,
         |  ${oRound("MAX(bigram_jac)", 6)} AS max_jac
         |FROM s GROUP BY 1 ORDER BY cat""".stripMargin
    }),
    QueryDef("llm_contamination", llmContamination,
      s"""WITH g AS (
         |  SELECT doc_id, ${hashGramSql(4)} AS g
         |  FROM ($wordHashSql) t WHERE nw >= 4),
         |eg AS (SELECT DISTINCT unnest(g) AS gm FROM g WHERE doc_id % 97 = 0),
         |c AS (SELECT doc_id, len(g) AS n_grams, unnest(g) AS gm
         |      FROM g WHERE doc_id % 97 != 0)
         |SELECT c.doc_id, COUNT(*) AS n_shared, CAST(c.n_grams AS INT) AS n_grams,
         |  ${oRound("COUNT(*) * 1.0 / c.n_grams", 6)} AS contam_ratio
         |FROM c JOIN eg ON c.gm = eg.gm
         |GROUP BY c.doc_id, c.n_grams ORDER BY doc_id""".stripMargin),
    QueryDef("llm_repetition", llmRepetition,
      s"""WITH b AS (
         |  SELECT doc_id, len(hs) AS n_words, len(list_distinct(hs)) AS n_distinct,
         |    ${hashGramSql(2, distinct = false)} AS bg
         |  FROM ($wordHashSql) t WHERE nw >= 2),
         |gc AS (SELECT doc_id, g, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(bg) AS g FROM b) u GROUP BY doc_id, g),
         |tc AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM gc GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
         |  ${oRound("1.0 - b.n_distinct * 1.0 / b.n_words", 6)} AS dup_word_frac,
         |  tc.top_bigram_count,
         |  ${oRound("tc.top_bigram_count * 1.0 / (b.n_words - 1)", 6)} AS top_bigram_frac,
         |  (tc.top_bigram_count * 1.0 / (b.n_words - 1) > 0.20) AS repetitive
         |FROM b JOIN tc USING (doc_id) ORDER BY doc_id""".stripMargin),
    QueryDef("llm_dup_chunks", llmDupChunks,
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |b AS (SELECT doc_id, list_distinct(list_transform(range(((len(ws)-1)//20)+1),
         |       i -> md5(array_to_string(ws[i*20+1:i*20+20], ' ')))) AS ch FROM w),
         |e AS (SELECT doc_id, len(ch) AS n_chunks, unnest(ch) AS h FROM b),
         |c AS (SELECT h, COUNT(*) AS n_docs FROM e GROUP BY h)
         |SELECT e.doc_id, CAST(e.n_chunks AS INT) AS n_chunks,
         |  CAST(SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  ${oRound("SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / e.n_chunks", 6)} AS dup_chunk_frac,
         |  (SUM(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / e.n_chunks > 0.3) AS dup_heavy
         |FROM e JOIN c USING (h)
         |GROUP BY e.doc_id, e.n_chunks ORDER BY doc_id""".stripMargin),
    QueryDef("llm_chunk_scrub", llmChunkScrub,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, list_transform(range(((len(ws)-1)//20)+1),
        |       i -> array_to_string(ws[i*20+1:i*20+20], ' ')) AS ch FROM w),
        |occ AS (SELECT doc_id, unnest(range(len(ch))) AS idx, ch FROM b),
        |o2 AS (SELECT doc_id, CAST(idx AS INT) AS idx,
        |         ch[CAST(idx AS INT)+1] AS chunk FROM occ),
        |o3 AS (SELECT doc_id, idx, chunk, md5(chunk) AS h FROM o2),
        |dpc AS (SELECT h, COUNT(*) AS n_docs
        |        FROM (SELECT DISTINCT doc_id, h FROM o3) t GROUP BY h)
        |SELECT o3.doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN dpc.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN dpc.n_docs = 1 THEN o3.chunk END,
        |    ' ' ORDER BY o3.idx), '')) AS clean_hash
        |FROM o3 JOIN dpc USING (h)
        |GROUP BY o3.doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("llm_corpus_pipeline", llmCorpusPipeline,
      s"""WITH $corpusPipelineCtes
         |SELECT d.doc_id, d.lang, d.source,
         |  ${oRound(qualitySql("d.text"), 6)} AS quality
         |FROM documents d
         |WHERE $corpusPipelineWhere
         |ORDER BY d.doc_id""".stripMargin),
    // v2: the same base conjunction plus the r12 rule stages at the
    // capstone's pipeline-configured bounds (gopher 20/1, lm 5.2) —
    // CTEs built from the SAME fragments as the standalone oracles.
    QueryDef("llm_corpus_pipeline_v2", llmCorpusPipelineV2,
      s"""WITH $corpusPipelineCtes,
         |gd AS ($gopherSplitSql),
         |gr AS (SELECT doc_id, $gopherRuleColsSql FROM gd),
         |gop AS (SELECT doc_id FROM gr WHERE ${gopherKeepCondSql(20, 1)}),
         |${lmBitsCtes("lws", "lf", "lt", "lb")},
         |lmq AS (SELECT doc_id FROM lb GROUP BY doc_id
         |        HAVING $lmAvgBitsSql <= 5.2)
         |SELECT d.doc_id, d.lang, d.source,
         |  ${oRound(qualitySql("d.text"), 6)} AS quality
         |FROM documents d
         |WHERE $corpusPipelineWhere
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
         |gd AS ($gopherSplitSql),
         |gr AS (SELECT doc_id, $gopherRuleColsSql FROM gd),
         |gop AS (SELECT doc_id FROM gr WHERE ${gopherKeepCondSql(20, 1)}),
         |${lmBitsCtes("lws", "lf", "lt", "lb")},
         |lmq AS (SELECT doc_id FROM lb GROUP BY doc_id
         |        HAVING $lmAvgBitsSql <= 5.2),
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
         |SELECT d.doc_id, d.lang, d.source,
         |  ${oRound(qualitySql("d.text"), 6)} AS quality
         |FROM documents d
         |WHERE $corpusPipelineWhere
         |  AND d.doc_id IN (SELECT doc_id FROM gop)
         |  AND d.doc_id IN (SELECT doc_id FROM lmq)
         |  AND d.doc_id IN (SELECT doc_id FROM pplk)
         |  AND d.source IN (SELECT source FROM ckeep)
         |  AND d.source IN (SELECT source FROM tkeep)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cemb)
         |ORDER BY d.doc_id""".stripMargin),
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
    QueryDef("llm_ann_lsh", llmAnnLsh, s"$lshPairsSql\nSELECT id_a, id_b, cos FROM pairs ORDER BY id_a, id_b"),
    QueryDef("llm_ann_ivf", llmAnnIvf,
      ivfSql("e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)")),
    QueryDef("llm_ann_ivf_trained", llmAnnIvfTrained,
      ivfSql("e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        refine = true)),
    // int8 path: e = the quantize→dequantize reconstruction. The CASE
    // mirrors Spark's mx=mn guard; mn + FLOOR((x−mn)/scale + 0.5)·scale
    // is the (−128/+128)-cancelled dequant, same IEEE ops in the same
    // order as the Spark column (see llmAnnIvfInt8).
    QueryDef("llm_ann_ivf_int8", llmAnnIvfInt8, ivfSql(
      """e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        |st AS (SELECT vec_id, v0, list_min(v0) AS mn, list_max(v0) AS mx FROM e0),
        |e AS (SELECT vec_id, list_transform(v0, x ->
        |  CASE WHEN mx = mn THEN mn
        |       ELSE mn + FLOOR((x - mn)/((mx - mn)/255.0) + 0.5) * ((mx - mn)/255.0)
        |  END) AS v FROM st)""".stripMargin)),
    QueryDef("llm_embed_neardup", llmEmbedNeardup,
      s"""$lshPairsSql
         |SELECT id_b AS dup_id, MIN(id_a) AS keeper_id, MAX(cos) AS best_cos
         |FROM pairs GROUP BY id_b ORDER BY dup_id""".stripMargin),
    // Product quantization: md5-sampled seed codebooks refined by ONE
    // Lloyd step (twin of pqLloydStep — packed-long argmin assignment,
    // per-(m, r, d) 1e-6-quantized long sums, mean in the same division
    // order), left-fold sub-distances (list_reduce ≡ Spark aggregate —
    // both sequential), 1e-9-quantized long distances, argmin via
    // arg_min over the same packed (dist, rank) long the Spark min_by
    // uses, then the ADC sum over exact longs and the exact-L2 re-rank
    // of the top-20 ADC shortlist (twin of the Spark refine stage).
    QueryDef("llm_ann_ivfpq", llmAnnIvfPq,
      ivfPqSql("e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)")),
    QueryDef("llm_ann_pq", llmAnnPq,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v,
         |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
         |  FROM e WHERE vec_id >= 20
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqKs),
         |cb0 AS (SELECT m, r, list_slice(v, m*8+1, m*8+8) AS cs
         |       FROM seeds, range(8) t(m)),
         |csub AS (SELECT vec_id, m, list_slice(v, m*8+1, m*8+8) AS xs
         |         FROM e, range(8) t(m) WHERE vec_id >= 20),
         |train AS (SELECT vec_id FROM e WHERE vec_id >= 20
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${16 * pqKs}),
         |csubt AS (SELECT c.vec_id, m, xs FROM csub c JOIN train USING (vec_id)),
         |qsub AS (SELECT vec_id AS q_id, m, list_slice(v, m*8+1, m*8+8) AS xs
         |         FROM e, range(8) t(m) WHERE vec_id < 20),
         |tassign AS (
         |  SELECT vec_id, m, arg_min(r,
         |    CAST(FLOOR(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 9), j -> (xs[j]-cs[j])*(xs[j]-cs[j]))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT) * 256 + r) AS r
         |  FROM csubt JOIN cb0 USING (m) GROUP BY vec_id, m),
         |tsum AS (
         |  SELECT a.m, a.r, t.d,
         |    SUM(CAST(FLOOR(c.xs[t.d + 1]*1000000.0 + 0.5) AS BIGINT)) AS qs,
         |    COUNT(*) AS cnt
         |  FROM tassign a JOIN csubt c USING (vec_id, m), range(8) t(d)
         |  GROUP BY a.m, a.r, t.d),
         |cb AS (SELECT m, r, list(CAST(qs AS DOUBLE)/1000000.0/cnt ORDER BY d) AS cs
         |       FROM tsum GROUP BY m, r),
         |codes AS (
         |  SELECT vec_id, m, arg_min(r,
         |    CAST(FLOOR(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 9), j -> (xs[j]-cs[j])*(xs[j]-cs[j]))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT) * 256 + r) AS r
         |  FROM csub JOIN cb USING (m) GROUP BY vec_id, m),
         |dtable AS (
         |  SELECT q_id, m, r,
         |    CAST(FLOOR(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 9), j -> (xs[j]-cs[j])*(xs[j]-cs[j]))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT) AS dq
         |  FROM qsub JOIN cb USING (m)),
         |adc AS (SELECT q_id, vec_id, CAST(SUM(dq) AS BIGINT) AS qsum
         |        FROM codes JOIN dtable USING (m, r) GROUP BY q_id, vec_id),
         |short AS (SELECT q_id, vec_id, qsum FROM (
         |    SELECT q_id, vec_id, qsum,
         |      row_number() OVER (PARTITION BY q_id ORDER BY qsum, vec_id) AS rnk0
         |    FROM adc) t WHERE rnk0 <= 20),
         |rr AS (
         |  SELECT s.q_id, s.vec_id, s.qsum,
         |    CAST(FLOOR(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, 65), j -> (c.v[j]-q.v[j])*(c.v[j]-q.v[j]))),
         |      (a, b) -> a + b) * 1000000000.0 + 0.5) AS BIGINT) AS dqe
         |  FROM short s JOIN e c ON c.vec_id = s.vec_id
         |               JOIN e q ON q.vec_id = s.q_id),
         |rk AS (SELECT q_id, vec_id, qsum,
         |  row_number() OVER (PARTITION BY q_id ORDER BY dqe, vec_id) AS rnk
         |  FROM rr)
         |SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
         |  ${oRound("CAST(qsum AS DOUBLE) / 1000000000.0", 6)} AS adist
         |FROM rk WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
    QueryDef("llm_embed_quantize", llmEmbedQuantize,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
         |er AS (SELECT vec_id, v, mn, mx,
         |  list_transform(v, x -> CASE WHEN mx = mn THEN 0.0
         |    ELSE abs(x - mn - floor((x - mn) / ((mx - mn) / 255.0) + 0.5)
         |             * ((mx - mn) / 255.0)) END) AS err
         |  FROM m)
         |SELECT vec_id, CAST(len(v) AS INT) AS n_dims,
         |  ${oRound("mn", 6)} AS mn, ${oRound("mx", 6)} AS mx,
         |  ${oRound("list_max(err)", 6)} AS max_err,
         |  ${oRound("list_reduce(list_prepend(0.0::DOUBLE, err), (a, b) -> a + b) / len(err)", 6)} AS mean_err
         |FROM er ORDER BY vec_id""".stripMargin),
    // Achlioptas ternary matrix as a pure function of (i, j) — the
    // vocabBucket md5 idiom; BIGINT inner product stays < 2^53 so
    // DuckDB's double list_inner_product is exact. 3.0/16.0 is a
    // power-of-two divide and sqrt is correctly-rounded IEEE — the
    // only float steps mirror the Spark side's spelling.
    QueryDef("llm_random_proj", llmRandomProj,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(FLOOR(x*1000000.0+0.5) AS BIGINT)) AS qx
         |      FROM e),
         |m AS (SELECT j, i,
         |        CASE (('0x'||substr(md5(i||'_'||j),1,4))::BIGINT % 6)
         |          WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
         |      FROM range(16) t1(j), range(64) t2(i)),
         |mr AS (SELECT j, list(r ORDER BY i) AS rj FROM m GROUP BY j)
         |SELECT q.vec_id, CAST(mr.j AS INT) AS j,
         |  ${oRound("(list_inner_product(q.qx, mr.rj) / 1000000.0) * sqrt(3.0/16.0)", 6)} AS y
         |FROM q, mr ORDER BY vec_id, j""".stripMargin),
    QueryDef("llm_cosine_topk", llmCosineTopk,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |    ${oRound("list_inner_product(q.v, c.v) / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))", 6)} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id >= 20),
         |ranked AS (SELECT q_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM sims)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
    // Retrieval eval: cosine_topk's ranking graded by label relevance;
    // every log2 discount is spelled ln(r+1)/ln(2) (identical IEEE ops
    // in both engines) and quantized at 1e-9 before the exact sum;
    // ideal DCG joins the per-query relevant total against a 10-row
    // rank frame.
    QueryDef("llm_ndcg_eval", llmNdcgEval,
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |n AS (SELECT vec_id, label, v,
         |        sqrt(list_inner_product(v, v)) AS nrm FROM e),
         |rt AS (SELECT q.vec_id AS q_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         |       FROM n q JOIN n c
         |         ON q.vec_id < 20 AND c.vec_id >= 20 AND q.label = c.label
         |       GROUP BY q.vec_id),
         |sims AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_lab, c.vec_id, c.label,
         |    ${oRound("list_inner_product(q.v, c.v) / (q.nrm * c.nrm)", 6)} AS cos
         |  FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id >= 20),
         |t AS (SELECT q_id, vec_id, rnk,
         |        CASE WHEN q_lab = label THEN 1 ELSE 0 END AS rel
         |      FROM (SELECT q_id, q_lab, vec_id, label,
         |              row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos DESC, vec_id) AS rnk
         |            FROM sims) r WHERE rnk <= 10),
         |p AS (SELECT q_id, CAST(SUM(rel) AS BIGINT) AS hits,
         |        ${oRound("COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rnk END), 0.0)", 9)} AS mrr,
         |        ${oSum("rel * (" + oRound("1.0 / (ln(CAST(rnk AS DOUBLE) + 1.0) / ln(2.0))", 9) + ")", 9)} AS dcg
         |      FROM t GROUP BY q_id),
         |rk AS (SELECT unnest(range(1, 11)) AS r),
         |ic AS (SELECT rt.q_id, rt.n_rel,
         |        ${oSum(oRound("1.0 / (ln(CAST(rk.r AS DOUBLE) + 1.0) / ln(2.0))", 9), 9)} AS idcg
         |       FROM rt JOIN rk ON rk.r <= LEAST(rt.n_rel, 10)
         |       GROUP BY rt.q_id, rt.n_rel)
         |SELECT p.q_id, CAST(COALESCE(ic.n_rel, 0) AS BIGINT) AS n_rel,
         |  p.hits, p.mrr,
         |  ${oRound("p.dcg", 6)} AS dcg,
         |  CASE WHEN ic.idcg > 0 THEN ${oRound("p.dcg / ic.idcg", 6)}
         |       ELSE 0.0 END AS ndcg
         |FROM p LEFT JOIN ic ON ic.q_id = p.q_id
         |ORDER BY p.q_id""".stripMargin),
    // ROUGE-1/2: clipped multiset matches = SUM(LEAST(cc, cr)) off the
    // (pair_id, gram) two-phase counts; totals read off list lengths;
    // P/R quantize at 1e-6 before the fixed-shape F1, zero denominators
    // score 0.0 (the codeDetectOf convention).
    QueryDef("llm_rouge_overlap", llmRougeOverlap, {
      def gramsSql(src: String) =
        s"CASE WHEN len($src) >= 2 THEN list_transform(range(len($src) - 1), i -> $src[i + 1] || ' ' || $src[i + 2]) ELSE [] END"
      def prSql(m: String, tot: String) =
        s"CASE WHEN $tot = 0 THEN 0.0 ELSE ${oRound(s"CAST($m AS DOUBLE) / $tot", 6)} END"
      def f1Sql(p: String, r: String) =
        s"CASE WHEN $p + $r = 0.0 THEN 0.0 ELSE ${oRound(s"2.0 * $p * $r / ($p + $r)", 6)} END"
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |p AS (SELECT a.doc_id AS pair_id, a.ws AS rws, b.ws AS cws
         |  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 2 = 0),
         |c1 AS (SELECT pair_id, g, COUNT(*) AS cc FROM
         |  (SELECT pair_id, unnest(cws) AS g FROM p) t GROUP BY 1, 2),
         |r1 AS (SELECT pair_id, g, COUNT(*) AS cr FROM
         |  (SELECT pair_id, unnest(rws) AS g FROM p) t GROUP BY 1, 2),
         |m1 AS (SELECT pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS m1
         |  FROM c1 JOIN r1 USING (pair_id, g) GROUP BY 1),
         |c2 AS (SELECT pair_id, g, COUNT(*) AS cc FROM
         |  (SELECT pair_id, unnest(${gramsSql("cws")}) AS g FROM p) t
         |  GROUP BY 1, 2),
         |r2 AS (SELECT pair_id, g, COUNT(*) AS cr FROM
         |  (SELECT pair_id, unnest(${gramsSql("rws")}) AS g FROM p) t
         |  GROUP BY 1, 2),
         |m2 AS (SELECT pair_id, CAST(SUM(LEAST(cc, cr)) AS BIGINT) AS m2
         |  FROM c2 JOIN r2 USING (pair_id, g) GROUP BY 1),
         |sz AS (SELECT p.pair_id,
         |    CAST(len(cws) AS BIGINT) AS n_cand1,
         |    CAST(GREATEST(len(cws) - 1, 0) AS BIGINT) AS n_cand2,
         |    CAST(len(rws) AS BIGINT) AS n_ref1,
         |    CAST(GREATEST(len(rws) - 1, 0) AS BIGINT) AS n_ref2,
         |    CAST(COALESCE(m1.m1, 0) AS BIGINT) AS m1,
         |    CAST(COALESCE(m2.m2, 0) AS BIGINT) AS m2
         |  FROM p LEFT JOIN m1 USING (pair_id) LEFT JOIN m2 USING (pair_id)),
         |pr AS (SELECT pair_id, n_cand1, n_ref1, m1, m2,
         |    ${prSql("m1", "n_cand1")} AS r1_p,
         |    ${prSql("m1", "n_ref1")} AS r1_r,
         |    ${prSql("m2", "n_cand2")} AS r2_p,
         |    ${prSql("m2", "n_ref2")} AS r2_r
         |  FROM sz)
         |SELECT pair_id, n_cand1, n_ref1, m1, m2,
         |  r1_p, r1_r, ${f1Sql("r1_p", "r1_r")} AS r1_f,
         |  r2_p, r2_r, ${f1Sql("r2_p", "r2_r")} AS r2_f
         |FROM pr ORDER BY pair_id""".stripMargin
    }),
    // Hard-negative mining: the cosine_topk pairing carried with labels;
    // per-query rank over the same-label frame (keep 1 = the positive)
    // and the different-label frame (keep 3 = the hard negatives);
    // margin is the difference of the two already-quantized cosines.
    QueryDef("llm_hard_negatives", llmHardNegatives,
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS q_id, q.label AS q_lab, c.vec_id, c.label,
         |    ${oRound("list_inner_product(q.v, c.v) / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))", 6)} AS cos
         |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id >= 20),
         |pos AS (SELECT q_id, vec_id AS pos_id, cos AS pos_cos FROM (
         |    SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS r
         |    FROM sims WHERE label = q_lab) t WHERE r = 1),
         |neg AS (SELECT q_id, CAST(r AS INT) AS rnk, vec_id AS neg_id,
         |          cos AS neg_cos FROM (
         |    SELECT q_id, vec_id, cos, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS r
         |    FROM sims WHERE label <> q_lab) t WHERE r <= 3)
         |SELECT p.q_id, p.pos_id, p.pos_cos, n.rnk, n.neg_id, n.neg_cos,
         |  ${oRound("p.pos_cos - n.neg_cos", 6)} AS margin
         |FROM pos p JOIN neg n USING (q_id)
         |ORDER BY p.q_id, n.rnk""".stripMargin),
    // Matryoshka audit: both cosines from the one pairing (vt = the
    // 16-dim prefix), two rankings, intersection counted per query with
    // a left join so zero-overlap queries still carry a row.
    QueryDef("llm_matryoshka_recall", llmMatryoshkaRecall,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             (embedding::DOUBLE[])[1:16] AS vt FROM embeddings),
         |sims AS (
         |  SELECT q.vec_id AS q_id, c.vec_id,
         |    ${oRound("list_inner_product(q.v, c.v) / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))", 6)} AS cos_full,
         |    ${oRound("list_inner_product(q.vt, c.vt) / (sqrt(list_inner_product(q.vt, q.vt)) * sqrt(list_inner_product(c.vt, c.vt)))", 6)} AS cos_trunc
         |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id >= 20),
         |tf AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_full DESC, vec_id) AS r FROM sims) t WHERE r <= 5),
         |tt AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_trunc DESC, vec_id) AS r FROM sims) t WHERE r <= 5),
         |c AS (SELECT tf.q_id, CAST(COUNT(*) AS BIGINT) AS n_common
         |      FROM tf JOIN tt ON tf.q_id = tt.q_id AND tf.vec_id = tt.vec_id
         |      GROUP BY tf.q_id)
         |SELECT q.vec_id AS q_id,
         |  COALESCE(c.n_common, 0) AS n_common,
         |  ${oRound("CAST(COALESCE(c.n_common, 0) AS DOUBLE) / 5", 6)}
         |    AS recall_at_k
         |FROM e q LEFT JOIN c ON c.q_id = q.vec_id
         |WHERE q.vec_id < 20 ORDER BY q_id""".stripMargin),
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
    // IVF balance: the shared centroid/assignment fragments, one
    // summary row over the cell-size frame.
    QueryDef("llm_ivf_balance", llmIvfBalance,
      s"""WITH $embCentsCtes,
         |cells AS (
         |  SELECT vec_id, arg_max(c_id, CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS cell
         |  FROM n, cents GROUP BY vec_id),
         |sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM cells GROUP BY cell)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n) AS BIGINT) AS n_vecs,
         |  MAX(n) AS max_cell, MIN(n) AS min_cell,
         |  ${oRound("CAST(MAX(n)*COUNT(*) AS DOUBLE)/SUM(n)", 6)} AS imbalance
         |FROM sizes""".stripMargin),
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
    // MMR: pool + pairwise sims materialized once, then the greedy
    // selection unrolled step-by-step — each step's score is the same
    // 1e-9-quantized λ·rel − (1−λ)·max-sim arithmetic the Spark group
    // fold runs ((1 - 0.7) spelled as the subtraction so both engines
    // use the identical IEEE double 0.30000000000000004).
    QueryDef("llm_mmr_rerank", llmMmrRerank, {
      def stepSql(k: Int): String =
        s"""cand$k AS (SELECT p.q_id, p.vec_id, p.rel, MAX(pr.sim) AS red
           |  FROM p JOIN pr ON pr.q_id = p.q_id AND pr.a = p.vec_id
           |    JOIN sel${k - 1} s ON s.q_id = pr.q_id AND s.vec_id = pr.b
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
           |                    WHERE x.q_id = p.q_id AND x.vec_id = p.vec_id)
           |  GROUP BY p.q_id, p.vec_id, p.rel),
           |s$k AS MATERIALIZED (SELECT q_id, vec_id, mmr, $k AS step FROM (
           |  SELECT q_id, vec_id,
           |    ${oRound("0.7*rel - (1 - 0.7)*red", 9)} AS mmr,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${oRound("0.7*rel - (1 - 0.7)*red", 9)} DESC, vec_id) AS rn
           |  FROM cand$k) t WHERE rn = 1),
           |sel$k AS MATERIALIZED (SELECT q_id, vec_id FROM sel${k - 1}
           |  UNION ALL SELECT q_id, vec_id FROM s$k)""".stripMargin
      val cosSql = (a: String, b: String) =>
        s"list_inner_product($a.v, $b.v) / (sqrt(list_inner_product($a.v, $a.v)) * sqrt(list_inner_product($b.v, $b.v)))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS MATERIALIZED (
         |  SELECT q_id, vec_id, rel FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         |      ${oRound(cosSql("q", "c"), 6)} AS rel
         |    FROM e q JOIN e c ON q.vec_id < 3 AND c.vec_id >= 3) t
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) <= 10),
         |pr AS MATERIALIZED (
         |  SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
         |    ${oRound(cosSql("ea", "eb"), 6)} AS sim
         |  FROM p a JOIN p b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
         |    JOIN e ea ON ea.vec_id = a.vec_id
         |    JOIN e eb ON eb.vec_id = b.vec_id),
         |s1 AS MATERIALIZED (SELECT q_id, vec_id, mmr, 1 AS step FROM (
         |  SELECT q_id, vec_id, ${oRound("0.7*rel", 9)} AS mmr,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${oRound("0.7*rel", 9)} DESC, vec_id) AS rn
         |  FROM p) t WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT q_id, vec_id FROM s1),
         |${(2 to 5).map(stepSql).mkString(",\n")}
         |SELECT q_id, CAST(step AS INT) AS step, vec_id, mmr
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
         |      UNION ALL SELECT * FROM s5)
         |ORDER BY q_id, step""".stripMargin
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
    // Integer log2 via bin-length on both engines (libm-free; see
    // lmQualityOf). DuckDB bin(BIGINT) renders the same minimal binary
    // string as Spark's bin(LONG), so bits(total) − bits(count) is
    // bit-exact.
    QueryDef("llm_lm_quality", llmLmQuality,
      s"""WITH ${lmBitsCtes("ws", "f", "t", "b")}
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  $lmAvgBitsSql AS avg_bits,
         |  ($lmAvgBitsSql >= 12.0) AS suspect
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
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
    // Bigram conditional surprise: same bin-length integer log2 as
    // lm_quality, now over TWO hashed count tables — unigram context
    // counts (over ALL words, including docs with one word) and bigram
    // counts (over adjacent pairs only). DuckDB 1-based ws[i]/ws[i+1]
    // mirrors Spark's element_at over sequence(1, size-1); range(1,
    // len) is empty for single-word docs, so they carry no row on
    // either engine. greatest(0, …) clamps the collision case where a
    // pooled bigram bucket outgrows its context's.
    QueryDef("llm_span_dedup", llmSpanDedup,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ch AS (SELECT doc_id, j,
         |    array_to_string(list_slice(ws, j*5 + 1, j*5 + 5), ' ') AS chunk,
         |    doc_id*1000000 + j AS pk
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(0, CAST(CEIL(len(ws)/5.0) AS BIGINT))) AS j
         |        FROM wt) t),
         |st AS (SELECT md5(chunk) AS h, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(MIN(pk) AS BIGINT) AS firstk
         |  FROM ch GROUP BY 1),
         |kp AS (SELECT c.doc_id, c.j, c.chunk, (c.pk = s.firstk) AS keep
         |  FROM ch c JOIN st s ON s.h = md5(c.chunk))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |  CAST(COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS removed,
         |  COALESCE(string_agg(chunk, ' ' ORDER BY j) FILTER (WHERE keep), '') AS clean_text
         |FROM kp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Oracle recomputes the suffix-class semantics directly: a position
    // is duplicated at depth d iff its d-word gram (list_slice, 1-based
    // inclusive) occurs >= 2 times corpus-wide. range(1, len-d+2) is
    // empty when len < d, so short docs drop out of deep depths on both
    // engines. The Spark side emits the same literal d-grams in a
    // single pass (its scaladoc documents measuring and rejecting the
    // prefix-doubling alternative) — identical gram multisets per depth.
    QueryDef("llm_suffix_dedup", llmSuffixDedup,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ds(d) AS (VALUES (1), (2), (4), (8), (16)),
         |ag AS (SELECT doc_id, d,
         |    array_to_string(list_slice(ws, p, p + d - 1), ' ') AS g
         |  FROM (SELECT doc_id, ws, d, unnest(range(1, len(ws) - d + 2)) AS p
         |        FROM wt, ds WHERE len(ws) >= d) t),
         |dup AS (SELECT d, g FROM ag GROUP BY d, g HAVING COUNT(*) >= 2),
         |dp AS (SELECT a.doc_id, a.d FROM ag a
         |  JOIN dup u ON u.d = a.d AND u.g = a.g),
         |agg AS (SELECT doc_id, MAX(d) AS max_dup_depth,
         |    SUM(CASE WHEN d = 8 THEN 1 ELSE 0 END) AS n_dup8,
         |    SUM(CASE WHEN d = 16 THEN 1 ELSE 0 END) AS n_dup16
         |  FROM dp GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_pos,
         |  CAST(COALESCE(max_dup_depth, 0) AS INTEGER) AS max_dup_depth,
         |  CAST(COALESCE(n_dup8, 0) AS BIGINT) AS n_dup8,
         |  CAST(COALESCE(n_dup16, 0) AS BIGINT) AS n_dup16
         |FROM wt w LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),
    // Span-removal action: non-first occurrences of duplicated 8-word
    // spans are cut; a word survives unless covered by some removable
    // span start. range(p, p+8) is half-open = offsets p..p+7; kept
    // words reassemble ORDER BY position. First occurrence = lexico-
    // graphic MIN over (doc_id, pos) STRUCTS (no packed-key magnitude
    // assumption — mirrors the builder), the spanDedup tiebreak.
    QueryDef("llm_suffix_scrub", llmSuffixScrub,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (SELECT doc_id, p,
         |    array_to_string(list_slice(ws, p, p + 7), ' ') AS gm
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 8 + 2)) AS p
         |        FROM wt WHERE len(ws) >= 8) t),
         |st AS (SELECT gm, COUNT(*) AS cnt,
         |    MIN({'d': doc_id, 'p': p}) AS firstocc
         |  FROM g GROUP BY 1),
         |rm AS (SELECT g.doc_id, g.p FROM g JOIN st USING (gm)
         |  WHERE st.cnt >= 2
         |    AND {'d': g.doc_id, 'p': g.p} <> st.firstocc),
         |cov AS (SELECT DISTINCT doc_id, q
         |  FROM (SELECT doc_id, unnest(range(p, p + 8)) AS q FROM rm) c),
         |px AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM wt),
         |kept AS (SELECT px.doc_id, px.i, px.ws[px.i] AS word
         |  FROM px
         |  LEFT JOIN cov ON cov.doc_id = px.doc_id AND cov.q = px.i
         |  WHERE cov.q IS NULL),
         |ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(word, ' ' ORDER BY i) AS txt
         |  FROM kept GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(ws) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(ka.txt, '') AS clean_text
         |FROM wt w LEFT JOIN ka USING (doc_id) ORDER BY w.doc_id""".stripMargin),
    QueryDef("llm_lm_trigram", llmLmTrigram,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tp AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM wt) px),
         |t3 AS (SELECT ('0x' || substr(md5(w1 || '_' || w2 || '_' || w3), 1, 4))::BIGINT AS b3,
         |    CAST(COUNT(*) AS BIGINT) AS c3
         |  FROM tp WHERE doc_id % 7 != 0 GROUP BY 1),
         |t2 AS (SELECT ('0x' || substr(md5(ws[i] || '_' || ws[i + 1]), 1, 4))::BIGINT AS b2,
         |    CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wt) px
         |  WHERE doc_id % 7 != 0 GROUP BY 1),
         |t1 AS (SELECT ('0x' || substr(md5(w), 1, 4))::BIGINT AS b1,
         |    CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM (SELECT doc_id, unnest(ws) AS w FROM wt) uw
         |  WHERE doc_id % 7 != 0 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM t1),
         |pos AS (SELECT doc_id,
         |    ('0x' || substr(md5(w1 || '_' || w2 || '_' || w3), 1, 4))::BIGINT AS b3,
         |    ('0x' || substr(md5(w1 || '_' || w2), 1, 4))::BIGINT AS b2c,
         |    ('0x' || substr(md5(w2 || '_' || w3), 1, 4))::BIGINT AS b2,
         |    ('0x' || substr(md5(w2), 1, 4))::BIGINT AS b1c,
         |    ('0x' || substr(md5(w3), 1, 4))::BIGINT AS b1w
         |  FROM tp WHERE doc_id % 7 = 0),
         |sc AS (SELECT p.doc_id,
         |    COALESCE(t3.c3, 0) AS c3, COALESCE(a.c2, 0) AS c2ctx,
         |    COALESCE(b.c2, 0) AS c2, COALESCE(x.c1, 0) AS c1ctx,
         |    COALESCE(y.c1, 0) AS c1w, tot.n
         |  FROM pos p
         |  LEFT JOIN t3 ON t3.b3 = p.b3
         |  LEFT JOIN t2 a ON a.b2 = p.b2c
         |  LEFT JOIN t2 b ON b.b2 = p.b2
         |  LEFT JOIN t1 x ON x.b1 = p.b1c
         |  LEFT JOIN t1 y ON y.b1 = p.b1w, tot),
         |bt AS (SELECT doc_id,
         |    CASE WHEN c3 > 0 THEN GREATEST(0, length(bin(c2ctx + 1)) - length(bin(c3)))
         |         WHEN c2 > 0 THEN GREATEST(0, length(bin(c1ctx + 1)) - length(bin(c2))) + 1
         |         ELSE GREATEST(0, length(bin(n)) - length(bin(c1w + 1))) + 2 END AS bits,
         |    CASE WHEN c3 = 0 THEN 1 ELSE 0 END AS backed
         |  FROM sc)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |  ${oRound("CAST(SUM(bits) AS DOUBLE) / COUNT(*)", 6)} AS avg_bits,
         |  ${oRound("CAST(SUM(backed) AS DOUBLE) / COUNT(*)", 6)} AS backoff_frac
         |FROM bt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("llm_lm_bigram", llmLmBigram,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |pairs AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(ws[i]), 1, 4))::BIGINT AS bp,
         |    ('0x' || substr(md5(ws[i] || '_' || ws[i + 1]), 1, 4))::BIGINT AS bb
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM wt) px),
         |fu AS (SELECT $vocabBucketSql AS bp, COUNT(*) AS cp
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) raw_u
         |       GROUP BY bp),
         |fb AS (SELECT bb, COUNT(*) AS cb FROM pairs GROUP BY bb)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ${oRound("CAST(SUM(greatest(0, length(bin(cp)) - length(bin(cb)))) AS DOUBLE) / COUNT(*)", 6)} AS avg_cond_bits
         |FROM pairs JOIN fu USING (bp) JOIN fb USING (bb)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
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
    // SemDeDup: the IVF cell CTEs over ALL vectors (no query/corpus
    // split), then within-cell pairs + the embed_neardup keeper rule.
    // Shares `semPairsCtes` with the CC-resolved twin below.
    QueryDef("llm_semdedup", llmSemdedup,
      s"""WITH $semPairsCtes
         |SELECT id_b AS dup_id, MIN(id_a) AS keeper_id, MAX(cos) AS best_cos
         |FROM spairs
         |GROUP BY id_b ORDER BY dup_id""".stripMargin),
    // SemDeDup pairs resolved via connected components (transitive
    // closure by recursive walk at fixture scale — the Spark side runs
    // the O(log d) star contraction, same contract as llm_dedup_cc).
    QueryDef("llm_semdedup_cc", llmSemdedupCc,
      s"""WITH RECURSIVE $semPairsCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM spairs
         |          UNION SELECT id_b, id_a FROM spairs),
         |walk AS (
         |  SELECT vec_id AS node, vec_id AS reach FROM embeddings
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
         |SELECT node AS vec_id, MIN(reach) AS cluster_id
         |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin),
    // The CC labels above + a per-cluster md5-ordered cap of 2.
    QueryDef("llm_cluster_sample", llmClusterSample,
      s"""WITH RECURSIVE $semPairsCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM spairs
         |          UNION SELECT id_b, id_a FROM spairs),
         |walk AS (
         |  SELECT vec_id AS node, vec_id AS reach FROM embeddings
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
         |lab AS (SELECT node AS vec_id, MIN(reach) AS cluster_id
         |        FROM walk GROUP BY node)
         |SELECT cluster_id, vec_id, rn FROM (
         |  SELECT cluster_id, vec_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |  FROM lab) t
         |WHERE rn <= 2 ORDER BY cluster_id, rn""".stripMargin),
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
    // DSIR importance: four integer-log2 terms via bin-length (see
    // dsirSelectOf); add-one smoothing on BOTH count terms (ct+1,
    // cr+1) — the totals are unsmoothed. One conditional-sum count
    // pass mirrors the Spark shape; values are identical to computing
    // the two sides separately.
    QueryDef("llm_pca_project", llmPcaProject, pcaProjectSql(8)),
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
    QueryDef("llm_token_count", llmTokenCount,
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens,
        |CAST(length(text) AS INT) AS chars,
        |CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS spaces
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_tokenize", llmTokenize,
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         |  $wpTokensSql AS wp_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
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
    QueryDef("llm_tfidf_top", llmTfidfTop,
      s"""WITH wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM wrd GROUP BY doc_id, w),
         |dfc AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
         |tot AS (SELECT COUNT(*) AS n FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.w, t.tf, d.df, t.tf * 1.0 * tot.n / d.df AS score
         |  FROM tf t JOIN dfc d USING (w), tot),
         |r AS (SELECT doc_id, w, tf, df, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rnk
         |  FROM scored)
         |SELECT doc_id, CAST(rnk AS INT) AS rnk, w AS term,
         |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         |  ${oRound("score", 6)} AS score
         |FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin),
    // BM25 with integer-bits idf; parenthesization mirrors the Spark
    // expression term-for-term (fixed-order IEEE), and the per-pair sum
    // goes through the quantized-long oSum.
    QueryDef("llm_bm25_topk", llmBm25Topk,
      s"""WITH wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM wrd GROUP BY doc_id, w),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM wrd GROUP BY doc_id),
         |c AS (SELECT * FROM tf WHERE doc_id >= 3),
         |q AS (SELECT DISTINCT doc_id AS q_id, w FROM tf WHERE doc_id < 3),
         |dfc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM c GROUP BY w),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE doc_id >= 3),
         |ad AS (SELECT CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl WHERE doc_id >= 3),
         |ts AS (SELECT q.q_id, c.doc_id,
         |  CAST(length(bin(nn.n)) - length(bin(dfc.df)) AS DOUBLE) *
         |    ((c.tf * (1.2 + 1.0)) /
         |      (c.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.dl / ad.avgdl)))) AS s
         |  FROM q JOIN c USING (w) JOIN dfc USING (w)
         |    JOIN dl ON c.doc_id = dl.doc_id, nn, ad),
         |sc AS (SELECT q_id, doc_id, ${oSum("s", 6)} AS score,
         |         CAST(COUNT(*) AS BIGINT) AS n_terms
         |       FROM ts GROUP BY q_id, doc_id),
         |r AS (SELECT q_id, doc_id, score, n_terms,
         |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rnk
         |  FROM sc)
         |SELECT q_id, CAST(rnk AS INT) AS rnk, doc_id, score, n_terms
         |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
    // RRF fusion: the BM25 CTEs verbatim (pool 20) + a 64-dim hashed
    // count-vector cosine ranker (integer dots/norms, IEEE sqrt), fused
    // by 1/(60+rank) with NULL ranks contributing zero.
    QueryDef("llm_rrf_fusion", llmRrfFusion,
      s"""WITH wrd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM wrd GROUP BY doc_id, w),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM wrd GROUP BY doc_id),
         |c AS (SELECT * FROM tf WHERE doc_id >= 3),
         |q AS (SELECT DISTINCT doc_id AS q_id, w FROM tf WHERE doc_id < 3),
         |dfc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM c GROUP BY w),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE doc_id >= 3),
         |ad AS (SELECT CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl WHERE doc_id >= 3),
         |ts AS (SELECT q.q_id, c.doc_id,
         |  CAST(length(bin(nn.n)) - length(bin(dfc.df)) AS DOUBLE) *
         |    ((c.tf * (1.2 + 1.0)) /
         |      (c.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.dl / ad.avgdl)))) AS s
         |  FROM q JOIN c USING (w) JOIN dfc USING (w)
         |    JOIN dl ON c.doc_id = dl.doc_id, nn, ad),
         |sc AS (SELECT q_id, doc_id, ${oSum("s", 6)} AS score
         |       FROM ts GROUP BY q_id, doc_id),
         |lr AS (SELECT q_id, doc_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS lex_rnk
         |  FROM sc),
         |ltop AS (SELECT * FROM lr WHERE lex_rnk <= 20),
         |vec AS (SELECT doc_id,
         |    (('0x' || substr(md5(w), 1, 4))::BIGINT % 64) AS dim,
         |    CAST(COUNT(*) AS BIGINT) AS v
         |  FROM wrd GROUP BY doc_id, dim),
         |n2 AS (SELECT doc_id, CAST(SUM(v*v) AS BIGINT) AS n2 FROM vec GROUP BY doc_id),
         |dot AS (SELECT qv.doc_id AS q_id, cv.doc_id,
         |    CAST(SUM(qv.v * cv.v) AS BIGINT) AS dot
         |  FROM vec qv JOIN vec cv USING (dim)
         |  WHERE qv.doc_id < 3 AND cv.doc_id >= 3 GROUP BY qv.doc_id, cv.doc_id),
         |cosr AS (SELECT d.q_id, d.doc_id,
         |    ${oRound("d.dot / (sqrt(nq.n2) * sqrt(nc.n2))", 6)} AS cos
         |  FROM dot d JOIN n2 nq ON nq.doc_id = d.q_id
         |    JOIN n2 nc ON nc.doc_id = d.doc_id),
         |dr AS (SELECT q_id, doc_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS dense_rnk
         |  FROM cosr),
         |dtop AS (SELECT * FROM dr WHERE dense_rnk <= 20),
         |fused AS (SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         |    COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rnk, d.dense_rnk,
         |    ${oRound("COALESCE(1.0/(60 + l.lex_rnk), 0.0) + COALESCE(1.0/(60 + d.dense_rnk), 0.0)", 9)} AS rrf
         |  FROM ltop l FULL OUTER JOIN dtop d
         |    ON l.q_id = d.q_id AND l.doc_id = d.doc_id),
         |fr AS (SELECT q_id, doc_id, lex_rnk, dense_rnk, rrf,
         |  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rnk
         |  FROM fused)
         |SELECT q_id, CAST(rnk AS INT) AS rnk, doc_id, rrf,
         |  CAST(lex_rnk AS INT) AS lex_rnk, CAST(dense_rnk AS INT) AS dense_rnk
         |FROM fr WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
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
    // Zipf fit: two-phase wordcount, top-V ORDER/LIMIT, rank window
    // over the V-row frame, quantized regression sums, closed-form
    // slope/intercept/R² on identical doubles.
    QueryDef("llm_zipf_fit", llmZipfFit,
      s"""WITH tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         |  GROUP BY w ORDER BY c DESC, w LIMIT 1000),
         |pts AS (SELECT
         |    ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
         |    ln(CAST(c AS DOUBLE)) AS y
         |  FROM tc),
         |sm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${oSum("x", 9)} AS sx, ${oSum("y", 9)} AS sy,
         |    ${oSum("x*x", 9)} AS sxx, ${oSum("x*y", 9)} AS sxy,
         |    ${oSum("y*y", 9)} AS syy
         |  FROM pts),
         |bb AS (SELECT n, sx, sy, sxx, sxy, syy,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM sm)
         |SELECT CAST(n AS BIGINT) AS n_fit,
         |  ${oRound("-b", 6)} AS zipf_exponent,
         |  ${oRound("(sy - b * sx) / n", 6)} AS intercept,
         |  CASE WHEN n * syy - sy * sy <= 1e-9 THEN 0.0
         |  ELSE ${oRound("(n * sxy - sx * sy) * (n * sxy - sx * sy)" +
             " / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} END AS r2
         |FROM bb""".stripMargin),
    // Heaps fit: integer-exact ceil-division checkpoint buckets,
    // word→min(doc) first-occurrence agg, cumulation + quantized
    // regression over the 16-row checkpoint frame only.
    QueryDef("llm_heaps_law", llmHeapsLaw,
      s"""WITH m AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
         |dt AS (SELECT CAST(((doc_id + 1) * 16 + m - 1) // m AS INT) AS bkt,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM documents, m),
         |tk AS (SELECT bkt, CAST(SUM(nt) AS BIGINT) AS toks
         |  FROM dt GROUP BY bkt),
         |fw AS (SELECT w, MIN(doc_id) AS fd
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t
         |  GROUP BY w),
         |nw AS (SELECT CAST(((fd + 1) * 16 + m - 1) // m AS INT) AS bkt,
         |    CAST(COUNT(*) AS BIGINT) AS nw
         |  FROM fw, m GROUP BY 1),
         |cum AS (SELECT tk.bkt,
         |    CAST(SUM(tk.toks) OVER (ORDER BY tk.bkt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS n_cum,
         |    CAST(SUM(COALESCE(nw.nw, 0)) OVER (ORDER BY tk.bkt
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS v_cum
         |  FROM tk LEFT JOIN nw ON nw.bkt = tk.bkt),
         |pts AS (SELECT ln(CAST(n_cum AS DOUBLE)) AS x,
         |    ln(CAST(v_cum AS DOUBLE)) AS y, n_cum, v_cum FROM cum),
         |sm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${oSum("x", 9)} AS sx, ${oSum("y", 9)} AS sy,
         |    ${oSum("x*x", 9)} AS sxx, ${oSum("x*y", 9)} AS sxy,
         |    ${oSum("y*y", 9)} AS syy,
         |    CAST(MAX(n_cum) AS BIGINT) AS tokens_total,
         |    CAST(MAX(v_cum) AS BIGINT) AS vocab_total
         |  FROM pts),
         |bb AS (SELECT sm.*,
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b FROM sm)
         |SELECT CAST(n AS BIGINT) AS n_fit,
         |  ${oRound("b", 6)} AS heaps_beta,
         |  ${oRound("(sy - b * sx) / n", 6)} AS intercept,
         |  CASE WHEN n * syy - sy * sy <= 1e-9 THEN 0.0
         |    ELSE ${oRound("(n * sxy - sx * sy) * (n * sxy - sx * sy)" +
             " / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} END AS r2,
         |  tokens_total, vocab_total
         |FROM bb""".stripMargin),
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
    // PMI association ratio, un-logged (monotone, libm-free), with the
    // division interleaved into the products exactly as the Spark side
    // parenthesizes it; cab >= 3 hapax guard; DuckDB range(1, len) is
    // empty for 1-word docs, mirroring the Spark size >= 2 filter.
    QueryDef("llm_collocations", llmCollocations,
      s"""WITH wt AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |prs AS (SELECT ws[i] AS a, ws[i+1] AS b
         |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM wt) t),
         |cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w
         |             FROM documents) wrd GROUP BY w),
         |tw AS (SELECT CAST(SUM(c) AS BIGINT) AS tw FROM cw),
         |cb AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
         |       FROM prs GROUP BY a, b),
         |tb AS (SELECT CAST(SUM(cab) AS BIGINT) AS tb FROM cb)
         |SELECT cb.a, cb.b, cb.cab, wa.c AS ca, wb.c AS cbn,
         |  ${oRound("((cb.cab * 1.0 * tw.tw / tb.tb) * (tw.tw * 1.0 / wa.c)) / wb.c", 6)} AS ratio
         |FROM cb JOIN cw wa ON wa.w = cb.a JOIN cw wb ON wb.w = cb.b, tw, tb
         |WHERE cb.cab >= 3
         |ORDER BY ratio DESC, a, b LIMIT 20""".stripMargin),
    // TextRank: undirected weighted word graph, 5 unrolled weighted-
    // PageRank iterations with the same quantized-long sums as the Spark
    // side; (score * wgt / ow) parenthesized identically (left-assoc).
    QueryDef("llm_textrank", llmTextrank, {
      def iterSql(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           |  SELECT n.word,
           |    ${oRound(s"0.15 + 0.85*(${oSum("COALESCE(c.c, 0.0)", 9)})", 9)} AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.b AS word, r.score * e.wgt / e.ow AS c
           |    FROM e JOIN $prev r ON r.word = e.a) c
           |  ON c.word = n.word
           |  GROUP BY n.word)""".stripMargin
      s"""WITH wt AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |prs AS (SELECT ws[i] AS a, ws[i+1] AS b
         |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM wt) t
         |        WHERE ws[i] <> ws[i+1]),
         |und AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
         |wgt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS wgt
         |        FROM und GROUP BY a, b),
         |outw AS (SELECT a, CAST(SUM(wgt) AS BIGINT) AS ow
         |         FROM wgt GROUP BY a),
         |e AS MATERIALIZED (SELECT wgt.a, wgt.b, wgt.wgt, outw.ow
         |     FROM wgt JOIN outw USING (a)),
         |nodes AS (SELECT a AS word FROM outw),
         |r0 AS (SELECT word, 1.0 AS score FROM nodes),
         |${(1 to 5).map(k => iterSql(s"r${k - 1}", s"r$k")).mkString(",\n")}
         |SELECT word, score FROM r5
         |ORDER BY score DESC, word LIMIT 10""".stripMargin
    }),
    // Zipf coverage curve: rank + running-sum windows over the vocab-
    // sized count table; k > vocab saturates at total naturally.
    QueryDef("llm_vocab_coverage", llmVocabCoverage,
      s"""WITH cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |        FROM documents) wrd GROUP BY w),
         |ranked AS (SELECT w, c,
         |    row_number() OVER (ORDER BY c DESC, w) AS rnk,
         |    CAST(SUM(c) OVER (ORDER BY c DESC, w
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM cw),
         |t AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
         |        CAST(COUNT(*) AS BIGINT) AS vocab FROM cw),
         |ks AS (SELECT unnest([10, 100, 1000, 10000]) AS k)
         |SELECT ks.k, CAST(MAX(CASE WHEN r.rnk <= ks.k THEN r.cum END)
         |    AS BIGINT) AS covered,
         |  t.total, t.vocab,
         |  ${oRound("CAST(MAX(CASE WHEN r.rnk <= ks.k THEN r.cum END) AS DOUBLE) / t.total", 6)} AS coverage
         |FROM ks CROSS JOIN ranked r CROSS JOIN t
         |GROUP BY ks.k, t.total, t.vocab
         |ORDER BY ks.k""".stripMargin),
    // SoftDeDup weights: sha256 content clusters (the exact-dedup
    // scheme), weight = 1/n quantized.
    QueryDef("llm_dedup_weights", llmDedupWeights,
      s"""WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
         |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies
         |      FROM h GROUP BY h)
         |SELECT h.doc_id, c.n_copies,
         |  ${oRound("1.0 / c.n_copies", 9)} AS weight
         |FROM h JOIN c USING (h) ORDER BY h.doc_id""".stripMargin),
    // Winsorization audit: quantile_cont ≡ Spark percentile (the
    // agg_percentile idiom), 64-row dim table via range(64) (DuckDB 1.0
    // lacks lateral range-over-column), clip counts against the ROUNDED
    // thresholds in both engines.
    QueryDef("llm_embed_clip", llmEmbedClip,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |vals AS (SELECT t.d AS dim, e.v[t.d + 1] AS v
         |         FROM e, range(64) t(d)),
         |stats AS (SELECT dim,
         |    ${oRound("quantile_cont(v, 0.05)", 6)} AS lo,
         |    ${oRound("quantile_cont(v, 0.95)", 6)} AS hi,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM vals GROUP BY dim)
         |SELECT s.dim, s.lo, s.hi, s.n,
         |  CAST(SUM(CASE WHEN va.v < s.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         |  CAST(SUM(CASE WHEN va.v > s.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
         |FROM vals va JOIN stats s USING (dim)
         |GROUP BY s.dim, s.lo, s.hi, s.n
         |ORDER BY s.dim""".stripMargin),
    // Bin-length entropy surrogate over per-doc char counts; substr-
    // over-range chars (no empty-delimiter split in DuckDB).
    QueryDef("llm_char_entropy", llmCharEntropy,
      s"""WITH chars AS (
         |  SELECT doc_id, length(text) AS len, substr(text, i, 1) AS ch
         |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
         |        FROM documents WHERE length(text) >= 1) t),
         |cc AS (SELECT doc_id, len, ch, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM chars GROUP BY doc_id, len, ch)
         |SELECT doc_id, CAST(len AS BIGINT) AS len,
         |  CAST(COUNT(*) AS BIGINT) AS alphabet,
         |  ${oRound("CAST(SUM(c * (length(bin(CAST(len AS BIGINT))) - length(bin(c)))) AS DOUBLE) / len", 6)} AS ent_bits
         |FROM cc GROUP BY doc_id, len ORDER BY doc_id""".stripMargin),
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
    // RAKE: stopword masking + literal-class split (RE2 == Java for
    // [ ]*[|][ ]*); word deg/freq over candidate occurrences; per-word
    // score quantized at 1e-9 before the exact per-phrase sum.
    QueryDef("llm_rake_keywords", llmRakeKeywords,
      s"""WITH po AS (SELECT phrase, string_split(phrase, ' ') AS pws FROM (
         |    SELECT unnest(string_split_regex(array_to_string(
         |      list_transform(string_split(text, ' '),
         |        w -> CASE WHEN w IN ('a','the','of','to','and','in','is',
         |          'on','for','with','as','by','an','at','or','be','this',
         |          'that','it','from') THEN '|' ELSE w END), ' '),
         |      '[ ]*[|][ ]*')) AS phrase
         |    FROM documents) t
         |  WHERE length(phrase) > 0 AND len(string_split(phrase, ' ')) <= 3),
         |ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(plen) AS BIGINT) AS deg
         |  FROM (SELECT unnest(pws) AS w, len(pws) AS plen FROM po) t
         |  GROUP BY 1),
         |pf AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS occurrences
         |  FROM po GROUP BY 1),
         |m AS (SELECT phrase, occurrences,
         |    unnest(string_split(phrase, ' ')) AS w FROM pf),
         |sc AS (SELECT m.phrase, m.occurrences,
         |    CAST(COUNT(*) AS BIGINT) AS n_words,
         |    ${oSum("CAST(ws.deg AS DOUBLE) / ws.freq", 9)} AS score_raw
         |  FROM m JOIN ws USING (w) GROUP BY 1, 2)
         |SELECT phrase, n_words, occurrences,
         |  ${oRound("score_raw", 6)} AS score
         |FROM sc ORDER BY score DESC, phrase LIMIT 20""".stripMargin),
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
    // Bigram perplexity: Jelinek-Mercer 0.9/0.1 over exact counts,
    // CAST AS DOUBLE hoisted; -ln p quantized at 1e-9 before the exact
    // per-doc sum; bt rides a scalar subquery.
    QueryDef("llm_lm_perplexity", llmLmPerplexity,
      s"""WITH ${pplModelCtes("wt", "bg", "c12", "c1", "cu", "bt", "md")}
         |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ${oRound(s"(${oSum("-ln(p)", 9)}) / COUNT(*)", 6)} AS cross_entropy,
         |  ${oRound(s"exp((${oSum("-ln(p)", 9)}) / COUNT(*))", 6)} AS ppl
         |FROM bg JOIN md USING (w1, w2) GROUP BY bg.doc_id
         |ORDER BY doc_id""".stripMargin),
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
         |FROM nz ORDER BY lang, source""".stripMargin),
    QueryDef("llm_fingerprint", llmFingerprint,
      s"""SELECT doc_id,
         |list_reduce(list_prepend(0::BIGINT,
         |  list_transform(string_split(text, ' '),
         |    w -> length(w)::BIGINT * 256 + ascii(w[1]))),
         |  (a, b) -> (a * 31 + b) % $P) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_media_manifest", llmMediaManifest,
      """WITH f AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS INT) AS n,
        |    CASE WHEN length(text) > 0 THEN ascii(text[1]) ELSE 0 END AS b0
        |  FROM documents),
        |g AS (SELECT doc_id, n,
        |    CAST(64 + n % 640 AS INT) AS src_w,
        |    CAST(64 + (b0 * 3) % 480 AS INT) AS src_h,
        |    CAST(1 + n % 30 AS INT) AS frames
        |  FROM f),
        |h AS (SELECT *, LEAST(frames, 4) AS k,
        |    224.0 / GREATEST(src_w, src_h) AS sc
        |  FROM g),
        |m AS (SELECT doc_id, n, src_w, src_h, frames, k, sc,
        |    CAST(FLOOR(src_w * sc + 0.5) AS INT) AS out_w,
        |    CAST(FLOOR(src_h * sc + 0.5) AS INT) AS out_h,
        |    CAST(j AS INT) AS j,
        |    CAST(FLOOR(j * frames / k) AS INT) AS frame_idx
        |  FROM h, unnest(range(0, k)) t(j))
        |SELECT doc_id, j, frame_idx,
        |  CAST(frame_idx * 40 AS INT) AS ts_ms,
        |  CAST(frame_idx AS BIGINT) * CAST(FLOOR(n / frames) AS BIGINT) AS byte_off,
        |  src_w, src_h, out_w, out_h,
        |  CAST(FLOOR(sc * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS scale
        |FROM m ORDER BY doc_id, j""".stripMargin),
    QueryDef("llm_multimodal_decode", llmMultimodalDecode,
      """SELECT doc_id, lang,
        |CAST(octet_length(encode(text)) AS INT) AS bytes,
        |CAST(64 + octet_length(encode(text)) % 640 AS INT) AS width,
        |CAST(64 + (CASE WHEN length(text) > 0 THEN ascii(text[1]) ELSE 0 END * 3) % 480 AS INT) AS height,
        |CAST(1 + octet_length(encode(text)) % 30 AS INT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("llm_multimodal", llmMultimodal,
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
        |upper(array_to_string(list_transform(range(1, 5), i -> to_hex(ascii(text[i]))), '')) AS magic,
        |lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Winnowing replay: same positional 3-gram stream (shared hashGramSql
    // fragment), window-min selection over w consecutive grams. DuckDB
    // list slices are 1-based inclusive-inclusive, so g[i+1:i+w] is the
    // w-gram window starting at 0-based offset i — exactly Spark's
    // slice(g, i+1, w).
    QueryDef("llm_winnow", llmWinnow,
      s"""WITH wh AS ($wordHashSql),
         |g AS (SELECT doc_id, ${hashGramSql(3, distinct = false)} AS g
         |      FROM wh WHERE nw >= ${winnowW + 2}),
         |f AS (SELECT doc_id, list_distinct(list_transform(range(len(g) - ${winnowW - 1}),
         |        i -> list_min(g[i+1:i+$winnowW]))) AS fps FROM g)
         |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
         |  CAST(list_sum(fps) AS BIGINT) AS fp_sum,
         |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
         |FROM f ORDER BY doc_id""".stripMargin),
    QueryDef("llm_bpe_merges", llmBpeMerges,
      """WITH w0 AS (
        |  SELECT w, COUNT(*) AS wc
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (SELECT wc, unnest(list_transform(range(1, length(w)),
        |        i -> substr(w, CAST(i AS INT), 2))) AS pair FROM w0)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),
    // Iterative trainer, unrolled: v0 = sentinel-wrapped weighted vocab;
    // per step k, p{k} = adjacent symbol pairs (chr(3)-keyed), m{k} =
    // the argmax merge, v{k} = the vocab with it applied (chr(1)/chr(2)
    // sentinel-literal replace — same semantics as the Spark side).
    QueryDef("llm_bpe_train", llmBpeTrain, bpeTrainSql(10)),
    // Training = the same unrolled CTEs; the apply step folds the
    // word's sentinel-wrapped form through the m1..m10 scalar
    // subqueries in training order (left-to-right non-overlapping
    // replace — the canonical BPE apply).
    QueryDef("llm_bpe_encode", llmBpeEncode, bpeEncodeSql(10)),
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
         |FROM sel ORDER BY doc_id""".stripMargin),
    // Fuzzy-decontamination replay: the SAME capped-bucket CTE chain as
    // the minhash oracle (shared fragment — no drift), with the self-join
    // split corpus×eval instead of doc_a<doc_b.
    QueryDef("llm_contamination_fuzzy", llmContaminationFuzzy,
      s"""WITH ${bucketCtes(maxBucket)},
         |cand AS (
         |  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id,
         |    len(list_filter(c.sh, x -> list_contains(e.sh, x))) * 1.0 /
         |    (len(c.sh) + len(e.sh)
         |     - len(list_filter(c.sh, x -> list_contains(e.sh, x)))) AS jac
         |  FROM buckets c JOIN buckets e
         |    ON c.band = e.band AND c.sig = e.sig
         |  WHERE c.doc_id % 7 != 0 AND e.doc_id % 7 = 0)
         |SELECT doc_id, eval_id, ${oRound("jac", 6)} AS jaccard
         |FROM cand WHERE jac >= 0.3 ORDER BY doc_id, eval_id""".stripMargin),
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
    // Interpolated Kneser-Ney: identical fixed-order double formula,
    // quantized-long ordering for the cross-engine top-20.
    QueryDef("llm_lm_kn", llmLmKn,
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |prs AS (SELECT ws[i] AS w1, ws[i+1] AS w2
        |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w) t),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM prs GROUP BY w1, w2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
        |          CAST(COUNT(*) AS BIGINT) AS n1f FROM big GROUP BY w1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        |         FROM big GROUP BY w2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM big),
        |p AS (SELECT b.w1, b.w2, b.c,
        |    CAST(FLOOR((greatest(b.c - 0.75, 0.0) / ctx.cw1
        |      + 0.75 * ctx.n1f / ctx.cw1 * (cont.n1b * 1.0 / tot.bt))
        |      * 1000000.0 + 0.5) AS BIGINT) AS pq
        |  FROM big b JOIN ctx USING (w1) JOIN cont USING (w2)
        |  CROSS JOIN tot)
        |SELECT w1, w2, c, CAST(pq AS DOUBLE) / 1000000.0 AS p_kn
        |FROM p ORDER BY pq DESC, w1, w2 LIMIT 20""".stripMargin),
    // Calibration: the shared bucket CTEs; per-pair match_k via a
    // 12-element index filter, exact Jaccard via the set intersect;
    // est ≥ 0.5 spelled as the integer match_k >= 6 in both engines.
    QueryDef("llm_minhash_calibration", llmMinhashCalibration, {
      val mhList = (0 until bands * rowsPerBand).map(i => s"mh$i")
        .mkString("[", ", ", "]")
      s"""WITH ${bucketCtes(maxBucket)},
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |feat AS (SELECT doc_id, sh, $mhList AS mhs FROM mh),
         |pf AS (
         |  SELECT
         |    len(list_filter(range(1, 13), i -> fa.mhs[i] = fb.mhs[i]))
         |      AS match_k,
         |    len(list_filter(fa.sh, x -> list_contains(fb.sh, x))) AS ni,
         |    len(fa.sh) AS na, len(fb.sh) AS nb
         |  FROM cpairs p
         |  JOIN feat fa ON fa.doc_id = p.doc_a
         |  JOIN feat fb ON fb.doc_id = p.doc_b),
         |m AS (SELECT match_k, match_k / 12.0 AS est,
         |        ni * 1.0 / (na + nb - ni) AS xact FROM pf)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${oAvg("abs(est - xact)", 6)} AS mae,
         |  ${oAvg("est - xact", 6)} AS bias,
         |  CAST(SUM(CASE WHEN match_k >= 6 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS est_pos,
         |  CAST(SUM(CASE WHEN xact >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS exact_pos,
         |  CAST(SUM(CASE WHEN match_k >= 6 AND xact >= 0.5 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS both_pos
         |FROM m""".stripMargin
    }),
    // Novelty: shared gram arithmetic; first occurrence = min doc_id
    // over the distinct-gram explode.
    QueryDef("llm_ngram_novelty", llmNgramNovelty,
      s"""WITH wh AS ($wordHashSql),
         |g4 AS (SELECT doc_id, unnest(${hashGramSql(4)}) AS g
         |       FROM wh WHERE nw >= 4),
         |f AS (SELECT g, MIN(doc_id) AS first_doc FROM g4 GROUP BY g)
         |SELECT g4.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN f.first_doc = g4.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  ${oRound("CAST(SUM(CASE WHEN f.first_doc = g4.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
         |    AS novelty
         |FROM g4 JOIN f USING (g)
         |GROUP BY g4.doc_id ORDER BY g4.doc_id""".stripMargin),
    // Lexical diversity: Σc² rides the same (doc, word) count table;
    // three fixed-order divisions are the only doubles.
    QueryDef("llm_lexical_diversity", llmLexicalDiversity,
      s"""WITH cw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) t GROUP BY doc_id, w),
         |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |        CAST(COUNT(*) AS BIGINT) AS n_types,
         |        CAST(SUM(c * c) AS BIGINT) AS sum_c2,
         |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_hapax
         |      FROM cw GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |  ${oRound("CAST(n_types AS DOUBLE) / n_tokens", 6)} AS ttr,
         |  ${oRound("CAST(n_hapax AS DOUBLE) / n_types", 6)} AS hapax_frac,
         |  ${oRound("10000.0 * (sum_c2 - n_tokens) / (n_tokens * n_tokens)", 6)} AS yules_k
         |FROM d ORDER BY doc_id""".stripMargin),
    // Outliers: same packed-key argmax as the cell CTEs; quantile_cont
    // ≡ Spark percentile over the unpacked integer cosines.
    QueryDef("llm_embed_outliers", llmEmbedOutliers,
      s"""WITH $embCentsCtes,
         |asg AS (
         |  SELECT vec_id,
         |    arg_max(c_id, CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS cell,
         |    MAX(CAST(FLOOR(list_inner_product(v, cv)/(nrm*cn)*1000000000.0 + 0.5) AS BIGINT) * 65536 + r) AS bk
         |  FROM n, cents GROUP BY vec_id),
         |qv AS (SELECT vec_id, cell, bk // 65536 AS q FROM asg),
         |t AS (SELECT cell, quantile_cont(q, 0.05) AS p05_raw,
         |        CAST(COUNT(*) AS BIGINT) AS cell_n
         |      FROM qv GROUP BY cell)
         |SELECT qv.vec_id, qv.cell,
         |  ${oRound("CAST(qv.q AS DOUBLE) / 1000000000.0", 6)} AS cos_c,
         |  t.cell_n,
         |  ${oRound("t.p05_raw / 1000000000.0", 6)} AS cell_p05,
         |  CAST(qv.q AS DOUBLE) < t.p05_raw AS is_outlier
         |FROM qv JOIN t USING (cell) ORDER BY qv.vec_id""".stripMargin),
    // Fertility: shared wpTokensSql fold + the llm_token_count regex,
    // summed per language.
    QueryDef("llm_tokenizer_fertility", llmTokenizerFertility,
      s"""WITH per AS (SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    $wpTokensSql AS wp_tokens,
         |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         |      AS BIGINT) AS bpe_tokens
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(wp_tokens) AS BIGINT) AS wp_tokens,
         |  CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
         |  ${oRound("CAST(SUM(wp_tokens) AS DOUBLE) / SUM(n_words)", 6)} AS wp_fertility,
         |  ${oRound("CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(n_words)", 6)} AS bpe_fertility
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin),
    // CDC: identical B1/B2/B3·mod-P gram arithmetic, mod-16 boundary,
    // lag-sum chunk index, order-preserving string_agg reassembly.
    QueryDef("llm_cdc_chunks", llmCdcChunks,
      s"""WITH wt AS (SELECT doc_id, string_split(text, ' ') AS ws
         |            FROM documents
         |            WHERE len(string_split(text, ' ')) >= 1),
         |hw AS (SELECT doc_id, ws, list_transform(ws,
         |          x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
         |       FROM wt),
         |px AS (SELECT doc_id, ws, hs, unnest(range(1, len(ws) + 1)) AS p
         |       FROM hw),
         |fl AS (SELECT doc_id, p, ws[p] AS w,
         |        CASE WHEN p >= 3 AND p < len(ws)
         |             AND (hs[p-2]*$b1 + hs[p-1]*$b2 + hs[p]*$b3)
         |                 % $P % 16 = 0
         |        THEN 1 ELSE 0 END AS fl
         |       FROM px),
         |ck AS (SELECT doc_id, p, w,
         |        COALESCE(SUM(fl) OVER (PARTITION BY doc_id ORDER BY p
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS chunk_idx
         |       FROM fl),
         |chunks AS (SELECT doc_id, chunk_idx,
         |        md5(string_agg(w, ' ' ORDER BY p)) AS h,
         |        CAST(COUNT(*) AS BIGINT) AS cw
         |       FROM ck GROUP BY doc_id, chunk_idx),
         |bc AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs
         |       FROM (SELECT DISTINCT doc_id, h FROM chunks) t GROUP BY h)
         |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(c.cw) AS BIGINT) AS n_words,
         |  ${oRound("CAST(SUM(c.cw) AS DOUBLE) / COUNT(*)", 4)} AS avg_chunk_words,
         |  CAST(SUM(CASE WHEN bc.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  ${oRound("CAST(SUM(CASE WHEN bc.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
         |    AS dup_frac
         |FROM chunks c JOIN bc USING (h)
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),
    // kNN classify: same unthresholded cell pairs; per-vector top-3,
    // (vector, label) vote count, argmax with smaller-label tie-break,
    // per-class accuracy.
    QueryDef("llm_knn_classify", llmKnnClassify,
      s"""WITH ${semPairsCtesWith("")},
         |dirp AS (SELECT id_a AS src, id_b AS dst, cos FROM spairs
         |         UNION ALL SELECT id_b, id_a, cos FROM spairs),
         |topk AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst) AS rnk FROM dirp) t
         |  WHERE rnk <= 3),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |votes AS (SELECT t.src, l.label AS nl,
         |            CAST(COUNT(*) AS BIGINT) AS v
         |          FROM topk t JOIN lab l ON l.vec_id = t.dst
         |          GROUP BY t.src, l.label),
         |pred AS (SELECT src AS vec_id, nl AS pred FROM (
         |    SELECT src, nl, row_number() OVER (PARTITION BY src
         |      ORDER BY v DESC, nl) AS vr FROM votes) t
         |  WHERE vr = 1)
         |SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  ${oRound("CAST(SUM(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)}
         |    AS acc
         |FROM lab l JOIN pred p USING (vec_id)
         |GROUP BY l.label ORDER BY l.label""".stripMargin),
    // Mutual kNN graph: the unthresholded SemDeDup cell pairs, ranked
    // per node (cos desc, dst tie-break), kept iff both directions
    // rank each other top-3.
    QueryDef("llm_knn_graph", llmKnnGraph,
      s"""WITH ${semPairsCtesWith("")},
         |dirp AS (SELECT id_a AS src, id_b AS dst, cos FROM spairs
         |         UNION ALL SELECT id_b, id_a, cos FROM spairs),
         |topk AS (SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst) AS rnk FROM dirp) t
         |  WHERE rnk <= 3)
         |SELECT t.src AS id_a, t.dst AS id_b, t.cos
         |FROM topk t JOIN topk r ON r.src = t.dst AND r.dst = t.src
         |WHERE t.src < t.dst ORDER BY id_a, id_b""".stripMargin),
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
