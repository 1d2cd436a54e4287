package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** §2.9 corpus deduplication: exact (content hash, canonical URL, row
  * keys), near (MinHash/LSH, SimHash, n-gram Jaccard and containment),
  * span-level (suffix keys, fixed and content-defined chunks, winnowing)
  * and incremental dedup against on-disk state, plus the contamination
  * and repetition filters built on the same signatures.
  *
  * This module owns the signature format that the other text families
  * reuse: the md5 word hashes ([[wordHashCol]] / `wordHashSql`), hashed
  * n-gram ids ([[hashGramCol]] / `hashGramSql`), the MinHash seeds,
  * bands and buckets, and the star-contraction [[connectedComponents]].
  * Each Column kernel sits next to its DuckDB twin.
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
  */
object Dedup {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

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
  private[queries] val maxBucket = 1000

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

  /** DuckDB twin of `wordHashRows`→`shingleIdRows`: 28-bit md5 word
    * hashes combined with the same B1/B2/B3 · mod-P arithmetic. */
  /** `nw` duplicates len(hs) from the CHEAP precursor (split only, no
    * md5): length guards must filter on nw, never len(hs) — a predicate
    * referencing hs alias-substitutes the md5 word-hash chain into the
    * scan's DataFilters when the text runs as the Spark surface entry
    * (the r10 pathology site; PlanSpec's SQL-surface sweep pins md5 out
    * of every FileScan line). list_transform preserves length, so the
    * two spellings are row-identical. */
  private[queries] val wordHashSql =
    """SELECT doc_id, lang,
      |  list_transform(string_split(text, ' '),
      |    w -> ('0x' || substr(md5(w), 1, 7))::BIGINT) AS hs,
      |  len(string_split(text, ' ')) AS nw
      |FROM documents""".stripMargin

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

  /** DuckDB twin of [[hashGramCol]] — same coefficients, same mod-P. */
  private[queries] def hashGramSql(width: Int, distinct: Boolean = true): String = {
    val coefs = Seq(s"*$b1", s"*$b2", s"*$b3", "")
    val terms = (0 until width).map(j => s"hs[i+${j + 1}]${coefs(j)}").mkString(" + ")
    val grams = s"list_transform(range(len(hs)-${width - 1}), i -> ($terms) % $P)"
    if (distinct) s"list_distinct($grams)" else grams
  }

  /** Distinct 3-word shingle ids from a word-hash array column `hs` —
    * pure per-row array arithmetic (requires size(hs) >= 3). */
  private def shingleSetCol: Column = hashGramCol(3)

  private val shingleSql =
    s"""SELECT doc_id, ${hashGramSql(3)} AS sh
       |FROM ($wordHashSql) t
       |WHERE nw >= 3""".stripMargin

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
    docs.select(col("doc_id"), wordHashCol.as("hs"))

  /** [[signaturesOf]] from a pre-built [[hashedWordsOf]] frame: shingle
    * ids and all 12 minhash values are per-row array arithmetic above
    * `hs` — no rescan, no re-hash. */
  private[graft] def signaturesFromHashed(hashed: DataFrame): DataFrame = {
    // r22: the 12 interpreted `array_min(transform(sh, sid =>
    // (a*sid + b) % P))` passes became ONE native pass over `sh`
    // ([[graft.functions.TextHashOps.minHashSig]] — same seeds, same
    // arithmetic, same array_min null/empty semantics; equivalence pinned
    // by TextHashExpressionsSpec).
    hashed
      .filter(size(col("hs")) >= 3)
      .select(col("doc_id"), shingleSetCol.as("sh"))
      .select(col("doc_id"), col("sh"),
        call_function("minhash_sig", col("sh")).as("mhs"))
      .select(col("doc_id") +: col("sh") +: minhashCols: _*)
  }

  /** mh0..mh11 from the `minhash_sig` array column `mhs`. `mhs` is a
    * non-cheap alias referenced 12 times, so CollapseProject keeps the
    * pass in its own projection. */
  private def minhashCols: Seq[Column] = seeds.indices.map(i =>
    element_at(col("mhs"), i + 1).as(s"mh$i"))

  /** (band, sig) struct per LSH band, built from mh0..mh11 columns. */
  private def bandStructs: Seq[Column] = (0 until bands).map { j =>
    struct(lit(j).as("band"),
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh${j * rowsPerBand + r}")): _*).as("sig"))
  }

  /** (doc_id, carry…, band, sig) LSH bucket rows from a signature table. */
  private def bucketsOf(sets: DataFrame, carry: String*): DataFrame = {
    val keep = ("doc_id" +: carry).map(col)
    sets
      .select(keep :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(keep ++ Seq(col("bk.band").as("band"), col("bk.sig").as("sig")): _*)
  }

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
  private[graft] def syntheticUrlSql(cast: String): String =
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
    // + both sides of the verification join); pinned so the corpus scan
    // happens once — the checkpointed intermediate a production dedup
    // pipeline materializes anyway.
    val sets = signaturesOf(docs).transform(pin)
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
    * `sets` (both registered consumers [[pin]] it — the cache
    * barrier against the filter-pushdown recompute pathology). */
  private[graft] def minhashCandidates(sets: DataFrame): DataFrame = {
    val buckets = capBuckets(bucketsOf(sets), maxBucket)
    buckets.alias("a")
      .join(buckets.alias("b"), Seq("band", "sig"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, jac)` — shared by the
    * minhash pair oracle and the connected-components oracle. */
  private[queries] val minhashPairsCtes: String = {
    s"""${bucketCtes(maxBucket)},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
       |    (len(a.sh) + len(b.sh)
       |     - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jac
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
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
    val sets = signaturesOf(docs).drop("sh").transform(pin)
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
    // bucket join + both feature joins share it
    val sets = signaturesOf(docs).transform(pin)
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
    val grams = docs
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), explode(hashGramCol(4)).as("g"))
      .transform(pin)
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
    val b = bucketsOf(signaturesOf(Tables.t(s, dir, "documents"))).transform(pin)
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
    val words = Tables.t(s, dir, "documents")
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
    val hashed = hashedWordsOf(docs).transform(pin)
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
    val g = hashed.select(col("doc_id"), gramSet.as("g"))
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
  private[graft] def verifiedBigramPairsOf(docs: DataFrame): DataFrame =
    verifiedCandidates(docs)(ngramJaccardFromHashed)

  /** The shared-persist shape behind every verified-candidate operator:
    * `verify(hashed, candidates)` over one [[hashedWordsOf]] persist and
    * the LSH candidates of a signature frame, both [[pin]]ned.
    * r22: `sh` is projected OUT before the signature persist — the
    * candidate join's three consumers read only the (doc_id, mh*) band
    * columns, and the shingle array is the cache's fattest column (it
    * scales with doc length where the 12 mh longs are fixed); caching it
    * inflated the materialization job and every single-task consumer
    * scan of the 1-partition cache. The verifiers re-derive their grams
    * from `hashed`, never from sh. */
  private[queries] def verifiedCandidates(docs: DataFrame)(
      verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val hashed = hashedWordsOf(docs).transform(pin)
    val sets = signaturesFromHashed(hashed).drop("sh").transform(pin)
    verify(hashed, minhashCandidates(sets))
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
    val g = hashed.select(col("doc_id"), gramSet.as("g"))
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

  /** Containment chain over the banded-LSH `pairs` frame (callers
    * prepend [[minhashPairsCtes]]) ending in `<j2>(doc_a, doc_b, n_a,
    * n_b, n_inter, cont_a, cont_b, jaccard)`
    * ([[ngramContainmentFromHashed]]). */
  private[queries] def containmentCtes(cand: String, g: String, j: String,
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

  val llmNgramContainment: Q = (s, dir) =>
    verifiedCandidates(Tables.t(s, dir, "documents"))(ngramContainmentFromHashed)
      .orderBy("doc_a", "doc_b")

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

  /** Incremental dedup — the production shape: a NEW batch (doc_id ≥ 250)
    * dedups against an EXISTING corpus (doc_id < 250), not against itself.
    * Exact layer: content-hash matches. Near layer: minhash band
    * buckets computed per side, candidates only where a new doc shares a
    * bucket with a corpus doc, verified by exact sid-set Jaccard ≥ 0.5.
    * Survivors = new docs passing both layers.
    *
    * The corpus side is a PRECOMPUTED artifact, not inline work: its
    * state table (content hash + signature + sid set per doc) is built
    * once and persisted as parquet (the maintained state of a production
    * dedup pipeline — at 100 TB it's the only viable shape), then every
    * batch run just reads it back. Only the batch slice is hashed per
    * run, once, and the batch-docs filter is pushed into the documents
    * scan. The batch is the broadcast side and the state streams through
    * both layers' joins, so the state may grow past broadcast range
    * (see [[survivorStateOf]]). */
  val llmDedupIncremental: Q = (s, dir) => {
    val tag = dirTag(dir)
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
    val schemeVersion = "v4" // v4: hash rows for ALL docs
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
      // corpus doc. KB-scale state → one file (a TB-scale state lands as
      // many bounded shards; see Pipeline.writeDedupState).
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

  /** The exact-dedup content hash — ONE definition for the state table,
    * the batch exact layer, and the streaming twin in [[graft.Pipeline]];
    * a scheme change lands everywhere or the join keys stop matching. */
  private[graft] def contentHashCol: Column = sha2(col("text"), 256)

  /** State-table rows for `docs`, one per input row: content hash for
    * EVERY doc, minhash signature + sid set where one exists (docs under
    * 3 words have no 3-shingle: their `sh` and `mh*` columns are null and
    * they participate in the exact layer only — an exact byte-for-byte
    * copy of a short doc must still dedup). One projection, one pass per
    * document: `hs` and `sh` are non-cheap aliases referenced twice or
    * more, so CollapseProject keeps each in its own step and the md5 word
    * hashes run once per row. `minhash_sig` passes a NULL `sh` through,
    * so NULL text also yields a hash-only row. */
  private[graft] def dedupStateOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), contentHashCol.as("h"), wordHashCol.as("hs"))
      .select(col("doc_id"), col("h"),
        when(size(col("hs")) >= 3, shingleSetCol).as("sh"))
      .select(col("doc_id"), col("h"), col("sh"),
        call_function("minhash_sig", col("sh")).as("mhs"))
      .select(Seq(col("doc_id"), col("h"), col("sh")) ++ minhashCols: _*)

  /** The state rows of `batch`'s survivors against the state at
    * `statePath`: exact content-hash layer + banded minhash near layer
    * (Jaccard ≥ 0.5). Lazy over the state; the batch's own state rows are
    * computed once and pinned, and every layer (and the append) reads
    * that checkpoint. The pin is also the boundary that keeps the
    * md5/shingle/minhash chain out of any scan filter: the band explode
    * below sits over checkpointed rows, so there is no projection chain
    * for inferred filters to substitute down to a scan.
    *
    * Only the batch is broadcast — the incremental contract bounds it —
    * and the state, the side that grows every round, streams once per
    * layer through the broadcast joins: its hashes against the batch
    * hashes, its signature-bearing band rows (with `sh` carried) against
    * the batch band rows. Survivors are the batch rows minus those dups.
    * The dups are batch-bounded but come out of the state stream, so
    * that last anti-join is a shuffled hash join: no table derived from
    * the state is ever broadcast. */
  private[graft] def survivorStateOf(s: org.apache.spark.sql.SparkSession,
      batch: DataFrame, statePath: String): DataFrame = {
    val rows = dedupStateOf(batch).localCheckpoint()
    // the schema is the batch's own state schema: no inference job over
    // the state's growing file list
    val state = s.read.schema(rows.schema).parquet(statePath)
    // Signature-bearing rows only for the NEAR layer: short docs carry
    // null signature columns, and letting them through would concat_ws
    // null minhashes into a shared "" band signature — fabricating one
    // giant bucket of all short docs.
    def bandRows(df: DataFrame) = bucketsOf(df.filter(col("mh0").isNotNull), "sh")
    val exactDups = state.select(col("h"))
      .join(broadcast(rows.select(col("doc_id"), col("h"))), "h")
      .select(col("doc_id"))
    val nearDups = bandRows(state)
      .select(col("band"), col("sig"), col("sh").as("sh_c"))
      .join(broadcast(bandRows(rows)), Seq("band", "sig"))
      .withColumn("ni", size(array_intersect(col("sh"), col("sh_c"))))
      .filter(col("ni") * lit(1.0) /
        (size(col("sh")) + size(col("sh_c")) - col("ni")) >= 0.5)
      .select(col("doc_id"))
    val dups = exactDups.union(nearDups).distinct()
    rows.join(dups.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
  }

  /** One round of the production incremental-dedup loop: dedup `batch`
    * (doc_id, text) against the persisted state at `statePath` and
    * return the survivor ids — and, when `append`, fold the survivors'
    * state rows back into `statePath` so the NEXT batch dedups against
    * corpus ∪ survivors(batch₁) ∪ … (the shape a production pipeline
    * runs; each round appends one survivor-only parquet file, compacted
    * out-of-band at scale). Batch-INTERNAL duplicates are deliberately
    * out of scope here — that is the self-dedup operators' job
    * ([[llmExactDedup]] / [[minhashDupPairs]]), run per batch upstream.
    *
    * Scale notes at [[survivorStateOf]]: the batch broadcasts and the
    * state streams. The append pins the survivor rows first, so the
    * survivor set is decided before the state gains this batch's rows
    * and the write does not plan a read of the path it appends to. */
  private[graft] def incrementalDedupRound(s: org.apache.spark.sql.SparkSession,
      batch: DataFrame, statePath: String, append: Boolean): DataFrame = {
    val survivors = survivorStateOf(s, batch, statePath)
    if (!append) survivors.select(col("doc_id"))
    else {
      val pinned = survivors.localCheckpoint()
      appendSurvivorState(pinned, statePath)
      pinned.select(col("doc_id"))
    }
  }

  /** Fold pinned survivor state rows (a localCheckpoint of
    * [[survivorStateOf]]) into `statePath` — the state-append half of the
    * incremental-dedup loop, shared by the batch round above and the
    * streaming twin (which must sequence it AFTER its output commit; see
    * [[graft.Pipeline.incrementalDedupStream]]). */
  private[graft] def appendSurvivorState(survivors: DataFrame,
      statePath: String): Unit =
    survivors.coalesce(1).write.mode("append").parquet(statePath)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
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
    // The pin is load-bearing, not a tuning knob: the eval and corpus
    // branches both explode `g`, and InferFiltersFromGenerate plants
    // `size(g) > 0` filters below each Generate. Without a cache barrier,
    // predicate pushdown substitutes the alias chain into those filters
    // all the way to the scan — inlining the md5 word-hash array INSIDE
    // the gram lambda, so the scan-level filter recomputes ~n_words md5s
    // per gram element (measured 174 s at sf0.1 vs <1 s cached; the
    // CollapseProject multi-reference guard does not protect filter
    // pushdown substitution). Caching (doc_id, gram-ids) is also the
    // honest 100 TB shape: 8-byte ids, reused by both branches.
    val g = gram4Of(docs).transform(pin)
    contaminationScore(g.filter(!isEval(col("doc_id"))), g.filter(isEval(col("doc_id"))))
      .orderBy("doc_id")
  }

  /** (doc_id, g): the distinct word 4-gram ids of each doc with at least
    * four words — the one gram chain of both contamination paths. */
  private def gram4Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), hashGramCol(4).as("g"))

  /** Scoring tail of both contamination paths: each corpus doc's shared
    * gram count and ratio against the broadcast eval gram set. */
  private def contaminationScore(corpus: DataFrame, eval: DataFrame): DataFrame = {
    val evalGrams = eval.select(explode(col("g")).as("gm")).distinct()
    corpus
      .select(col("doc_id"), size(col("g")).as("n_grams"), explode(col("g")).as("gm"))
      .join(broadcast(evalGrams), "gm")
      // per-doc gram sets are distinct, so plain count = distinct overlap
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"),
        col("n_grams").cast("int").as("n_grams"),
        dround(col("n_shared") * lit(1.0) / col("n_grams"), 6).as("contam_ratio"))
  }

  val llmContamination: Q = (s, dir) =>
    contaminationOf(Tables.t(s, dir, "documents").select("doc_id", "text"),
      id => id % 97 === 0)

  /** [[contaminationOf]] over STREAMING (doc_id, text) docs scored
    * against a STATIC eval-doc frame as they arrive — the production
    * shape when a crawler feed must be checked against a fixed benchmark
    * suite. Same gram chain and scoring tail; the stream side is the
    * stateless gram projection with ONE consumer (no pin is possible on
    * a stream, and none is needed: the 174 s pathology was pushdown
    * recompute across TWO explode branches of one cached frame); the
    * eval gram set is static and broadcast, so each micro-batch pays
    * one batch-side hash pass and zero shuffles on the eval side. Run
    * the returned frame in UPDATE output mode: the per-doc count is a
    * streaming aggregation, and each doc's row finalizes in the
    * micro-batch that carries it (grams never span docs). Production
    * note: ids never recur here, so state grows with the stream —
    * a real deployment ages state with a watermark on arrival time. */
  private[graft] def contaminationStream(stream: DataFrame,
      evalDocs: DataFrame): DataFrame =
    contaminationScore(gram4Of(stream), gram4Of(evalDocs))

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
    val base = docs
      .select(col("doc_id"), wordHashCol.as("hs"))
      .filter(size(col("hs")) >= 2)
      .select(col("doc_id"), size(col("hs")).as("n_words"),
        size(array_distinct(col("hs"))).as("n_distinct"),
        bigram.as("bg"))
      .transform(pin)
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
      .transform(pin)
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
      .transform(pin)
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
    val base = docs
      .filter(size(split(col("text"), " ")) >= 1)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("hs", call_function("word_hashes", col("ws")))
      .withColumn("fl", call_function("cdc_flags", col("hs")))
      .select(col("doc_id"), col("ws"), col("fl"))
      .transform(pin)
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
      .transform(pin)
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
    docs
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
    val keyed = docs
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
    val wsDocs = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
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
      // recompute [1.884, 1.724, —] / [1.764, …].
      .transform(pin)
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
    val sets = signaturesOf(docs).transform(pin)
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
    // SoftDeDup weights: sha256 content clusters (the exact-dedup
    // scheme), weight = 1/n quantized.
    QueryDef("llm_dedup_weights", llmDedupWeights,
      s"""WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
         |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies
         |      FROM h GROUP BY h)
         |SELECT h.doc_id, c.n_copies,
         |  ${oRound("1.0 / c.n_copies", 9)} AS weight
         |FROM h JOIN c USING (h) ORDER BY h.doc_id""".stripMargin),
    QueryDef("llm_fingerprint", llmFingerprint,
      s"""SELECT doc_id,
         |list_reduce(list_prepend(0::BIGINT,
         |  list_transform(string_split(text, ' '),
         |    w -> length(w)::BIGINT * 256 + ascii(w[1]))),
         |  (a, b) -> (a * 31 + b) % $P) AS fingerprint
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
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)
  )
}
