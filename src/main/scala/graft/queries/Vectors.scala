package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-(query, candidate-pair) input row for the MMR group fold: the
  * candidate `a` with its query relevance plus one pool neighbor `b`
  * and their similarity (self rows a=b keep pool singletons present). */
case class MmrIn(q_id: Long, a: Long, rel_a: Double, b: Long, sim: Double)
/** One MMR selection: `vec_id` chosen at `step` with the quantized
  * marginal-relevance score that won the step. */
case class MmrOut(q_id: Long, step: Int, vec_id: Long, mmr: Double)

/** §2.9 embedding operators: brute-force and approximate similarity
  * search (hyperplane LSH, IVF, int8 IVF, PQ, IVF-PQ), semantic dedup
  * and its clusters, kNN graph and classification, retrieval metrics
  * (nDCG, hard negatives, Matryoshka recall), MMR reranking,
  * quantization, random projection and PCA.
  *
  * [[dot]] and [[unitVectors]] are the one dot-product kernel and the
  * one unit-vector prep every builder here shares.
  *
  * 100 TB design note: brute-force cosine is the sf-small oracle
  * baseline; the LSH-bucketed ANN (`llm_ann_lsh`) and the IVF family
  * are the scale paths (bucket or cell joins, never a crossJoin).
  */
object Vectors {
  import Dedup.{capBuckets, connectedComponents, maxBucket}
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The one dot product: the native codegen `dot_product` kernel
    * ([[graft.functions.DotProduct]]); its DuckDB twin is
    * `list_inner_product`. */
  private[graft] def dot(x: Column, y: Column): Column =
    call_function("dot_product", x, y)

  /** `v`: the embedding as array&lt;double&gt;, every vector operator's
    * input column (DuckDB twin: `embedding::DOUBLE[] AS v`). */
  private[graft] def embeddingV: Column =
    transform(col("embedding"), _.cast("double")).as("v")

  /** Unit-vector prep: adds `nrm` = ‖v‖ to a frame carrying `v`, once per
    * vector, so a cosine costs one [[dot]] per pair
    * (`dot(a, b) / (nrm_a * nrm_b)`). */
  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Brute-force cosine top-k (oracle baseline; scale path = llm_ann_lsh).
    * Query set is small (20 vecs) and broadcast against all candidates.
    * Norms are precomputed once per vector in the projection — per pair
    * only the single dot-product traversal remains. */
  val llmCosineTopk: Q = (s, dir) => {
    val emb = withNorm(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))
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
    val lg = (c: Column) => org.apache.spark.sql.functions.log(c)
    val disc = (r: Column) =>
      dround(lit(1.0) / (lg(r.cast("double") + lit(1.0)) / lg(lit(2.0))), 9)
    val emb = withNorm(emb0
      .select(col("vec_id"), col("label"), embeddingV))
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
    val emb = withNorm(emb0
      .select(col("vec_id"), embeddingV))
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
    val emb = withNorm(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))
    def planeW(pi: Int): Column = typedLit(
      (0 until 64).map(d => ((pi.toLong * 73856093 + d.toLong * 19349663) % 2000).toDouble / 1000.0 - 1.0))
    def dotW(pi: Int): Column = dot(col("v"), planeW(pi))
    def sig(t: Int): Column = (0 until 8)
      .map(p => when(dotW(t * 8 + p) > 0, lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _) + lit(t * 256)
    // One signature pass (32 plane dots per vector), persisted: the
    // bucket self-join's two sides AND capBuckets' hot-bucket count
    // would otherwise each recompute the scan + dots (3× total) — the
    // same materialize-once barrier minhashDupPairs uses for `sets`.
    val sigs = emb
      .withColumn("buckets", array((0 until lshTables).map(sig): _*))
      .transform(pin)
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
    val emb = withNorm(raw
      .select(col("vec_id"), embeddingV))
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
    val und = semDedupPairs(raw, cells, minCos = None).transform(pin)
    val dirAll = und
      .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionAll(und
        .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val top = dirAll.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("src", "dst", "cos")
      .transform(pin) // the mutual join reads it twice
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
      .transform(pin) // both directions of the union read it
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
    val emb = withNorm(raw
      .select(col("vec_id"), col("label"), embeddingV))
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
    val emb = withNorm(raw
      .select(col("vec_id"), embeddingV)
      .withColumn("vt", slice(col("v"), 1, truncDim)))
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
    val emb = withNorm(raw
      .select(col("vec_id"), embeddingV))
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
    val emb = withNorm(raw
      .select(col("vec_id"), embeddingV))
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
    // norms once per vector; per candidate pair only the dot remains
    val emb = withNorm(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))
    ivfTopk(emb)
  }

  /** The IVF retrieval body shared by the float and int8 paths: `emb` =
    * (vec_id, v: array&lt;double&gt;, nrm) from [[withNorm]]. */
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
    // NO persist barrier, deliberately (measured): six consumers re-scan
    // this projection, but at 2,000 rows the rescans are cheaper than a
    // materialization job — A/B'd 1.267 s without vs 1.659 s with
    // (7-repeat micro medians). The persist rule pays over EXPENSIVE
    // multi-consumed projections (lmQualityOf's per-occurrence md5,
    // ngramJaccardOf's gram sets), not over a cheap scan+norm.
    val emb = withNorm(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))
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
    * [[ivfTopk]] at non-default k. */
  private[graft] def int8ReconstructedEmb(raw0: DataFrame): DataFrame = {
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
    withNorm(quant
      .select(col("vec_id"),
        transform(col("code"),
          c => col("mn") + (c.cast("int") + lit(128)).cast("double") * col("scale")).as("v")))
  }

  val llmAnnIvfInt8: Q = (s, dir) => {
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
      .select(col("vec_id"), embeddingV))

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
    * split — the probe-spec entry point beside [[pqTopk]]. */
  private[graft] def ivfPqTopk(emb: DataFrame, topK: Int = 5): DataFrame = {
    val e = withNorm(emb)
    ivfPqRetrieve(e.filter(col("vec_id") >= 20),
      e.filter(col("vec_id") < 20), ivfSeeds(e), topK)
  }

  val llmAnnIvfPq: Q = (s, dir) => {
    // NO fanOut here, deliberately (A/B'd r21): unlike llm_ann_pq, this
    // pipeline re-derives `corpus` in MANY subtrees (assignment, resid,
    // seeds, training sample, encode, exact rerank), and the fan-out
    // exchange + extra 32-partition stages measured 4.8 s min vs 2.8 s
    // without, same window. The pqDist2 codegen unroll carries the win.
    ivfPqTopk(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))
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
      .select(col("vec_id"), embeddingV)
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
    raw.select(col("vec_id"), embeddingV)
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

  val llmPcaProject: Q = (s, dir) =>
    pcaProjectOf(Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), embeddingV))

  /** Per-dimension winsorization audit of the embedding table (clip to
    * [p05, p95] — the standard outlier guard before quantization or
    * whitening; `llm_embed_quantize`'s int8 range is
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
      .transform(pin)
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

  val defs: Seq[QueryDef] = Seq(
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
    // DSIR importance: four integer-log2 terms via bin-length (see
    // dsirSelectOf); add-one smoothing on BOTH count terms (ct+1,
    // cr+1) — the totals are unsmoothed. One conditional-sum count
    // pass mirrors the Spark shape; values are identical to computing
    // the two sides separately.
    QueryDef("llm_pca_project", llmPcaProject, pcaProjectSql(8)),
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
         |WHERE t.src < t.dst ORDER BY id_a, id_b""".stripMargin)
  )
}
