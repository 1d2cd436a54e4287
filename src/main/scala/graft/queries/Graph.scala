package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the corpus (beyond-inventory; the dedup family's
  * connected components — `llm_dedup_cc` — lives in [[Dedup]]).
  *
  * PageRank is the canonical iterative distributed graph workload (Page et
  * al. 1999; the Pregel/GraphX reference algorithm). Here it runs over a
  * deterministic synthetic link graph derived from `documents` so both
  * engines build the identical edge set: each doc emits 3 out-links whose
  * targets are md5-hash-derived (`conv(substr(md5(src:i),1,8),16,10) % N`
  * — the catalogued cross-engine bucketing idiom; doc_ids are contiguous
  * 0..N-1 in every fixture, so the mod always lands on a real node).
  *
  * Scale shape: each of the 5 unrolled iterations is one shuffle-join of
  * the static edge list with the current rank vector plus one groupBy on
  * the destination — the exact dataflow of PageRank on any cluster, with
  * per-iteration cost O(|E|/cores). Nothing collects to the driver; the
  * rank vector is never a driver-side artifact (unlike a model table, it
  * is O(N)). Out-degree is constant (3) so there are no dangling nodes
  * and no skew; hot DESTINATIONS (many in-links) are absorbed by the
  * two-phase partial sum in the groupBy.
  *
  * Cross-engine determinism: per-iteration ranks are quantized with the
  * shared `dsum`/`dround` long-quantization helpers (1e-9), so float
  * summation order cannot drift between Spark partials and DuckDB; the
  * per-row `rank/3.0` and `0.15/n + 0.85*s` arithmetic is identical IEEE
  * double math in both engines.
  */
object Graph {

  private val Iterations = 5
  private val OutDeg = 3

  /** The md5 out-link derivation over a `(doc_id, n)` frame: each doc
    * emits OutDeg links `(src, dst)` with `dst = pmod(conv(substr(
    * md5(src:i), 1, 8), 16, 10), n)` — the ONE copy of the
    * oracle-mirrored edge formula every graph query builds on. */
  private def linksOf(base: DataFrame): DataFrame =
    base
      .select(col("doc_id").as("src"), col("n"),
        explode(array((1 to OutDeg).map(lit): _*)).as("i"))
      .select(col("src"),
        pmod(conv(substring(md5(concat_ws(":", col("src"), col("i"))), 1, 8),
          16, 10).cast("long"), col("n").cast("long")).as("dst"))

  /** (ids, n, raw links): the doc ids, the 1-row long node count
    * (broadcast-joined, never collected) and [[linksOf]] over them. */
  private def docLinks(s: SparkSession, dir: String)
  : (DataFrame, DataFrame, DataFrame) = {
    val ids = Tables.t(s, dir, "documents").select(col("doc_id"))
    val nDf = ids.agg(count(lit(1)).cast("long").as("n"))
    (ids, nDf, linksOf(ids.crossJoin(broadcast(nDf))))
  }

  /** DuckDB twin of [[docLinks]]: the `ids` and `nn` CTEs and the md5
    * out-link CTE `cte` (src, dst) — the edge formula of [[linksOf]] with
    * the hex-prefix cast as `('0x' || …)::BIGINT`. `spark` spells that
    * cast for Spark SQL (`conv(…, 16, 10)`), for SQL-surface texts. */
  private[queries] def linksSql(cte: String = "raw", materialized: Boolean = false,
      spark: Boolean = false): String = {
    val h = "substr(md5(ids.doc_id || ':' || t.i), 1, 8)"
    val dst =
      if (spark) s"CAST(conv($h, 16, 10) AS BIGINT)\n      % (SELECT n FROM nn)"
      else s"(('0x' || $h)::BIGINT\n      % (SELECT n FROM nn))"
    s"""ids AS (SELECT doc_id FROM documents),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ids),
       |$cte AS ${if (materialized) "MATERIALIZED " else ""}(
       |  SELECT ids.doc_id AS src,
       |    $dst AS dst
       |  FROM ids, (VALUES (1), (2), (3)) AS t(i))""".stripMargin
  }

  /** Undirected simple edges `(a, b)` with a < b: orient low→high, drop
    * self-loops, collapse the multigraph with a two-phase distinct. */
  private def simpleEdges(raw: DataFrame): DataFrame =
    raw
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

  /** DuckDB twin of [[simpleEdges]]: the `edges` (a, b) CTE over `raw`. */
  private[queries] def simpleEdgesSql(materialized: Boolean = true): String =
    s"""edges AS ${if (materialized) "MATERIALIZED " else ""}(
       |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM raw WHERE LEAST(src, dst) < GREATEST(src, dst))""".stripMargin

  /** Both orientations `(u, v)` of [[simpleEdges]]. */
  private def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))

  /** DuckDB twin of [[symmetric]]: the `und` (u, v) CTE over `edges`. */
  private def symmetricSql(materialized: Boolean = false): String =
    s"""und AS ${if (materialized) "MATERIALIZED " else ""}(SELECT a AS u, b AS v FROM edges
       |        UNION ALL SELECT b, a FROM edges)""".stripMargin

  /** Shared md5-derived 3-out-link doc graph: (base = ids × n-as-double,
    * edges), both persisted — one construction for the link-analysis
    * queries (pagerank, hits, reciprocity) over [[linksOf]].
    *
    * Persist rationale: both subtrees are pure projection chains (no
    * exchange below → nothing for AQE stage reuse to dedup) consumed
    * once per iteration — unpersisted, the executed plan re-scans the
    * corpus 11× for 5 pagerank iterations (the catalogued
    * multi-consumed-projection barrier rule). N rides as a
    * broadcast-joined column: no driver-side collect at any corpus
    * size. */
  private def linkGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ids = Tables.t(s, dir, "documents").select(col("doc_id"))
    val nDf = ids.agg(count(lit(1)).cast("double").as("n"))
    // a bare persist, not `pin`: its cache fills inside edges' pin
    val base = ids.crossJoin(broadcast(nDf))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = linksOf(base).transform(pin)
    (base, edges)
  }

  /** 5-iteration PageRank (damping 0.85) over the md5-derived doc graph. */
  val pagerank: Q = (s, dir) => {
    val (base, edges) = linkGraph(s, dir)
    var ranks = base.select(col("doc_id"), (lit(1.0) / col("n")).as("rank"))
    for (_ <- 1 to Iterations) {
      val contribs = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"),
          (col("rank") / lit(OutDeg.toDouble)).as("c"))
      ranks = base
        .join(contribs, Seq("doc_id"), "left")
        .groupBy(col("doc_id"), col("n"))
        .agg(dsum(coalesce(col("c"), lit(0.0)), 9).as("sc"))
        .select(col("doc_id"),
          dround(lit(0.15) / col("n") + lit(0.85) * col("sc"), 9).as("rank"))
    }
    ranks.orderBy("doc_id")
  }

  /** 3-iteration HITS hubs & authorities (Kleinberg JACM 1999) over the
    * same md5-derived directed doc graph — the OTHER classic link
    * fixed-point beside [[pagerank]]: a_k(v) = Σ_{u→v} h_{k-1}(u),
    * h_k(u) = Σ_{u→v} a_k(v), reported L2-normalized.
    *
    * Two deliberate shape choices, both scale-driven:
    *  - NO intermediate normalization: per-iteration renorm references
    *    each frame twice (value + norm agg) and doubles the logical
    *    plan per step — the catalogued PCA in-plan-iteration pathology.
    *    Each step instead references its predecessor ONCE (linear
    *    plan, the pagerank loop shape). Unnormalized values are
    *    bounded by out-degree AND the max IN-degree D of the md5
    *    multigraph (a₁ = indeg, so after 3 iterations values reach
    *    ≤ 27·D³ — D grows like log n / log log n for 3n balls in n
    *    bins, ≈ 40 at 10⁹ nodes → values ≲ 10⁶): nowhere near double
    *    trouble, but NOT the constant 3⁶ a pure out-degree argument
    *    would give.
    *  - Final L2 norms quantize at grain 1e-2 and accumulate in
    *    decimal(38,0) (the seq_gini overflow rule, matching DuckDB's
    *    HUGEINT sum): per-row quantized values reach a²·10² ≈ 10¹⁴ at
    *    the D-bound above, so a LONG sum would overflow near 10⁵
    *    worst-case rows while decimal(38,0) has 10²⁴ of headroom past
    *    10⁹ nodes. Grain 1e-2 absolute on Σa² is ~1e-14 relative —
    *    far inside the 1e-9 output rounding. Per-half-step group sums
    *    stay long-safe at grain 1e-6: a group's sum is bounded by
    *    degree·27D³·10⁶ ≈ 10¹³, never corpus-sized.
    *
    * Scale shape: each half-step is one equi-join of the static edge
    * list ([[linkGraph]] — shared with pagerank) with the current
    * score vector plus one two-phase groupBy — O(|E|/cores) per round,
    * nothing driver-side; the final norm frame is one broadcast row. */
  val hits: Q = (s, dir) => {
    val (base, edges) = linkGraph(s, dir)
    var hub = base.select(col("doc_id"), lit(1.0).as("h"))
    var auth: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to 3) {
      auth = base.join(
        edges.join(hub.select(col("doc_id").as("src"), col("h")), "src")
          .groupBy(col("dst").as("doc_id"))
          .agg(dsum(col("h"), 6).as("sa")),
        Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("sa"), lit(0.0)).as("a"))
      // no left-join-back for hubs: every node has exactly OutDeg
      // out-links by construction, so the src groupBy already covers
      // all nodes (the auth side DOES need it — in-degree can be 0)
      hub = edges
        .join(auth.select(col("doc_id").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(dsum(col("a"), 6).as("h"))
    }
    val joined = auth.join(hub, "doc_id")
    // decimal(38,0) accumulation, NOT dsum's long: see the scaladoc
    // overflow bound (DuckDB's SUM(BIGINT) is HUGEINT — same headroom)
    def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(floor(c * 100 + lit(0.5)).cast("decimal(38,0)")).cast("double") / 100
    val norms = joined.agg(
      sqrt(decSum(col("a") * col("a"))).as("na"),
      sqrt(decSum(col("h") * col("h"))).as("nh"))
    joined.crossJoin(broadcast(norms))
      .select(col("doc_id"),
        dround(col("a") / col("na"), 9).as("authority"),
        dround(col("h") / col("nh"), 9).as("hub"))
      .orderBy("doc_id")
  }

  /** Per-node triangle counts over the undirected closure of the same
    * md5 link graph — the standard compact-forward/ordered-join
    * algorithm (Schank & Wagner 2005; the MapReduce formulation in Suri
    * & Vassilvitskii WWW 2011): orient every edge low→high, join
    * (a,b)⋈(b,c) to form wedges, close each wedge against the oriented
    * edge list (a,c), then credit all three corners. Ordering by id
    * bounds each join key's fan-out by the node's HIGHER-neighbor count
    * — the trick that keeps wedge counts near-linear on skewed degree
    * distributions instead of Σdeg² on hubs.
    *
    * Scale shape: two shuffle-joins on edge endpoints plus one explode
    * + groupBy — the canonical cluster triangle-count dataflow. Edge
    * dedup (the 3-out-link multigraph collapses to simple edges first)
    * is a two-phase distinct on the oriented pair. */
  val triangles: Q = (s, dir) => {
    val (_, _, raw) = docLinks(s, dir)
    val edges = simpleEdges(raw)
    val wedges = edges.as("e1")
      .join(edges.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .select(col("a"), col("b"), col("c"))
    val tris = wedges
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Common-neighbor Jaccard link prediction (Liben-Nowell & Kleinberg
    * CIKM 2003 — the baseline every graph-ML link predictor is scored
    * against): for non-adjacent pairs sharing ≥ 1 neighbor,
    * score = |N(u)∩N(w)| / |N(u)∪N(w)|, top-20 by quantized score.
    *
    * Scale shape: same oriented-edge discipline as [[triangles]] —
    * common-neighbor counts come from ONE wedge self-join on the
    * middle node (fan-out bounded by degree), existing edges drop via
    * a co-partitioned anti-join, degrees join back on the node key.
    * The union-set size is inclusion-exclusion arithmetic, never an
    * array materialization. Top-k lands in TakeOrderedAndProject. */
  val linkpred: Q = (s, dir) => {
    val (_, _, raw) = docLinks(s, dir)
    val edges = simpleEdges(raw)
      // consumed 4x (two wedge sides, the anti-join, degrees) — pure
      // projection below, the catalogued multi-consumer barrier
      .transform(pin)
    val und = symmetric(edges)
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val common = und.select(col("u"), col("v").as("m"))
      .join(und.select(col("u").as("m"), col("v").as("w")), "m")
      .filter(col("u") < col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cn"))
    common
      .join(edges.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_anti")
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("w"), col("d").as("dw")), "w")
      .withColumn("jq", floor(
        col("cn") * lit(1.0) / (col("du") + col("dw") - col("cn")) * 1e6
          + lit(0.5)).cast("long"))
      .select(col("u").as("a"), col("w").as("b"), col("cn"),
        (col("jq").cast("double") / 1e6).as("score"), col("jq"))
      .orderBy(col("jq").desc, col("a"), col("b"))
      .limit(20)
      .drop("jq")
  }

  /** Synchronous label propagation (Raghavan et al. 2007 — the
    * linear-time community-detection baseline): labels start as node
    * ids; each round every node adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label (the paper breaks ties
    * randomly — a pinned total order makes both engines replay the
    * identical trajectory). 3 synchronous rounds over the undirected
    * simple closure of the md5 link graph; isolated nodes keep their
    * own label.
    *
    * Scale shape: each round is ONE neighbor join + a (node, label)
    * two-phase count + a node-partitioned argmax window bounded by the
    * node's distinct-neighbor-label count (≤ degree) — the Pregel
    * dataflow. The label frame is referenced ONCE per round (the PCA
    * plan-doubling lesson: nodes without edges rejoin only at the END
    * via one left join), so the unrolled plan grows linearly. */
  /** Shared pieces of the label-propagation pipeline: node ids, the
    * undirected simple edge closure (a < b), its symmetric expansion
    * (persisted — consumed once per round), and the full community
    * assignment (v, c) after 3 synchronous rounds. Consumed by
    * [[labelprop]] and [[modularity]]. */
  private def lpParts(s: org.apache.spark.sql.SparkSession, dir: String)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
     org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (ids, _, raw) = docLinks(s, dir)
    val edges = simpleEdges(raw)
    val und = symmetric(edges)
      // consumed once per round over a pure projection chain — the
      // catalogued multi-consumer barrier (same rationale as linkpred)
      .transform(pin)
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("c").desc, col("lbl"))
    var lab = ids.select(col("doc_id").as("v"), col("doc_id").as("lbl"))
    for (_ <- 1 to 3) {
      lab = und.join(lab, "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(wBest)).filter(col("r") === 1)
        .select(col("u").as("v"), col("lbl"))
    }
    val asg = ids.join(lab.withColumnRenamed("v", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id").as("v"),
        coalesce(col("lbl"), col("doc_id")).as("c"))
    (ids, edges, und, asg)
  }

  val labelprop: Q = (s, dir) => {
    val (_, _, _, asg) = lpParts(s, dir)
    asg.select(col("v").as("doc_id"), col("c").as("community"))
      .orderBy("doc_id")
  }

  /** Newman modularity of the label-propagation partition (Newman &
    * Girvan PRE 2004; Q = Σ_c [L_c/m − (D_c/2m)²]) — the
    * community-QUALITY gate the detection step itself doesn't give: a
    * near-zero Q says the partition explains no more edge mass than a
    * random graph with the same degrees, so downstream per-community
    * processing (dedup within communities, community-stratified
    * sampling) would be built on noise. One summary row: nodes, edges,
    * communities, within-community edges, Q.
    *
    * Scale shape: reuses [[lpParts]]'s rounds (corpus-sized work =
    * the same per-round neighbor joins), then TWO label joins on the
    * edge frame + a degree agg + a per-community rollup — every
    * post-assignment frame is bounded by #communities. Σ D_c² rides
    * decimal(38,0) (the seq_gini overflow rule: int64 dies once a
    * community's degree sum passes ~3e9). Q is one fixed-shape double
    * chain over exact integer aggregates, quantized at 1e-6. */
  val modularity: Q = (s, dir) => {
    val (ids, edges, und, asg) = lpParts(s, dir)
    val m = edges.agg(count(lit(1)).as("m"))
    val ie = edges
      .join(asg.select(col("v").as("a"), col("c").as("ca")), "a")
      .join(asg.select(col("v").as("b"), col("c").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .agg(count(lit(1)).as("ie"))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val dc = asg.join(deg.withColumnRenamed("u", "v"), Seq("v"), "left")
      .groupBy("c").agg(coalesce(sum(col("d")), lit(0L)).as("dsum"))
    val ag = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("dsum").cast("decimal(38,0)") * col("dsum")).as("sd2"))
    val nn = ids.agg(count(lit(1)).as("n_nodes"))
    nn.crossJoin(broadcast(m)).crossJoin(broadcast(ie))
      .crossJoin(broadcast(ag))
      .select(col("n_nodes"), col("m").as("m_edges"), col("n_communities"),
        col("ie").as("inner_edges"),
        dround(col("ie") * lit(1.0) / col("m")
          - col("sd2").cast("double") / (lit(4.0) * col("m") * col("m")), 6)
          .as("modularity"))
  }

  /** Degree assortativity (Newman, PRL 2002) of the undirected simple
    * graph — the one-number mixing diagnostic beside [[modularity]]'s
    * partition quality: r > 0 means hubs attach to hubs (social-graph
    * shape), r < 0 hubs attach to leaves (web/biology shape), r ≈ 0
    * degree-random wiring — which is exactly what the md5 fixture
    * graph should read. Pearson correlation of the degree pair over
    * the symmetric edge list: r = [M·Σjk − (Σj)²] / [M·Σj² − (Σj)²]
    * (on the symmetric list Σj = Σk and Σj² = Σk², so the classic
    * formula collapses to this form).
    *
    * Scale shape: the degree agg (one shuffle on node), TWO degree
    * joins on the symmetric edge frame, one 1-row moment agg — no
    * window, no iteration. Moment products ride decimal(38,0) (the
    * seq_gini rule: Σjk hits ~d⁴·|E| long overflow territory on hubby
    * graphs); r is one fixed-shape double chain at 1e-6. */
  val assortativity: Q = (s, dir) => {
    val (_, _, und, _) = lpParts(s, dir)
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val m = und
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .agg(count(lit(1)).as("mm"),
        sum(col("du").cast("decimal(38,0)")).as("sj"),
        sum(col("du").cast("decimal(38,0)") * col("du")).as("sjj"),
        sum(col("du").cast("decimal(38,0)") * col("dv")).as("sjk"))
    m.select(col("mm").as("n_edge_ends"),
      dround((col("mm").cast("decimal(38,0)") * col("sjk")
          - col("sj") * col("sj")).cast("double")
        / (col("mm").cast("decimal(38,0)") * col("sjj")
          - col("sj") * col("sj")).cast("double"), 6).as("assortativity"))
  }

  /** Edge reciprocity of the DIRECTED link graph (Newman, Forrest &
    * Balthrop PRE 2002 formalized it for networks) — the directed
    * companion to [[assortativity]]: the fraction of directed edges
    * whose reverse also exists. Near-zero on the md5 graph (random
    * wiring into n targets makes a back-edge a ~d/n event); a real web
    * or citation graph reads materially higher and a social graph
    * higher still — the cheapest structural fingerprint of a link
    * corpus before deciding whether directed algorithms (HITS,
    * pagerank) will differ from their undirected counterparts.
    *
    * Scale shape: distinct directed simple edges (one two-phase
    * distinct), ONE self-equi-join on the reversed key, two 1-row
    * counts — no window, no iteration. The ratio is one quantized
    * division of exact longs. */
  val reciprocity: Q = (s, dir) => {
    val (_, edges) = linkGraph(s, dir)
    val ds = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val rec = ds.as("x")
      .join(ds.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .agg(count(lit(1)).as("n_recip"))
    ds.agg(count(lit(1)).as("n_directed"))
      .crossJoin(broadcast(rec))
      .select(col("n_directed"), col("n_recip"),
        dround(col("n_recip") * lit(1.0) / col("n_directed"), 6)
          .as("reciprocity"))
  }

  /** Bounded k-core peeling (Seidman 1983, k = 4; the density filter
    * behind community pre-processing and graph sparsification — a node
    * survives iff it keeps ≥ k neighbors among survivors): 4 synchronous
    * peel rounds over the shared undirected simple closure (k = 4 sits at the
    * fixture's ~p20 degree, so the peel genuinely cascades). Bounded
    * rounds, not a fixpoint loop: BOTH engines run exactly 4 rounds, so
    * results match even on graphs where peeling hasn't converged (at
    * 100 TB the round count is the job-count budget a scheduler wants
    * fixed anyway; d rounds peel any graph of degeneracy-ordering depth
    * d). Output = survivors with their within-core degree.
    *
    * Scale shape: each round is two semi-shaped joins of the edge list
    * against the alive set + one two-phase degree count; the alive frame
    * is CHECKPOINTED per round (the dedup_cc lineage rule — it is
    * referenced twice per round, u-side and v-side, and nested plans
    * would grow 2^rounds). */
  val kcore: Q = (s, dir) => {
    val (_, _, raw) = docLinks(s, dir)
    // und stays the unionAll-of-orientations over the distinct'd edge
    // frame (re-A/B'd r21): a single distinct over the pre-symmetrized
    // pairs would cache 32 instead of 64 partitions (half the tiny
    // tasks per round), but it measured WORSE same-window (kcore
    // 6.44/4.73 vs 4.93/4.34 [med/min]) — the wider distinct costs more
    // than the halved task count saves. Negative result recorded.
    val und = symmetric(simpleEdges(raw)).transform(pin)
    var alive = und.select(col("u")).distinct()
    for (_ <- 1 to 4) {
      alive = ckpt(und
        .join(alive.withColumnRenamed("u", "v"), "v")
        .join(alive, "u")
        .groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 4).select("u"))
    }
    und
      .join(alive.withColumnRenamed("u", "v"), "v")
      .join(alive, "u")
      .groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("doc_id"), col("core_deg"))
      .orderBy("doc_id")
  }

  /** Bounded-hop multi-source BFS (the Pregel/GraphX reference
    * traversal — reachability and hop distance, the graph question the
    * rank/degree/community family doesn't answer): hop distance from
    * the seed set {doc_id < 3} over the shared undirected simple
    * closure, capped at 4 hops. Bounded rounds, not a fixpoint loop —
    * both engines run exactly 4 relaxations, so results match even
    * where the frontier hasn't died out (the kcore round-budget
    * argument: at 100 TB the hop cap IS the job-count budget, and
    * diameter-d reachability completes in d rounds).
    *
    * Scale shape: each round is ONE edge⋈dist equi-join + a two-phase
    * min-groupBy (frontier expansion then relax — hot high-degree
    * nodes absorbed by the partial min). The dist frame is referenced
    * twice per round (carry + expand), so it is CHECKPOINTED per round
    * (the dedup_cc/kcore lineage rule — nested plans would double per
    * hop). Unreached nodes surface as dist = -1 via one final left
    * join, never a driver-side set. */
  val bfs: Q = (s, dir) => {
    val (ids, _, raw) = docLinks(s, dir)
    val und = symmetric(simpleEdges(raw)).transform(pin)
    var dist = ids.filter(col("doc_id") < 3)
      .select(col("doc_id").as("u"), lit(0).as("d"))
    for (_ <- 1 to 4) {
      dist = ckpt(dist
        .unionAll(und.join(dist, "u").select(col("v").as("u"),
          (col("d") + 1).as("d")))
        .groupBy("u").agg(min(col("d")).as("d")))
    }
    ids.join(dist.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("d"), lit(-1)).cast("int").as("dist"))
      .orderBy("doc_id")
  }

  /** Sampled-seed harmonic + closeness centrality (Boldi & Vigna,
    * "Axioms for Centrality", 2014 — harmonic = Σ 1/d is the
    * disconnection-safe form; closeness = n/Σd reported beside it) —
    * the centrality family's distance member beside rank
    * (pagerank/HITS) and degree (kcore): how near a node sits to
    * everything else. Exact all-pairs closeness is O(N·E); the
    * standard scale path is BFS from a SAMPLE of seeds (here the 5
    * md5-smallest doc_ids — the `ivfSeeds` fixed-k deterministic
    * sampling idiom) with a bounded radius (4 rounds, the [[bfs]]
    * convention) — so the metric is radius-4 harmonic centrality,
    * documented truncation rather than silent.
    *
    * Scale shape: ONE multi-source frontier keyed (seed, node) rides
    * the same 4 checkpointed shuffle rounds as [[bfs]] — frontier ≤
    * k × N rows, edges persisted once; at 1000 executors this is
    * textbook multi-source BFS (each round: one join + one min-agg).
    *
    * Determinism: distances are exact ints; each 1/d term quantizes at
    * 1e-9 before the exact sum; closeness divides two exact integers
    * as doubles and rounds at 1e-6. */
  val harmonicCentrality: Q = (s, dir) => {
    val (ids, _, raw) = docLinks(s, dir)
    val und = symmetric(simpleEdges(raw)).transform(pin)
    val seeds = ids
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(5).select(col("doc_id").as("sd"))
    var dist = seeds.select(col("sd"), col("sd").as("u"), lit(0).as("d"))
    for (_ <- 1 to 4) {
      dist = ckpt(dist
        .unionAll(und.join(dist, "u")
          .select(col("sd"), col("v").as("u"), (col("d") + 1).as("d")))
        .groupBy("sd", "u").agg(min(col("d")).as("d")))
    }
    dist.filter(col("d") > 0)
      .groupBy("sd")
      .agg(count(lit(1)).as("n_reached"),
        sum(col("d")).cast("long").as("sum_dist"),
        dsum(lit(1.0) / col("d"), 9).as("harm_raw"))
      .select(col("sd").as("seed"), col("n_reached"), col("sum_dist"),
        dround(col("harm_raw"), 6).as("harmonic"),
        dround(col("n_reached").cast("double") / col("sum_dist"), 6)
          .as("closeness"))
      .orderBy("seed")
  }

  /** Sampled-source betweenness dependency (Brandes, "A Faster
    * Algorithm for Betweenness Centrality", 2001; sampled-pivot
    * approximation per Bader et al. 2007) — the LAST classic
    * centrality beside rank/degree/distance: how much shortest-path
    * traffic RIDES THROUGH a node. Exact betweenness is O(N·E); the
    * scale path is Brandes from a pivot SAMPLE (the same 5
    * md5-smallest seeds as [[harmonicCentrality]]) with the bounded
    * radius-4 horizon: forward multi-source BFS counting shortest
    * paths σ level by level, then the backward dependency sweep
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)) unrolled from the
    * deepest level. Reported score = Σ_seeds δ — the sampled
    * dependency mass, the quantity the approximation literature scales
    * up by N/k.
    *
    * Scale shape: the forward phase is [[harmonicCentrality]]'s
    * multi-source frontier PLUS a σ sum per level (each round: one
    * join + one two-phase agg + one anti-join against the visited
    * set, checkpointed); the backward phase is 4 more
    * level-restricted joins of (seed, node)-keyed frames with the
    * edge list — every frame ≤ k × N rows, no all-pairs anything.
    *
    * Determinism: σ are exact integer path counts; each backward term
    * σ_v/σ_w · (1 + δ_w) quantizes at 1e-9 before its exact sum
    * ([[dsum]]), so the division chains cannot drift cross-engine;
    * the final per-node score rounds at 1e-6. */
  val betweennessSampled: Q = (s, dir) => {
    val (ids, _, raw) = docLinks(s, dir)
    val und = symmetric(simpleEdges(raw)).transform(pin)
    val seeds = ids
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(5).select(col("doc_id").as("sd"))
    // forward: levels(sd, u, d, sig) — σ = #shortest s→u paths
    var all = ckpt(seeds.select(col("sd"), col("sd").as("u"),
      lit(0).as("d"), lit(1L).as("sig")))
    for (k <- 1 to 4) {
      val next = und
        .join(all.filter(col("d") === k - 1), "u")
        .select(col("sd"), col("v").as("u"), col("sig"))
        .join(all.select(col("sd"), col("u")), Seq("sd", "u"), "left_anti")
        .groupBy("sd", "u")
        .agg(sum(col("sig")).cast("long").as("sig"))
        .select(col("sd"), col("u"), lit(k).as("d"), col("sig"))
      all = ckpt(all.unionAll(next))
    }
    // backward: δ at the deepest level is 0; each shallower level sums
    // σ_v/σ_w · (1 + δ_w) over its successors w (d_w = d_v + 1)
    var delta = all.filter(col("d") === 4)
      .select(col("sd"), col("u"), col("sig"), lit(0.0).as("dep"))
    var acc = delta
    for (k <- 3 to 0 by -1) {
      val lvl = all.filter(col("d") === k)
      val contrib = lvl
        .join(und, "u")
        .select(col("sd"), col("u"), col("sig"), col("v"))
        .join(delta.select(col("sd"), col("u").as("v"),
          col("sig").as("sig_w"), col("dep").as("dep_w")), Seq("sd", "v"))
        .groupBy("sd", "u")
        .agg(dsum(col("sig").cast("double") / col("sig_w")
          * (lit(1.0) + col("dep_w")), 9).as("dep"))
      delta = ckpt(lvl.select(col("sd"), col("u"), col("sig"))
        .join(contrib, Seq("sd", "u"), "left")
        .select(col("sd"), col("u"), col("sig"),
          coalesce(col("dep"), lit(0.0)).as("dep")))
      acc = acc.unionAll(delta)
    }
    acc.filter(col("u") =!= col("sd"))
      .groupBy("u")
      .agg(count(lit(1)).as("n_seeds"),
        dsum(col("dep"), 9).as("dep_raw"))
      .filter(col("dep_raw") > 0)
      .select(col("u").as("doc_id"), col("n_seeds"),
        dround(col("dep_raw"), 6).as("betweenness"))
      .orderBy("doc_id")
  }

  /** Connected components over the residue-partitioned link subgraph —
    * the remaining classic graph primitive beside rank (pagerank/HITS),
    * degree (kcore), community (labelprop), counting (triangles) and
    * traversal (bfs): each node's component label = the minimum doc_id
    * reachable from it. The subgraph keeps only links whose endpoints
    * share `doc_id % 16` (a "same-shard links" cut): with out-degree 3
    * and 1/16 of targets landing in-class, intra-class degree ≈ 0.19 —
    * a sparse forest-like graph with MANY nontrivial components, so the
    * labels exercise real merging (the full md5 graph is one giant
    * component whp, which would make the query a constant).
    *
    * Scale shape: delegates to the audited O(log d) large-star /
    * small-star contraction ([[Dedup.connectedComponents]] — the
    * llm_dedup_cc engine, per-round checkpointed lineage, plateau +
    * symmetric set-compare convergence, measured scale-curve α ≈ 0.04).
    * Edge derivation is a projection; no new shuffle class. The DuckDB
    * twin walks the transitive closure recursively (fixture-scale
    * only). */
  val cc: Q = (s, dir) => {
    val (ids, _, raw) = docLinks(s, dir)
    val intra = raw.filter(pmod(col("src"), lit(16)) === pmod(col("dst"), lit(16)))
    graft.queries.Dedup.connectedComponents(ids, intra)
      .orderBy("doc_id")
  }

  /** Local clustering coefficient per node (Watts & Strogatz Nature
    * 1998): 2·triangles / (deg·(deg−1)) over the undirected closure of
    * the md5 doc graph — the "how cliquish is this node's
    * neighborhood" diagnostic beside [[triangles]]' raw counts (a
    * corpus link graph whose average coefficient collapses between
    * crawls has lost its community structure).
    *
    * Scale shape: [[triangles]]' oriented-wedge discipline exactly
    * (low→high edge orientation bounds the wedge join's fan-out by the
    * higher-neighbor count); the per-node corner credit is a UNION ALL
    * of the three projections + one two-phase count, degrees another;
    * the edge frame persists across its four consumers (two wedge
    * sides, the closure probe, degrees — pure projections below, the
    * catalogued multi-consumer barrier). Isolated nodes (no edges)
    * have no defined coefficient and are absent — documented, like the
    * oracle. */
  val clusteringCoeff: Q = (s, dir) => {
    val (_, _, raw) = docLinks(s, dir)
    val edges = simpleEdges(raw).transform(pin)
    val wedges = edges.as("e1")
      .join(edges.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .select(col("a"), col("b"), col("c"))
    val tris = wedges
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val corners = tris.select(col("a").as("doc_id"))
      .unionAll(tris.select(col("b").as("doc_id")))
      .unionAll(tris.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    val deg = edges.select(col("a").as("doc_id"))
      .unionAll(edges.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    deg.join(corners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          dround(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy("doc_id")
  }

  /** In-degree distribution of the md5 doc graph — the shape audit
    * behind hub detection and skew planning (out-degree is constant 3
    * by construction, so the in-degree histogram IS the graph's
    * randomness diagnostic: ~Poisson(3) for the md5 targets, and any
    * future real link graph dropped into the same pipeline shows its
    * power-law tail here first).
    *
    * Scale shape: one edge pass → two-phase per-node in-degree count →
    * left join back to the id frame (zero-in-degree nodes stay
    * visible) → a second two-phase count over the DEGREE-bounded
    * histogram frame. Window-free; the corpus-total share divisor
    * rides the broadcast 1-row frame. */
  val degreeDist: Q = (s, dir) => {
    val (ids, nDf, raw) = docLinks(s, dir)
    val ind = raw.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("d"))
    ids.join(ind, Seq("doc_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(nDf))
      .select(col("indeg"), col("n_nodes"),
        dround(col("n_nodes").cast("double") / col("n"), 6).as("share"))
      .orderBy("indeg")
  }

  /** Component-size histogram over [[cc]]'s labels — the read that
    * makes a components run actionable (dedup wants "how many docs
    * collapse", infra wants "is there a giant component"): per
    * distinct size, the component count, total nodes, and node share.
    *
    * Scale shape: [[cc]]'s audited star-contraction verbatim, then two
    * bounded rollups — per-label sizes (≤ #components rows) and the
    * SIZE-bounded histogram; share divisor on the broadcast 1-row
    * total. */
  val ccSizes: Q = (s, dir) => {
    val (ids, nDf, raw) = docLinks(s, dir)
    val intra = raw.filter(pmod(col("src"), lit(16)) === pmod(col("dst"), lit(16)))
    graft.queries.Dedup.connectedComponents(ids, intra)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .crossJoin(broadcast(nDf))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_nodes"),
        dround((col("size") * col("n_components")).cast("double")
          / col("n"), 6).as("node_share"))
      .orderBy("size")
  }

  private def hitsAuthSql(prevH: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT i.doc_id, COALESCE(s.sa, 0.0) AS a
       |  FROM ids i LEFT JOIN (
       |    SELECT e.dst AS doc_id, ${oSum("h.h", 6)} AS sa
       |    FROM edges e JOIN $prevH h ON h.doc_id = e.src
       |    GROUP BY e.dst) s ON s.doc_id = i.doc_id)""".stripMargin

  private def hitsHubSql(prevA: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT i.doc_id, COALESCE(s.sh, 0.0) AS h
       |  FROM ids i LEFT JOIN (
       |    SELECT e.src AS doc_id, ${oSum("a.a", 6)} AS sh
       |    FROM edges e JOIN $prevA a ON a.doc_id = e.dst
       |    GROUP BY e.src) s ON s.doc_id = i.doc_id)""".stripMargin

  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT i.doc_id,
       |    ${oRound(s"0.15/(SELECT n FROM nn) + 0.85*(${oSum("COALESCE(c.c, 0.0)", 9)})", 9)} AS rank
       |  FROM ids i LEFT JOIN (
       |    SELECT e.dst AS doc_id, r.rank/3.0 AS c
       |    FROM edges e JOIN $prev r ON r.doc_id = e.src) c
       |  ON c.doc_id = i.doc_id
       |  GROUP BY i.doc_id)""".stripMargin

  private def lpRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT u AS v, lbl FROM (
       |    SELECT n.u, p.lbl, COUNT(*) AS c,
       |      row_number() OVER (PARTITION BY n.u
       |        ORDER BY COUNT(*) DESC, p.lbl) AS r
       |    FROM und n JOIN $prev p ON p.v = n.v
       |    GROUP BY n.u, p.lbl) t
       |  WHERE r = 1)""".stripMargin

  private def bfsRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT u, MIN(d) AS d FROM (
       |    SELECT u, d FROM $prev
       |    UNION ALL
       |    SELECT und.v AS u, p.d + 1 AS d
       |    FROM und JOIN $prev p ON p.u = und.u) t
       |  GROUP BY u)""".stripMargin

  /** Multi-source [[bfsRoundSql]]: the frontier carries its seed. */
  private def msBfsRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT sd, u, MIN(d) AS d FROM (
       |    SELECT sd, u, d FROM $prev
       |    UNION ALL
       |    SELECT p.sd, und.v AS u, p.d + 1 AS d
       |    FROM und JOIN $prev p ON p.u = und.u) t
       |  GROUP BY sd, u)""".stripMargin

  /** Forward Brandes level: σ sums from the previous level, restricted
    * to nodes not yet visited (lall = the accumulated visited set). */
  private def brandesFwdSql(k: Int): String =
    s"""l$k AS MATERIALIZED (
       |  SELECT sd, u, CAST(SUM(sig) AS BIGINT) AS sig FROM (
       |    SELECT p.sd, und.v AS u, p.sig
       |    FROM und JOIN l${k - 1} p ON p.u = und.u) t
       |  WHERE NOT EXISTS (SELECT 1 FROM lall${k - 1} x
       |                    WHERE x.sd = t.sd AND x.u = t.u)
       |  GROUP BY sd, u),
       |lall$k AS MATERIALIZED (
       |  SELECT sd, u FROM lall${k - 1}
       |  UNION ALL SELECT sd, u FROM l$k)""".stripMargin

  /** Backward Brandes level: δ(v) = Σ_succ σ_v/σ_w · (1 + δ_w), each
    * term quantized at 1e-9 before the exact sum; no-successor nodes
    * keep δ = 0 via the left join. */
  private def brandesBwdSql(k: Int): String =
    s"""b$k AS MATERIALIZED (
       |  SELECT l.sd, l.u, l.sig, COALESCE(c.dep, 0.0) AS dep
       |  FROM l$k l LEFT JOIN (
       |    SELECT l2.sd, l2.u,
       |      ${oSum("CAST(l2.sig AS DOUBLE) / w.sig * (1.0 + w.dep)", 9)} AS dep
       |    FROM l$k l2 JOIN und ON und.u = l2.u
       |    JOIN b${k + 1} w ON w.sd = l2.sd AND w.u = und.v
       |    GROUP BY l2.sd, l2.u) c ON c.sd = l.sd AND c.u = l.u)""".stripMargin

  private def kcoreRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT u FROM (
       |    SELECT n.u, COUNT(*) AS c
       |    FROM und n JOIN $prev x ON x.u = n.u JOIN $prev y ON y.u = n.v
       |    GROUP BY n.u) t
       |  WHERE c >= 4)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // Residue-partitioned subgraph (src%16 = dst%16), symmetric closure,
    // recursive min-reachable-id walk (fixture-scale; the Spark side
    // runs the O(log d) star contraction instead — the dedup_cc twin
    // convention). Isolated nodes label themselves via the seed row.
    QueryDef("graph_cc", cc,
      s"""WITH RECURSIVE ${linksSql()},
         |intra AS (SELECT src, dst FROM raw WHERE src % 16 = dst % 16),
         |edges AS (SELECT src AS a, dst AS b FROM intra
         |          UNION SELECT dst, src FROM intra),
         |walk AS (
         |  SELECT doc_id AS node, doc_id AS reach FROM ids
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
         |SELECT node AS doc_id, MIN(reach) AS cluster_id
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin),
    // Component-size histogram: the graph_cc closure + two bounded
    // rollups; node share off a scalar-subquery total.
    QueryDef("graph_cc_sizes", ccSizes,
      s"""WITH RECURSIVE ${linksSql()},
         |intra AS (SELECT src, dst FROM raw WHERE src % 16 = dst % 16),
         |edges AS (SELECT src AS a, dst AS b FROM intra
         |          UNION SELECT dst, src FROM intra),
         |walk AS (
         |  SELECT doc_id AS node, doc_id AS reach FROM ids
         |  UNION
         |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
         |lab AS (SELECT node, MIN(reach) AS cluster_id
         |  FROM walk GROUP BY node),
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
         |  FROM lab GROUP BY 1)
         |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(size * COUNT(*) AS BIGINT) AS n_nodes,
         |  ${oRound("CAST(size * COUNT(*) AS DOUBLE) / (SELECT n FROM nn)", 6)} AS node_share
         |FROM cs GROUP BY size ORDER BY size""".stripMargin),
    // Same closure; 4 unrolled peel rounds, survivors' within-core
    // degree.
    // Same undirected closure; 4 unrolled BFS relaxations from the
    // {doc_id < 3} seed set, each MATERIALIZED (the PCA CTE-inlining
    // lesson: dK is referenced twice in round K+1); unreached = -1.
    QueryDef("graph_bfs", bfs, {
      val rounds = (1 to 4)
        .map(k => bfsRoundSql(s"d${k - 1}", s"d$k")).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |d0 AS (SELECT doc_id AS u, 0 AS d FROM ids WHERE doc_id < 3),
         |$rounds
         |SELECT ids.doc_id, CAST(COALESCE(d4.d, -1) AS INT) AS dist
         |FROM ids LEFT JOIN d4 ON d4.u = ids.doc_id
         |ORDER BY ids.doc_id""".stripMargin
    }),
    // Brandes sampled betweenness: forward σ levels (exact integer path
    // counts, per-level visited-set exclusion), backward δ sweep with
    // per-term 1e-9 quantization, per-node score = Σ_seeds δ at 1e-6.
    QueryDef("graph_betweenness_sampled", betweennessSampled, {
      val fwd = (1 to 4).map(brandesFwdSql).mkString(",\n")
      val bwd = (3 to 0 by -1).map(brandesBwdSql).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql(materialized = true)},
         |sds AS MATERIALIZED (
         |  SELECT doc_id AS sd FROM ids
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 5),
         |l0 AS (SELECT sd, sd AS u, CAST(1 AS BIGINT) AS sig FROM sds),
         |lall0 AS (SELECT sd, u FROM l0),
         |$fwd,
         |b4 AS (SELECT sd, u, sig, 0.0 AS dep FROM l4),
         |$bwd,
         |allb AS (SELECT sd, u, dep FROM b0
         |  UNION ALL SELECT sd, u, dep FROM b1
         |  UNION ALL SELECT sd, u, dep FROM b2
         |  UNION ALL SELECT sd, u, dep FROM b3
         |  UNION ALL SELECT sd, u, dep FROM b4)
         |SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_seeds,
         |  ${oRound(oSum("dep", 9), 6)} AS betweenness
         |FROM allb WHERE u != sd
         |GROUP BY u HAVING ${oSum("dep", 9)} > 0
         |ORDER BY doc_id""".stripMargin
    }),
    // Harmonic/closeness from 5 md5-sampled seeds: the bfs chain with a
    // seed-keyed frontier; 1/d terms quantized at 1e-9 before the exact
    // sum, closeness = two exact integers divided as doubles at 1e-6.
    QueryDef("graph_harmonic_centrality", harmonicCentrality, {
      val rounds = (1 to 4)
        .map(k => msBfsRoundSql(s"d${k - 1}", s"d$k")).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |sds AS MATERIALIZED (
         |  SELECT doc_id AS sd FROM ids
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 5),
         |d0 AS (SELECT sd, sd AS u, 0 AS d FROM sds),
         |$rounds
         |SELECT sd AS seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  CAST(SUM(d) AS BIGINT) AS sum_dist,
         |  ${oRound(oSum("1.0 / d", 9), 6)} AS harmonic,
         |  ${oRound("CAST(COUNT(*) AS DOUBLE) / SUM(d)", 6)} AS closeness
         |FROM d4 WHERE d > 0 GROUP BY sd ORDER BY seed""".stripMargin
    }),
    QueryDef("graph_kcore", kcore, {
      val rounds = (1 to 4)
        .map(k => kcoreRoundSql(s"a${k - 1}", s"a$k")).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |a0 AS (SELECT DISTINCT u FROM und),
         |$rounds
         |SELECT n.u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM und n JOIN a4 x ON x.u = n.u JOIN a4 y ON y.u = n.v
         |GROUP BY n.u ORDER BY doc_id""".stripMargin
    }),
    // Same simple undirected closure; 3 unrolled synchronous rounds,
    // (count desc, label asc) argmax per node, isolated nodes rejoin
    // with their own label at the end.
    QueryDef("graph_labelprop", labelprop, {
      val rounds = (1 to 3)
        .map(k => lpRoundSql(s"l${k - 1}", s"l$k")).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM ids),
         |$rounds
         |SELECT ids.doc_id, COALESCE(l3.lbl, ids.doc_id) AS community
         |FROM ids LEFT JOIN l3 ON l3.v = ids.doc_id
         |ORDER BY ids.doc_id""".stripMargin
    }),
    // Modularity: the labelprop CTE prefix + rounds, then two label
    // joins on the edge frame, per-community degree rollup, sum D_c^2
    // in HUGEINT, Q one fixed-shape chain over exact integers.
    QueryDef("graph_modularity", modularity, {
      val rounds = (1 to 3)
        .map(k => lpRoundSql(s"l${k - 1}", s"l$k")).mkString(",\n")
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM ids),
         |$rounds,
         |asg AS MATERIALIZED (
         |  SELECT ids.doc_id AS v, COALESCE(l3.lbl, ids.doc_id) AS c
         |  FROM ids LEFT JOIN l3 ON l3.v = ids.doc_id),
         |me AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
         |ie AS (SELECT CAST(COUNT(*) AS BIGINT) AS ie FROM edges e
         |  JOIN asg x ON x.v = e.a JOIN asg y ON y.v = e.b
         |  WHERE x.c = y.c),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM und GROUP BY u),
         |dc AS (SELECT a.c,
         |    CAST(COALESCE(SUM(d.d), 0) AS BIGINT) AS dsum
         |  FROM asg a LEFT JOIN deg d ON d.u = a.v GROUP BY a.c),
         |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |    SUM(CAST(dsum AS HUGEINT) * dsum) AS sd2 FROM dc),
         |cn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM ids)
         |SELECT cn.n_nodes, me.m AS m_edges, ag.n_communities,
         |  ie.ie AS inner_edges,
         |  ${oRound("ie.ie * 1.0 / me.m - CAST(ag.sd2 AS DOUBLE) / (4.0 * me.m * me.m)", 6)}
         |    AS modularity
         |FROM cn, me, ie, ag""".stripMargin
    }),
    // Reciprocity: distinct directed simple edges, reversed-key
    // self-join, quantized ratio of exact longs.
    QueryDef("graph_reciprocity", reciprocity,
      s"""WITH ${linksSql()},
         |ds AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw
         |  WHERE src <> dst),
         |rc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
         |  FROM ds x JOIN ds y ON x.src = y.dst AND x.dst = y.src),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_directed FROM ds)
         |SELECT nd.n_directed, rc.n_recip,
         |  ${oRound("rc.n_recip * 1.0 / nd.n_directed", 6)} AS reciprocity
         |FROM nd, rc""".stripMargin),
    // Assortativity: same edge closure, two degree joins, HUGEINT
    // moments, one fixed-shape Pearson chain at 1e-6.
    QueryDef("graph_assortativity", assortativity,
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM und GROUP BY u),
         |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm,
         |    CAST(SUM(x.d) AS HUGEINT) AS sj,
         |    SUM(CAST(x.d AS HUGEINT) * x.d) AS sjj,
         |    SUM(CAST(x.d AS HUGEINT) * y.d) AS sjk
         |  FROM und JOIN deg x ON x.u = und.u JOIN deg y ON y.u = und.v)
         |SELECT mm AS n_edge_ends,
         |  ${oRound("CAST(mm * sjk - sj * sj AS DOUBLE)" +
             " / CAST(mm * sjj - sj * sj AS DOUBLE)", 6)} AS assortativity
         |FROM mo""".stripMargin),
    // Same oriented edge CTE; common neighbors via the middle-node
    // self-join; union size by inclusion-exclusion; quantized-long
    // top-20 ordering.
    QueryDef("graph_linkpred", linkpred,
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |${symmetricSql()},
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM und GROUP BY u),
         |common AS (
         |  SELECT n1.u, n2.v AS w, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM (SELECT u, v AS m FROM und) n1
         |  JOIN (SELECT u AS m, v FROM und) n2 USING (m)
         |  WHERE n1.u < n2.v GROUP BY n1.u, n2.v),
         |cand AS (
         |  SELECT c.u, c.w, c.cn FROM common c
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e
         |                    WHERE e.a = c.u AND e.b = c.w)),
         |sc AS (
         |  SELECT c.u, c.w, c.cn,
         |    CAST(FLOOR(c.cn * 1.0 / (du.d + dw.d - c.cn) * 1000000.0
         |      + 0.5) AS BIGINT) AS jq
         |  FROM cand c
         |  JOIN deg du ON du.u = c.u
         |  JOIN deg dw ON dw.u = c.w)
         |SELECT u AS a, w AS b, cn, CAST(jq AS DOUBLE) / 1000000.0 AS score
         |FROM sc ORDER BY jq DESC, a, b LIMIT 20""".stripMargin),
    // Clustering coefficient: triangles' edge/wedge CTEs; corner credit
    // via UNION ALL (portable — no lateral unnest), CAST-to-double
    // hoisted before the 2T/(d(d-1)) division.
    QueryDef("graph_clustering_coeff", clusteringCoeff,
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |tris AS MATERIALIZED (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.a = e1.b
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT a AS doc_id FROM tris
         |    UNION ALL SELECT b FROM tris
         |    UNION ALL SELECT c FROM tris) tv
         |  GROUP BY 1),
         |dg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
         |    SELECT a AS doc_id FROM edges
         |    UNION ALL SELECT b FROM edges) u
         |  GROUP BY 1)
         |SELECT dg.doc_id, dg.degree,
         |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN dg.degree >= 2 THEN
         |    ${oRound("2.0 * CAST(COALESCE(tc.n_tri, 0) AS DOUBLE) / (dg.degree * (dg.degree - 1))", 6)}
         |  ELSE 0.0 END AS coeff
         |FROM dg LEFT JOIN tc USING (doc_id) ORDER BY doc_id""".stripMargin),
    // In-degree distribution: zero-degree nodes kept via the id left
    // join; the share divisor rides a scalar subquery.
    QueryDef("graph_degree_dist", degreeDist,
      s"""WITH ${linksSql()},
         |ind AS (SELECT dst AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM raw GROUP BY 1),
         |nd AS (SELECT CAST(COALESCE(ind.d, 0) AS BIGINT) AS indeg
         |  FROM ids LEFT JOIN ind ON ind.doc_id = ids.doc_id)
         |SELECT indeg, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  ${oRound("CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM nn)", 6)} AS share
         |FROM nd GROUP BY indeg ORDER BY indeg""".stripMargin),
    QueryDef("graph_triangles", triangles,
      s"""WITH ${linksSql()},
         |${simpleEdgesSql()},
         |tris AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.a = e1.b
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM tris, unnest([a, b, c]) AS u(v)
         |GROUP BY v ORDER BY doc_id""".stripMargin),
    // HITS: same edge CTE, 3 unrolled auth/hub half-step pairs (each
    // MATERIALIZED — every frame is referenced by the next half-step AND
    // the final join), grain-2 norm sums, grain-9 normalized output.
    QueryDef("graph_hits", hits, {
      val steps = (1 to 3).flatMap(k => Seq(
        hitsAuthSql(s"h${k - 1}", s"a$k"),
        hitsHubSql(s"a$k", s"h$k"))).mkString(",\n")
      s"""WITH ${linksSql("edges", materialized = true)},
         |h0 AS (SELECT doc_id, 1.0 AS h FROM ids),
         |$steps,
         |j AS MATERIALIZED (SELECT a3.doc_id, a3.a, h3.h
         |  FROM a3 JOIN h3 USING (doc_id)),
         |nrm AS (SELECT sqrt(${oSum("a*a", 2)}) AS na,
         |    sqrt(${oSum("h*h", 2)}) AS nh FROM j)
         |SELECT doc_id, ${oRound("a/na", 9)} AS authority,
         |  ${oRound("h/nh", 9)} AS hub
         |FROM j, nrm ORDER BY doc_id""".stripMargin
    }),
    QueryDef("graph_pagerank", pagerank, {
      val iters = (1 to Iterations)
        .map(k => iterSql(s"r${k - 1}", s"r$k")).mkString(",\n")
      s"""WITH ids AS (SELECT doc_id FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ids),
         |edges AS MATERIALIZED (
         |  SELECT ids.doc_id AS src,
         |    (('0x' || substr(md5(ids.doc_id || ':' || t.i), 1, 8))::BIGINT
         |      % (SELECT CAST(n AS BIGINT) FROM nn)) AS dst
         |  FROM ids, (VALUES (1), (2), (3)) AS t(i)),
         |r0 AS (SELECT doc_id, 1.0/(SELECT n FROM nn) AS rank FROM ids),
         |$iters
         |SELECT doc_id, rank FROM r$Iterations ORDER BY doc_id""".stripMargin
    })
  )
}
