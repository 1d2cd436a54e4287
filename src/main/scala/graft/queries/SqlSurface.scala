package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.chaining._

/** SQL-string entry surface (SURVEY.md §3.1): the reference's primary
  * entry point is a HiveQL STRING handed to its Driver, not a builder
  * API — this module closes that lifecycle stage by exposing the core
  * query surface as runnable SQL text over the fixture tables, executed
  * through `spark.sql` with the standard view names registered by
  * [[graft.Tables.registerAll]].
  *
  * The surface is derived, not listed: every registered query not in
  * [[excluded]] is in it, with one of two texts (see [[sql]]):
  *  - [[duckToSpark]] of its DuckDB oracle string — a mechanical
  *    dialect rewrite, the identity for oracle strings that are already
  *    engine-portable ANSI SQL. One text, three engines: the builder,
  *    Spark SQL, and DuckDB all agree.
  *  - an [[overrides]] text: Spark/HiveQL spellings for queries whose
  *    oracle leans on DuckDB-only names (quantile_cont, string_agg,
  *    unnest, epoch_us) or reconstructs the output — including the
  *    reference's signature LATERAL VIEW / TRANSFORM syntax, window
  *    IGNORE NULLS / INTERVAL RANGE frames, and WITH RECURSIVE — plus
  *    the few rewritten oracle texts that need a literal patched.
  * `SqlSurfaceSpec`'s round-trip pins every text to its builder's rows,
  * so a new query whose rewritten oracle diverges from its builder
  * fails there until it gets an override or an exclusion.
  *
  * Deliberately excluded: source/sink round-trips, MERGE and MV
  * lifecycle ops (their oracle reconstructs the EXPECTED OUTPUT rather
  * than expressing the operation — a SQL string that merely predicts a
  * sink's content is not that operator's SQL surface), and the
  * sketch/iterative/stateful operators whose semantics aren't
  * single-statement SQL.
  *
  * Scale note: these strings go through the same Catalyst planning as
  * the builder API — predicate pushdown, broadcast selection, AQE all
  * apply identically; there is no separate "SQL path" to keep fast.
  */
object SqlSurface {
  /** Shared WITH-chain for the hyperplane-LSH candidate pairs
    * ([[graft.queries.Vectors]] `lshCandidatePairs`): plane literals from
    * the same `(pi*73856093 + d*19349663) % 2000 / 1000 - 1` formula,
    * 4 tables x 8 planes -> bucket array, hot-bucket cap 1000, bucket
    * self-join, quantized cosine > 0.3. */
  private lazy val lshPairsSqlText: String = {
    def plane(pi: Int): String =
      (0 until 64).map { d =>
        val v = ((pi.toLong * 73856093 + d.toLong * 19349663) % 2000).toDouble / 1000.0 - 1.0
        s"${v}D"
      }.mkString("array(", ", ", ")")
    def sig(t: Int): String =
      (0 until 8).map { p =>
        s"CASE WHEN list_inner_product(v, ${plane(t * 8 + p)}) > 0 THEN ${1 << p} ELSE 0 END"
      }.mkString("(", " + ", s" + ${t * 256})")
    s"""WITH e AS (SELECT vec_id,
       |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |sg AS (SELECT vec_id, v, nrm,
       |  array(${(0 until 4).map(sig).mkString(", ")}) AS buckets FROM n),
       |bk AS (SELECT vec_id, v, nrm, bucket FROM sg
       |  LATERAL VIEW explode(buckets) t AS bucket),
       |hot AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) > 1000),
       |capped AS (SELECT bk.* FROM bk LEFT ANTI JOIN hot ON bk.bucket = hot.bucket),
       |pairs0 AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    CAST(FLOOR(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
       |      * 1000000.0D + 0.5D) AS DOUBLE) / 1000000.0D AS cos
       |  FROM capped a JOIN capped b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |pairs AS (SELECT * FROM pairs0 WHERE cos > 0.3D)""".stripMargin
  }

  /** Squared L2 over `n` dims as the builder's fold spelling
    * (`pqDist2`): aggregate over per-dim squared differences, 0.0D
    * seed, left-assoc adds — identical IEEE order. */
  private def pqd2Sql(xs: String, cs: String, n: Int): String =
    s"""aggregate(transform(sequence(1, $n),
       |      j -> (element_at($xs, j) - element_at($cs, j))
       |         * (element_at($xs, j) - element_at($cs, j))),
       |      0.0D, (acc, t) -> acc + t)""".stripMargin

  /** The builder's packed (1e-9-quantized dist, rank) argmin key. */
  private def pqKeySql(xs: String, cs: String, r: String): String =
    s"CAST(FLOOR(${pqd2Sql(xs, cs, 8)} * 1000000000.0D + 0.5D) AS BIGINT) * 256L + $r"

  /** (id, m, xs) subvector CTE body over a (id, v) source — the
    * builder's pqSubvectors (M = 8 subspaces of 8 dims). */
  private def pqSubvSql(src: String, id: String): String =
    s"""SELECT $id, m, slice(v, m * 8 + 1, 8) AS xs FROM $src
       |  LATERAL VIEW explode(sequence(0, 7)) t AS m""".stripMargin

  /** Hand-written surface texts, keyed by query name; every other
    * surface name runs [[duckToSpark]] of its oracle string (see
    * [[sql]]). Spark-SQL/HiveQL spellings where the oracle is
    * DuckDB-specific: each mirrors its builder expression-for-expression
    * (same aliases, same quantization) so the round-trip spec can
    * require exact row equality. */
  private[graft] lazy val overrides: Map[String, String] = Map(
    // r20 (verdict item 6, exclusion re-audit): two former justified-
    // exclusions whose reasons conflated the ORACLE gap with the SURFACE
    // gap. The surface gate compares text-vs-BUILDER, so an absent DuckDB
    // twin never blocked a text; and Spark inherits Hive's ${var}
    // substitution (spark.sql.variable.substitute, default on), so a
    // text CAN bind the file-source relation directly — which is exactly
    // what `_metadata` needs (it does not resolve through a temp view;
    // pinned in HiveCompatSpec). `graft.dir` is set by Tables.registerAll.
    "fn_hash_extra" ->
      """SELECT c_custkey, sha1(c_name) AS sha1_v, crc32(c_name) AS crc32_v,
        |  hash(c_name, c_custkey) AS murmur_v, xxhash64(c_name) AS xx64_v,
        |  soundex(c_name) AS sdx_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_block_offset" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT _metadata.file_block_start) AS n_blocks,
        |  MIN(_metadata.file_block_start) AS min_block_offset,
        |  MIN(_metadata.file_block_start) >= 0
        |    AND MAX(_metadata.file_block_start) < MIN(_metadata.file_size)
        |    AS offsets_in_file
        |FROM parquet.`${graft.dir}/lineitem.parquet`""".stripMargin,
    // r17: the §2.4 EWAH index UDAF family as SQL text — runs the actual
    // ewah_bitmap/and/or/empty functions of the catalog, not
    // the oracle's COUNT DISTINCT reconstruction, mirroring the builder
    // expression for expression.
    "agg_ewah_bitmap" ->
      """SELECT ewah_cardinality(bm_u) AS urgent_card,
        |  ewah_cardinality(bm_h) AS high_card,
        |  ewah_cardinality(ewah_bitmap_and(bm_u, bm_h)) AS and_card,
        |  ewah_cardinality(ewah_bitmap_or(bm_u, bm_h)) AS or_card,
        |  ewah_bitmap_empty(ewah_bitmap_and(bm_u, bm_h)) AS and_empty
        |FROM (SELECT
        |  ewah_bitmap(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(o_custkey AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS bm_u,
        |  ewah_bitmap(CASE WHEN o_orderpriority = '2-HIGH'
        |    THEN CAST(o_custkey AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS bm_h
        |FROM orders) t""".stripMargin,
    // r17 (ADVICE): these two previously rode their ORACLE strings, which
    // hardcode the gate values (TRUE AS andv_ok, CAST(5 AS BIGINT) AS
    // n_bins) — the surface never actually ran the sketch. These custom
    // spellings EXECUTE approx_count_distinct / histogram_numeric and
    // compute the gate booleans, mirroring the builders expression for
    // expression (the agg_percentile_approx precedent).
    "agg_approx_ndv" ->
      """SELECT l_returnflag,
        |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS ndv_part,
        |abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
        |      - COUNT(DISTINCT l_partkey))
        |  / COUNT(DISTINCT l_partkey) <= 0.10 AS andv_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_histogram" ->
      """SELECT l_returnflag,
        |CAST(size(hist) AS BIGINT) AS n_bins,
        |CAST(round(aggregate(hist, CAST(0.0 AS DOUBLE), (a, b) -> a + b.y))
        |  AS BIGINT) AS total_y,
        |(transform(hist, b -> b.x) = array_sort(transform(hist, b -> b.x)))
        |  AS x_sorted,
        |forall(transform(hist, b -> b.x), x -> x >= qmin AND x <= qmax)
        |  AS x_in_range
        |FROM (SELECT l_returnflag,
        |        histogram_numeric(l_quantity, 5) AS hist,
        |        min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |      FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,
    // r17 (ADVICE): the oracle's raw SUM(rnk*cnt) long product is the
    // int64-overflow-at-~1e9-users hazard the builder fixed by
    // accumulating in decimal(38,0); this spelling carries the same
    // overflow-safe accumulation so the SQL surface matches the
    // builder's scale posture (ANSI-on Spark would throw on the raw
    // product; DuckDB sums in hugeint either way).
    "seq_gini" ->
      s"""WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY user_id),
         |r AS (SELECT cnt,
         |        row_number() OVER (ORDER BY cnt, user_id) AS rnk FROM c)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cnt) AS BIGINT) AS total_events,
         |  ${oRound("2.0*CAST(SUM(CAST(rnk AS DECIMAL(38,0))*cnt) AS DOUBLE)" +
            "/(CAST(COUNT(*) AS DOUBLE)*CAST(SUM(cnt) AS DOUBLE))" +
            " - CAST(COUNT(*)+1 AS DOUBLE)/COUNT(*)", 6)}
         |    AS gini
         |FROM r""".stripMargin,
    // r17: builder-mirroring spellings for the hyperplane-LSH family —
    // the 32 plane vectors are generated into the text from the same
    // formula the builder embeds via typedLit (D-suffixed so they stay
    // doubles), list_inner_product resolves to the SAME native
    // dot_product expression the builder calls, and the hot-bucket cap
    // is the HAVING + LEFT ANTI JOIN spelling of capBuckets.
    "llm_ann_lsh" ->
      s"""$lshPairsSqlText
         |SELECT id_a, id_b, cos FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "llm_embed_neardup" ->
      s"""$lshPairsSqlText
         |SELECT id_b AS dup_id, MIN(id_a) AS keeper_id, MAX(cos) AS best_cos
         |FROM pairs GROUP BY id_b ORDER BY dup_id""".stripMargin,
    // r17: builder-mirroring IVF-PQ spelling — the two index families
    // composed as the builder does: coarse IVF cells (k=40 md5 seeds,
    // packed argmax, hot-cell cap), RESIDUAL vectors against the
    // assigned centroid, a residual PQ codebook (32 md5 seeds + one
    // Lloyd step on the 512-vector training sample), probed-cells-only
    // ADC with per-(query, cell) residual distance tables (nprobe=4),
    // and the exact-L2 refine over the 8*topK shortlist.
    "llm_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
         |seeds0 AS (SELECT vec_id, v, nrm FROM n
         |  ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 40),
         |seeds1 AS (SELECT vec_id, v, nrm, row_number() OVER
         |  (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r FROM seeds0),
         |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn, r FROM
         |  (SELECT *, row_number() OVER (PARTITION BY v ORDER BY r) AS dup_rn
         |   FROM seeds1) WHERE dup_rn = 1),
         |corpus AS (SELECT * FROM n WHERE NOT (vec_id < 20)),
         |qry AS (SELECT * FROM n WHERE vec_id < 20),
         |acx AS (SELECT /*+ BROADCAST(cents) */ corpus.vec_id, cents.c_id,
         |    CAST(FLOOR(list_inner_product(corpus.v, cents.cv)
         |      / (corpus.nrm * cents.cn)
         |      * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + cents.r AS ck
         |  FROM corpus CROSS JOIN cents),
         |acells AS (SELECT vec_id, max_by(c_id, ck) AS cell
         |  FROM acx GROUP BY vec_id),
         |assigned AS (SELECT vec_id, cell, v, nrm FROM (
         |  SELECT a.vec_id, a.cell, corpus.v, corpus.nrm,
         |    COUNT(*) OVER (PARTITION BY a.cell) AS cnt
         |  FROM acells a JOIN corpus ON a.vec_id = corpus.vec_id)
         |  WHERE cnt <= 1000),
         |resid AS (SELECT /*+ BROADCAST(cents) */ a.vec_id, a.cell,
         |    zip_with(a.v, cents.cv, (x, c) -> x - c) AS rv
         |  FROM assigned a JOIN cents ON a.cell = cents.c_id),
         |pseeds AS (SELECT vec_id, v, row_number() OVER
         |    (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r
         |  FROM (SELECT vec_id, rv AS v FROM resid
         |        ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 32)),
         |seedcb AS (SELECT m, r, xs AS cs FROM
         |  (${pqSubvSql("(SELECT r, v FROM pseeds)", "r")})),
         |ctrain AS (${pqSubvSql(
             "(SELECT vec_id, rv AS v FROM resid ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 512)",
             "vec_id")}),
         |tasn AS (SELECT /*+ BROADCAST(seedcb) */ t.vec_id, t.m,
         |    min_by(s.r, ${pqKeySql("t.xs", "s.cs", "s.r")}) AS r
         |  FROM ctrain t JOIN seedcb s ON t.m = s.m GROUP BY t.vec_id, t.m),
         |tjoin AS (SELECT a.m, a.r, c.xs FROM tasn a
         |  JOIN ctrain c ON a.vec_id = c.vec_id AND a.m = c.m),
         |tsums AS (SELECT m, r, d,
         |    SUM(CAST(FLOOR(x * 1000000.0D + 0.5D) AS BIGINT)) AS qsum,
         |    COUNT(*) AS cnt
         |  FROM tjoin LATERAL VIEW posexplode(xs) p AS d, x
         |  GROUP BY m, r, d),
         |cb AS (SELECT m, r, transform(sort_array(collect_list(
         |    named_struct('d', d, 'mv', (CAST(qsum AS DOUBLE) / 1000000.0D) / cnt))),
         |    s -> s.mv) AS cs
         |  FROM tsums GROUP BY m, r),
         |rsub AS (${pqSubvSql("(SELECT vec_id, rv AS v FROM resid)", "vec_id")}),
         |codes AS (SELECT cd.vec_id, cd.m, cd.r, rc.cell FROM
         |  (SELECT /*+ BROADCAST(cb) */ c.vec_id, c.m,
         |     min_by(b.r, ${pqKeySql("c.xs", "b.cs", "b.r")}) AS r
         |   FROM rsub c JOIN cb b ON c.m = b.m GROUP BY c.vec_id, c.m) cd
         |  JOIN (SELECT vec_id, cell FROM resid) rc ON cd.vec_id = rc.vec_id),
         |probes AS (SELECT q_id, qv, cell FROM (
         |  SELECT q.vec_id AS q_id, q.v AS qv, cents.c_id AS cell,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(FLOOR(list_inner_product(q.v, cents.cv)
         |        / (q.nrm * cents.cn)
         |        * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + cents.r
         |      DESC) AS pr
         |  FROM qry q CROSS JOIN cents)
         |  WHERE pr <= 4),
         |qresid AS (SELECT /*+ BROADCAST(cents) */ p.q_id, p.cell,
         |    zip_with(p.qv, cents.cv, (x, c) -> x - c) AS v
         |  FROM probes p JOIN cents ON p.cell = cents.c_id),
         |qsubx AS (SELECT q_id, cell, m, slice(v, m * 8 + 1, 8) AS xs
         |  FROM qresid LATERAL VIEW explode(sequence(0, 7)) t AS m),
         |dtable AS (SELECT /*+ BROADCAST(cb) */ q.q_id, q.cell, q.m, b.r,
         |    CAST(FLOOR(${pqd2Sql("q.xs", "b.cs", 8)}
         |      * 1000000000.0D + 0.5D) AS BIGINT) AS dq
         |  FROM qsubx q JOIN cb b ON q.m = b.m),
         |adc AS (SELECT /*+ BROADCAST(dtable) */ d.q_id, c.vec_id,
         |    SUM(d.dq) AS qsum
         |  FROM codes c JOIN dtable d
         |    ON c.cell = d.cell AND c.m = d.m AND c.r = d.r
         |  GROUP BY d.q_id, c.vec_id),
         |short AS (SELECT q_id, vec_id, qsum FROM
         |  (SELECT q_id, vec_id, qsum, row_number() OVER
         |     (PARTITION BY q_id ORDER BY qsum ASC, vec_id ASC) AS rnk
         |   FROM adc) WHERE rnk <= 40),
         |ref AS (SELECT s.q_id, s.vec_id, s.qsum,
         |    CAST(FLOOR(${pqd2Sql("c.v", "q.v", 64)}
         |      * 1000000000.0D + 0.5D) AS BIGINT) AS dqe
         |  FROM short s JOIN corpus c ON s.vec_id = c.vec_id
         |  JOIN qry q ON s.q_id = q.vec_id)
         |SELECT q_id, rnk, vec_id,
         |  ${oRound("CAST(qsum AS DOUBLE) / 1000000000.0D", 6)} AS adist
         |FROM (SELECT q_id, vec_id, qsum, row_number() OVER
         |    (PARTITION BY q_id ORDER BY dqe ASC, vec_id ASC) AS rnk
         |  FROM ref)
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // r17: builder-mirroring PQ spelling — md5 seed codebook (Ks=32),
    // one Lloyd step on the fixed 16*Ks training sample, per-(vector,
    // subspace) argmin encoding with the packed quantized key, the
    // broadcast ADC distance table, and the FAISS-style exact-L2
    // refine over the 4*topK shortlist. adist stays the ADC distance;
    // the refine corrects the RANK, exactly as the builder.
    "llm_ann_pq" ->
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |corpus AS (SELECT * FROM e WHERE NOT (vec_id < 20)),
         |qs AS (SELECT * FROM e WHERE vec_id < 20),
         |seeds AS (SELECT vec_id, v, row_number() OVER
         |    (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r
         |  FROM (SELECT * FROM corpus
         |        ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 32)),
         |seedcb AS (SELECT m, r, xs AS cs FROM
         |  (${pqSubvSql("(SELECT r, v FROM seeds)", "r")})),
         |ctrain AS (${pqSubvSql(
             "(SELECT vec_id, v FROM corpus ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 512)",
             "vec_id")}),
         |tasn AS (SELECT /*+ BROADCAST(seedcb) */ t.vec_id, t.m,
         |    min_by(s.r, ${pqKeySql("t.xs", "s.cs", "s.r")}) AS r
         |  FROM ctrain t JOIN seedcb s ON t.m = s.m GROUP BY t.vec_id, t.m),
         |tjoin AS (SELECT a.m, a.r, c.xs FROM tasn a
         |  JOIN ctrain c ON a.vec_id = c.vec_id AND a.m = c.m),
         |tsums AS (SELECT m, r, d,
         |    SUM(CAST(FLOOR(x * 1000000.0D + 0.5D) AS BIGINT)) AS qsum,
         |    COUNT(*) AS cnt
         |  FROM tjoin LATERAL VIEW posexplode(xs) p AS d, x
         |  GROUP BY m, r, d),
         |cb AS (SELECT m, r, transform(sort_array(collect_list(
         |    named_struct('d', d, 'mv', (CAST(qsum AS DOUBLE) / 1000000.0D) / cnt))),
         |    s -> s.mv) AS cs
         |  FROM tsums GROUP BY m, r),
         |csub AS (${pqSubvSql("corpus", "vec_id")}),
         |codes AS (SELECT /*+ BROADCAST(cb) */ c.vec_id, c.m,
         |    min_by(b.r, ${pqKeySql("c.xs", "b.cs", "b.r")}) AS r
         |  FROM csub c JOIN cb b ON c.m = b.m GROUP BY c.vec_id, c.m),
         |qsub AS (${pqSubvSql("(SELECT vec_id AS q_id, v FROM qs)", "q_id")}),
         |dtable AS (SELECT /*+ BROADCAST(cb) */ q.q_id, q.m, b.r,
         |    CAST(FLOOR(${pqd2Sql("q.xs", "b.cs", 8)}
         |      * 1000000000.0D + 0.5D) AS BIGINT) AS dq
         |  FROM qsub q JOIN cb b ON q.m = b.m),
         |adc AS (SELECT /*+ BROADCAST(dtable) */ d.q_id, c.vec_id,
         |    SUM(d.dq) AS qsum
         |  FROM codes c JOIN dtable d ON c.m = d.m AND c.r = d.r
         |  GROUP BY d.q_id, c.vec_id),
         |adcr AS (SELECT q_id, vec_id, qsum, row_number() OVER
         |    (PARTITION BY q_id ORDER BY qsum ASC, vec_id ASC) AS rnk
         |  FROM adc),
         |short AS (SELECT q_id, vec_id, qsum FROM adcr WHERE rnk <= 20),
         |ref AS (SELECT s.q_id, s.vec_id, s.qsum,
         |    CAST(FLOOR(${pqd2Sql("c.v", "q.v", 64)}
         |      * 1000000000.0D + 0.5D) AS BIGINT) AS dqe
         |  FROM short s JOIN corpus c ON s.vec_id = c.vec_id
         |  JOIN qs q ON s.q_id = q.vec_id)
         |SELECT q_id, rnk, vec_id,
         |  ${oRound("CAST(qsum AS DOUBLE) / 1000000000.0D", 6)} AS adist
         |FROM (SELECT q_id, vec_id, qsum, row_number() OVER
         |    (PARTITION BY q_id ORDER BY dqe ASC, vec_id ASC) AS rnk
         |  FROM ref)
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // r17: builder-mirroring trained-IVF spelling — md5 seed sample,
    // ONE Lloyd step (per-cell per-dim quantized-long means via
    // sort_array(collect_list(named_struct))), then the IVF retrieve:
    // packed-argmax cell assignment, single-pass hot-cell cap,
    // nprobe=2 probe ranking, top-5 per query.
    "llm_ann_ivf_trained" ->
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
         |seeds0 AS (SELECT vec_id, v, nrm FROM n
         |  ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 40),
         |seeds1 AS (SELECT vec_id, v, nrm, row_number() OVER
         |  (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r FROM seeds0),
         |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn, r FROM
         |  (SELECT *, row_number() OVER (PARTITION BY v ORDER BY r) AS dup_rn
         |   FROM seeds1) WHERE dup_rn = 1),
         |lcx AS (SELECT /*+ BROADCAST(seeds) */ n.vec_id, seeds.c_id,
         |    CAST(FLOOR(list_inner_product(n.v, seeds.cv) / (n.nrm * seeds.cn)
         |      * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + seeds.r AS ck
         |  FROM n CROSS JOIN seeds),
         |lcells AS (SELECT vec_id, max_by(c_id, ck) AS cell
         |  FROM lcx GROUP BY vec_id),
         |dims AS (SELECT c.cell, p.d, p.x FROM lcells c
         |  JOIN n ON c.vec_id = n.vec_id
         |  LATERAL VIEW posexplode(n.v) p AS d, x),
         |sums AS (SELECT cell, d,
         |    SUM(CAST(FLOOR(x * 1000000.0D + 0.5D) AS BIGINT)) AS qs,
         |    COUNT(*) AS cnt
         |  FROM dims GROUP BY cell, d),
         |ref0 AS (SELECT cell, sort_array(collect_list(named_struct(
         |    'd', d, 'm', (CAST(qs AS DOUBLE) / 1000000.0D) / cnt))) AS dm
         |  FROM sums GROUP BY cell),
         |ref1 AS (SELECT cell AS c_id, transform(dm, s -> s.m) AS cv
         |  FROM ref0),
         |cents AS (SELECT r1.c_id, r1.cv,
         |    sqrt(list_inner_product(r1.cv, r1.cv)) AS cn, seeds.r
         |  FROM ref1 r1 JOIN seeds ON r1.c_id = seeds.c_id),
         |corpus AS (SELECT * FROM n WHERE NOT (vec_id < 20)),
         |acx AS (SELECT /*+ BROADCAST(cents) */ corpus.vec_id, cents.c_id,
         |    CAST(FLOOR(list_inner_product(corpus.v, cents.cv)
         |      / (corpus.nrm * cents.cn)
         |      * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + cents.r AS ck
         |  FROM corpus CROSS JOIN cents),
         |acells AS (SELECT vec_id, max_by(c_id, ck) AS cell
         |  FROM acx GROUP BY vec_id),
         |assigned AS (SELECT vec_id, cell, v, nrm FROM (
         |  SELECT a.vec_id, a.cell, corpus.v, corpus.nrm,
         |    COUNT(*) OVER (PARTITION BY a.cell) AS cnt
         |  FROM acells a JOIN corpus ON a.vec_id = corpus.vec_id)
         |  WHERE cnt <= 1000),
         |probes AS (SELECT q_id, qv, qn, cell FROM (
         |  SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn,
         |    cents.c_id AS cell,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(FLOOR(list_inner_product(q.v, cents.cv)
         |        / (q.nrm * cents.cn)
         |        * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + cents.r
         |      DESC) AS pr
         |  FROM (SELECT * FROM n WHERE vec_id < 20) q CROSS JOIN cents)
         |  WHERE pr <= 2),
         |scored AS (SELECT p.q_id, a.vec_id,
         |    ${oRound("list_inner_product(p.qv, a.v) / (p.qn * a.nrm)", 6)} AS cos
         |  FROM probes p JOIN assigned a ON p.cell = a.cell)
         |SELECT q_id, rnk, vec_id, cos FROM (
         |  SELECT q_id, vec_id, cos, row_number() OVER
         |    (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // r17: builder-mirroring SemDeDup spelling — the md5-ordered
    // fixed-k seed sample, the 1e-9-quantized packed argmax cell key
    // (max_by stays a HashAggregate), the single-pass hot-cell window
    // cap, and within-cell pairs only, exactly as the builder.
    "llm_semdedup" ->
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
         |seeds0 AS (SELECT vec_id, v, nrm FROM n
         |  ORDER BY md5(CAST(vec_id AS STRING)), vec_id LIMIT 40),
         |seeds1 AS (SELECT vec_id, v, nrm, row_number() OVER
         |  (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r FROM seeds0),
         |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn, r FROM
         |  (SELECT *, row_number() OVER (PARTITION BY v ORDER BY r) AS dup_rn
         |   FROM seeds1) WHERE dup_rn = 1),
         |cellsx AS (SELECT /*+ BROADCAST(seeds) */ n.vec_id, seeds.c_id,
         |    CAST(FLOOR(list_inner_product(n.v, seeds.cv) / (n.nrm * seeds.cn)
         |      * 1000000000.0D + 0.5D) AS BIGINT) * 65536L + seeds.r AS ck
         |  FROM n CROSS JOIN seeds),
         |cells AS (SELECT vec_id, max_by(c_id, ck) AS cell
         |  FROM cellsx GROUP BY vec_id),
         |asg AS (SELECT c.vec_id, c.cell, n.v, n.nrm,
         |    COUNT(*) OVER (PARTITION BY cell) AS cnt
         |  FROM cells c JOIN n ON c.vec_id = n.vec_id),
         |capped AS (SELECT vec_id, cell, v, nrm FROM asg WHERE cnt <= 1000),
         |p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${oRound("list_inner_product(a.v, b.v) / (a.nrm * b.nrm)", 6)} AS cos
         |  FROM capped a JOIN capped b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |p AS (SELECT * FROM p0 WHERE cos > 0.3D)
         |SELECT id_b AS dup_id, MIN(id_a) AS keeper_id, MAX(cos) AS best_cos
         |FROM p GROUP BY id_b ORDER BY dup_id""".stripMargin,
    // r17: builder-mirroring spelling — Spark's slice() IS the oracle's
    // v[1:16] prefix slice; both ranks annotate one pass over the
    // broadcast query x corpus pairing, exactly as the builder.
    "llm_matryoshka_recall" ->
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |m AS (SELECT vec_id, v, slice(v, 1, 16) AS vt FROM e),
         |n AS (SELECT vec_id, v, vt,
         |  sqrt(list_inner_product(v, v)) AS nrm,
         |  sqrt(list_inner_product(vt, vt)) AS nrmt FROM m),
         |q AS (SELECT vec_id AS q_id, v AS qv, vt AS qvt, nrm AS qn,
         |  nrmt AS qnt FROM n WHERE vec_id < 20),
         |sims AS (SELECT /*+ BROADCAST(q) */ q.q_id, n.vec_id,
         |    ${oRound("list_inner_product(qv, v) / (qn * nrm)", 6)} AS cos_full,
         |    ${oRound("list_inner_product(qvt, vt) / (qnt * nrmt)", 6)} AS cos_trunc
         |  FROM q CROSS JOIN n WHERE NOT (n.vec_id < 20)),
         |r AS (SELECT q_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_full DESC, vec_id) <= 5 AS in_full,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos_trunc DESC, vec_id) <= 5 AS in_trunc
         |  FROM sims),
         |common AS (SELECT q_id,
         |    SUM(CASE WHEN in_full AND in_trunc THEN 1 ELSE 0 END) AS n_common
         |  FROM r GROUP BY q_id)
         |SELECT q.q_id, COALESCE(n_common, 0) AS n_common,
         |  ${oRound("CAST(COALESCE(n_common, 0) AS DOUBLE) / 5", 6)} AS recall_at_k
         |FROM q LEFT JOIN common ON q.q_id = common.q_id
         |ORDER BY q_id""".stripMargin,
    // r17: builder-mirroring spelling for a former vector-dialect
    // exclusion — the JL ternary matrix (Achlioptas 2003) is generated
    // into the text from the same rpEntry derivation the builder
    // embeds via typedLit, so the 1024-literal plan constant is
    // identical; all arithmetic is quantized-long, so the text is
    // bit-exact against the builder.
    "llm_random_proj" -> {
      val matrix = Seq.tabulate(16) { j =>
        Seq.tabulate(64)(i => s"${graft.queries.Vectors.rpEntry(i, j)}L")
          .mkString("array(", ", ", ")")
      }.mkString("array(", ", ", ")")
      s"""WITH e AS (SELECT vec_id,
         |  transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |  transform(v, x -> CAST(floor(x * 1000000.0D + 0.5D) AS BIGINT)) AS qx
         |  FROM e),
         |y AS (SELECT vec_id, j, yq FROM q
         |  LATERAL VIEW posexplode(transform(sequence(0, 15), j ->
         |    aggregate(zip_with(qx, element_at($matrix, j + 1),
         |      (a, b) -> a * b), 0L, (acc, t) -> acc + t))) t AS j, yq)
         |SELECT vec_id, j,
         |  ${oRound(s"CAST(yq AS DOUBLE) / 1000000.0D * ${math.sqrt(3.0 / 16)}D", 6)}
         |    AS y
         |FROM y ORDER BY vec_id, j""".stripMargin
    },
    // r17: builder-mirroring spelling for a former gate-divergent
    // exclusion — the TRANSLATED oracle text's double path drifted at
    // the 1e-6 quantizer boundary, but spelling the BUILDER's exact
    // arithmetic (same parenthesization, same quantization) reproduces
    // its doubles bit-for-bit.
    "llm_collocations" ->
      s"""WITH wsx AS (
         |  SELECT split(text, ' ') AS ws FROM documents
         |  WHERE size(split(text, ' ')) >= 2),
         |pairs AS (
         |  SELECT p.a AS a, p.b AS b FROM wsx
         |  LATERAL VIEW explode(transform(sequence(1, size(ws) - 1),
         |    i -> named_struct('a', element_at(ws, i),
         |                      'b', element_at(ws, i + 1)))) t AS p),
         |cw AS (SELECT w, COUNT(*) AS c
         |       FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
         |       GROUP BY w),
         |twx AS (SELECT SUM(c) AS tw FROM cw),
         |cb AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b),
         |tbx AS (SELECT SUM(cab) AS tb FROM cb)
         |SELECT a, b, cab, ca, cbn,
         |  ${oRound("((cab * 1.0D * tw / tb) * (tw * 1.0D / ca)) / cbn", 6)}
         |    AS ratio
         |FROM cb
         |JOIN (SELECT w AS a, c AS ca FROM cw) USING (a)
         |JOIN (SELECT w AS b, c AS cbn FROM cw) USING (b)
         |CROSS JOIN twx CROSS JOIN tbx
         |WHERE cab >= 3
         |ORDER BY ratio DESC, a, b
         |LIMIT 20""".stripMargin,
    "agg_percentile" ->
      s"""SELECT l_returnflag,
         |${oRound("percentile(l_quantity, 0.25)", 6)} AS q25,
         |${oRound("percentile(l_quantity, 0.5)", 6)} AS q50,
         |${oRound("percentile(l_quantity, 0.75)", 6)} AS q75,
         |${oRound("median(l_discount)", 8)} AS med_disc
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_approx" ->
      s"""SELECT l_returnflag,
         |${oRound("percentile(l_extendedprice, 0.5)", 6)} AS exact_med_price,
         |${oRound("percentile(l_quantity, 0.25)", 6)} AS exact_q25,
         |${oRound("percentile(l_quantity, 0.75)", 6)} AS exact_q75,
         |abs(percentile_approx(l_extendedprice, 0.5, 10000)
         |    - percentile(l_extendedprice, 0.5))
         |  / percentile(l_extendedprice, 0.5) <= 0.01 AS med_ok,
         |abs(element_at(percentile_approx(l_quantity, array(0.25, 0.75), 1000), 1)
         |    - percentile(l_quantity, 0.25)) <= 1.0 AS q25_ok,
         |abs(element_at(percentile_approx(l_quantity, array(0.25, 0.75), 1000), 2)
         |    - percentile(l_quantity, 0.75)) <= 1.0 AS q75_ok
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect" ->
      """SELECT n_name,
        |concat_ws(',', sort_array(collect_set(c_mktsegment))) AS segments,
        |COUNT(*) AS cust_cnt,
        |concat_ws(',', sort_array(collect_list(substring(c_mktsegment, 1, 1))))
        |  AS seg_initials
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_listagg" -> Aggregates.aggListaggSql,
    "fn_hash" ->
      """SELECT c_custkey,
        |md5(c_name) AS md5_v,
        |sha2(c_name, 256) AS sha256_v,
        |length(sha2(c_name, 512)) AS sha512_len
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_hash_b64fmt" ->
      """SELECT c_custkey,
        |base64(CAST(c_name AS BINARY)) AS b64_v,
        |base64(unbase64(base64(CAST(c_name AS BINARY)))) AS b64_rt,
        |format_number(c_acctbal, 2) AS fmtnum_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_bitwise" ->
      """SELECT c_custkey,
        |c_custkey & 37 AS band,
        |c_custkey | 37 AS bor,
        |c_custkey ^ 37 AS bxor,
        |~c_custkey AS bnot,
        |shiftleft(c_custkey, 3) AS shl,
        |shiftright(c_custkey, 2) AS shr,
        |bit_count(c_custkey) AS bcount
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_math" ->
      s"""SELECT p_partkey,
         |abs(p_retailprice - 1000) AS abs_v,
         |${oRound("p_retailprice / 7", 2)} AS round_div7,
         |floor(p_retailprice) AS floor_v,
         |ceil(p_retailprice) AS ceil_v,
         |pmod(p_partkey - 150, 7) AS pmod_v,
         |conv(CAST(p_size AS STRING), 10, 2) AS bin_str,
         |hex(p_size) AS hex_str,
         |CAST(factorial(p_size % 10) AS BIGINT) AS fact_v,
         |greatest(p_size, 25) AS great_v,
         |least(p_size, 25) AS least_v,
         |signum(p_retailprice - 1000) AS sign_v,
         |${oRound("exp(p_size / 10.0)", 9)} AS exp_v,
         |${oRound("ln(p_retailprice)", 9)} AS ln_v,
         |${oRound("log10(p_retailprice)", 9)} AS log10_v,
         |${oRound("log2(p_size)", 9)} AS log2_v,
         |${oRound("sqrt(p_retailprice)", 9)} AS sqrt_v,
         |${oRound("cbrt(p_retailprice)", 9)} AS cbrt_v,
         |${oRound("sin(p_size)", 9)} AS sin_v,
         |${oRound("atan(p_size)", 9)} AS atan_v,
         |${oRound("degrees(p_size)", 6)} AS deg_v,
         |${oRound("pow(p_size, 2)", 4)} AS pow_v
         |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,
    "fn_string" ->
      """SELECT p_partkey,
        |length(p_name) AS len_v,
        |upper(p_name) AS upper_v,
        |lower(p_type) AS lower_v,
        |lpad(p_brand, 12, '*') AS lpad_v,
        |rpad(p_brand, 12, '-') AS rpad_v,
        |trim('  pad  ') AS trim_v,
        |reverse(p_name) AS rev_v,
        |repeat('*', p_size % 5) AS rep_v,
        |substring(p_name, 2, 4) AS substr_v,
        |instr(p_name, 'i') AS instr_v,
        |concat_ws('|', p_brand, p_type, p_name) AS cws_v,
        |translate(p_name, 'aeiou', 'AEIOU') AS trans_v,
        |ascii(p_name) AS ascii_v,
        |split_part(p_name, ' ', 1) AS sp1,
        |substring_index(p_name, ' ', 1) AS sidx_v,
        |levenshtein(p_brand, p_type) AS lev_v,
        |format_string('%s-%04d', p_type, p_size) AS fmt_v,
        |initcap(p_name) AS initcap_v,
        |find_in_set(p_type, 'ECONOMY,SMALL,LARGE') AS fis_v,
        |locate('e', p_name) AS loc_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,
    "fn_regex" ->
      """SELECT c_custkey,
        |c_name LIKE '%00001%' AS like_v,
        |c_mktsegment RLIKE '^B.*G$' AS rlike_v,
        |regexp_extract(c_name, '([0-9]+)', 1) AS rext_v,
        |regexp_replace(c_name, '0', '_') AS rrep_v,
        |CAST(regexp_count(c_name, '0') AS INT) AS rcnt_v,
        |split(c_name, '#')[1] AS split_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,
    "fn_datetime" ->
      """SELECT o_orderkey,
        |year(o_orderdate) AS y_v,
        |quarter(o_orderdate) AS q_v,
        |month(o_orderdate) AS m_v,
        |dayofmonth(o_orderdate) AS dom_v,
        |dayofweek(o_orderdate) AS dow_v,
        |dayofyear(o_orderdate) AS doy_v,
        |weekofyear(o_orderdate) AS woy_v,
        |last_day(o_orderdate) AS lday_v,
        |next_day(o_orderdate, 'MO') AS nday_v,
        |date_add(o_orderdate, 30) AS dadd_v,
        |date_sub(o_orderdate, 15) AS dsub_v,
        |CAST(add_months(o_orderdate, 2) AS DATE) AS amon_v,
        |datediff(CAST('2000-01-01' AS DATE), o_orderdate) AS ddiff_v,
        |months_between(date_trunc('month', CAST('2000-01-01' AS DATE)),
        |  date_trunc('month', o_orderdate)) AS mbtw_v,
        |date_format(o_orderdate, 'yyyy-MM-dd HH:mm') AS dfmt_v,
        |unix_timestamp(o_orderdate) AS unix_v,
        |from_unixtime(unix_timestamp(o_orderdate)) AS funix_v,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP_NTZ) AS dtrunc_v,
        |to_date(o_orderdate) AS todate_v,
        |make_date(year(o_orderdate), month(o_orderdate), 1) AS mkdate_v
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin,
    "gen_explode" ->
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT explode(split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,
    "gen_explode_outer" ->
      """SELECT doc_id, long_word
        |FROM documents
        |LATERAL VIEW OUTER explode(filter(split(text, ' '), w -> length(w) > 6))
        |  t AS long_word
        |WHERE doc_id < 100
        |ORDER BY doc_id, long_word ASC NULLS FIRST""".stripMargin,
    "gen_posexplode" ->
      """SELECT doc_id, pos, word
        |FROM documents
        |LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
        |WHERE doc_id < 30 ORDER BY doc_id, pos""".stripMargin,
    "gen_lateral_view" ->
      """SELECT doc_id, lang, w.word AS word
        |FROM documents
        |LATERAL VIEW explode(split(text, ' ')) w AS word
        |WHERE doc_id < 20
        |ORDER BY doc_id, word""".stripMargin,
    "gen_json_tuple" ->
      """SELECT event_id, jt.k AS k_val
        |FROM events LATERAL VIEW json_tuple(props, 'k') jt AS k
        |WHERE event_id < 500
        |ORDER BY event_id""".stripMargin,
    "gen_transform_script" ->
      """SELECT CAST(k AS BIGINT) AS okey, v AS prio FROM (
        |  SELECT TRANSFORM(o_orderkey, o_orderpriority)
        |  USING 'cat' AS (k STRING, v STRING)
        |  FROM orders WHERE o_orderkey < 2000
        |) t ORDER BY okey, prio""".stripMargin,
    "gen_transform_delimited" -> Generators.genTransformDelimitedSql,
    "win_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        |lag(o_totalprice, 1) OVER w AS prev_price,
        |lead(o_totalprice, 2, -1.0) OVER w AS next2_price,
        |first_value(o_totalprice) OVER wf AS first_price,
        |last_value(o_totalprice) OVER wf AS last_price,
        |last_value(CASE WHEN o_orderstatus = 'P' THEN NULL
        |                ELSE o_totalprice END) IGNORE NULLS OVER wf
        |  AS last_nonp_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_time_range" ->
      """SELECT user_id, event_id, unix_micros(ts) AS tsu,
        |  CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) OVER wh AS DOUBLE)/100
        |    AS roll_1h_sum,
        |  COUNT(*) OVER wh AS roll_1h_n
        |FROM events
        |WINDOW wh AS (PARTITION BY user_id ORDER BY ts
        |              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, tsu, event_id""".stripMargin,
    "cte_recursive" -> Relational.cteRecursiveSql,
    "llm_exact_dedup" ->
      """SELECT sha2(text, 256) AS content_hash,
        |MIN(doc_id) AS keeper, COUNT(*) AS copies
        |FROM documents GROUP BY sha2(text, 256) ORDER BY keeper""".stripMargin,
    "llm_token_count" ->
      """SELECT doc_id,
        |size(split(text, ' ')) AS ws_tokens,
        |CAST(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS INT) AS bpe_tokens,
        |length(text) AS chars,
        |length(text) - length(regexp_replace(text, ' ', '')) AS spaces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sort_hashsample" ->
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS STRING)), 1, 1) IN ('0', '1')
        |ORDER BY o_orderkey""".stripMargin,
    // r17 (verdict item 3): the one inventory row with no hash-green
    // path gets a SQL-text twin — TABLESAMPLE ... REPEATABLE plans the
    // same Sample(0, 0.1, false, 42) node as the builder's
    // .sample(false, 0.1, 42), so exact-row equality under the fixed
    // seed holds single-engine even though DuckDB can't replay the RNG.
    // The engine's sample syntax is thereby self-consistent across both
    // entry points.
    "sort_tablesample" ->
      """SELECT o_orderkey, o_custkey
        |FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        |ORDER BY o_orderkey""".stripMargin,
    // r17 second hand-spelling batch: former justified-exclusions whose
    // BUILDERS are plain Spark expression chains — the exclusion reason
    // was always a defect of the mechanically rewritten ORACLE text
    // (dialect-only syntax, double-path quantizer divergence), never of
    // the operation, so a hand spelling that mirrors the builder
    // expression-for-expression passes the exact-row gate. Each text is
    // the builder's own logic re-spelled in SQL; the gate keeps them from
    // drifting.
    // builder: Scalars.fnVariant — Spark 4 VARIANT family verbatim
    "fn_variant" ->
      """SELECT event_id,
        |variant_get(parse_json(props), '$.k', 'long') AS k_long,
        |variant_get(parse_json(props), '$.k', 'string') AS k_str,
        |try_variant_get(parse_json(props), '$.missing', 'long') AS miss_v,
        |schema_of_variant(parse_json(props)) AS schema_v,
        |is_variant_null(parse_json('null')) AS vnull_v
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin,
    // builder: Scalars.fnString2 — sentences/str_to_map/space/length trio
    "fn_string2" ->
      """SELECT doc_id,
        |size(flatten(sentences(text))) AS sent_words,
        |element_at(element_at(sentences(text), 1), 1) AS first_word,
        |str_to_map(concat('id:', doc_id, ',lang:', lang), ',', ':')['lang'] AS s2m_lang,
        |size(str_to_map(concat('id:', doc_id, ',lang:', lang), ',', ':')) AS s2m_size,
        |concat('x', space(3), 'y') AS space_v,
        |char_length(lang) AS clen_v,
        |octet_length(lang) AS olen_v,
        |bit_length(lang) AS blen_v
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,
    // builder: Quality.llmTextNormalize — the same unicode_normalize
    // catalog function (JDK Normalizer expression)
    "llm_text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(
        |    unicode_normalize(text, 'NFC'),
        |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ''),
        |    '[ \\t\\r\\n]+', ' ')) AS norm FROM documents)
        |SELECT doc_id, length(text) AS raw_len, length(norm) AS norm_len,
        |  norm != text AS changed, md5(norm) AS h
        |FROM n ORDER BY doc_id""".stripMargin,
    // builder: Quality.llmPiiScrub — Java-regex spellings of the planted
    // PII patterns (the oracle's RE2 forms are what diverged)
    "llm_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com',
        |    CASE WHEN doc_id % 3 = 0
        |      THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
        |      ELSE '' END,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN concat(' host 10.0.', CAST(doc_id % 256 AS STRING), '.1')
        |      ELSE '' END) AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_count(planted, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}') AS n_emails,
        |  regexp_count(planted, '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}') AS n_phones,
        |  regexp_count(planted, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b') AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[EMAIL]'),
        |    '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]'),
        |    '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[IP]')) AS scrub_hash
        |FROM p ORDER BY doc_id""".stripMargin,
    // builder: Dedup.llmFingerprint — rolling-hash fold as a SQL lambda
    "llm_fingerprint" ->
      """SELECT doc_id,
        |aggregate(transform(split(text, ' '),
        |    w -> CAST(length(w) AS BIGINT) * 256 + ascii(substring(w, 1, 1))),
        |  CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // builder: Quality.gopherRulesOf (paper defaults minWords=50, minStops=2)
    "llm_gopher_rules" ->
      """WITH b AS (SELECT doc_id, text,
        |  split(text, ' ') AS ws, split(text, '\\n') AS ls FROM documents),
        |r AS (SELECT doc_id,
        |  size(ws) AS n_words,
        |  CAST(FLOOR(CAST(aggregate(transform(ws, w -> length(w)), 0, (a, b) -> a + b) AS DOUBLE) / size(ws) * 1000000 + 0.5) AS DOUBLE)/1000000 AS mean_word_len,
        |  CAST(FLOOR(CAST(regexp_count(text, '#|\\.\\.\\.') AS DOUBLE) / size(ws) * 1000000 + 0.5) AS DOUBLE)/1000000 AS symbol_ratio,
        |  CAST(FLOOR(CAST(size(filter(ls, l -> substring(l, 1, 1) IN ('-', '*', '•'))) AS DOUBLE) / size(ls) * 1000000 + 0.5) AS DOUBLE)/1000000 AS bullet_ratio,
        |  CAST(FLOOR(CAST(size(filter(ls, l -> endswith(l, '...'))) AS DOUBLE) / size(ls) * 1000000 + 0.5) AS DOUBLE)/1000000 AS ellipsis_ratio,
        |  CAST(FLOOR(CAST(size(filter(ws, w -> w rlike '[a-zA-Z]')) AS DOUBLE) / size(ws) * 1000000 + 0.5) AS DOUBLE)/1000000 AS alpha_word_ratio,
        |  size(array_intersect(transform(ws, w -> lower(w)),
        |    array('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS stop_words
        |  FROM b)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_word_ratio, stop_words,
        |  n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |    AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1
        |    AND bullet_ratio <= 0.1 AND ellipsis_ratio <= 0.3
        |    AND alpha_word_ratio >= 0.8 AND stop_words >= 2 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // builder: Multimodal.llmMediaManifest — frame-sampling manifest; the
    // oracle reconstructs byte 0 by string indexing, the builder (and
    // this spelling) read it with ascii(substring(...))
    "llm_media_manifest" ->
      s"""WITH d AS (SELECT doc_id,
         |  CAST(length(CAST(text AS BINARY)) AS INT) AS n,
         |  CASE WHEN length(text) > 0 THEN ascii(substring(text, 1, 1)) ELSE 0 END AS b0
         |  FROM documents),
         |m AS (SELECT doc_id, n,
         |  CAST(64 + n % 640 AS INT) AS src_w,
         |  CAST(64 + (b0 * 3) % 480 AS INT) AS src_h,
         |  CAST(1 + n % 30 AS INT) AS frames FROM d),
         |m2 AS (SELECT *, least(frames, 4) AS k,
         |  224.0 / CAST(greatest(src_w, src_h) AS DOUBLE) AS scale FROM m),
         |m3 AS (SELECT *,
         |  CAST(floor(src_w * scale + 0.5) AS INT) AS out_w,
         |  CAST(floor(src_h * scale + 0.5) AS INT) AS out_h FROM m2)
         |SELECT doc_id, j, frame_idx, frame_idx * 40 AS ts_ms,
         |  CAST(frame_idx AS BIGINT) * CAST(floor(n / frames) AS BIGINT) AS byte_off,
         |  src_w, src_h, out_w, out_h, ${oRound("scale", 6)} AS scale
         |FROM m3
         |LATERAL VIEW posexplode(transform(sequence(0, k - 1),
         |  j -> CAST(floor(j * frames / k) AS INT))) p AS j, frame_idx
         |ORDER BY doc_id, j""".stripMargin,
    // builder: Sampling.chunkRows → llmChunkSplit (50-word windows, stride 40)
    "llm_chunk_split" ->
      """WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, chunk_idx, chunk FROM w
        |  LATERAL VIEW posexplode(transform(
        |    sequence(0, greatest(1, CAST(ceil((size(ws) - 50) / 40.0) + 1 AS INT)) - 1),
        |    i -> array_join(slice(ws, i * 40 + 1, 50), ' '))) p AS chunk_idx, chunk)
        |SELECT doc_id, chunk_idx, size(split(chunk, ' ')) AS n_tokens, chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // builder: Sampling.llmPackSequences — running-sum window over the same
    // chunk rows, 2048-token bins
    "llm_pack_sequences" ->
      """WITH w AS (SELECT doc_id, lang, split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, lang, chunk_idx, size(split(chunk, ' ')) AS n_tokens
        |  FROM w
        |  LATERAL VIEW posexplode(transform(
        |    sequence(0, greatest(1, CAST(ceil((size(ws) - 50) / 40.0) + 1 AS INT)) - 1),
        |    i -> array_join(slice(ws, i * 40 + 1, 50), ' '))) p AS chunk_idx, chunk),
        |s AS (SELECT lang, doc_id, chunk_idx, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_idx) AS cum
        |  FROM c)
        |SELECT lang, doc_id, chunk_idx, n_tokens,
        |  CAST(floor((cum - n_tokens) / 2048) AS INT) AS bin,
        |  CAST((cum - n_tokens) % 2048 AS INT) AS bin_offset
        |FROM s ORDER BY lang, doc_id, chunk_idx""".stripMargin,
    // builder: Sampling.fimOf — PSM fill-in-the-middle cuts
    "llm_fim" ->
      """WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, size(ws) AS n FROM w),
        |c1 AS (SELECT *, CASE WHEN n >= 3 THEN 1 +
        |    CAST(conv(substring(md5(concat_ws(':', doc_id, 'a')), 1, 8), 16, 10) AS BIGINT) % (n - 2)
        |  END AS p1 FROM n),
        |c2 AS (SELECT *, CASE WHEN n >= 3 THEN p1 + 1 +
        |    CAST(conv(substring(md5(concat_ws(':', doc_id, 'b')), 1, 8), 16, 10) AS BIGINT) % (n - 1 - p1)
        |  END AS p2 FROM c1)
        |SELECT doc_id, n AS n_words,
        |  CAST(coalesce(p1, 0) AS BIGINT) AS p1,
        |  CAST(coalesce(p2, 0) AS BIGINT) AS p2,
        |  n >= 3 AS is_split,
        |  CASE WHEN n >= 3 THEN concat(
        |    '<PRE> ', array_join(slice(ws, 1, CAST(p1 AS INT)), ' '),
        |    ' <SUF> ', array_join(slice(ws, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT)), ' '),
        |    ' <MID> ', array_join(slice(ws, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)), ' '))
        |  ELSE array_join(ws, ' ') END AS psm
        |FROM c2 ORDER BY doc_id""".stripMargin,
    // builder: Sampling.llmDomainMix — epoch explosion + md5 shard keys
    "llm_domain_mix" ->
      """WITH keyed AS (SELECT doc_id, lang, epoch,
        |  md5(concat_ws('_', doc_id, epoch)) AS k
        |  FROM documents
        |  LATERAL VIEW explode(sequence(0,
        |    (CASE WHEN lang = 'en' THEN 1 WHEN lang = 'zh' THEN 2 ELSE 3 END) - 1)) e AS epoch),
        |s AS (SELECT doc_id, lang, CAST(epoch AS INT) AS epoch, k,
        |  CAST(CAST(conv(substring(k, 1, 4), 16, 10) AS BIGINT) % 8 AS INT) AS shard
        |  FROM keyed)
        |SELECT doc_id, lang, epoch, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY k, doc_id, epoch) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    // builder: Sequences.seqDauWau — forward-marker WAU derivation
    "seq_dau_wau" ->
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |  unix_micros(ts) DIV 86400000000 AS day FROM events),
         |dau AS (SELECT day, count(1) AS dau FROM ud GROUP BY day),
         |m AS (SELECT DISTINCT user_id, wday FROM ud
         |  LATERAL VIEW explode(sequence(day, day + 6)) t AS wday),
         |wau AS (SELECT wday, count(1) AS wau FROM m GROUP BY wday)
         |SELECT d.day, d.dau, w.wau,
         |  ${oRound("CAST(d.dau AS DOUBLE) / w.wau", 6)} AS stickiness
         |FROM dau d JOIN wau w ON w.wday = d.day
         |ORDER BY d.day""".stripMargin,
    // builder: Relational.joinAsof — union + IGNORE NULLS carry-forward
    // window (ASOF JOIN syntax itself is not in Spark SQL; this is the
    // reference semantics as its SQL-expressible window composition)
    "join_asof" ->
      """WITH ord AS (SELECT o_custkey, o_orderdate,
        |  max(o_orderkey) AS o_orderkey,
        |  max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate),
        |tagged AS (
        |  SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP_NTZ) AS t,
        |    1 AS is_o, o_orderkey, o_totalprice, CAST(NULL AS BIGINT) AS event_id
        |  FROM ord
        |  UNION ALL
        |  SELECT user_id AS k, CAST(ts AS TIMESTAMP_NTZ) AS t,
        |    0 AS is_o, CAST(NULL AS BIGINT) AS o_orderkey,
        |    CAST(NULL AS DOUBLE) AS o_totalprice, event_id
        |  FROM events),
        |marked AS (SELECT *,
        |  last(CASE WHEN is_o = 1 THEN o_orderkey END) IGNORE NULLS
        |    OVER (PARTITION BY k ORDER BY t, is_o DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey,
        |  last(CASE WHEN is_o = 1 THEN o_totalprice END) IGNORE NULLS
        |    OVER (PARTITION BY k ORDER BY t, is_o DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_total
        |  FROM tagged)
        |SELECT k AS user_id, event_id, t AS ts,
        |  last_okey AS o_orderkey, last_total AS o_totalprice
        |FROM marked WHERE is_o = 0 ORDER BY user_id, event_id""".stripMargin,
    // builder: Graph.triangles — the oracle's lateral-unnest vertex
    // explosion re-spelled as LATERAL VIEW; edges/dst derivation matches
    // the rewritten graph_pagerank oracle idiom
    // builder: Multimodal.llmMultimodal — binary payload + typed metadata
    // struct (the decode STAGE stays builder-only: typed mapPartitions)
    "llm_multimodal" ->
      """WITH d AS (SELECT doc_id, CAST(text AS BINARY) AS payload,
        |  struct(lang AS lang, source AS source, n_chars AS n_chars) AS meta
        |  FROM documents)
        |SELECT doc_id, octet_length(payload) AS payload_bytes,
        |  hex(substring(payload, 1, 4)) AS magic,
        |  meta.lang AS lang, meta.n_chars AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    // builder: Sampling.spanCorruptOf (rate=15) — T5 span corruption with
    // sentinel run-ids from the two-window flag/run derivation
    "llm_span_corrupt" ->
      """WITH t AS (SELECT doc_id, pos, w FROM documents
        |    LATERAL VIEW posexplode(split(text, ' ')) p AS pos, w),
        |f AS (SELECT doc_id, pos, w,
        |  CAST(conv(substring(md5(concat_ws(':', doc_id, pos)), 1, 4), 16, 10) AS INT) % 100 < 15 AS flag
        |  FROM t),
        |s AS (SELECT *, flag AND NOT lag(flag, 1, false)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS is_start FROM f),
        |r AS (SELECT *, sum(CAST(is_start AS INT))
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS run_id FROM s),
        |g AS (SELECT doc_id, pos, flag,
        |  CASE WHEN NOT flag THEN w
        |       WHEN is_start THEN concat('<extra_id_', run_id - 1, '>') END AS in_tok,
        |  CASE WHEN flag AND is_start
        |         THEN concat(concat('<extra_id_', run_id - 1, '>'), ' ', w)
        |       WHEN flag THEN w END AS tgt_tok
        |  FROM r)
        |SELECT doc_id, count(1) AS n_tokens,
        |  sum(CAST(flag AS BIGINT)) AS n_masked,
        |  array_join(transform(array_sort(collect_list(struct(pos, in_tok))),
        |    x -> x.in_tok), ' ') AS input,
        |  array_join(transform(array_sort(collect_list(struct(pos, tgt_tok))),
        |    x -> x.tgt_tok), ' ') AS target
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // builder: Sequences.seqMatchpathCounts — per-user match totals via
    // the same greedy 'cv+p' regex over the ordered symbol string
    "seq_matchpath_counts" ->
      """WITH seq AS (SELECT user_id,
        |    listagg(substr(event_type, 1, 1), '')
        |      WITHIN GROUP (ORDER BY ts, event_id) AS sym
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id, regexp_extract_all(sym, 'cv+p', 0) AS ms FROM seq)
        |SELECT user_id, CAST(size(ms) AS BIGINT) AS n_matches,
        |  CAST(aggregate(transform(ms, x -> length(x)), 0, (a, b) -> a + b) AS BIGINT) AS n_steps_total
        |FROM m WHERE size(ms) > 0 ORDER BY user_id""".stripMargin,
    // builder: Dedup.winnowOf (w=4; B1/B2/B3 mod-P gram arithmetic)
    "llm_winnow" ->
      """WITH b AS (SELECT doc_id, split(text, ' ') AS wsx FROM documents),
        |f AS (SELECT doc_id, wsx FROM b WHERE size(wsx) >= 6),
        |h AS (SELECT doc_id, transform(wsx,
        |    w -> CAST(conv(substring(md5(w), 1, 7), 16, 10) AS BIGINT)) AS hs FROM f),
        |g AS (SELECT doc_id, transform(sequence(0, size(hs) - 3),
        |    i -> (element_at(hs, i + 1) * 1000003 + element_at(hs, i + 2) * 1000033
        |          + element_at(hs, i + 3) * 1000211) % 2147483647) AS g FROM h),
        |fp AS (SELECT doc_id, array_distinct(transform(sequence(0, size(g) - 4),
        |    i -> array_min(slice(g, i + 1, 4)))) AS fps FROM g)
        |SELECT doc_id, CAST(size(fps) AS INT) AS n_fp,
        |  aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x) AS fp_sum,
        |  array_min(fps) AS fp_min, array_max(fps) AS fp_max
        |FROM fp ORDER BY doc_id""".stripMargin,
    // builder: Dedup.dupChunksOf (20-word windows; flag form)
    "llm_dup_chunks" ->
      s"""WITH b AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
         |c AS (SELECT doc_id, array_distinct(transform(
         |    transform(sequence(0, CAST(floor((size(ws) - 1) / 20) AS INT)),
         |      i -> array_join(slice(ws, i * 20 + 1, 20), ' ')),
         |    x -> md5(x))) AS ch FROM b),
         |bc AS (SELECT h, count(1) AS n_docs
         |  FROM (SELECT explode(ch) AS h FROM c) x GROUP BY h),
         |e AS (SELECT doc_id, size(ch) AS n_chunks, h FROM c
         |  LATERAL VIEW explode(ch) t AS h),
         |a AS (SELECT doc_id, n_chunks,
         |    sum(CASE WHEN n_docs > 1 THEN CAST(1 AS BIGINT)
         |             ELSE CAST(0 AS BIGINT) END) AS n_dup_chunks
         |  FROM e JOIN bc USING (h) GROUP BY doc_id, n_chunks)
         |SELECT doc_id, n_chunks, n_dup_chunks,
         |  ${oRound("n_dup_chunks * 1.0 / n_chunks", 6)} AS dup_chunk_frac,
         |  n_dup_chunks * 1.0 / n_chunks > 0.3 AS dup_heavy
         |FROM a ORDER BY doc_id""".stripMargin,
    // builder: Dedup.chunkScrubOf (removal form: strip cross-doc chunks,
    // reassemble survivors in position order)
    "llm_chunk_scrub" ->
      """WITH b AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, transform(sequence(0, CAST(floor((size(ws) - 1) / 20) AS INT)),
        |    i -> array_join(slice(ws, i * 20 + 1, 20), ' ')) AS ch FROM b),
        |o AS (SELECT doc_id, idx, chunk, md5(chunk) AS h FROM c
        |  LATERAL VIEW posexplode(ch) p AS idx, chunk),
        |d AS (SELECT h, count(1) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, h FROM o) x GROUP BY h)
        |SELECT doc_id, count(1) AS n_chunks,
        |  sum(CASE WHEN n_docs = 1 THEN CAST(1 AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END) AS n_kept,
        |  md5(array_join(transform(array_sort(collect_list(
        |    CASE WHEN n_docs = 1 THEN struct(idx, chunk) END)),
        |    x -> x.chunk), ' ')) AS clean_hash
        |FROM o JOIN d USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // builder: Graph.triangles — the oracle's lateral-unnest vertex
    // explosion re-spelled as LATERAL VIEW; edges/dst derivation matches
    // the rewritten graph_pagerank oracle idiom
    "graph_triangles" ->
      s"""WITH ${Graph.linksSql(spark = true)},
         |${Graph.simpleEdgesSql(materialized = false)},
         |tris AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.a = e1.b
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM tris LATERAL VIEW explode(array(a, b, c)) u AS v
         |GROUP BY v ORDER BY doc_id""".stripMargin,
    // r17: rewritten oracle texts whose ONLY builder divergence was Spark
    // parsing bare numeric literals as DECIMAL where the builder used
    // lit(double) — `12.0` is DECIMAL(3,1) to Spark's SQL parser, and a
    // decimal-path division rounds differently in the 6th decimal than
    // the builder's double path. The D suffix pins the literal to
    // DOUBLE, making the text's arithmetic bit-identical.
    "llm_minhash_calibration" -> {
      val t = duckToSpark(graft.SparkEntry.oracleSql("llm_minhash_calibration"))
      patch(patch(t, " / 12.0 ", " / 12.0D "), " * 1.0 / ", " * 1.0D / ")
    },
    // Here the decimal path actually bites on BIGINT columns:
    // `c - 0.75` is BIGINT − DECIMAL(3,2) → DECIMAL in Spark, where the
    // builder computed long − double → double.
    "llm_lm_kn" -> {
      val t = duckToSpark(graft.SparkEntry.oracleSql("llm_lm_kn"))
      patch(patch(patch(t,
        "greatest(b.c - 0.75, 0.0)", "greatest(b.c - 0.75D, 0.0D)"),
        "+ 0.75 * ctx.n1f", "+ 0.75D * ctx.n1f"),
        "cont.n1b * 1.0 / tot.bt", "cont.n1b * 1.0D / tot.bt")
    },
    // Spark's SQL string parser consumes backslash escapes, so the
    // oracle's '#|\.\.\.' symbol regex reaches RE2 as '#|...' (any three
    // chars) and the gopher gate drops EVERY row; the character-class
    // spelling is parser-neutral.
    "llm_corpus_pipeline_v2" ->
      patch(duckToSpark(graft.SparkEntry.oracleSql("llm_corpus_pipeline_v2")),
        "'#|\\.\\.\\.'", "'#|[.][.][.]'"),
    // v3 carries the same gopher symbol-regex fragment, so the same
    // backslash-escape patch applies.
    "llm_corpus_pipeline_v3" ->
      patch(duckToSpark(graft.SparkEntry.oracleSql("llm_corpus_pipeline_v3")),
        "'#|\\.\\.\\.'", "'#|[.][.][.]'"))

  /** `replace` that REFUSES to no-op: an oracle-text edit that removes
    * the patch target would otherwise ship the unpatched (gate-divergent
    * or row-dropping) text and only fail a round later in the
    * SqlSurfaceSpec diff — fail at map construction instead. */
  private def patch(text: String, from: String, to: String): String = {
    require(text.contains(from),
      s"override patch target no longer present: `$from`")
    text.replace(from, to)
  }

  /** Surface entries added in the CURRENT round. `SqlSurfaceSpec`'s
    * per-commit sampled round-trip ALWAYS includes these on top of the
    * stable md5 quarter — a brand-new entry must never depend on the
    * close-of-round full sweep for its first gate (r18 review finding).
    * Reset at each round close, when the full sweep has covered them. */
  private[graft] val recentAdditions: Seq[String] = Seq(
    "llm_source_hhi", "llm_sketch_setops", "llm_rake_keywords",
    "llm_code_detect", "llm_topic_mix", "llm_lm_perplexity",
    "seq_holt_winters", "seq_stl_decompose", "seq_entropy_rate",
    "graph_clustering_coeff", "graph_degree_dist", "seq_interarrival",
    "seq_markov_prediction", "llm_js_divergence", "llm_length_profile",
    "llm_ngram_containment", "llm_dedup_threshold_curve",
    // r19 ADVICE: excluded queries are rightly absent from the
    // surface, but recentAdditions ALSO feeds the determinism and
    // scale-curve per-commit samples — a new name must be listed here
    // even when it has no surface text, or it dodges every per-commit
    // gate until the close-of-round full sweep by md5 luck.
    "graph_cc_sizes",
    // r20: the two exclusion→surface conversions must ride every
    // per-commit surface sample until a full sweep has gated them.
    "fn_hash_extra", "fn_block_offset",
    // r20: the v3 capstone and the late additions.
    "llm_corpus_pipeline_v3",
    "llm_rouge_overlap", "seq_mann_kendall", "seq_theil_sen",
    "agg_table_profile", "seq_winsorized_mean",
    "graph_harmonic_centrality", "graph_betweenness_sampled",
    // r20: excluded-from-surface (srcSink) but the determinism/scale
    // samples must still gate it per-commit.
    "src_parquet_evolution")

  /** name → runnable Spark SQL text, for every registered query not in
    * [[excluded]]: its [[overrides]] text, else [[duckToSpark]] of its
    * oracle string. */
  lazy val sql: Map[String, String] =
    (graft.SparkEntry.queries.keySet -- excluded.keySet).map { name =>
      name -> overrides.getOrElse(name,
        duckToSpark(graft.SparkEntry.oracleSql(name)))
    }.toMap

  /** Mechanical oracle-dialect → Spark SQL rewrite for the handful of
    * token-level differences a scalar macro can't bridge: `//` integer
    * division → `DIV`, sizeless `VARCHAR` casts → `STRING`, the
    * `AS MATERIALIZED` CTE hint (Spark CTEs materialize per plan, no
    * hint exists), lambda-taking `list_transform`/`list_filter` →
    * `transform`/`filter` (same lambda syntax, different name — macros
    * can't take lambda params), `list_has_any` → `arrays_overlap`,
    * `len(` → array/string-polymorphic has no Spark twin so it is NOT
    * rewritten, and SELECT-list `unnest(` → `explode(`. Applied to every
    * surface name without an override, each of which the
    * `SqlSurfaceSpec` round-trip pins to exact builder rows — a rewrite
    * that mangles a string literal (e.g. `//` inside a URL) changes rows
    * and fails the gate, so a passing gate is evidence the rewrite was
    * semantics-preserving for that text. */
  def duckToSpark(sql: String): String = {
    // Phase 1 — quote-USING idiom rewrites on the raw text (each regex
    // anchors on specific literals, so it can't misfire inside others):
    val idioms = sql
      .replaceAll("(?i)\\bAS MATERIALIZED\\b", "AS")
      // hex-string cast idiom: ('0x' || substr(md5(X), a, b))::BIGINT —
      // Spark won't cast '0x…' strings; conv(hex, 16, 10) is the same
      .replaceAll(
        "\\(\\s*'0x'\\s*\\|\\|\\s*(substr\\(md5\\((?:[^()]|\\([^()]*\\))*\\),\\s*\\d+,\\s*\\d+\\))\\s*\\)::(BIGINT|INT)",
        "CAST(conv($1, 16, 10) AS $2)")
      .replaceAll(
        "CAST\\(\\s*'0x'\\s*\\|\\|\\s*(substr\\(md5\\((?:[^()]|\\([^()]*\\))*\\),\\s*\\d+,\\s*\\d+\\))\\s+AS\\s+(BIGINT|INT)\\)",
        "CAST(conv($1, 16, 10) AS $2)")
      // DuckDB regexp_replace global flag: Spark's is always-global 3-arg
      .replaceAll(",\\s*'g'\\s*\\)", ")")
      // in-aggregate ORDER BY: string_agg(x, sep ORDER BY k) → the ANSI
      // listagg ... WITHIN GROUP spelling Spark 4 supports
      .replaceAll(
        "\\bstring_agg\\(([^(),]+),\\s*('[^']*')\\s+ORDER BY\\s+([^()]+)\\)",
        "listagg($1, $2) WITHIN GROUP (ORDER BY $3)")
    // Phase 2 — MASK string literals so the generic token rewrites below
    // can't touch their contents (a regex class '[a-z]' must survive the
    // bracket rewrite; a URL must survive `//` → DIV), then rewrite, then
    // unmask. Masking also hides in-literal parens/commas from the
    // depth-counting call rewriter.
    val literals = scala.collection.mutable.ArrayBuffer[String]()
    val masked = "'(?:[^']|'')*'".r.replaceAllIn(idioms, m => {
      literals += m.matched
      "" + (literals.size - 1) + ""
    })
    val rewritten = masked
      .replaceAll("//", " DIV ")
      // typed-list cast: x::DOUBLE[] → ARRAY<DOUBLE> (before the bracket
      // rules, whose patterns require non-empty bracket contents anyway)
      .replaceAll("((?:\\w+\\.)?\\w+)::DOUBLE\\[\\]", "CAST($1 AS ARRAY<DOUBLE>)")
      .replaceAll("(?i)\\bVARCHAR\\b", "STRING")
      // dialect int128: Spark's widest exact integer type is DECIMAL(38,0)
      // (the seq_gini overflow idiom) — same values at any sum the gated
      // texts reach, so the cast-to-DOUBLE results match bit-for-bit
      .replaceAll("(?i)\\bHUGEINT\\b", "DECIMAL(38,0)")
      .replaceAll("\\blist_transform\\s*\\(", "transform(")
      .replaceAll("\\blist_filter\\s*\\(", "filter(")
      .replaceAll("\\blist_has_any\\s*\\(", "arrays_overlap(")
      .replaceAll("\\bunnest\\s*\\(", "explode(")
      // len() is array/string-polymorphic in the dialect; the oracle
      // texts use it on lists (string length is spelled `length`)
      .replaceAll("\\blen\\s*\\(", "size(")
      // [a, b, c] list literal → array(a, b, c). The lookbehind excludes
      // indexing (`arr[i]` — preceded by a word char, ')' or ']');
      // innermost-first repetition handles one nesting level.
      .pipe { t =>
        var s = t
        val lit = "(?<![\\w)\\]])\\[([^\\[\\]]*)\\]".r
        var prev = ""
        while (prev != s) {
          prev = s
          s = lit.replaceAllIn(s, m =>
            "array(" + java.util.regex.Matcher.quoteReplacement(m.group(1)) + ")")
        }
        s
      }
      // DuckDB struct literal {'k': v, …} → named_struct('k', v, …).
      // Keys are MASKED string literals at this point, so the first ':'
      // in each top-level part is the key separator ('::' casts only
      // occur inside values); innermost-first repetition handles nesting.
      // NO String.trim here — the mask sentinel  is a control char
      // below U+0020, so trim would strip it and break unmasking; strip()
      // (Character.isWhitespace-based) leaves sentinels intact.
      .pipe { t =>
        val structLit = "\\{([^{}]*)\\}".r
        var s = t
        var prev = ""
        while (prev != s) {
          prev = s
          s = structLit.replaceAllIn(s, m => {
            // top-level comma split WITHOUT splitTopLevel — its trim()
            // would also strip boundary sentinels
            val parts = scala.collection.mutable.ArrayBuffer[String]()
            val cur = new StringBuilder
            var depth = 0
            m.group(1).foreach { c =>
              // '[' counts too: a bracketed list value ({'k': [1, 2]})
              // must not mis-split on its interior comma (r18 ADVICE)
              if (c == '(' || c == '[') depth += 1
              else if (c == ')' || c == ']') depth -= 1
              if (c == ',' && depth == 0) { parts += cur.toString; cur.clear() }
              else cur.append(c)
            }
            parts += cur.toString
            val kv = parts.map { p =>
              val i = p.indexOf(':')
              require(i >= 0,
                s"struct literal part without a key separator: '$p' in '{${m.group(1)}}'")
              p.substring(0, i).strip + ", " + p.substring(i + 1).strip
            }.mkString(", ")
            java.util.regex.Matcher.quoteReplacement(s"named_struct($kv)")
          })
        }
        s
      }
      // [a:b] slice syntax (1-based, inclusive end) → slice(x, a, len)
      .replaceAll("((?:\\w+\\.)?\\w+)\\[(\\d+):(\\d+)\\]",
        "slice($1, $2, ($3) - ($2) + 1)")
      // remaining brackets are 1-based indexing — Spark's element_at is
      // 1-based too (bare `arr[i]` would be 0-based and silently
      // shifted); the qualifier keeps `t.col[i]` intact and the INT cast
      // satisfies element_at's index type when i is a BIGINT (range()
      // elements and sequence lambda vars are longs)
      .replaceAll("((?:\\w+\\.)?\\w+)\\[([^\\[\\]]+)\\]",
        "element_at($1, CAST(($2) AS INT))")
      // FROM-clause table-function range with a column-list alias:
      // `, range(N) t(m)` → a LATERAL VIEW over the same half-open span
      .replaceAll(",\\s*range\\((\\w+)\\)\\s+(\\w+)\\((\\w+)\\)",
        " LATERAL VIEW explode(sequence(0, ($1) - 1)) $2 AS $3")
      // dialect trunc(x) = numeric truncation toward zero (Spark's trunc
      // is date-only); double in, double out
      .pipe(t => rewriteCall(t, "trunc")(a =>
        if (splitTopLevel(a).size == 1) s"CAST(CAST($a AS BIGINT) AS DOUBLE)"
        else s"trunc($a)"))
      // bankers' rounding: rint is IEEE half-even on doubles
      .pipe(t => rewriteCall(t, "round_even") { a =>
        splitTopLevel(a) match {
          case Seq(x, n) => s"(rint(($x) * power(10, $n)) / power(10, $n))"
          case _ => s"round_even($a)"
        }
      })
      // list_sum(a): no Spark twin — left-fold with a double accumulator
      // (the dialect's list_sum returns DOUBLE on double lists; integer
      // uses render differently and fail the gate rather than mis-sum)
      .pipe(t => rewriteCall(t, "list_sum")(a =>
        s"aggregate($a, CAST(0 AS DOUBLE), (s, x) -> s + x)"))
      // list_slice(l, b, e) is 1-based INCLUSIVE-end; slice takes length
      .pipe(t => rewriteCall(t, "list_slice") { a =>
        splitTopLevel(a) match {
          case Seq(l, b, e) => s"slice($l, $b, ($e) - ($b) + 1)"
          case _ => s"list_slice($a)"
        }
      })
      // list_reduce(l, λ): fold with l[1] as the seed (no-init fold)
      .pipe(t => rewriteCall(t, "list_reduce") { a =>
        splitTopLevel(a) match {
          case Seq(l, lam) =>
            s"reduce(slice($l, 2, size($l) - 1), element_at($l, 1), $lam)"
          case _ => s"list_reduce($a)"
        }
      })
      // dialect regexp_extract_all defaults to group 0 (whole match);
      // Spark's defaults to group 1
      .pipe(t => rewriteCall(t, "regexp_extract_all") { a =>
        if (splitTopLevel(a).size == 2) s"regexp_extract_all($a, 0)"
        else s"regexp_extract_all($a)"
      })
      // 1-arg encode(s) = utf8 bytes; Spark's encode wants the charset
      .pipe(t => rewriteCall(t, "encode")(a =>
        if (splitTopLevel(a).size > 1) s"encode($a)" else s"encode($a, 'UTF-8')"))
    "(\\d+)".r.replaceAllIn(rewritten, m =>
      java.util.regex.Matcher.quoteReplacement(literals(m.group(1).toInt)))
  }

  /** Replace every boundary-anchored `name(args)` call in `sql` with
    * `f(args)`, matching the closing paren by depth (regexes can't).
    * Quoted parens inside args would miscount — none of the gated texts
    * have them, and a miscount fails the round-trip gate visibly. */
  private def rewriteCall(sql: String, name: String)(f: String => String): String = {
    val pat = name + "("
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val j = sql.indexOf(pat, i)
      if (j < 0) { sb.append(sql.substring(i)); i = sql.length }
      else {
        val boundary = j == 0 ||
          (!sql.charAt(j - 1).isLetterOrDigit && sql.charAt(j - 1) != '_')
        if (!boundary) { sb.append(sql.substring(i, j + pat.length)); i = j + pat.length }
        else {
          sb.append(sql.substring(i, j))
          var k = j + pat.length
          var depth = 1
          while (depth > 0 && k < sql.length) {
            val c = sql.charAt(k)
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            k += 1
          }
          sb.append(f(sql.substring(j + pat.length, k - 1)))
          i = k
        }
      }
    }
    sb.toString
  }

  /** Split a call's argument text at top-level commas (paren-depth 0). */
  private def splitTopLevel(args: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    args.foreach { c =>
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      if (c == ',' && depth == 0) { out += cur.toString.trim; cur.clear() }
      else cur.append(c)
    }
    out += cur.toString.trim
    out.toSeq
  }

  /** The session setting the SQL texts need beyond a graft session's own
    * (the functions they call come with [[graft.GraftExtensions]]): the
    * `InferFiltersFromGenerate` exclusion below. */
  def registerCompat(spark: SparkSession): Unit = {
    // The SQL-text path has no persist-barrier defense against
    // InferFiltersFromGenerate (r10/r11: the inferred size(arr) > 0
    // filter substitutes the md5 shingle/minhash signature chain into
    // scan DataFilters, re-evaluating it against every raw row — 174 s
    // vs 0.5 s at sf0.1 in the builder incarnation). The builders fix it
    // per-query with a cache barrier; a SQL string cannot, so a session
    // serving the dialect surface excludes the rule. Semantically
    // neutral (the inferred filter only pre-skips rows whose generate
    // output is empty), and in this workload every generator input the
    // rule would guard is an expensive signature chain while corpus
    // text arrays are never empty — the trade is strictly good. The
    // PlanSpec SQL-surface sweep pins the symptom (no md5 in any
    // FileScan line) suite-wide.
    // APPEND to any exclusions the embedding session already set —
    // overwriting would clobber a caller's own excludedRules (r18 ADVICE).
    val inferRule =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val existing = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      (existing :+ inferRule).distinct.mkString(","))
  }

  /** Registered queries deliberately NOT in the SQL surface, each with
    * its one-line justification (SURVEY §3.4; every registered name not
    * listed here is in the surface by construction, see [[sql]]). Reason
    * shorthands: "reconstruction oracle" = the oracle SQL predicts the
    * operator's OUTPUT rather than expressing the operation, so running
    * it as a SQL entry would exercise nothing;
    * "gate-divergent" = a rewritten oracle text runs but fails exact-row
    * equality with the builder (usually a 1e-6 quantizer boundary where
    * the oracle text's double path differs from the builder's), and a
    * surface entry that doesn't match its builder is worse than none.
    *
    * r20 re-audit (verdict item 6): every remaining exclusion was
    * re-checked against the CURRENT engine (Spark 4.1) rather than the
    * capability snapshot its justification was written under. Two
    * converted to surface texts (`fn_hash_extra`, `fn_block_offset` —
    * see `overrides`: their old reasons conflated oracle absence / view
    * resolution with surface absence). The rest hold, each against a
    * named 4.1 capability:
    *  - recursive-CTE family: Spark 4.1's WITH RECURSIVE supports
    *    UNION ALL only; min-label/frontier convergence NEEDS distinct
    *    accumulation to terminate on cyclic graphs (UNION ALL path
    *    enumeration diverges) — still excluded, reason current.
    *  - src/sink + lifecycle (MERGE, MV): Spark 4.x SQL scripting
    *    (BEGIN…END compound statements) could in principle spell a
    *    write→read-back as one script, but a script is a session-state
    *    program, not the single-statement query surface this module
    *    models (and `spark.sql` on a script returns only the last
    *    statement's frame, leaving the write half ungated on failure) —
    *    still excluded, reason re-grounded.
    *  - streaming: entry is readStream/writeStream by definition;
    *    Spark 4.1 has no batch-SQL spelling of a streaming lifecycle.
    *  - iterative (BPE train/encode, PCA): analyzer iteration cap /
    *    measured ~60 s CTE-inlining planning blowup — engine-version
    *    facts re-confirmed on 4.1 (caps unchanged).
    *  - llm_mmr_rerank / llm_multimodal_decode: imperative per-group
    *    state and JVM binary parsing; no VARIANT or scripting feature
    *    in 4.1 changes either. */
  val excluded: Map[String, String] = {
    val srcSink = Seq("src_avro_roundtrip", "src_csv_malformed",
      "src_csv_roundtrip", "src_json_roundtrip", "src_parquet_evolution",
      "src_rcfile_roundtrip",
      "src_regex_text", "src_sequencefile", "src_xml_roundtrip",
      "sink_orc_roundtrip", "sink_partitioned_parquet",
      "sink_sharded_export")
      .map(_ -> ("the write/read round-trip IS the operator; " +
        "reconstruction oracle (r20: SQL scripting could chain " +
        "INSERT OVERWRITE DIRECTORY + read-back but is a program, " +
        "not a single-statement surface)"))
    val streams = Seq("stream_dedup_first", "stream_enrich",
      "stream_interval_join", "stream_session", "stream_sliding",
      "stream_stateful_sessions", "stream_topk_types", "stream_tumbling",
      "stream_watermark_drop")
      .map(_ -> ("Structured Streaming lifecycle op — entry is " +
        "readStream/writeStream (twins in StreamingSpec), not a batch " +
        "SQL string"))
    val lifecycle = Seq(
      "merge_upsert" -> "MERGE table-lifecycle op; reconstruction oracle predicts the post-merge table (r20: Spark 4.1 MERGE INTO still requires a row-level-ops v2 table; none exists offline)",
      "mv_rebuild" -> "materialized-view build/use/rebuild lifecycle; reconstruction oracle")
    val iterative = Seq(
      "llm_bpe_train" -> "iterative merge-training loop; the unrolled oracle text blows Spark's analyzer iteration cap (re-confirmed on 4.1)",
      "llm_pca_project" -> "unrolled power-iteration CTE chain re-expands per reference under Spark CTE inlining (~60 s of planning per run, measured; the builder iterates driver-side over the bounded dxd covariance artifact — the documented scale path)",
      "llm_bpe_encode" -> "applies the trained merge table iteratively; same unrolled-text analyzer cap",
      "llm_dedup_cc" -> "connected components — oracle uses WITH RECURSIVE … UNION (distinct); Spark 4.1 recursive CTEs are UNION ALL only, and label propagation needs distinct accumulation to terminate on cycles",
      "llm_semdedup_cc" -> "same recursive-CTE UNION limitation as llm_dedup_cc",
      "llm_cluster_sample" -> "same recursive-CTE UNION limitation as llm_dedup_cc",
      "graph_cc" -> "same recursive-CTE UNION limitation as llm_dedup_cc",
      "graph_cc_sizes" -> "same recursive-CTE UNION limitation as llm_dedup_cc")
    val vectorDialect = Seq(
      "llm_mmr_rerank" -> "the greedy MMR selection loop is a typed flatMapGroups (imperative per-group state) — not single-statement SQL; the oracle replays it with QUALIFY recursion")
    // r17: the former gate-divergent category is EMPTY — all three
    // members (llm_collocations, llm_lm_kn, llm_corpus_pipeline_v2,
    // plus llm_minhash_calibration from vector-dialect) moved into the
    // surface once their divergence was traced to Spark's SQL parser
    // reading bare numeric literals as DECIMAL (D-suffix fix) and
    // consuming backslash escapes in string literals (character-class
    // regex fix) — see `overrides`.
    // r20: the former `syntax` category shrank to one — fn_block_offset
    // and fn_hash_extra converted to surface texts (see `overrides`).
    val syntax = Seq(
      "llm_multimodal_decode" -> "the decode stage is a typed mapPartitions over binary payloads (PNG/JPEG header parse in JVM code) — no SQL surface exists by design")
    (srcSink ++ streams ++ lifecycle ++ iterative ++ vectorDialect ++
      syntax).toMap
  }

  /** Execute one surface query over the fixture views. */
  def run(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    registerCompat(spark)
    sqlOverViews(spark, sfDir, sql(name))
  }
}
