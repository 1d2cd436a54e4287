package graft.queries

import graft.Tables
import graft.functions.EwahBitmap
import org.apache.spark.sql.functions._

/** Round-17 closers for the last three document-only rows of SURVEY.md §2
  * (`/root/reference/README.md:1-4` = the Hive 2.3.10 release artifacts the
  * inventory was jar-verified against):
  *
  *  - `agg_ewah_bitmap` — the `ewah_bitmap` / `ewah_bitmap_and/or/empty`
  *    index-support UDAF family (§2.4, `GenericUDAFEWAHBitmap*`).
  *  - `join_uniquejoin` — `UNIQUEJOIN … PRESERVE` semantics (§2.3,
  *    `JoinType.UNIQUE`): one output row per key; the key set is the union
  *    of the PRESERVE'd tables' keys (with no PRESERVE at all it would be
  *    the intersection of every table's keys); a table without the key
  *    contributes nulls. Expressed Spark-first as full-outer + left joins
  *    — exactly the rewrite SURVEY §2.3 prescribed, now executable and
  *    oracle-checked instead of document-only.
  *  - `fn_block_offset` — `BLOCK__OFFSET__INSIDE__FILE` (§2.9 virtual
  *    columns) via Spark's `_metadata.file_block_start` hidden column: the
  *    read-split's byte offset in the file, the same granularity Hive
  *    reports for block-compressed formats (per-row byte offsets exist
  *    only for uncompressed text). Self-gating: the engine computes the
  *    offsets and their invariants; the oracle recomputes the exact row
  *    count and pins the structural booleans.
  */
object HiveCompat {

  /** Distributed bitmap-index build + AND/OR/empty combinators: per-key
    * bitmaps of distinct customers for two order priorities, then
    * intersection/union cardinalities off the compressed form. All four
    * cardinalities are oracle-exact (COUNT DISTINCT / INTERSECT / UNION);
    * `and_empty` is engine-computed via ewah_bitmap_empty and
    * oracle-recomputed as `and_card = 0`. */
  val aggEwahBitmap: Q = (s, dir) => {
    EwahBitmap.register(s)
    Tables.t(s, dir, "orders")
      .agg(
        expr("ewah_bitmap(CASE WHEN o_orderpriority = '1-URGENT' " +
          "THEN CAST(o_custkey AS BIGINT) ELSE CAST(-1 AS BIGINT) END)").as("bm_u"),
        expr("ewah_bitmap(CASE WHEN o_orderpriority = '2-HIGH' " +
          "THEN CAST(o_custkey AS BIGINT) ELSE CAST(-1 AS BIGINT) END)").as("bm_h"))
      .select(
        expr("ewah_cardinality(bm_u)").as("urgent_card"),
        expr("ewah_cardinality(bm_h)").as("high_card"),
        expr("ewah_cardinality(ewah_bitmap_and(bm_u, bm_h))").as("and_card"),
        expr("ewah_cardinality(ewah_bitmap_or(bm_u, bm_h))").as("or_card"),
        expr("ewah_bitmap_empty(ewah_bitmap_and(bm_u, bm_h))").as("and_empty"))
  }

  /** `UNIQUEJOIN PRESERVE a (k), PRESERVE b (k), c (k)` over per-nation
    * aggregates: a = high-balance customers, b = high-balance suppliers
    * (both PRESERVE'd and deliberately sparse → keys survive one-sided),
    * c = nations of regions 0–1 (non-PRESERVE'd → null-fills, never adds
    * keys). Full-outer on the preserved pair, coalesced key, left join
    * the rest — the shuffle full-outer is the scale idiom (keys co-locate;
    * the non-preserved dimension broadcasts). */
  val joinUniquejoin: Q = (s, dir) => {
    val a = Tables.t(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").cast("int").as("k"))
      .agg(count(lit(1)).as("cust_cnt"))
    val b = Tables.t(s, dir, "supplier")
      .filter(col("s_acctbal") > 3000)
      .groupBy(col("s_nationkey").cast("int").as("k"))
      .agg(count(lit(1)).as("supp_cnt"))
    val c = Tables.t(s, dir, "nation")
      .filter(col("n_regionkey") <= 1)
      .select(col("n_nationkey").cast("int").as("k"), col("n_name"))
    a.as("a").join(b.as("b"), col("a.k") === col("b.k"), "full_outer")
      .withColumn("nationkey", coalesce(col("a.k"), col("b.k")))
      .join(broadcast(c.as("c")), col("nationkey") === col("c.k"), "left")
      .select(col("nationkey"), col("cust_cnt"), col("supp_cnt"), col("n_name"))
      .orderBy("nationkey")
  }

  /** `BLOCK__OFFSET__INSIDE__FILE` via the `_metadata` hidden column on
    * the parquet scan (read directly — metadata columns attach to the
    * file-source relation). Offsets are storage-layout-determined, so the
    * comparable outputs are the exact row count plus engine-computed
    * structural invariants the oracle pins: one distinct split offset for
    * a sub-128MB fixture file, first split at byte 0, every offset inside
    * the file. */
  val fnBlockOffset: Q = (s, dir) => {
    s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("_metadata.file_block_start").as("blk"),
        col("_metadata.file_size").as("fsz"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("blk")).as("n_blocks"),
        min(col("blk")).as("min_block_offset"),
        (min(col("blk")) >= 0 && max(col("blk")) < min(col("fsz")))
          .as("offsets_in_file"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("agg_ewah_bitmap", aggEwahBitmap,
      """SELECT
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders
        |   WHERE o_orderpriority = '1-URGENT') AS urgent_card,
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders
        |   WHERE o_orderpriority = '2-HIGH') AS high_card,
        |  (SELECT COUNT(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |     INTERSECT
        |     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t) AS and_card,
        |  (SELECT COUNT(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |     UNION
        |     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t) AS or_card,
        |  ((SELECT COUNT(*) FROM
        |    (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |     INTERSECT
        |     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t) = 0) AS and_empty""".stripMargin),
    QueryDef("join_uniquejoin", joinUniquejoin,
      """WITH a AS (SELECT CAST(c_nationkey AS INT) AS k, COUNT(*) AS cust_cnt
        |           FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
        |     b AS (SELECT CAST(s_nationkey AS INT) AS k, COUNT(*) AS supp_cnt
        |           FROM supplier WHERE s_acctbal > 3000 GROUP BY 1),
        |     c AS (SELECT CAST(n_nationkey AS INT) AS k, n_name
        |           FROM nation WHERE n_regionkey <= 1)
        |SELECT COALESCE(a.k, b.k) AS nationkey, a.cust_cnt, b.supp_cnt, c.n_name
        |FROM a FULL JOIN b ON a.k = b.k
        |LEFT JOIN c ON COALESCE(a.k, b.k) = c.k
        |ORDER BY nationkey""".stripMargin),
    QueryDef("fn_block_offset", fnBlockOffset,
      """SELECT COUNT(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(0 AS BIGINT) AS min_block_offset,
        |  TRUE AS offsets_in_file
        |FROM lineitem""".stripMargin)
  )
}
