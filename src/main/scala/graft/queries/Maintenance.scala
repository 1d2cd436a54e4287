package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Table-maintenance operators (SURVEY.md §2 gaps closed in round 3):
  * copy-on-write MERGE INTO and materialized-view build/use/rebuild.
  *
  * Reference: Hive ACID MERGE/UPDATE/DELETE
  * (`[exec!ql/io/AcidUtils.class]`, `UpdateDeleteSemanticAnalyzer`) and
  * the MATERIALIZED/REWRITE parser path (SURVEY.md §1.1). No
  * transactional format is available offline, so MERGE is expressed the
  * way large parquet warehouses actually run it: copy-on-write over a
  * partitioned table — identify touched partitions, rewrite exactly
  * those via dynamic partition overwrite, leave the rest untouched.
  */
object Maintenance {

  private def tmp(name: String, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_sink/$tag/$name"
  }

  /** MERGE INTO target USING batch — one statement's worth of
    * WHEN MATCHED DELETE / WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT,
    * applied copy-on-write:
    *
    *  1. target = `orders` projected to a partitioned parquet table
    *     (partitioned by `o_orderstatus`).
    *  2. batch: deletes (key % 89 = 0), updates (key % 97 = 0 → price
    *     bump), inserts (key % 101 = 0 → new key, fresh price). DELETE
    *     precedence over UPDATE on overlap, Hive MERGE clause order.
    *  3. touched partitions = partition values holding a matched row ∪
    *     insert targets; ONLY those are rewritten
    *     (`partitionOverwriteMode=dynamic` — Hive's dynamic-partition
    *     INSERT OVERWRITE), with partition pruning on the rewrite read.
    *     At 100 TB this is the difference between rewriting the table
    *     and rewriting the few partitions a batch touches; the driver
    *     only ever holds the partition-value list (metadata-sized).
    *  4. result = read-back aggregate of the merged table (the oracle
    *     recomputes the same merge declaratively).
    */
  val mergeUpsert: Q = (s, dir) => {
    val out = tmp("orders_cow", dir)
    val orders = Tables.t(s, dir, "orders")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    base.repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)

    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), dround(col("o_totalprice") * 1.1, 2).as("u_price"))
    val deletes = orders.filter(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey"))
    val inserts = orders.filter(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
        col("o_orderstatus"), lit(1000.0).as("o_totalprice"))

    cowMerge(s, out, updates, deletes, inserts)

    s.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** The copy-on-write MERGE core, reused by `merge_upsert` and tested
    * in isolation (MaintenanceSpec proves untouched partitions keep their
    * exact files): compute touched partition values (metadata-sized
    * driver list), merge ONLY those partitions' rows with the batch, and
    * rewrite them via dynamic partition overwrite — every other
    * partition's files are left physically untouched.
    *
    * Schemas: target at `targetPath` = (o_orderkey, o_orderstatus,
    * o_totalprice) partitioned by o_orderstatus; `updates` =
    * (o_orderkey, u_price); `deletes` = (o_orderkey); `inserts` = full
    * target schema, so the target is read with it (a bare parquet read
    * spends a job inferring the schema). DELETE precedes UPDATE on
    * overlap (Hive MERGE clause order). */
  def cowMerge(s: org.apache.spark.sql.SparkSession, targetPath: String,
      updates: org.apache.spark.sql.DataFrame,
      deletes: org.apache.spark.sql.DataFrame,
      inserts: org.apache.spark.sql.DataFrame): Unit = {
    val target = s.read.schema(inserts.schema).parquet(targetPath)
    val touched = target
      .join(updates.select("o_orderkey").union(deletes), "o_orderkey")
      .select("o_orderstatus")
      .union(inserts.select("o_orderstatus"))
      .distinct().collect().map(_.getString(0)).toSeq

    // merged content of the touched partitions only (pruned read)
    val merged = target.filter(col("o_orderstatus").isin(touched: _*))
      .join(deletes, Seq("o_orderkey"), "left_anti")
      .join(updates, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("u_price"), col("o_totalprice")).as("o_totalprice"))
      .unionByName(inserts)

    // dynamic overwrite scoped to this write (DataFrameWriter option, not
    // a session-conf toggle that would leak to concurrent queries)
    merged.repartition(col("o_orderstatus"))
      .write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy("o_orderstatus").parquet(targetPath)
  }

  /** Materialized view build → use → rebuild (parser KWs
    * MATERIALIZED/REWRITE, SURVEY.md §1.1): the MV is a written-out
    * parquet aggregate.
    *
    *  - BUILD: v1 materializes revenue-per-nation from a stale slice
    *    (even order keys only — "built before the rest arrived").
    *  - REBUILD: full recompute into a NEW versioned path (`…/v2`); v1's
    *    files are never touched, so serving the old version needs no
    *    driver-side snapshot — exactly how a real MV store versions
    *    rebuilds (readers pin a version directory, the rebuild lands
    *    beside it, a metadata pointer flips). The previous shape here
    *    (`collect()` + `createDataFrame` to pin v1 before an in-place
    *    overwrite) would materialize an arbitrary-size MV on the driver
    *    at 100 TB.
    *  - USE ×2: both answers are served from their MV scans (no base
    *    join).
    *
    * Output = both uses, version-tagged, so the stale→fresh transition
    * is visible and oracle-checkable. */
  val mvRebuild: Q = (s, dir) => {
    val mvRoot = tmp("mv_revenue", dir)
    val orders = Tables.t(s, dir, "orders")
    val customer = Tables.t(s, dir, "customer")
    val nation = Tables.t(s, dir, "nation")
    def revenue(src: org.apache.spark.sql.DataFrame) = src
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(dsum(col("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))

    // BUILD v1 (stale slice) and REBUILD v2 into sibling version paths
    revenue(orders.filter(col("o_orderkey") % 2 === 0))
      .coalesce(1).write.mode("overwrite").parquet(s"$mvRoot/v1")
    revenue(orders).coalesce(1).write.mode("overwrite").parquet(s"$mvRoot/v2")
    val v1 = s.read.parquet(s"$mvRoot/v1")
    val v2 = s.read.parquet(s"$mvRoot/v2")

    v1.withColumn("mv_version", lit(1))
      .unionByName(v2.withColumn("mv_version", lit(2)))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("mv_version"), col("n_name"), col("revenue"), col("n_orders"))
      .orderBy("mv_version", "n_name")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("merge_upsert", mergeUpsert,
      s"""WITH merged AS (
         |  SELECT t.o_orderkey, t.o_orderstatus,
         |         CASE WHEN t.o_orderkey % 97 = 0
         |              THEN ${oRound("t.o_totalprice*1.1", 2)}
         |              ELSE t.o_totalprice END AS o_totalprice
         |  FROM orders t WHERE t.o_orderkey % 89 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 20000000, o_orderstatus, 1000.0
         |  FROM orders WHERE o_orderkey % 101 = 0)
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |       ${oSum("o_totalprice", 2)} AS total
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QueryDef("mv_rebuild", mvRebuild,
      s"""WITH rev AS (
         |  SELECT 1 AS mv_version, c_nationkey,
         |         ${oSum("o_totalprice", 2)} AS revenue, COUNT(*) AS n_orders
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE o_orderkey % 2 = 0 GROUP BY c_nationkey
         |  UNION ALL
         |  SELECT 2 AS mv_version, c_nationkey,
         |         ${oSum("o_totalprice", 2)} AS revenue, COUNT(*) AS n_orders
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY c_nationkey)
         |SELECT mv_version, n_name, revenue, n_orders
         |FROM rev JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY mv_version, n_name""".stripMargin)
  )
}
