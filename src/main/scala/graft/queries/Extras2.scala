package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Subquery rewrites (§4.1 HiveSubQueryRemoveRule/decorrelation — native
  * in Catalyst as RewritePredicateSubquery etc.), CTEs, and scalar-family
  * leftovers (sentences, str_to_map, div/e/trig, length variants).
  */
object Extras2 {

  private def views(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    Tables.t(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.t(s, dir, "nation").createOrReplaceTempView("nation")
    Tables.t(s, dir, "supplier").createOrReplaceTempView("supplier")
    Tables.t(s, dir, "orders").createOrReplaceTempView("orders")
    Tables.t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
  }

  /** Uncorrelated IN subquery → left-semi rewrite. */
  val subqIn: Q = (s, dir) => {
    views(s, dir)
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** Correlated EXISTS subquery → decorrelated semi join. */
  val subqExists: Q = (s, dir) => {
    views(s, dir)
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Scalar subquery (single-value, compared per row). */
  val subqScalar: Q = (s, dir) => {
    views(s, dir)
    s.sql(
      s"""SELECT c_mktsegment, COUNT(*) AS rich_cnt
         |FROM customer
         |WHERE c_acctbal > (SELECT ${oAvg("c_acctbal", 4)} FROM customer)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  /** NOT IN (null-aware anti join; fixture keys are non-null). */
  val subqNotIn: Q = (s, dir) => {
    views(s, dir)
    s.sql(
      """SELECT CAST(c_nationkey AS INT) AS nationkey, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
        |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin)
  }

  /** WITH / chained CTEs. */
  val cteChain: Q = (s, dir) => {
    views(s, dir)
    s.sql(
      s"""WITH big_orders AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_totalprice > 200000),
         |per_cust AS (
         |  SELECT o_custkey, COUNT(*) AS n, ${oSum("o_totalprice", 2)} AS total
         |  FROM big_orders GROUP BY o_custkey)
         |SELECT n AS orders_bucket, COUNT(*) AS customers,
         |  ${oSum("total", 2)} AS bucket_total
         |FROM per_cust GROUP BY n ORDER BY n""".stripMargin)
  }

  /** WITH RECURSIVE (Spark 4's UnionLoop operator — the SQL-surface gap
    * recursive hierarchies used to force out to driver loops): ancestry
    * walk over the deterministic user binary tree (parent = u DIV 2, a
    * synthetic but total hierarchy over real fixture ids), reduced to
    * the depth-to-root histogram. Each iteration is one filtered
    * projection of the previous step's frame — the loop runs
    * ⌈log₂(max id)⌉ rounds regardless of user count, and every round is
    * fully distributed (no driver-side fixpoint). DuckDB replays the
    * identical recursion (`//` for DIV). */
  val cteRecursive: Q = (s, dir) => {
    graft.Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """WITH RECURSIVE chain(u, a, depth) AS (
        |  SELECT user_id, user_id, 0
        |  FROM (SELECT DISTINCT user_id FROM events) t
        |  UNION ALL
        |  SELECT u, a DIV 2, depth + 1 FROM chain WHERE a > 0),
        |d AS (SELECT u, MAX(depth) AS depth_to_root FROM chain GROUP BY u)
        |SELECT depth_to_root, COUNT(*) AS n_users
        |FROM d GROUP BY depth_to_root ORDER BY depth_to_root""".stripMargin)
  }

  /** sentences / str_to_map / length variants / space. */
  val fnString2: Q = (s, dir) => {
    Tables.t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        size(flatten(sentences(col("text")))).as("sent_words"),
        element_at(element_at(sentences(col("text")), 1), 1).as("first_word"),
        expr("str_to_map(concat('id:', doc_id, ',lang:', lang), ',', ':')['lang']").as("s2m_lang"),
        expr("size(str_to_map(concat('id:', doc_id, ',lang:', lang), ',', ':'))").as("s2m_size"),
        concat(lit("x"), expr("space(3)"), lit("y")).as("space_v"),
        char_length(col("lang")).as("clen_v"),
        octet_length(col("lang")).as("olen_v"),
        bit_length(col("lang")).as("blen_v"))
      .orderBy("doc_id")
  }

  /** Math leftovers: integer div, e(), tan/asin/acos, bround half-even. */
  val fnMath2: Q = (s, dir) => {
    Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
      .select(col("p_partkey"),
        expr("p_size div 7").as("div_v"),
        dround(expr("e()"), 9).as("e_v"),
        dround(tan(col("p_size") / 10.0), 9).as("tan_v"),
        dround(asin((col("p_size") % 10) / 10.0), 9).as("asin_v"),
        dround(acos((col("p_size") % 10) / 10.0), 9).as("acos_v"),
        bround(col("p_retailprice") / 7, 2).as("bround_v"),
        round(col("p_retailprice") / 7, 2).as("round_v"))
      .orderBy("p_partkey")
  }

  /** Hive virtual columns: INPUT__FILE__NAME ≈ input_file_name() (resolved
    * per split at scan time; BLOCK__OFFSET__INSIDE__FILE has no Spark
    * equivalent — documented non-goal). */
  val fnVirtualCols: Q = (s, dir) => {
    Tables.t(s, dir, "nation")
      .select(col("n_nationkey").cast("int").as("n_nationkey"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("fname"))
      .orderBy("n_nationkey")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("fn_virtual_cols", fnVirtualCols,
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey,
        |'nation.parquet' AS fname
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    QueryDef("subq_in", subqIn,
      """SELECT c_mktsegment, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("subq_exists", subqExists,
      """SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("subq_scalar", subqScalar,
      s"""SELECT c_mktsegment, COUNT(*) AS rich_cnt
         |FROM customer
         |WHERE c_acctbal > (SELECT ${oAvg("c_acctbal", 4)} FROM customer)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("subq_not_in", subqNotIn,
      """SELECT CAST(c_nationkey AS INT) AS nationkey, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
        |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin),
    QueryDef("cte_chain", cteChain,
      s"""WITH big_orders AS (
         |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |  WHERE o_totalprice > 200000),
         |per_cust AS (
         |  SELECT o_custkey, COUNT(*) AS n, ${oSum("o_totalprice", 2)} AS total
         |  FROM big_orders GROUP BY o_custkey)
         |SELECT n AS orders_bucket, COUNT(*) AS customers,
         |  ${oSum("total", 2)} AS bucket_total
         |FROM per_cust GROUP BY n ORDER BY n""".stripMargin),
    // Identical recursion; DuckDB spells integer division `//`.
    QueryDef("cte_recursive", cteRecursive,
      """WITH RECURSIVE chain(u, a, depth) AS (
        |  SELECT user_id, user_id, 0
        |  FROM (SELECT DISTINCT user_id FROM events) t
        |  UNION ALL
        |  SELECT u, a // 2, depth + 1 FROM chain WHERE a > 0),
        |d AS (SELECT u, MAX(depth) AS depth_to_root FROM chain GROUP BY u)
        |SELECT depth_to_root, COUNT(*) AS n_users
        |FROM d GROUP BY depth_to_root ORDER BY depth_to_root""".stripMargin),
    QueryDef("fn_string2", fnString2,
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS sent_words,
        |string_split(text, ' ')[1] AS first_word,
        |lang AS s2m_lang,
        |CAST(2 AS INT) AS s2m_size,
        |'x   y' AS space_v,
        |CAST(length(lang) AS INT) AS clen_v,
        |CAST(octet_length(encode(lang)) AS INT) AS olen_v,
        |CAST(8 * octet_length(encode(lang)) AS INT) AS blen_v
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
    QueryDef("fn_math2", fnMath2,
      s"""SELECT p_partkey,
         |CAST(p_size // 7 AS BIGINT) AS div_v,
         |${oRound("exp(1.0)", 9)} AS e_v,
         |${oRound("tan(p_size/10.0)", 9)} AS tan_v,
         |${oRound("asin((p_size % 10)/10.0)", 9)} AS asin_v,
         |${oRound("acos((p_size % 10)/10.0)", 9)} AS acos_v,
         |round_even(p_retailprice/7, 2) AS bround_v,
         |round(p_retailprice/7, 2) AS round_v
         |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin)
  )
}
