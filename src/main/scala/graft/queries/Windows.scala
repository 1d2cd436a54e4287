package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.5 window functions (Hive PTF): ranking, analytic, aggregates over
  * ROWS/RANGE frames.
  *
  * Reference: `PTFOperator` + `WindowingTableFunction`, frame machinery
  * `WindowFrameDef`/`ValueBoundaryScanner` (SURVEY.md §2.5). Spark's
  * `WindowExec` evaluates frames incrementally like Hive's streaming
  * evaluators — and is already distributed by `Window.partitionBy`.
  *
  * Scale posture: every window here partitions by a key (customer), so
  * state per task is one customer's rows — no single-partition global
  * windows, which would serialize at 100 TB.
  *
  * Determinism: ranking functions that admit ties (rank/dense_rank/
  * percent_rank/cume_dist) are computed over a tie-prone ordering — their
  * results depend only on key equality, not intra-tie order. Positional
  * functions (row_number/ntile/lead/lag/first/last) always run over a
  * total order (tiebreak to o_orderkey).
  */
object Windows {

  /** rank / dense_rank / row_number / ntile / percent_rank / cume_dist. */
  val winRanking: Q = (s, dir) => {
    val tieProne = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    val total = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        rank().over(tieProne).as("rnk"),
        dense_rank().over(tieProne).as("drnk"),
        dround(percent_rank().over(tieProne), 8).as("prnk"),
        dround(cume_dist().over(tieProne), 8).as("cdist"),
        row_number().over(total).as("rn"),
        ntile(4).over(total).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** lead / lag / first_value / last_value incl. IGNORE NULLS. */
  val winLeadLag: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val priceOrNull = when(col("o_orderstatus") === "P", lit(null))
      .otherwise(col("o_totalprice"))
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 2, -1.0).over(w).as("next2_price"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        last(col("o_totalprice")).over(wf).as("last_price"),
        last(priceOrNull, ignoreNulls = true).over(wf).as("last_nonp_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Aggregates over ROWS frames: running totals + centered moving stats. */
  val winAggRows: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val moving = w.rowsBetween(-1, 1)
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        (sum(floor(col("o_totalprice") * 100 + lit(0.5))).over(running)
          .cast("double") / 100).as("running_total"),
        count(lit(1)).over(running).as("running_cnt"),
        min(col("o_totalprice")).over(running).as("running_min"),
        (sum(floor(col("o_totalprice") * 100 + lit(0.5))).over(moving)
          .cast("double") / 100 / count(lit(1)).over(moving)).as("moving_avg3"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Aggregates over RANGE value frames (typed boundary scanners in Hive). */
  val winAggRange: Q = (s, dir) => {
    val wr = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
      .rangeBetween(-50000, Window.currentRow)
    Tables.t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        count(lit(1)).over(wr).as("near_cheaper_cnt"),
        (sum(floor(col("o_totalprice") * 100 + lit(0.5))).over(wr)
          .cast("double") / 100).as("near_cheaper_sum"))
      .orderBy("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** Time-INTERVAL RANGE frame (the typed boundary scanner over
    * timestamps Hive's ValueBoundaryScanner special-cases): per event,
    * the trailing 1-hour rolling sum/count of the same user's activity —
    * the rate-limit / burst-detection window spelled in time units, which
    * a numeric RANGE (win_agg_range) cannot express when event spacing
    * is irregular. Frame bounds are exact µs interval arithmetic in both
    * engines; the windowed sum uses the quantized-long idiom (engines
    * disagree on windowed-float accumulation order). Per-user partitions
    * — state per task is one user's rows, no global window. */
  val winTimeRange: Q = (s, dir) => {
    Tables.events(s, dir).createOrReplaceTempView("events")
    s.sql(
      """SELECT user_id, event_id, unix_micros(ts) AS tsu,
        |  CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) OVER wh AS DOUBLE)/100
        |    AS roll_1h_sum,
        |  COUNT(*) OVER wh AS roll_1h_n
        |FROM events
        |WINDOW wh AS (PARTITION BY user_id ORDER BY ts
        |              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, tsu, event_id""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // Identical INTERVAL frame over the same naive-µs timestamps.
    QueryDef("win_time_range", winTimeRange,
      """SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |CAST(SUM(CAST(FLOOR(value*100+0.5) AS BIGINT)) OVER wh AS DOUBLE)/100
        |  AS roll_1h_sum,
        |COUNT(*) OVER wh AS roll_1h_n
        |FROM events
        |WINDOW wh AS (PARTITION BY user_id ORDER BY ts
        |              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, tsu, event_id""".stripMargin),
    QueryDef("win_ranking", winRanking,
      s"""SELECT o_custkey, o_orderkey, o_orderpriority,
         |rank() OVER wt AS rnk,
         |dense_rank() OVER wt AS drnk,
         |${oRound("percent_rank() OVER wt", 8)} AS prnk,
         |${oRound("cume_dist() OVER wt", 8)} AS cdist,
         |row_number() OVER wo AS rn,
         |ntile(4) OVER wo AS quartile
         |FROM orders
         |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
         |       wo AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    QueryDef("win_lead_lag", winLeadLag,
      """SELECT o_custkey, o_orderkey,
        |lag(o_totalprice, 1) OVER w AS prev_price,
        |lead(o_totalprice, 2, -1.0) OVER w AS next2_price,
        |first_value(o_totalprice) OVER wf AS first_price,
        |last_value(o_totalprice) OVER wf AS last_price,
        |last_value(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END IGNORE NULLS) OVER wf AS last_nonp_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    QueryDef("win_agg_rows", winAggRows,
      """SELECT o_custkey, o_orderkey,
        |CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT)) OVER wr AS DOUBLE)/100 AS running_total,
        |COUNT(*) OVER wr AS running_cnt,
        |MIN(o_totalprice) OVER wr AS running_min,
        |CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT)) OVER wm AS DOUBLE)/100
        |  / COUNT(*) OVER wm AS moving_avg3
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       wm AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    QueryDef("win_agg_range", winAggRange,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |COUNT(*) OVER wr AS near_cheaper_cnt,
        |CAST(SUM(CAST(FLOOR(o_totalprice*100+0.5) AS BIGINT)) OVER wr AS DOUBLE)/100 AS near_cheaper_sum
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |              RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey, o_totalprice""".stripMargin)
  )
}
