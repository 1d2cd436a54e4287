package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for oracle-checked query builders.
  *
  * Cross-engine determinism rules (SURVEY.md §5.2/§7.5, FIXTURES.md):
  * every compared query ends in a total-order `ORDER BY`; float aggregates
  * go through the decimal-sum trick below; no rand/uuid/now in outputs.
  */
package object queries {
  /** Driver-contract query shape: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  private def pow10(scale: Int): Double = math.pow(10.0, scale.toDouble)

  /** Exact, cross-engine-stable SUM of a double expression.
    *
    * Per-row double arithmetic is IEEE-deterministic and identical in Spark
    * and DuckDB, so `floor(x*10^s + 0.5)` quantizes every row to the same
    * long in both engines (a decimal CAST would NOT — DuckDB casts
    * double→decimal via a scaled multiply while Spark goes through exact
    * BigDecimal, and they disagree near .5 boundaries). The long sum is
    * exact (no float summation-order drift across partitions/engines) and
    * stays fully distributed: partial/final long sums, no driver-side math.
    */
  def dsum(c: Column, scale: Int = 4): Column = {
    val p = pow10(scale)
    sum(floor(c * p + lit(0.5))).cast("double") / p
  }

  /** Stable AVG built from the exact quantized sum (oracle mirrors formula). */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  /** Oracle-SQL fragment matching [[dsum]]. */
  def oSum(e: String, scale: Int = 4): String = {
    val p = pow10(scale)
    s"CAST(SUM(CAST(FLOOR(($e)*$p+0.5) AS BIGINT)) AS DOUBLE)/$p"
  }

  /** Oracle-SQL fragment matching [[davg]]. */
  def oAvg(e: String, scale: Int = 4): String =
    s"${oSum(e, scale)}/COUNT($e)"

  /** Cross-engine-stable scalar rounding of a double expression: same
    * floor-based quantization as [[dsum]], as a per-row value. */
  def dround(c: Column, scale: Int = 4): Column = {
    val p = pow10(scale)
    floor(c * p + lit(0.5)).cast("double") / p
  }

  /** Oracle-SQL fragment matching [[dround]]. */
  def oRound(e: String, scale: Int = 4): String = {
    val p = pow10(scale)
    s"CAST(FLOOR(($e)*$p+0.5) AS DOUBLE)/$p"
  }

  /** One registered query: its builder and, when the operation is
    * SQL-expressible, the DuckDB-runnable oracle SQL whose rows the
    * builder's must hash-match (`None` = checked rows-only). Each module declares its queries once, as a
    * `defs: Seq[QueryDef]`; [[graft.SparkEntry]] projects the registry,
    * the oracle map and the SQL surface from those lists. */
  case class QueryDef(name: String, build: Q, oracle: Option[String])

  object QueryDef {
    /** The common case: a query with an oracle. */
    def apply(name: String, build: Q, oracle: String): QueryDef =
      QueryDef(name, build, Some(oracle))
  }

  /** Runs one SQL text over the standard fixture views that
    * [[graft.Tables.registerAll]] registers — `SqlSurface.run`'s path
    * and the one for the builders whose operation IS a SQL text, so the
    * builder and its oracle or surface entry run the same text. Changes
    * no optimizer setting: `SqlSurface.run` adds
    * `SqlSurface.registerCompat`'s rule exclusion first. */
  def sqlOverViews(s: SparkSession, dir: String, text: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(text)
  }

  /** Eager lineage-truncating checkpoint for the iterative operators
    * (connected components, k-core, BFS, centrality rounds): persist
    * alone caches results but leaves the logical plan nested, so the
    * plan tree grows multiplicatively per round and per-action plan
    * stringification OOMs. Checkpointing truncates lineage to the
    * materialized RDD; superseded rounds are freed by the context
    * cleaner once unreferenced. When the session has a checkpoint dir
    * configured (a cluster run), use RELIABLE checkpoints —
    * localCheckpoint blocks live on executors and an executor loss
    * mid-iteration would kill the job; on a 1000-executor 100 TB run
    * that is a certainty, not a tail risk. Local runs (no dir) keep the
    * cheap executor-local path. */
  def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Eager cache for an intermediate that two or more consumers read:
    * persists at MEMORY_AND_DISK (spills, never OOMs) and runs one
    * `count()` before returning the frame. The eager count is the point:
    * a lazily persisted frame is filled by whichever consumer stage
    * runs first, and consumer stages run concurrently, so each would
    * race to populate the cache and recompute the subtree itself. Pin
    * only over expensive multi-consumed projections — over a subtree
    * that ends in an exchange, AQE stage reuse already computes it once
    * and a pin only adds a materialization job.
    * [[graft.Pipeline.releaseCaches]] frees what this pins, along with
    * what [[ckpt]] leaves. */
  def pin(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Scale-adaptive scan fan-out for CPU-heavy per-row derivations
    * (guide §2: make partitioning scale-adaptive, derive it from the
    * input, never a local-mode constant).
    *
    * A FileSourceScan plans one partition per file split; a small input
    * (locally: single-row-group fixture parquet) therefore runs the
    * whole scan-side projection chain — per-word md5 hashing, gram
    * explodes, slice/string builds, vector dot products — on ONE task
    * while the rest of the cluster idles (measured: llm_suffix_dedup's
    * two 30 MB gram map stages each ran 3.2–3.6 s single-task, ~7 s of
    * its 4.7 s wall with 31 cores idle). At 100 TB the same scan plans
    * thousands of splits and needs no help.
    *
    * Rule, derived from the PLANNED scan parallelism (not a constant):
    * if the frame already plans at least half the session's default
    * parallelism, pass it through untouched (the at-scale branch — the
    * helper is a no-op exactly when the scan parallelizes naturally);
    * otherwise hash-repartition on `key` to the session's parallelism.
    * By construction the repartition only ever fires when the input is
    * a handful of splits, so the extra exchange moves at most a few
    * split-sizes of bytes — trivial where it fires, absent where it
    * would not be.
    *
    * The r21 keyed (hash-on-key) overload was REMOVED in r22 (advice
    * item): every call site uses this round-robin form, and the r21
    * measurements showed hash-on-key regressing by SATISFYING downstream
    * groupBy clusterings — Catalyst drops their exchanges and the
    * multi-consumed projection that used to be deduped through one
    * reused exchange is recomputed once per consumer (measured on
    * llm_suffix_dedup: hash fan-out tripled the gram build). Round-robin
    * preserves no clustering, so the original exchange — and its AQE
    * stage reuse — stays, just fed by a parallel map stage.
    *
    * Contract (pinned by PlanSpec): wrap RAW TABLE SCANS ONLY — the
    * partition probe below plans the subtree a second time, which is
    * cheap for a bare scan and wrong above anything expensive; and the
    * helper must stay an identity when `parts * 2 >= defaultParallelism`
    * (the at-scale branch — a production scan plans thousands of
    * splits and must gain no exchange). Retry determinism rides
    * `spark.sql.execution.sortBeforeRepartition` staying at its default
    * (true, SPARK-23207): a session that disables it gets
    * nondeterministic row placement under task retry for the fanned
    * queries — do not disable it in sessions that run these. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd shares the frame's existing QueryExecution instead of
    // building a second deserialized-plan RDD per call (advice item:
    // df.rdd constructed a whole extra QueryExecution just to read the
    // planned partition count, even on the at-scale pass-through branch)
    if (df.queryExecution.toRdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

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
}
