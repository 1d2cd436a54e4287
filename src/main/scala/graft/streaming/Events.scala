package graft.streaming

import graft.Tables
import graft.queries.{dsum, oSum, Q, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Typed rows for the flatMapGroupsWithState path. Values are quantized to
  * 1e-4 longs on the way in (the dsum trick) so state arithmetic is exact
  * and cross-engine-stable. */
case class UserEvent(user_id: Long, event_id: Long, ts_us: Long, q_value: Long)
case class SessState(nEvents: Long, nSessions: Long, qSum: Long, lastTs: Long)
case class UserStats(user_id: Long, n_events: Long, n_sessions: Long, total_value: Double)

/** §2.8 streaming extension (north-star addition — the reference has no
  * event-time processing; SURVEY.md §1.1/§2.8).
  *
  * Batch-equivalent window aggregations run through the oracle gate; the
  * identical queries execute over `readStream` in the ScalaTest smoke
  * (StreamingSpec), proving the operators are Structured-Streaming-ready.
  *
  * Scale: event-time windows groupBy (window, key) — hash-partitioned
  * state, watermark bounds it; no global ordering anywhere.
  */
object Events {

  /** Tumbling 1-hour windows per event_type. */
  val streamTumbling: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("cnt"), col("val_sum"))
      .orderBy("win_start", "event_type")
  }

  /** Sliding 1-hour windows every 30 minutes. */
  val streamSliding: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("cnt"), col("val_sum"))
      .orderBy("win_start")
  }

  /** Session windows (10-minute gap) per user. */
  val streamSession: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("sess_start"),
        col("w.end").cast("timestamp_ntz").as("sess_end"),
        col("cnt"), col("val_sum"))
      .orderBy("user_id", "sess_start")
  }

  /** Trending detection: top-2 event types per 6-hour tumbling window
    * (the dashboard staple — "what's hot right now"). The STATEFUL part
    * is the windowed count (watermark-bounded in the streaming twin,
    * [[topkCountsStream]]); the rank is a per-window post-processing
    * step over the #types-per-window frame — tiny by construction, the
    * shape a foreachBatch consumer (or the memory-sink reader in the
    * spec) applies identically. */
  val streamTopkTypes: Q = (s, dir) => {
    val counts = Tables.events(s, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("w").orderBy(col("cnt").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(rk))
      .filter(col("rnk") <= 2)
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("rnk"), col("event_type"), col("cnt"))
      .orderBy("win_start", "rnk")
  }

  /** Deterministic stateful dedup shape: first event per (user, type) by
    * event time (streaming twin: dropDuplicatesWithinWatermark). */
  val streamDedupFirst: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("first_ts"), col("value"))
      .orderBy("user_id", "event_type")
  }

  /** Late-data drop semantics (watermark analogue in batch): events more
    * than 1 hour behind the max seen ts per user are dropped. */
  val streamWatermarkDrop: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val maxTs = e.groupBy("user_id").agg(max(col("ts")).as("max_ts"))
    e.join(maxTs, "user_id")
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 1 HOUR"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("recent_cnt"), dsum(col("value")).as("recent_sum"))
      .orderBy("user_id")
  }

  /** The custom-state update function shared by the batch query and the
    * streaming twin: per-user event/session counts with a 10-minute gap
    * rule. State carries (counts, exact value sum, last event time) across
    * micro-batches; in batch mode it starts empty and each group is
    * processed exactly once, which is what makes this oracle-checkable. */
  private[streaming] val sessionStats:
      (Long, Iterator[UserEvent], GroupState[SessState]) => Iterator[UserStats] =
    (user, it, state) => {
      val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
      val st0 = state.getOption.getOrElse(SessState(0L, 0L, 0L, Long.MinValue))
      var (n, sess, qsum, last) = (st0.nEvents, st0.nSessions, st0.qSum, st0.lastTs)
      evs.foreach { e =>
        n += 1; qsum += e.q_value
        if (last == Long.MinValue || e.ts_us - last > 600000000L) sess += 1
        last = e.ts_us
      }
      state.update(SessState(n, sess, qsum, last))
      Iterator.single(UserStats(user, n, sess, qsum / 1e4))
    }

  private def typedEvents(s: SparkSession, df: DataFrame) = {
    import s.implicits._
    df.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 10000 + 0.5).cast("long").as("q_value"))
      .as[UserEvent]
  }

  /** §2.8 custom state: `KeyValueGroupedDataset.flatMapGroupsWithState`
    * (the API the survey names for arbitrary stateful processing). Scale:
    * state is hash-partitioned by user_id and bounded by the key space;
    * the same function runs over readStream in StreamingSpec. */
  val streamStatefulSessions: Q = (s, dir) => {
    import s.implicits._
    typedEvents(s, Tables.events(s, dir))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionStats)
      .toDF()
      .orderBy("user_id")
  }

  /** Stream-stream interval join, batch-equivalent form: purchases
    * attributed to the same user's clicks within the preceding hour.
    * Equi-join on user_id with an event-time band — in streaming the
    * band + watermarks bound the join state (Spark evicts rows once
    * they can no longer match); the identical query runs over two
    * readStream sources in StreamingSpec. */
  val streamIntervalJoin: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(pts) - unix_micros(cts)) DIV 60000000")
          .as("mins_between"),
        col("value"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** The static dimension for the stream-static enrichment join — the
    * lookup table every event pipeline carries (type → reporting
    * category + score weight). Inline literals: a dimension is a
    * broadcast-sized artifact at any event-stream scale, and the SAME
    * rows are spelled as a VALUES clause in the oracle so the two
    * cannot drift structurally. */
  private[streaming] val typeDim: Seq[(String, String, Double)] = Seq(
    ("view", "browse", 1.0), ("click", "browse", 2.0),
    ("signup", "convert", 3.0), ("purchase", "convert", 5.0),
    ("error", "ops", 0.0))

  /** Stream-static enrichment join (the remaining Structured Streaming
    * join surface beside stream-stream: fact stream ⋈ broadcast
    * dimension, no state, no watermark needed on the static side):
    * events enrich with category/weight, then the windowed weighted
    * rollup. Batch form here; [[enrichStream]] runs the identical plan
    * over `readStream` (StreamingSpec pins equality). */
  val streamEnrich: Q = (s, dir) => {
    import s.implicits._
    val dim = typeDim.toDF("event_type", "category", "weight")
    Tables.events(s, dir)
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("category"))
      .agg(count(lit(1)).as("cnt"),
        dsum(col("value") * col("weight"), 2).as("wsum"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("category"), col("cnt"), col("wsum"))
      .orderBy("win_start", "category")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("stream_interval_join", streamIntervalJoin,
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       (epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) // 60000000 AS mins_between,
        |       p.value AS value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '1 hour'
        |ORDER BY user_id, click_id, purchase_id""".stripMargin),
    QueryDef("stream_stateful_sessions", streamStatefulSessions,
      s"""WITH ordered AS (
         |  SELECT user_id, value,
         |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
         |           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
         |               OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           > 600000000
         |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM events)
         |SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
         |  ${oSum("value")} AS total_value
         |FROM ordered GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("stream_enrich", streamEnrich, {
      val dimRows = typeDim
        .map { case (t, c, w) => s"('$t', '$c', $w)" }.mkString(", ")
      s"""WITH dim(event_type, category, weight) AS (VALUES $dimRows)
         |SELECT time_bucket(INTERVAL '6 hours', CAST(e.ts AS TIMESTAMP))
         |  AS win_start, d.category, COUNT(*) AS cnt,
         |  ${oSum("e.value * d.weight", 2)} AS wsum
         |FROM events e JOIN dim d USING (event_type)
         |GROUP BY 1, 2 ORDER BY win_start, category""".stripMargin
    }),
    QueryDef("stream_tumbling", streamTumbling,
      s"""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
         |event_type, COUNT(*) AS cnt, ${oSum("value")} AS val_sum
         |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
    QueryDef("stream_topk_types", streamTopkTypes,
      """WITH c AS (
        |  SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP))
        |    AS win_start, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY win_start
        |        ORDER BY cnt DESC, event_type) AS rnk FROM c)
        |SELECT win_start, CAST(rnk AS INT) AS rnk, event_type, cnt
        |FROM r WHERE rnk <= 2 ORDER BY win_start, rnk""".stripMargin),
    QueryDef("stream_sliding", streamSliding,
      s"""WITH t AS (
         |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS w1, value FROM events
         |), win AS (
         |  SELECT w1 AS win_start, value FROM t
         |  UNION ALL
         |  SELECT w1 - INTERVAL '30 minutes' AS win_start, value FROM t)
         |SELECT win_start, COUNT(*) AS cnt, ${oSum("value")} AS val_sum
         |FROM win GROUP BY win_start ORDER BY win_start""".stripMargin),
    QueryDef("stream_session", streamSession,
      s"""WITH ordered AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
         |              <= INTERVAL '10 minutes' THEN 0 ELSE 1 END AS new_sess
         |  FROM events),
         |sess AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
         |  FROM ordered)
         |SELECT user_id, MIN(ts) AS sess_start,
         |  MAX(ts) + INTERVAL '10 minutes' AS sess_end,
         |  COUNT(*) AS cnt, ${oSum("value")} AS val_sum
         |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_start""".stripMargin),
    QueryDef("stream_dedup_first", streamDedupFirst,
      """WITH ranked AS (
        |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS first_ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id, first_ts, value
        |FROM ranked WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),
    QueryDef("stream_watermark_drop", streamWatermarkDrop,
      s"""WITH m AS (SELECT user_id, MAX(ts) AS max_ts FROM events GROUP BY user_id)
         |SELECT e.user_id AS user_id, COUNT(*) AS recent_cnt, ${oSum("value")} AS recent_sum
         |FROM events e JOIN m ON e.user_id = m.user_id
         |WHERE e.ts >= m.max_ts - INTERVAL '1 hour'
         |GROUP BY e.user_id ORDER BY user_id""".stripMargin)
  )

  /** File-source stream over the events fixture. `readStream` needs an
    * explicit schema, but hardcoding one breaks whenever the driver
    * regenerates the fixture with a different `ts` physical type (it has
    * shipped Long-nanos, TIMESTAMP_NTZ micros, and TIMESTAMP micros across
    * rounds) — so sniff the real schema from the parquet footer via a
    * one-off batch read, then run the exact same normalization the batch
    * table loader applies ([[Tables.normalizeEventTs]]). */
  private def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val actualSchema = spark.read.parquet(eventsDir).schema
    Tables.normalizeEventTs(
      spark.readStream.schema(actualSchema).parquet(eventsDir))
  }

  /** Streaming twin of [[streamStatefulSessions]]: the same custom-state
    * function over a file-source stream. */
  def statefulStream(spark: SparkSession, eventsDir: String): DataFrame = {
    import spark.implicits._
    typedEvents(spark, eventsStream(spark, eventsDir))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionStats)
      .toDF()
  }

  /** Spark 4 arbitrary-state v2 (`transformWithState`): the same session
    * logic as [[sessionStats]] re-expressed as a `StatefulProcessor` with
    * a typed `ValueState` variable over the RocksDB state store (the only
    * provider the v2 API supports). StreamingSpec asserts it reproduces
    * the oracle-checked batch result exactly. */
  class SessionStatsProcessor extends StatefulProcessor[Long, UserEvent, UserStats] {
    @transient private var st: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("sess",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        tv: TimerValues): Iterator[UserStats] = {
      val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
      val st0 = if (st.exists()) st.get() else SessState(0L, 0L, 0L, Long.MinValue)
      var (n, sess, qsum, last) = (st0.nEvents, st0.nSessions, st0.qSum, st0.lastTs)
      evs.foreach { e =>
        n += 1; qsum += e.q_value
        if (last == Long.MinValue || e.ts_us - last > 600000000L) sess += 1
        last = e.ts_us
      }
      st.update(SessState(n, sess, qsum, last))
      Iterator.single(UserStats(user, n, sess, qsum / 1e4))
    }
  }

  /** Streaming twin of [[streamStatefulSessions]] on the v2 API. */
  def statefulStreamTws(spark: SparkSession, eventsDir: String): DataFrame = {
    import spark.implicits._
    typedEvents(spark, eventsStream(spark, eventsDir))
      .groupByKey(_.user_id)
      .transformWithState(new SessionStatsProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Streaming twin of [[streamIntervalJoin]]: a genuine stream-stream
    * inner join — two file-source streams, watermarks on BOTH sides plus
    * the time-band condition let Spark bound the join state (each side's
    * rows are evicted once the other side's watermark passes their match
    * window). */
  def intervalJoinStream(spark: SparkSession, eventsDir: String): DataFrame = {
    def src = eventsStream(spark, eventsDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      .withWatermark("cts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
      .withWatermark("pts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") < col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(unix_micros(pts) - unix_micros(cts)) DIV 60000000")
          .as("mins_between"),
        col("value"))
  }

  /** Streaming twin of [[streamTumbling]] for the readStream smoke test:
    * same aggregation over a file-source stream. */
  def tumblingStream(spark: SparkSession, eventsDir: String): DataFrame = {
    eventsStream(spark, eventsDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("val_sum"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("cnt"), col("val_sum"))
  }

  /** Streaming twin of [[streamDedupFirst]]'s dedup DECISION via the
    * dedicated state-TTL'd operator: `dropDuplicatesWithinWatermark`
    * keeps one row per (user_id, event_type) and — unlike plain
    * streaming `dropDuplicates`, whose key state grows forever — drops
    * a key's state once the watermark passes its last-seen event time,
    * so unbounded streams run in bounded state (the 100 TB/∞-stream
    * requirement). Which physical row survives is arrival-order
    * dependent by contract, so the twin projects the KEY — the dedup
    * decision itself — which must match the batch distinct exactly. */
  def dedupWithinWatermarkStream(spark: SparkSession, eventsDir: String): DataFrame =
    eventsStream(spark, eventsDir)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Streaming twin of [[streamTopkTypes]]'s STATEFUL stage: the
    * watermark-bounded 6-hour windowed counts. The per-window rank is a
    * consumer-side step over the tiny per-window frame (StreamingSpec
    * applies it to the memory sink and compares to the batch query). */
  def topkCountsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    eventsStream(spark, eventsDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("cnt"))
  }

  /** Streaming twin of [[streamEnrich]]: the stream-static join — each
    * micro-batch joins the broadcast dimension with NO state and no
    * watermark requirement on the static side (the dimension is re-read
    * per batch in real deployments; here it is a literal frame). */
  def enrichStream(spark: SparkSession, eventsDir: String): DataFrame = {
    import spark.implicits._
    val dim = typeDim.toDF("event_type", "category", "weight")
    eventsStream(spark, eventsDir)
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("category"))
      .agg(count(lit(1)).as("cnt"),
        dsum(col("value") * col("weight"), 2).as("wsum"))
      .select(col("w.start").cast("timestamp_ntz").as("win_start"),
        col("category"), col("cnt"), col("wsum"))
  }
}
