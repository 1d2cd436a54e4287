package graft.queries

import graft.Tables
import graft.functions.MatchPath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence rows fed to the matcher (ts as µs long — sorting and
  * equality stay integer-exact across engines). */
case class SeqEvent(user_id: Long, event_id: Long, tsu: Long, sym: String,
  value: Double)

/** One emitted row per pattern match. */
case class SeqMatchRow(user_id: Long, match_idx: Int, start_event_id: Long,
  n_steps: Int, total_value: Double)

/** Daily count cell fed to the Holt forecaster. */
case class HoltDay(event_type: String, day: Long, y: Double)

/** One Holt forecast row per series. */
case class HoltFc(event_type: String, n_days: Long, level: Double,
  trend: Double, fc_1: Double, fc_7: Double)

/** One Holt-Winters forecast row per series. */
case class HwFc(event_type: String, n_days: Long, level: Double,
  trend: Double, s_amp: Double, fc_1: Double, fc_7: Double)

/** MatchPath-style sequence matching over `events` (SURVEY.md §2 PTF gap;
  * reference `[exec!ql/udf/ptf/MatchPath.class]`): the funnel pattern
  * `click . view+ . purchase` per user, in (ts, event_id) order.
  *
  * Execution shape: `groupByKey(user).flatMapSortedGroups(ts, event_id)`
  * — one shuffle on the group key, Spark's shuffle machinery delivers
  * each group PRE-SORTED (no per-group buffer/sort), and the matcher
  * streams it with a bounded candidate window. This is exactly Hive's
  * PTF `PARTITION BY user ORDER BY ts` contract, and the only shape that
  * survives million-event users at 100 TB.
  */
object Sequences {

  private val funnel = MatchPath.compile("c.v+.p")

  private def seqEvents(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"),
        // event types have distinct first letters: c,e,p,s,v
        substring(col("event_type"), 1, 1).as("sym"),
        col("value"))
      .as[SeqEvent]
  }

  private def matches(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    seqEvents(s, dir)
      .groupByKey(_.user_id)
      .flatMapSortedGroups($"tsu", $"event_id") { (uid, it) =>
        MatchPath.scan(it, (e: SeqEvent) => e.sym.head, funnel)
          .iterator.zipWithIndex.map { case ((_, evs), idx) =>
            SeqMatchRow(uid, idx + 1, evs.head.event_id, evs.size,
              math.floor(evs.map(_.value).sum * 100 + 0.5) / 100)
          }
      }
  }

  /** Per-match rows: who, which match, where it started, how many steps,
    * what the funnel was worth. Oracle-checked: for the funnel `c.v+.p`
    * a match is exactly "a p whose immediately-preceding maximal v-run
    * (length ≥ 1) is preceded by a c", and such spans cannot overlap
    * (their interiors are all v), so gaps-and-islands SQL replays the
    * matcher per match, offsets included. Exact-value coverage also in
    * SequenceSpec. */
  val seqMatchpath: Q = (s, dir) =>
    matches(s, dir).toDF().orderBy("user_id", "match_idx")

  /** Aggregated twin with a full DuckDB oracle: per-user match count and
    * total matched steps replayed as `regexp_extract_all` over the
    * ordered symbol string (greedy non-overlapping scan = the matcher's
    * semantics for distinct-symbol patterns). */
  val seqMatchpathCounts: Q = (s, dir) =>
    matches(s, dir).toDF()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"),
        sum(col("n_steps")).cast("long").as("n_steps_total"))
      .orderBy("user_id")

  /** Session-gap threshold for [[seqSessionize]]: 12 h in µs. The fixture's
    * median inter-event gap is ~7.3 h (p90 ~25 h), so a 12 h cut splits
    * real sessions instead of degenerating to one-event-per-session. */
  private val SessionGapUs = 43200L * 1000000L

  /** Batch sessionization (gaps-and-islands) over `events` — the batch twin
    * of `stream_session` (SURVEY.md §2.8 session windows): a new session
    * starts when the gap from the previous event of the same user exceeds
    * 12 h. Classic two-window idiom: `lag` marks boundaries, a running
    * `sum` over the same (user, ts, event_id) ordering numbers the islands
    * — both windows share one partitioning, so Spark plans ONE shuffle on
    * `user_id` and evaluates both WindowExecs pipelined on the sorted
    * stream. Per-user window partitioning scales: no global sort, skew
    * bounded by the busiest single user.
    */
  /** The sessionization core shared by [[seqSessionize]] and the
    * concurrency sweep: one session row per (user, island). */
  private def sessionsOf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    e.withColumn("new_sess",
        when(col("tsu") - lag("tsu", 1).over(w) > SessionGapUs
          || lag("tsu", 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_idx", sum("new_sess").over(w))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("tsu").as("start_tsu"), max("tsu").as("end_tsu"),
        dsum(col("value"), 2).as("total_value"))
      .withColumn("session_idx", col("session_idx").cast("int"))
  }

  val seqSessionize: Q = (s, dir) =>
    sessionsOf(s, dir)
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events", "start_tsu", "end_tsu",
        "total_value")

  /** Peak session concurrency per day — the interval-overlap sweep-line
    * (how many users are mid-session at once, the load metric behind
    * capacity planning and concurrency-limit sizing): each session emits
    * +1 at start and −1 at end, and the running sum over the
    * (tsu, delta DESC, user_id) total order IS the live concurrency
    * (+1 before −1 at time ties → inclusive-inclusive overlap).
    *
    * Scale shape — a global running sum would single-partition the
    * corpus, so the sweep is the distributed PREFIX-SUM decomposition
    * (the `llm_token_budget` posture): per-day partial sums aggregate to
    * a #days-row frame, a window over THAT tiny frame yields each day's
    * carry-in offset, broadcast back, and the within-day running sum is
    * a day-partitioned window. Max + earliest-attaining instant per day
    * resolve with a co-partitioned self-join on the day key (max-struct
    * argmax would force SortAggregate — the catalogued quantized-argmax
    * caveat). The DuckDB oracle intentionally computes the UNSPLIT
    * global running sum — an independent derivation that must agree
    * with the bucket decomposition everywhere. */
  val seqConcurrency: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val sess = sessionsOf(s, dir)
    val deltas = sess
      .select(col("start_tsu").as("tsu"), lit(1).as("delta"), col("user_id"))
      .unionAll(sess
        .select(col("end_tsu").as("tsu"), lit(-1).as("delta"), col("user_id")))
      .withColumn("day", expr(s"tsu DIV $DayUs")) // integer div: a double
        // divide + cast could misbucket a boundary tsu vs DuckDB's `//`
    val offsets = deltas.groupBy("day").agg(sum(col("delta")).as("tot"))
      .withColumn("off",
        sum("tot").over(Window.orderBy("day")) - col("tot"))
      .select("day", "off")
    val dayW = Window.partitionBy("day")
      .orderBy(col("tsu"), col("delta").desc, col("user_id"))
    val cum = deltas
      .join(broadcast(offsets), "day")
      .withColumn("conc", sum("delta").over(dayW) + col("off"))
    val maxes = cum.groupBy("day").agg(max(col("conc")).as("max_conc"))
    cum.join(maxes, "day")
      .filter(col("conc") === col("max_conc"))
      .groupBy("day", "max_conc")
      .agg(min(col("tsu")).as("at_tsu"))
      .select(col("day"), col("max_conc"), col("at_tsu"))
      .orderBy("day")
  }

  /** Ordered conversion funnel view → click → purchase (the product-
    * analytics staple MatchPath's regex generalizes; this is the
    * fixed-3-step strict-order variant every funnel dashboard runs):
    * step k counts users whose FIRST step-k event strictly follows
    * their step-(k−1) anchor — the standard "earliest qualifying
    * event" chaining, where each step's anchor is min(ts of step-k
    * events after the previous anchor).
    *
    * Scale shape: each chaining step is a user_id-keyed filter →
    * co-partitioned join → min-aggregate; all three reuse the same
    * user_id hash partitioning, so AQE plans one exchange lineage and
    * no step ever sees more than its type's slice. The final frame is
    * 3 rows; its lag-window is presentation-only. The DuckDB oracle
    * replays the identical chaining. */
  val seqFunnel: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsu").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("tsu") > col("t1"))
      .groupBy("user_id").agg(min("tsu").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("tsu") > col("t2"))
      .groupBy("user_id").agg(min("tsu").as("t3"))
    val counts = t1.agg(count(lit(1)).as("n_users"))
      .select(lit(1).as("step"), lit("view").as("etype"), col("n_users"))
      .unionAll(t2.agg(count(lit(1)).as("n_users"))
        .select(lit(2).as("step"), lit("click").as("etype"), col("n_users")))
      .unionAll(t3.agg(count(lit(1)).as("n_users"))
        .select(lit(3).as("step"), lit("purchase").as("etype"), col("n_users")))
    // 3-row presentation frame: the single-partition window is fine here
    val w = Window.orderBy("step")
    counts
      .withColumn("conv",
        dround(col("n_users").cast("double") / lag("n_users", 1).over(w), 6))
      .orderBy("step")
  }

  /** Cohort retention (the other product-analytics staple beside
    * [[seqFunnel]]): users cohorted by their FIRST active day; for day
    * offsets 0–7, what fraction of each cohort is active again
    * `offset` days later. Offset 0 is the tautological 1.0 row — kept
    * as the standard self-check every retention table carries.
    *
    * Scale shape: the (user, day) activity frame dedups on its own
    * key; cohort = a user-keyed min; the offset join re-uses the
    * user_id partitioning; outputs are (#cohorts × 8) rows. No global
    * sort, no window over the event stream. */
  val seqRetention: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        // integer div (the seq_concurrency lesson): a double divide +
        // cast could misbucket a boundary tsu vs DuckDB's `//`
        expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cday"))
    val sizes = cohort.groupBy("cday").agg(count(lit(1)).as("n_cohort"))
    days.join(cohort, "user_id")
      .withColumn("off", col("day") - col("cday"))
      .filter(col("off") <= 7)
      .groupBy("cday", "off").agg(count(lit(1)).as("n_active"))
      .join(sizes, "cday")
      .select(col("cday"), col("off"), col("n_active"), col("n_cohort"),
        dround(col("n_active").cast("double") / col("n_cohort"), 6)
          .as("retention"))
      .orderBy("cday", "off")
  }

  /** First-order Markov transition matrix over per-user event streams
    * — the empirical behavior model behind next-action prediction and
    * anomaly scoring (a transition whose probability collapses release
    * -over-release is the classic regression smell): P(next | prev) =
    * count(prev → next) / count(prev → ·), adjacency defined by the
    * (ts, event_id) order within each user.
    *
    * Scale shape: lag over the user-partitioned window (one shuffle on
    * user_id, skew bounded by the busiest user); the count and
    * normalizer aggs run over the #types² ≤ 25-row transition frame.
    * Probabilities are one quantized division of exact counts. */
  val seqTransitions: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum("cnt").over(
        Window.partitionBy("prev"))) // 25-row frame
      .select(col("prev"), col("next"), col("cnt"),
        dround(col("cnt").cast("double") / col("tot"), 6).as("p"))
      .orderBy("prev", "next")
  }

  /** RFM user scoring (recency / frequency / monetary — the classic
    * behavioral segmentation): per user, days since last event
    * (against the corpus max — reproducible, never now()), event
    * count, and quantized spend; each metric scored 1–5 against its
    * own exact interpolated quintile thresholds (the `agg_percentile`
    * cross-engine idiom), recency inverted (recent = high score).
    *
    * Scale shape: per-user aggs on the user_id shuffle; thresholds are
    * ONE 12-value aggregate row broadcast back — the CCNet-buckets
    * posture, never a global ntile sort (a literal NTILE(5) OVER
    * (ORDER BY metric) would single-partition every user at 100 TB). */
  val seqRfm: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("value"))
    val per = e.groupBy("user_id").agg(
        max("tsu").as("last_tsu"), count(lit(1)).as("frequency"),
        dsum(col("value"), 2).as("monetary"))
      .crossJoin(broadcast(e.agg(max("tsu").as("ref"))))
      .withColumn("recency_days", expr(s"(ref - last_tsu) DIV $DayUs"))
    val thCols = Seq("recency_days", "frequency", "monetary").flatMap(m =>
      Seq(0.2, 0.4, 0.6, 0.8).map(p =>
        expr(s"percentile($m, $p)").as(s"${m.head}${(p * 100).toInt}")))
    val th = per.agg(thCols.head, thCols.tail: _*)
    def up(m: org.apache.spark.sql.Column, pre: String) =
      lit(1) + Seq(20, 40, 60, 80).map(k =>
        (m > col(s"$pre$k")).cast("int")).reduce(_ + _)
    per.crossJoin(broadcast(th))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        (lit(6) - up(col("recency_days"), "r")).as("r_score"),
        up(col("frequency"), "f").as("f_score"),
        up(col("monetary"), "m").as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    * Walker, WSDM 2013) — the A/B-analysis workhorse: using each
    * user's PRE-period metric as a control covariate removes the
    * between-user variance an experiment can never randomize away,
    * tightening the treatment-effect CI at zero extra data. Per user:
    * X = pre-period spend, Y = post-period spend (the observation
    * window split at its own midpoint — reproducible, never now());
    * θ = cov(X,Y)/var(X) pooled; Y_cuped = Y − θ·(X − X̄). Output per
    * deterministic md5-parity arm: n, mean Y, mean Y_cuped, with the
    * pooled θ and the raw/adjusted pooled variances beside them — the
    * variance ratio IS the sample-size saving.
    *
    * Cross-engine determinism: values quantize to exact cent longs
    * per row; per-user X/Y are exact long sums; θ is a ratio of exact
    * int128 moment combinations (Σx² and Σxy in decimal(38,0) — the
    * seq_gini overflow rule) cast to double for ONE division;
    * the per-user adjustment is a fixed-shape IEEE chain quantized at
    * 1e-6 before the arm/variance sums. Zero pre-period variance pins
    * θ = 0 (the heaps-law degenerate-corpus rule).
    *
    * Scale shape: one user_id shuffle builds the per-user frame; the
    * moment row and the pooled-variance row are broadcast 1-row aggs;
    * the arm readout is a 2-row agg — nothing after the per-user
    * groupBy touches corpus-sized data again. */
  private[graft] def cupedOf(events: DataFrame): DataFrame = {
    val per = prePostCents(events)
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("xc").cast("decimal(38,0)")).as("sx"),
      sum(col("yc").cast("decimal(38,0)")).as("sy"),
      sum(col("xc").cast("decimal(38,0)") * col("xc")).as("sxx"),
      sum(col("xc").cast("decimal(38,0)") * col("yc")).as("sxy"))
    val th = m.select(col("n"), col("sx"),
      when(col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx") <= 0, lit(0.0))
        .otherwise(
          (col("n").cast("decimal(38,0)") * col("sxy")
            - col("sx") * col("sy")).cast("double")
          / (col("n").cast("decimal(38,0)") * col("sxx")
            - col("sx") * col("sx")).cast("double")).as("theta"))
    val b = per.crossJoin(broadcast(th))
      .select(col("user_id"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
          .cast("long") % 2).as("arm"),
        (col("yc") / lit(100.0)).as("yu"), col("theta"),
        (col("yc") / lit(100.0) - col("theta")
          * (col("xc") / lit(100.0)
            - col("sx").cast("double") / col("n") / lit(100.0))).as("yadj"))
    val g = b.groupBy("arm").agg(count(lit(1)).as("n_users"),
      dsum(col("yu"), 6).as("sya"), dsum(col("yadj"), 6).as("saa"),
      max(col("theta")).as("theta"))
    val v = b.agg(count(lit(1)).as("nu"),
      dsum(col("yu"), 6).as("sy2"), dsum(col("yu") * col("yu"), 6).as("syy2"),
      dsum(col("yadj"), 6).as("sa2"),
      dsum(col("yadj") * col("yadj"), 6).as("saa2"))
    g.crossJoin(broadcast(v))
      .select(col("arm"), col("n_users"),
        dround(col("sya") / col("n_users"), 6).as("mean_y"),
        dround(col("saa") / col("n_users"), 6).as("mean_y_cuped"),
        dround(col("theta"), 6).as("theta"),
        dround(col("syy2") / col("nu")
          - (col("sy2") / col("nu")) * (col("sy2") / col("nu")), 6)
          .as("var_y"),
        dround(col("saa2") / col("nu")
          - (col("sa2") / col("nu")) * (col("sa2") / col("nu")), 6)
          .as("var_y_cuped"))
      .orderBy("arm")
  }

  /** Shared experimentation frame: per user, exact-cent spend in the
    * pre/post halves of the observation window (split at its midpoint —
    * reproducible, never now()). ONE user_id shuffle; consumed by
    * [[cupedOf]] and [[didOf]] so the split rule can never
    * desynchronize between them (r18 review finding). */
  private def prePostCents(events: DataFrame): DataFrame = {
    val e = events
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        floor(col("value") * 100.0 + lit(0.5)).cast("long").as("vc"))
    val r = e.agg(min("tsu").as("t0"), max("tsu").as("t1"))
    e.crossJoin(broadcast(r))
      .withColumn("split", expr("t0 + (t1 - t0) DIV 2"))
      .groupBy("user_id")
      .agg(sum(when(col("tsu") < col("split"), col("vc"))
          .otherwise(lit(0L))).as("xc"),
        sum(when(col("tsu") >= col("split"), col("vc"))
          .otherwise(lit(0L))).as("yc"))
  }

  val seqCuped: Q = (s, dir) =>
    cupedOf(Tables.events(s, dir).select("user_id", "ts", "value"))

  /** Sample-ratio-mismatch guardrail (Fabijan et al., ICSE-SEIP 2019
    * catalogue it as the most common experiment-invalidating bug): a
    * χ² goodness-of-fit of the realized arm split against the intended
    * 50/50 — an experiment whose assignment is skewed (broken hash,
    * bot filter firing per-arm, logging loss) must be DISCARDED before
    * anyone reads [[cupedOf]]/[[didOf]] estimates. One row: arm
    * counts, χ², and the flag at the 1-dof 95% critical value 3.841.
    *
    * Scale/determinism: one distinct-user pass (the arm is a pure
    * projection off user_id, so the count pair is a 2-row two-phase
    * agg); χ² is one fixed-shape double chain over exact longs,
    * quantized at 1e-6 — identical in both engines. */
  private[graft] def srmOf(events: DataFrame): DataFrame = {
    // ONE total aggregate, never a per-arm join: a filter-join shape
    // returns zero rows when an arm is completely empty — i.e. the
    // guardrail goes silent in exactly the most extreme mismatch
    // (r18 review finding). sum(arm) counts the treat arm directly.
    events.select(col("user_id")).distinct()
      .select((conv(substring(md5(col("user_id").cast("string")), 1, 12),
        16, 10).cast("long") % 2).as("arm"))
      .agg(count(lit(1)).as("n"), sum(col("arm")).as("n_treat"))
      .select(col("n").as("n_users"), col("n_treat"),
        (col("n") - col("n_treat")).as("n_ctrl"),
        dround((col("n_treat") - col("n") / lit(2.0))
          * (col("n_treat") - col("n") / lit(2.0)) / (col("n") / lit(2.0))
          + ((col("n") - col("n_treat")) - col("n") / lit(2.0))
          * ((col("n") - col("n_treat")) - col("n") / lit(2.0))
          / (col("n") / lit(2.0)), 6)
          .as("chi2"))
      .withColumn("srm", col("chi2") > 3.841)
  }

  val seqSrm: Q = (s, dir) =>
    srmOf(Tables.events(s, dir).select("user_id"))

  /** Experiment power / sample-size estimate (the planning read in
    * front of [[cupedOf]]: how many users per arm before a 5% lift is
    * detectable?): the two-sample formula n = (z_{α/2}+z_β)²·2σ²/δ²
    * at α = .05 / power = .80 ((1.95996+0.84162)²·2 = 15.6979, pinned
    * as a literal so both engines share the constant), with σ² and
    * the baseline mean measured from the CONTROL arm's post-period
    * spend — the same frame the readout will use, so the plan and the
    * analysis can't diverge on population definition.
    *
    * Scale/determinism: [[prePostCents]]'s one user_id shuffle; the
    * moment row is a 1-row agg of exact cent longs with Σy² in
    * decimal(38,0) (the seq_gini rule); mean/var/MDE/n are one
    * fixed-shape double chain, n ceiled to a whole user. */
  private[graft] def powerOf(events: DataFrame, mdeRel: Double = 0.05)
  : DataFrame = {
    val ctrl = prePostCents(events)
      .filter(conv(substring(md5(col("user_id").cast("string")), 1, 12),
        16, 10).cast("long") % 2 === 0)
    val m = ctrl.agg(count(lit(1)).as("n"),
      sum(col("yc")).as("sy"),
      sum(col("yc").cast("decimal(38,0)") * col("yc")).as("syy"))
    m.select(col("n").as("n_ctrl_users"),
        dround(col("sy").cast("double") / col("n") / 100.0, 6).as("mean_y"),
        dround((col("n").cast("decimal(38,0)") * col("syy")
            - col("sy").cast("decimal(38,0)") * col("sy")).cast("double")
          / (col("n").cast("double") * col("n")) / 10000.0, 6).as("var_y"))
      .select(col("n_ctrl_users"), col("mean_y"), col("var_y"),
        dround(lit(mdeRel) * col("mean_y"), 6).as("mde_abs"),
        ceil(lit(15.6979) * col("var_y")
          / ((lit(mdeRel) * col("mean_y")) * (lit(mdeRel) * col("mean_y"))))
          .cast("long").as("n_required_per_arm"))
  }

  val seqPower: Q = (s, dir) =>
    powerOf(Tables.events(s, dir).select("user_id", "ts", "value"))

  /** Difference-in-differences estimate (Card & Krueger AER 1994 made
    * it canonical) — [[cupedOf]]'s sibling for the case where
    * randomization is absent or suspect: with md5-parity arms and the
    * same midpoint pre/post split, the effect is the TREAT group's
    * pre→post change net of the CONTROL group's change, differencing
    * away both stable group composition and the common time trend.
    * One row: per-cell user means and the DiD point estimate.
    *
    * Precondition — BOTH arms must be populated: the t×c crossJoin
    * collapses to ZERO rows when either md5-parity arm is empty (and
    * [[cupedOf]] likewise emits only present arms). That extreme
    * mismatch is exactly what [[srmOf]] exists to catch — it is the
    * documented mandatory pre-read, and did/cuped outputs are
    * undefined until it passes (r18 ADVICE note).
    *
    * Scale/determinism posture inherited from [[cupedOf]]: exact cent
    * longs per user (one user_id shuffle), the 2×2 cell frame is a
    * 2-row agg, means are exact-sum/count divisions quantized at
    * 1e-6, the estimate one fixed-shape chain on the quantized
    * means. */
  private[graft] def didOf(events: DataFrame): DataFrame = {
    val per = prePostCents(events)
      .withColumn("arm",
        conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
          .cast("long") % 2)
    val cells = per.groupBy("arm").agg(count(lit(1)).as("n_users"),
      sum(col("xc")).as("sx"), sum(col("yc")).as("sy"))
      .select(col("arm"), col("n_users"),
        dround(col("sx").cast("double") / col("n_users") / 100.0, 6)
          .as("m_pre"),
        dround(col("sy").cast("double") / col("n_users") / 100.0, 6)
          .as("m_post"))
    val t = cells.filter(col("arm") === 1)
      .select(col("n_users").as("n_treat"), col("m_pre").as("treat_pre"),
        col("m_post").as("treat_post"))
    val c = cells.filter(col("arm") === 0)
      .select(col("n_users").as("n_ctrl"), col("m_pre").as("ctrl_pre"),
        col("m_post").as("ctrl_post"))
    t.crossJoin(broadcast(c))
      .select(col("n_treat"), col("n_ctrl"),
        col("treat_pre"), col("treat_post"), col("ctrl_pre"),
        col("ctrl_post"),
        dround((col("treat_post") - col("treat_pre"))
          - (col("ctrl_post") - col("ctrl_pre")), 6).as("did"))
  }

  val seqDid: Q = (s, dir) =>
    didOf(Tables.events(s, dir).select("user_id", "ts", "value"))

  /** Holt linear-trend forecast (Holt 1957 / Hyndman & Athanasopoulos
    * FPP) per event-type daily-count series — the capacity-planning
    * read the monitoring family (seq_anomaly / seq_changepoint /
    * seq_periodicity) stops short of: level/trend state
    * l ← αy + (1−α)(l+b), b ← β(l−l_prev) + (1−β)b with α = 0.5,
    * β = 0.3, seeded l₁ = y₁, b₁ = y₂−y₁, plus the h = 1 and h = 7
    * step-ahead forecasts l + h·b.
    *
    * Scale shape: the corpus-sized pass is the (type, day) two-phase
    * count; the fold is SEQUENTIAL PER SERIES but parallel across
    * series (`groupByKey(type).flatMapGroups` — the MMR posture), each
    * group bounded by the time span in days, never the event count.
    * Series shorter than 2 days emit nothing (the seed needs y₂) —
    * identically in both engines, where the oracle's recursive-CTE
    * seed join drops them.
    *
    * Determinism: every step's level/trend quantize to the 1e-9 grid
    * (the trend update nests the NEW level's quantized value — the
    * oracle spells the same nested expression), outputs at 1e-6; the
    * oracle replays the fold with a recursive CTE keyed on the
    * row-number time index. */
  private[graft] def forecastHoltOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def r9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
      .as[HoltDay]
      .groupByKey(_.event_type)
      .flatMapGroups { (k, it) =>
        val ys = it.toArray.sortBy(_.day).map(_.y)
        if (ys.length < 2) Iterator.empty
        else {
          var l = ys(0)
          var b = ys(1) - ys(0)
          ys.drop(1).foreach { y =>
            val lNew = r9(0.5 * y + 0.5 * (l + b))
            b = r9(0.3 * (lNew - l) + 0.7 * b)
            l = lNew
          }
          Iterator.single(HoltFc(k, ys.length.toLong, r6(l), r6(b),
            r6(l + b), r6(l + 7 * b)))
        }
      }
      .toDF()
      .orderBy("event_type")
  }

  val seqForecastHolt: Q = (s, dir) =>
    forecastHoltOf(Tables.events(s, dir).select("event_type", "ts"))

  /** Holt-Winters additive seasonal forecast (Winters 1960; Holt 1957)
    * — [[forecastHoltOf]]'s upgrade for series with a weekly cycle
    * (any traffic/DAU series has one): level + trend + a 7-slot
    * additive seasonal vector, α = .5, β = .3, γ = .3, initialized
    * from the first two weeks (level = week-1 mean, trend =
    * (week-2 − week-1 mean)/7, seasonal_i = y_i − level — the
    * classical two-season init). Forecast h steps = level + h·trend +
    * seasonal[(n+h−1) mod 7]. Series shorter than two seasons emit
    * nothing (the init is undefined).
    *
    * Scale shape: [[forecastHoltOf]]'s exactly — the fold is
    * sequential PER SERIES but parallel across series, so
    * `groupByKey(type).flatMapGroups` over the (type, day)
    * PRE-AGGREGATED frame (groups bounded by calendar days, never
    * event count; the corpus-sized pass is the one two-phase count).
    *
    * Determinism: daily counts are integer-valued doubles (exact
    * sums), and every update (level/trend/seasonal slot) quantizes at
    * 1e-9 before the next step — the oracle replays the identical
    * trajectory in a recursive CTE carrying the seasonal vector as a
    * LIST, updating one slot per step with the same repeated-
    * expression arithmetic. */
  private[graft] def holtWintersOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def r9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
      .as[HoltDay]
      .groupByKey(_.event_type)
      .flatMapGroups { (k, it) =>
        val ys = it.toArray.sortBy(_.day).map(_.y)
        val n = ys.length
        if (n < 14) Iterator.empty
        else {
          val sum1 = ys.slice(0, 7).sum  // exact: integer-valued doubles
          val sum2 = ys.slice(7, 14).sum
          var l = r9(sum1 / 7.0)
          var b = r9((sum2 - sum1) / 49.0)
          val s = Array.tabulate(7)(i => r9(ys(i) - l))
          var t = 0
          while (t < n) {
            val idx = t % 7
            val lNew = r9(0.5 * (ys(t) - s(idx)) + 0.5 * (l + b))
            b = r9(0.3 * (lNew - l) + 0.7 * b)
            s(idx) = r9(0.3 * (ys(t) - lNew) + 0.7 * s(idx))
            l = lNew
            t += 1
          }
          Iterator.single(HwFc(k, n.toLong, r6(l), r6(b),
            r6(s.max - s.min),
            r6(l + b + s(n % 7)),
            r6(l + 7 * b + s((n + 6) % 7))))
        }
      }
      .toDF()
      .orderBy("event_type")
  }

  val seqHoltWinters: Q = (s, dir) =>
    holtWintersOf(Tables.events(s, dir).select("event_type", "ts"))

  /** Mann-Kendall trend test per event-type daily series (Mann 1945;
    * Kendall 1975) — the nonparametric "is this metric drifting"
    * monitor every long-running pipeline wants beside [[seqAnomaly]]'s
    * point z-score and [[seqChangepoint]]'s CUSUM: S = Σ_{i<j}
    * sign(y_j − y_i) over the daily counts, tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 (counts
    * data ties constantly — the correction is load-bearing, not
    * decorative), continuity-corrected z, and the 5%-level trend call.
    *
    * Scale shape: ONE corpus-sized pass (the two-phase (type, day)
    * count); the pairwise S is a self-join of the PRE-AGGREGATED daily
    * frame with itself — days² pairs bounded by the calendar span,
    * never by event count — and the tie term is a (type, y) count over
    * the same bounded frame. Types with a single day have no pair and
    * drop in BOTH engines (inner join on the pair aggregate).
    *
    * Determinism: S and the tie term are exact integer sums; var_s
    * quantizes at 1e-6 before the sqrt, z at 1e-6 after it, so the
    * 1.96 trend boundary has no float edge. */
  private[graft] def mannKendallOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
    val a = daily.select(col("event_type"),
      col("day").as("day_a"), col("y").as("y_a"))
    val b = daily.select(col("event_type"),
      col("day").as("day_b"), col("y").as("y_b"))
    val sStat = a.join(b, Seq("event_type"))
      .filter(col("day_a") < col("day_b"))
      .groupBy("event_type")
      .agg(sum(signum(col("y_b") - col("y_a"))).cast("long").as("s_stat"))
    val nDays = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy("event_type", "y")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
        .as("tie_term"))
    nDays.join(sStat, "event_type").join(ties, "event_type")
      .select(col("event_type"), col("n_days"), col("s_stat"),
        dround((col("n_days") * (col("n_days") - 1)
            * (lit(2L) * col("n_days") + 5) - col("tie_term"))
          .cast("double") / 18.0, 6).as("var_s"))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var_s"),
        dround(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)), 6).as("z"))
      .withColumn("trend", when(col("z") > 1.96, lit("increasing"))
        .when(col("z") < -1.96, lit("decreasing"))
        .otherwise(lit("none")))
      .orderBy("event_type")
  }

  val seqMannKendall: Q = (s, dir) =>
    mannKendallOf(Tables.events(s, dir).select("event_type", "ts"))

  /** Theil-Sen robust trend line per event-type daily series (Theil
    * 1950; Sen 1968) — the slope ESTIMATE beside [[mannKendallOf]]'s
    * significance CALL (the classical pairing: MK says whether, Sen
    * says how fast): slope = median of all pairwise day-rate slopes
    * (breakdown point 29%, immune to the spikes [[seqAnomaly]] flags),
    * intercept = median(y) − slope · median(day).
    *
    * Scale shape: [[mannKendallOf]]'s exactly — the pairwise slopes
    * come off the same bounded pre-aggregated self-join, and the
    * medians are exact interpolating percentiles over days- or
    * pairs-sized frames (the agg_percentile cross-engine precedent).
    *
    * Determinism: each pairwise slope quantizes at 1e-9; the even-count
    * median midpoint is the same IEEE (a+b)/2 in both engines; slope
    * and intercept round at 1e-6. */
  private[graft] def theilSenOf(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
    val a = daily.select(col("event_type"),
      col("day").as("day_a"), col("y").as("y_a"))
    val b = daily.select(col("event_type"),
      col("day").as("day_b"), col("y").as("y_b"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("day_a") < col("day_b"))
      .select(col("event_type"),
        dround((col("y_b") - col("y_a"))
          / (col("day_b") - col("day_a")).cast("double"), 9).as("sl"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(sl, 0.5)").as("slope_med"))
    val meds = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(y, 0.5)").as("y_med"),
        expr("percentile(day, 0.5)").as("day_med"))
    meds.join(slopes, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        dround(col("slope_med"), 6).as("slope"),
        dround(col("y_med") - col("slope_med") * col("day_med"), 6)
          .as("intercept"))
      .orderBy("event_type")
  }

  val seqTheilSen: Q = (s, dir) =>
    theilSenOf(Tables.events(s, dir).select("event_type", "ts"))

  /** Winsorized metric mean per event type — the outlier-capping
    * preprocessing every experimentation platform applies before the
    * mean that [[seqCuped]]/[[seqDid]] then difference (a single whale
    * user otherwise owns the treatment effect): values clamp to the
    * type's own [p01, p99] band, and the output carries both means plus
    * the capped-tail counts so the analyst sees HOW MUCH the cap moved.
    *
    * Scale shape: one two-phase percentile aggregate over the corpus
    * (bounded output: one row per type), broadcast back into a
    * single-pass clamp + mean — two corpus passes, no window, no sort.
    *
    * Determinism: the percentile bounds are exact interpolating
    * percentiles (the agg_percentile precedent) and the clamp compares
    * raw doubles against those exact bounds; both means ride the
    * [[davg]] quantized-sum discipline, the reported bounds round at
    * 1e-6 AFTER the clamp used the exact values. */
  private[graft] def winsorizedMeanOf(events: DataFrame): DataFrame = {
    val vals = events.select(col("event_type"), col("value"))
    val bounds = vals.groupBy("event_type").agg(
      expr("percentile(value, 0.01)").as("p01"),
      expr("percentile(value, 0.99)").as("p99"))
    vals.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("value"), col("p01"), col("p99"),
        least(greatest(col("value"), col("p01")), col("p99")).as("w"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        davg(col("value"), 6).as("raw_mean"),
        davg(col("w"), 6).as("wins_mean"),
        sum(when(col("value") < col("p01"), 1L).otherwise(0L)).as("n_cap_lo"),
        sum(when(col("value") > col("p99"), 1L).otherwise(0L)).as("n_cap_hi"),
        dround(min(col("p01")), 6).as("p01"),
        dround(min(col("p99")), 6).as("p99"))
      .orderBy("event_type")
  }

  val seqWinsorizedMean: Q = (s, dir) =>
    winsorizedMeanOf(Tables.events(s, dir).select("event_type", "value"))

  /** STL-lite seasonal decomposition (Cleveland et al. 1990's
    * trend/seasonal/remainder split, with moving-average smoothers in
    * place of loess so both engines replay it exactly): per series,
    * trend = centered 7-day moving average of the daily count,
    * seasonal = the day-of-week mean of the detrended series,
    * residual = what's left. The pipeline read: a residual spike is an
    * anomaly AFTER the weekly cycle is explained away — the complement
    * of [[seqAnomaly]]'s plain z-score.
    *
    * Scale shape: one corpus-sized two-phase (type, day) count; the
    * MA window and the dow means run over the CALENDAR-BOUNDED
    * (types × days) frame — bounded at any corpus size.
    *
    * Determinism: daily counts are integer-valued doubles, so the
    * ≤ 7-term window sums are exact in both engines; trend quantizes
    * at 1e-6, dow means use the dsum(6)/count shape, and the residual
    * is a chain of already-quantized values. */
  private[graft] def stlDecomposeOf(events: DataFrame): DataFrame = {
    val dc = events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("y"))
    val wMa = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val trended = dc
      .withColumn("trend", dround(avg(col("y")).over(wMa), 6))
      .withColumn("dow", pmod(col("day"), lit(7)))
      .withColumn("d", col("y") - col("trend"))
    val seas = trended.groupBy("event_type", "dow")
      .agg((dsum(col("d"), 6) / count(lit(1))).as("seasonal_raw"))
      .select(col("event_type"), col("dow"),
        dround(col("seasonal_raw"), 6).as("seasonal"))
    trended.join(seas, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("y"), col("trend"),
        col("seasonal"),
        dround(col("y") - col("trend") - col("seasonal"), 6).as("resid"))
      .orderBy("event_type", "day")
  }

  val seqStlDecompose: Q = (s, dir) =>
    stlDecomposeOf(Tables.events(s, dir).select("event_type", "ts"))

  /** Entropy rate of the user-behavior Markov chain (Shannon 1948 §7;
    * the sequence-predictability summary next-action models are judged
    * against): with [[seqTransitions]]' empirical first-order matrix,
    * each FROM-state contributes share(i) · H(i) where H(i) =
    * −Σ_j p(j|i)·ln p(j|i) and share(i) is the state's fraction of all
    * transitions. Low rate = rigid, predictable journeys; a rising
    * rate release-over-release means behavior is fragmenting.
    *
    * Scale shape: the lag runs over the user-partitioned window (one
    * user_id shuffle, the [[seqTransitions]] posture); everything
    * after operates on the ≤ #types² transition frame — bounded,
    * window-free (group totals by join, not sum-over).
    *
    * Determinism: probabilities quantize at 1e-9 before the log, each
    * p·ln p term at 1e-9 before the exact sum, shares and the final
    * contribution at 1e-6. */
  private[graft] def entropyRateOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val trans = events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
    val tots = trans.groupBy("prev").agg(sum(col("cnt")).as("tot"))
    val grand = tots.agg(sum(col("tot")).as("n_trans"))
    trans.join(broadcast(tots), "prev")
      .select(col("prev"),
        dround(col("cnt").cast("double") / col("tot"), 9).as("p"),
        col("tot"))
      .groupBy("prev", "tot")
      .agg(dsum(-col("p") * org.apache.spark.sql.functions.log(col("p")), 9)
        .as("entropy_raw"))
      .crossJoin(broadcast(grand))
      .select(col("prev"), col("tot").as("n_out"),
        dround(col("tot").cast("double") / col("n_trans"), 6).as("share"),
        dround(col("entropy_raw"), 6).as("entropy_nats"),
        dround(col("tot").cast("double") / col("n_trans")
          * col("entropy_raw"), 6).as("rate_contrib"))
      .orderBy("prev")
  }

  val seqEntropyRate: Q = (s, dir) =>
    entropyRateOf(Tables.events(s, dir)
      .select("user_id", "event_id", "ts", "event_type"))

  /** Inter-arrival latency profile per event type — the quantile
    * companion to [[seqBurstiness]]' CV (capacity planning wants the
    * p99 gap, not just the dispersion ratio): exact interpolated
    * p50/p90/p99 of the within-(user, type) arrival gaps in seconds.
    *
    * Scale shape: [[seqBurstiness]]' exactly — gaps from per-(user,
    * type) windows (never a per-type global ordering, which would
    * funnel a fifth of the corpus through one sort task), then one
    * exact-percentile agg per type over the gap stream (the
    * `agg_percentile` idiom — Spark's `percentile` ≡ DuckDB's
    * `quantile_cont`, both exact interpolated). */
  val seqInterarrival: Q = (s, dir) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("tsu", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("gap_us", col("tsu") - lag("tsu", 1).over(w))
      .withColumn("gap_s", expr("gap_us DIV 1000000"))
      .filter(col("gap_s").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        dround(expr("percentile(gap_s, 0.5)"), 6).as("p50_s"),
        dround(expr("percentile(gap_s, 0.9)"), 6).as("p90_s"),
        dround(expr("percentile(gap_s, 0.99)"), 6).as("p99_s"))
      .orderBy("event_type")
  }

  /** Next-event predictability of the first-order Markov model — the
    * modal-transition accuracy ([[seqTransitions]]' matrix turned into
    * the eval every next-action model must beat: predicting the modal
    * next state per FROM-state, what share of real transitions does it
    * hit?). The [[entropyRateOf]] sibling in accuracy units.
    *
    * Scale shape: the lag's one user_id shuffle; the argmax is the
    * window-free min(struct(−cnt, next)) two-phase agg over the
    * ≤ #types² transition frame (the reshaped-boilerplate idiom) and
    * accuracy one quantized division against the per-state total. */
  val seqMarkovPrediction: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("cnt"))
    val tots = trans.groupBy("prev").agg(sum(col("cnt")).as("tot"))
    trans.groupBy("prev")
      .agg(min(struct((-col("cnt")).as("nc"), col("next").as("nx"))).as("best"))
      .join(broadcast(tots), "prev")
      .select(col("prev"), col("tot").as("n_out"),
        col("best.nx").as("modal_next"), (-col("best.nc")).as("modal_cnt"),
        dround(-col("best.nc") * lit(1.0) / col("tot"), 6).as("accuracy"))
      .orderBy("prev")
  }

  /** Markov removal-effect attribution (Anderl, Becker, v. Wangenheim
    * & Schumann 2014) — the data-driven upgrade of [[attributionOf]]'s
    * heuristic linear/last-touch models: journeys become a first-order
    * Markov chain over touch channels with absorbing `conv`/`null`
    * states, a channel's credit is its REMOVAL EFFECT (how much the
    * start→conv absorption probability drops when every transition
    * into the channel is redirected to `null`), and the conversion
    * value is shared ∝ removal effects. Absorption probabilities are
    * the 12-step truncated fixed point p ← T·p (p(conv) ≡ 1,
    * p(null) ≡ 0) — BOTH engines run the identical truncation, so the
    * compare is exact, not convergence-dependent.
    *
    * Scale shape: the ONLY corpus-sized work is the journey
    * segmentation (one user-partitioned window pass) and the
    * transition count (two-phase); everything after — the probability
    * rows, the 5-variant removal grid (none + 4 channels), and all 12
    * fixed-point steps — is O((#channels+3)²) scalar math over the
    * COLLECTED transition matrix, a bounded model artifact (the
    * pcaProjectOf covariance boundary; the in-plan alternative is
    * measured and rejected in the body comment). The oracle replays
    * the same 12 steps as MATERIALIZED CTEs.
    *
    * Determinism: transition probabilities and every step's sums
    * quantize at 1e-9 ([[dsum]]/[[dround]]); purchase value in exact
    * cents; share and attributed value spelled from the same raw
    * ratio in both engines. */
  private[graft] def attributionMarkovOf(events: DataFrame,
      steps: Int = 12): DataFrame = {
    val spark = events.sparkSession
    val ev = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tsu"), col("event_type"), col("value"))
    val wUser = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val j = ev.withColumn("jid",
      coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .over(wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wJ = Window.partitionBy("user_id", "jid").orderBy("tsu", "event_id")
    val tch = j.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("jid"), col("tsu"), col("event_id"),
        col("event_type"),
        lag("event_type", 1).over(wJ).as("prv"),
        row_number().over(wJ).as("rn"),
        count(lit(1)).over(Window.partitionBy("user_id", "jid")).as("cnt"))
    val pur = j.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("jid"),
        floor(col("value") * 100.0 + lit(0.5)).cast("long").as("cents"))
    val internal = tch.select(
      coalesce(col("prv"), lit("start")).as("frm"), col("event_type").as("nxt"))
    val terminal = tch.filter(col("rn") === col("cnt"))
      .join(pur.select(col("user_id"), col("jid"), lit(1).as("cv")),
        Seq("user_id", "jid"), "left")
      .select(col("event_type").as("frm"),
        when(col("cv").isNull, lit("null")).otherwise(lit("conv")).as("nxt"))
    val emptyConv = pur
      .join(tch.select("user_id", "jid").distinct(),
        Seq("user_id", "jid"), "left_anti")
      .select(lit("start").as("frm"), lit("conv").as("nxt"))
    val bc = internal.unionByName(terminal).unionByName(emptyConv)
      .groupBy("frm", "nxt").agg(count(lit(1)).as("c"))
    val bp = bc
      .withColumn("tot", sum("c").over(Window.partitionBy("frm")))
      .select(col("frm"), col("nxt"),
        dround(col("c") * lit(1.0) / col("tot"), 9).as("p"))
    // The transition matrix is a MODEL ARTIFACT — ≤ (#channels+3)² rows
    // at ANY corpus scale — so collecting it is the pcaProjectOf
    // covariance / bpeTrainOf merge-table boundary, not a data collect.
    // The first cut ran the fixed point in-plan (12 joins over the tiny
    // variant grid): 15.8 s at sf0.1 — 12 sequential tiny stages plus
    // re-planned transition lineage — vs ~1 s with the same quantized
    // arithmetic driver-side; the oracle's unrolled MATERIALIZED CTEs
    // replay either shape bit-for-bit (long sums are order-exact, each
    // double op IEEE-identical).
    // …but nothing about the INPUT enforces that bound: a hostile
    // corpus with data-sized `event_type` cardinality would OOM the
    // driver silently. Cap it loudly (r18 verdict nit): collect through
    // limit(maxRows+1) — ONE job, driver memory bounded at maxRows+1
    // rows even when the input violates the contract — and require the
    // limit was not hit. 64 channels is an order of magnitude above any
    // real attribution taxonomy.
    val maxChannels = 64
    val maxRows = (maxChannels + 3) * (maxChannels + 3)
    val collected = bp.limit(maxRows + 1).collect()
    require(collected.length <= maxRows,
      s"attribution transition matrix exceeds $maxRows rows " +
        s"(> $maxChannels distinct event types?) — event_type must be a " +
        "bounded channel taxonomy, not a data-sized column")
    val base = collected.map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    // The channel universe is DERIVED from the observed transitions (every
    // touch event appears as some transition's target, so this is exactly
    // the set of non-purchase event types present) — a hardcoded list
    // would silently zero-credit an unlisted channel while its
    // transitions still shaped the matrix (r18 review finding).
    val channels = base.flatMap(t => Seq(t._1, t._2)).distinct
      .filterNot(Set("start", "conv", "null")).sorted
    require(channels.length <= maxChannels,
      s"${channels.length} distinct event types exceed the $maxChannels-" +
        "channel cap — event_type must be a bounded channel taxonomy, " +
        "not a data-sized column")
    def q9l(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong
    val pStart = ("none" +: channels).map { v =>
      val tvv = base
        .map { case (frm, nxt, p) => (frm, if (nxt == v) "null" else nxt, p) }
        .groupBy(t => (t._1, t._2))
        .map { case ((frm, nxt), rs) =>
          (frm, nxt, rs.map(r => q9l(r._3)).sum / 1e9) }
        .toSeq
      var pk = Map.empty[String, Double]
      for (_ <- 1 to steps) {
        val pa = pk ++ Map("conv" -> 1.0, "null" -> 0.0)
        pk = tvv.filter(t => pa.contains(t._2))
          .groupBy(_._1)
          .map { case (frm, rs) =>
            frm -> rs.map(t => q9l(t._3 * pa(t._2))).sum / 1e9 }
      }
      v -> pk.getOrElse("start", 0.0)
    }.toMap
    val pBase = pStart("none")
    val reRows = channels.map { c =>
      (c, pStart(c), pBase,
        math.floor((pBase - pStart(c)) * 1e9 + 0.5) / 1e9)
    }
    val reTot = reRows.map(r => q9l(r._4)).sum / 1e9
    import spark.implicits._
    val re = reRows.toDF("channel", "p_removed", "p_base", "re")
      .withColumn("re_tot", lit(reTot))
    val vt = pur.agg(sum(col("cents")).as("vc"))
    val shareRaw = when(col("re_tot") <= 0, lit(0.0))
      .otherwise(col("re") / col("re_tot"))
    re.crossJoin(broadcast(vt))
      .select(col("channel"),
        dround(col("p_base"), 6).as("p_base"),
        dround(col("p_removed"), 6).as("p_removed"),
        dround(col("re"), 6).as("removal_effect"),
        dround(shareRaw, 6).as("share"),
        dround(shareRaw * (col("vc") / lit(100.0)), 2).as("attributed_value"))
      .orderBy("channel")
  }

  val seqAttributionMarkov: Q = (s, dir) =>
    attributionMarkovOf(Tables.events(s, dir)
      .select("user_id", "event_id", "ts", "event_type", "value"))

  /** Per-user daily-activity anomaly flags (the monitoring staple behind
    * abuse detection and pipeline drift alerts): bucket events into
    * integer days per user, then flag days whose count sits more than
    * 2σ above that user's own mean — each user is their own baseline,
    * so a chatty user's normal day doesn't alarm while a quiet user's
    * burst does.
    *
    * Cross-engine determinism: mean and variance come from EXACT integer
    * sums (n, Σcnt, Σcnt²) — never a Welford single-pass stddev, whose
    * accumulation order differs between engines — and the z-score is one
    * fixed-shape chain of IEEE double ops quantized at 1e-6 before the
    * threshold compare. `greatest(·, 0)` guards the all-equal-counts
    * cell where Σcnt²/n − mean² rounds to −ε (sqrt would NaN).
    *
    * Scale shape: (user, day) counts on their own key's shuffle; the
    * per-user stats frame is users-sized and joins back on user_id (AQE
    * picks broadcast when it fits); flagged rows only. No windows over
    * the raw event stream, no global sort; skew bounded by the busiest
    * user's day count. */
  val seqAnomaly: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val d = Tables.events(s, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
    val st = d.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum("cnt").as("s"),
      sum(col("cnt") * col("cnt")).as("q"))
    d.join(st, "user_id")
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("sd", sqrt(greatest(
        col("q").cast("double") / col("n") - col("mean") * col("mean"),
        lit(0.0))))
      .filter(col("sd") > 0.0)
      .withColumn("z", dround((col("cnt") - col("mean")) / col("sd"), 6))
      .filter(col("z") > 2.0)
      .select(col("user_id"), col("day"), col("cnt"),
        dround(col("mean"), 6).as("mean_cnt"), col("z"))
      .orderBy("user_id", "day")
  }

  /** CUSUM changepoint detection on daily event volume (Page 1954; the
    * level-shift drift monitor behind "did ingestion break on day X"):
    * cumulative sum of per-day deviations from the corpus mean — a
    * sustained level shift makes |CUSUM| peak AT the shift day, where
    * per-day z-scores (seq_anomaly) only see isolated spikes. The
    * flagged day is the interior argmax of |CUSUM|.
    *
    * Cross-engine determinism: day counts are exact integers; mean is
    * one double division; each day's deviation quantizes to a LONG
    * before the running sum (the dsum idiom applied to a window —
    * engines disagree on windowed-float accumulation order: DuckDB may
    * use a segment tree where Spark accumulates sequentially, and long
    * sums are order-free); ranking uses the quantized |CUSUM| with a
    * day tie-break, so the argmax is engine-identical.
    *
    * Scale shape: the heavy pass is ONE two-phase (day) count over the
    * event stream; every window after that runs on the #days-sized
    * aggregate frame (the seq_transitions posture) — a single partition
    * of a few thousand rows at any corpus scale, never the raw events. */
  val seqChangepoint: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val d = Tables.events(s, dir)
      .select(expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val withMean = d.crossJoin(broadcast(
      d.agg((sum("cnt").cast("double") / count(lit(1))).as("mean"))))
    val byDay = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val devQ = floor((col("cnt") - col("mean")) * 1e6 + lit(0.5)).cast("long")
    val cum = withMean
      .withColumn("cusum",
        sum(devQ).over(byDay).cast("double") / 1e6)
    val byPeak = Window.orderBy(abs(col("cusum")).desc, col("day"))
    cum
      .withColumn("is_changepoint", rank().over(byPeak) === 1)
      .select(col("day"), col("cnt"), dround(col("mean"), 6).as("mean_cnt"),
        col("cusum"), col("is_changepoint"))
      .orderBy("day")
  }

  /** Daily-volume periodicity scan — lag-k autocorrelation of the day
    * count series for k = 1..7 (a weekly cycle peaks at lag 7; flat
    * correlations mean arrival noise): `r_k = Σ d_t·d_{t+k} / Σ d_t²`
    * over mean-centered deviations. Calendar lags (day + k, gap days
    * drop the pair) — never positional lead/lag, which would silently
    * misalign across missing days.
    *
    * Cross-engine determinism: deviations quantize to LONGS (1e3) before
    * any product, so numerator and denominator are exact integer sums in
    * both engines; one quantized division per lag. At corpus scale,
    * normalize counts to fractions of the total first — the deviations
    * here are fixture-count-sized, keeping d²·#days inside a long.
    *
    * Scale shape: one two-phase day count over events; everything after
    * runs on the #days-sized frame (a 7-way broadcast lag expansion and
    * one self-join on the day key). */
  val seqPeriodicity: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val d = Tables.events(s, dir)
      .select(expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .groupBy("day").agg(count(lit(1)).as("cnt"))
    val dev = d.crossJoin(broadcast(
        d.agg((sum("cnt").cast("double") / count(lit(1))).as("mean"))))
      .select(col("day"),
        floor((col("cnt") - col("mean")) * 1e3 + lit(0.5)).cast("long")
          .as("dev"))
    val ss = dev.agg(sum(col("dev") * col("dev")).as("ss"))
    val lags = d.sparkSession.range(1, 8).toDF("lag")
    dev.crossJoin(broadcast(lags))
      .select(col("lag"), (col("day") + col("lag")).as("day2"),
        col("dev").as("dev_a"))
      .join(dev.select(col("day").as("day2"), col("dev").as("dev_b")), "day2")
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dev_a") * col("dev_b")).as("num"))
      .crossJoin(broadcast(ss))
      .select(col("lag"), col("n_pairs"),
        dround(col("num").cast("double") / col("ss"), 6).as("autocorr"))
      .orderBy("lag")
  }

  /** Rolling engagement (DAU/WAU/stickiness — the product-health
    * metric triple): per active day, the distinct users that day, the
    * distinct users over the trailing 7 days, and their ratio. The
    * trailing-window DISTINCT is the interesting shape: a naive
    * per-day COUNT(DISTINCT) over a 7-day range frame re-scans each
    * user row 7 times AND holds per-frame dedup state; instead each
    * (user, day) activity row emits 7 forward "active-week" markers
    * (day..day+6), one dedup on the marker key, one count — linear
    * 7× expansion of the already-deduped activity frame, two-phase
    * all the way, no windows.
    *
    * Scale shape: the activity frame dedups on its own key; markers
    * shuffle on (user, wday); both counts are two-phase on day keys.
    * Skew bounded by the busiest day's user count. */
  val seqDauWau: Q = (s, dir) => {
    val DayUs = 86400L * 1000000L
    val ud = Tables.events(s, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $DayUs").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
      .groupBy("wday").agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("wday"))
      .select(col("day"), col("dau"), col("wau"),
        dround(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Per-user behavioral surprise under the corpus transition model —
    * the per-entity anomaly score [[seqTransitions]]' matrix exists to
    * power: each user's mean −log₂ P(next | prev) over their own
    * adjacent event pairs. A user whose transitions are globally rare
    * scores high (bot/abuse signature); template-following users score
    * low. The log2 is the INTEGER bin-length idiom (bits =
    * len(bin(tot)) − len(bin(cnt)) — libm-free, bit-exact in both
    * engines; the lm_quality arithmetic applied to behavior).
    *
    * Scale shape: one lag window on the user_id shuffle (shared shape
    * with seq_transitions), counts over the ≤ #types² transition frame,
    * the bits table broadcast back onto the adjacency stream, one
    * two-phase per-user agg. */
  val seqUserSurprise: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val adj = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("prev"), col("event_type").as("next"))
    val counts = adj.groupBy("prev", "next").agg(count(lit(1)).as("cnt"))
      .withColumn("tot",
        sum("cnt").over(Window.partitionBy("prev"))) // ≤ #types² frame
    val bits = counts.select(col("prev"), col("next"),
      (length(bin(col("tot"))) - length(bin(col("cnt")))).as("bits"))
    adj.join(broadcast(bits), Seq("prev", "next"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_trans"),
        dround(sum("bits").cast("double") / count(lit(1)), 6).as("avg_bits"))
      .orderBy("user_id")
  }

  /** Activity concentration (Gini coefficient over per-user event
    * counts — the "do 1% of users generate 90% of traffic?" audit
    * behind rate-limit budgeting and skew planning; a high Gini also
    * predicts hot-key trouble for every user-partitioned operator in
    * this module): `G = 2·Σ rᵢxᵢ/(n·Σx) − (n+1)/n` over counts ranked
    * ascending with a user_id tie-break (a pinned total order — the
    * tie-averaged textbook variant is engine-unstable).
    *
    * Scale shape: per-user counts on the user_id shuffle; the global
    * rank is [[decomposedRank]]'s bucket decomposition (local
    * windows + one bounded bucket-offset frame — never a corpus-wide
    * window); Σx is an exact long sum, Σrx accumulates in decimal(38,0)
    * (rnk·cnt alone can exceed int64 once n_users passes ~10⁹ — ANSI-on
    * Spark would throw on the long product while the DuckDB oracle sums
    * in hugeint; decimal keeps both engines exact to the same integer
    * before the one double division), G one quantized expression. The
    * oracle ranks with a plain row_number — the independent
    * derivation. */
  val seqGini: Q = (s, dir) => {
    val cnts = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val ranked = decomposedRank(
        cnts.select(col("user_id").as("doc_id"), col("cnt").as("sq")), 4)
      .join(cnts.select(col("user_id").as("doc_id"), col("cnt")), "doc_id")
    ranked.agg(count(lit(1)).as("n"), sum("cnt").as("t"),
        sum((col("rnk").cast("decimal(38,0)") * col("cnt"))).as("s"))
      .select(col("n").as("n_users"), col("t").as("total_events"),
        dround(lit(2.0) * col("s").cast("double")
          / (col("n").cast("double") * col("t").cast("double"))
          - (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
  }

  /** Arrival burstiness per event type — the coefficient of variation
    * of inter-arrival gaps (CV = 1 ⇒ Poisson arrivals; CV ≫ 1 ⇒ bursty
    * — the signature that breaks rate-limit sizing and makes
    * watermark-lateness budgets wrong): gaps measured WITHIN each
    * (user, type) stream — per-user windows, never a per-type global
    * ordering (5 type partitions holding every event each would be the
    * skew anti-pattern at 100 TB) — then one moments agg per type.
    *
    * Cross-engine determinism: gaps quantize to integer SECONDS before
    * the moment sums (µs² products would overflow a long at realistic
    * gap sizes), the seq_anomaly exact-moments shape; CV is one
    * quantized expression with the greatest(·,0) −ε guard. */
  val seqBurstiness: Q = (s, dir) => {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("tsu", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("gap_us", col("tsu") - lag("tsu", 1).over(w))
      // integer division (the seq_concurrency lesson: `/` is a double
      // divide in Spark and could misbucket vs DuckDB's `//`)
      .withColumn("gap_s", expr("gap_us DIV 1000000"))
      .filter(col("gap_s").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_s").as("sg"),
        sum(col("gap_s") * col("gap_s")).as("qg"))
      .withColumn("mean_s", col("sg").cast("double") / col("n_gaps"))
      .withColumn("cv", dround(
        sqrt(greatest(col("qg").cast("double") / col("n_gaps")
          - col("mean_s") * col("mean_s"), lit(0.0))) / col("mean_s"), 6))
      .select(col("event_type"), col("n_gaps"),
        dround(col("mean_s"), 6).as("mean_gap_s"), col("cv"),
        (col("cv") > 1.0).as("bursty"))
      .orderBy("event_type")
  }

  /** Kaplan–Meier survival + Nelson–Aalen cumulative hazard for
    * time-to-conversion (Kaplan & Meier 1958; Aalen 1978) — the
    * attribution-window statistic product analytics runs daily: per
    * user, hours from first event to first `purchase`, observed inside
    * a 48-hour horizon; a user whose first purchase falls outside it
    * (or never happens) is RIGHT-CENSORED at the horizon — their true
    * conversion time is only known to exceed 48 h, so dropping them
    * would bias survival down and counting them as converted would
    * bias it up; handling that is the whole point of KM.
    * S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ): dᵢ conversions at hour tᵢ, nᵢ
    * at-risk (observed time ≥ tᵢ, censored included until the horizon
    * — the deaths-before-censorings tie convention).
    *
    * Scale/determinism: corpus-sized work is ONE per-user min/
    * min-conditional agg; everything after runs on the hour frame,
    * bounded by the horizon (49 rows) at ANY user count. The at-risk
    * suffix sum, the hazard cumulation, and the log-survival
    * cumulation are windows over that bounded frame; log terms
    * quantize to 1e-9 longs before the exact long cumsum (the
    * [[graft.queries.dsum]] rule) so float order cannot drift, and a
    * d = n terminal row (survival exactly 0) short-circuits BEFORE
    * ln(0) — both engines would otherwise cast ±∞ differently. */
  val seqSurvival: Q = (s, dir) => {
    val HourUs = 3600L * 1000000L
    val horizon = 48L
    val per = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_type"))
      .groupBy("user_id")
      .agg(min(col("tsu")).as("f"),
        min(when(col("event_type") === "purchase", col("tsu"))).as("p"))
    val byDur = per
      .withColumn("pd", expr(s"(p - f) DIV $HourUs"))
      .withColumn("cen", col("pd").isNull || col("pd") >= horizon)
      .withColumn("dur", when(col("cen"), lit(horizon)).otherwise(col("pd")))
      .groupBy("dur")
      .agg(sum(when(!col("cen"), 1L).otherwise(0L)).as("d"),
        sum(when(col("cen"), 1L).otherwise(0L)).as("c"))
    val wSfx = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n", sum(col("d") + col("c")).over(wSfx))
      .withColumn("term", when(col("d") > 0 && col("d") < col("n"),
        log(lit(1.0) - col("d").cast("double") / col("n").cast("double")))
        .otherwise(lit(0.0)))
      .withColumn("ql", sum(floor(col("term") * 1e9 + lit(0.5))
        .cast("long")).over(wCum))
      .withColumn("hz", max(when(col("d") === col("n"), 1).otherwise(0))
        .over(wCum))
      .withColumn("qh", sum(floor(col("d").cast("double")
        / col("n").cast("double") * 1e9 + lit(0.5)).cast("long")).over(wCum))
      .select(col("dur").as("dur_hours"), col("n").as("n_risk"),
        col("d").as("d_converted"), col("c").as("c_censored"),
        when(col("hz") === 1, lit(0.0))
          .otherwise(dround(exp(col("ql").cast("double") / 1e9), 6))
          .as("km_survival"),
        dround(col("qh").cast("double") / 1e9, 6).as("na_cum_hazard"))
      .orderBy("dur_hours")
  }

  /** Cohort lifetime-value curves — the revenue companion to
    * [[seqRetention]]'s activity counts: users cohorted by first-seen
    * week, purchase value accumulated by cohort age in weeks, reported
    * as cumulative LTV per cohort user. The curve family (one per
    * cohort) is what growth analytics reads payback periods and
    * cohort-quality drift from; a later cohort whose curve flattens
    * earlier is the canonical product-regression smell.
    *
    * Scale/determinism: purchase values quantize to exact cents
    * (floor(v·100+0.5) longs) BEFORE any summation, so the per-cell
    * totals are exact integers in both engines; corpus-sized work is
    * one (user, week) purchase agg + the user-keyed cohort equi-join
    * (standard shuffle shapes); the cumulation window partitions by
    * cohort over the (cohorts × ages) frame — bounded by the corpus
    * time span squared at ANY user count. Sparse cells (no purchases
    * for a cohort-age) stay absent; the cumulative sum is over
    * present cells ≤ age, identical in both engines. */
  val seqCohortLtv: Q = (s, dir) => {
    val WeekUs = 7L * 86400L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $WeekUs").as("wk"),
        col("event_type"), col("value"))
    val cohort = e.groupBy("user_id").agg(min(col("wk")).as("cw"))
    val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
    val buys = e.filter(col("event_type") === "purchase")
      .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
      .groupBy("user_id", "wk").agg(sum(col("cents")).as("cents"))
    val wCum = Window.partitionBy("cw").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    buys.join(cohort, "user_id")
      .withColumn("age", col("wk") - col("cw"))
      .groupBy("cw", "age")
      .agg(sum(col("cents")).as("cell_cents"),
        count(lit(1)).as("n_buyers"))
      .withColumn("cum_cents", sum(col("cell_cents")).over(wCum))
      .join(broadcast(sizes), "cw")
      .select(col("cw").as("cohort_week"), col("age").as("age_weeks"),
        col("n_cohort"), col("n_buyers"),
        (col("cum_cents").cast("double") / 100).as("cum_value"),
        dround(col("cum_cents").cast("double") / 100
          / col("n_cohort").cast("double"), 6).as("ltv_per_user"))
      .orderBy("cohort_week", "age_weeks")
  }

  /** Multi-touch conversion attribution — the marketing-analytics
    * staple over event journeys (Shao & Li, KDD 2011 frame it; every
    * product stack ships the model-free baselines): each purchase's
    * value is credited to the user's preceding view/click touches
    * within a 7-day lookback, under TWO standard models side by side —
    * linear (equal split across the window's touches) and last-touch
    * (all value to the latest touch, event_id tiebreak). Purchases
    * with an empty lookback window land in the `direct` bucket with
    * full value under both models, so value is conserved: Σ last =
    * Σ purchase value EXACTLY, and Σ linear matches at the 1e-6 output
    * grain (each per-touch share quantizes to 1e-6, so a value not
    * divisible by its touch count loses < n·1e-6 per purchase — e.g.
    * 10.00 over 3 touches sums to 9.999999; the spec pins the exact
    * last-touch identity and the linear one on divisible splits).
    *
    * Scale shape: one equi-join on user_id with the time-band
    * condition (the [[graft.streaming.Events]] interval-join shape —
    * state-boundable under watermarks in the streaming twin's terms);
    * per-purchase touch counts and the last-touch pick run in windows
    * PARTITIONED BY the purchase id — bounded by one user's 7-day
    * activity, never corpus-wide; the rollup is a two-phase agg on the
    * 3-row touch-type frame. Money quantizes to exact cents BEFORE any
    * division; the per-touch linear shares divide in doubles with an
    * identical operation order in both engines and sum 1e-6-quantized. */
  val seqAttribution: Q = (s, dir) =>
    attributionOf(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"), col("value")))

  /** Core of [[seqAttribution]] over an injectable
    * (user_id, event_id, tsu, event_type, value) frame. */
  private[graft] def attributionOf(e: org.apache.spark.sql.DataFrame,
      lookbackUs: Long = 604800000000L): org.apache.spark.sql.DataFrame = {
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("tsu").as("ptsu"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("tsu").as("ttsu"), col("event_type").as("touch_type"))
    val pairs = purchases.join(touches, Seq("user_id"))
      .filter(col("ttsu") < col("ptsu") &&
        col("ttsu") >= col("ptsu") - lookbackUs)
    val wN = Window.partitionBy("p_id")
    val wLast = Window.partitionBy("p_id")
      .orderBy(col("ttsu").desc, col("t_id").desc)
    val credited = pairs
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("rn", row_number().over(wLast))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        dsum(col("cents") / lit(100.0) / col("n"), 6).as("linear_value"),
        dsum(when(col("rn") === 1, col("cents") / lit(100.0))
          .otherwise(lit(0.0)), 6).as("last_touch_value"))
    val direct = purchases
      .join(pairs.select("p_id").distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"),
        dsum(col("cents") / lit(100.0), 6).as("linear_value"),
        dsum(col("cents") / lit(100.0), 6).as("last_touch_value"))
      .select(lit("direct").as("touch_type"), col("n_touches"),
        col("linear_value"), col("last_touch_value"))
    credited.unionByName(direct).orderBy("touch_type")
  }

  val defs: Seq[QueryDef] = Seq(
    // CUPED: exact cent longs per user, int128 moments for theta, one
    // double division, fixed-shape IEEE adjustment chain quantized at
    // 1e-6; md5-parity arms; pooled variance from the quantized sums.
    QueryDef("seq_cuped", seqCuped,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
         |        CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
         |      FROM events),
         |r AS (SELECT MIN(tsu) AS t0, MAX(tsu) AS t1 FROM e),
         |per AS (SELECT user_id,
         |    CAST(SUM(CASE WHEN tsu < t0 + (t1 - t0) // 2
         |      THEN vc ELSE 0 END) AS BIGINT) AS xc,
         |    CAST(SUM(CASE WHEN tsu >= t0 + (t1 - t0) // 2
         |      THEN vc ELSE 0 END) AS BIGINT) AS yc
         |  FROM e, r GROUP BY user_id),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(xc) AS HUGEINT) AS sx,
         |    CAST(SUM(yc) AS HUGEINT) AS sy,
         |    SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
         |    SUM(CAST(xc AS HUGEINT) * yc) AS sxy
         |  FROM per),
         |th AS (SELECT n, sx,
         |    CASE WHEN n * sxx - sx * sx <= 0 THEN 0.0
         |      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta
         |  FROM m),
         |b AS (SELECT user_id,
         |    (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
         |      % 2) AS arm,
         |    yc / 100.0 AS yu, theta,
         |    yc / 100.0 - theta
         |      * (xc / 100.0 - CAST(sx AS DOUBLE) / n / 100.0) AS yadj
         |  FROM per, th),
         |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    ${oSum("yu", 6)} AS sya, ${oSum("yadj", 6)} AS saa,
         |    MAX(theta) AS theta
         |  FROM b GROUP BY arm),
         |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
         |    ${oSum("yu", 6)} AS sy2, ${oSum("yu * yu", 6)} AS syy2,
         |    ${oSum("yadj", 6)} AS sa2, ${oSum("yadj * yadj", 6)} AS saa2
         |  FROM b)
         |SELECT arm, n_users,
         |  ${oRound("sya / n_users", 6)} AS mean_y,
         |  ${oRound("saa / n_users", 6)} AS mean_y_cuped,
         |  ${oRound("theta", 6)} AS theta,
         |  ${oRound("syy2 / nu - (sy2 / nu) * (sy2 / nu)", 6)} AS var_y,
         |  ${oRound("saa2 / nu - (sa2 / nu) * (sa2 / nu)", 6)} AS var_y_cuped
         |FROM g, v ORDER BY arm""".stripMargin),
    // SRM: distinct users -> md5-parity arms -> 2-row count, chi2 one
    // fixed-shape chain over exact longs at 1e-6.
    QueryDef("seq_srm", seqSrm,
      s"""WITH a AS (SELECT
         |    (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
         |      % 2) AS arm
         |  FROM (SELECT DISTINCT user_id FROM events)),
         |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(arm) AS BIGINT) AS n_treat FROM a),
         |x AS (SELECT n, n_treat, CAST(n AS DOUBLE) / 2.0 AS e FROM g)
         |SELECT n AS n_users, n_treat, n - n_treat AS n_ctrl,
         |  ${oRound("(n_treat - e) * (n_treat - e) / e" +
             " + ((n - n_treat) - e) * ((n - n_treat) - e) / e", 6)}
         |    AS chi2,
         |  (${oRound("(n_treat - e) * (n_treat - e) / e" +
             " + ((n - n_treat) - e) * ((n - n_treat) - e) / e", 6)}
         |    > 3.841) AS srm
         |FROM x""".stripMargin),
    // Power: control-arm post-period cents moments (Σy² HUGEINT), the
    // pinned 15.6979 two-sample constant, one fixed-shape chain, ceil.
    QueryDef("seq_power", seqPower,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
         |        CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
         |      FROM events),
         |r AS (SELECT MIN(tsu) AS t0, MAX(tsu) AS t1 FROM e),
         |per AS (SELECT user_id,
         |    CAST(SUM(CASE WHEN tsu >= t0 + (t1 - t0) // 2
         |      THEN vc ELSE 0 END) AS BIGINT) AS yc
         |  FROM e, r GROUP BY user_id),
         |ctl AS (SELECT yc FROM per
         |  WHERE (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
         |      % 2) = 0),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(yc) AS HUGEINT) AS sy,
         |    SUM(CAST(yc AS HUGEINT) * yc) AS syy FROM ctl),
         |s1 AS (SELECT n AS n_ctrl_users,
         |    ${oRound("CAST(sy AS DOUBLE) / n / 100.0", 6)} AS mean_y,
         |    ${oRound("CAST(n * syy - sy * sy AS DOUBLE)" +
             " / (CAST(n AS DOUBLE) * n) / 10000.0", 6)} AS var_y
         |  FROM m)
         |SELECT n_ctrl_users, mean_y, var_y,
         |  ${oRound("0.05 * mean_y", 6)} AS mde_abs,
         |  CAST(CEIL(15.6979 * var_y
         |    / ((0.05 * mean_y) * (0.05 * mean_y))) AS BIGINT)
         |    AS n_required_per_arm
         |FROM s1""".stripMargin),
    // DiD: the cuped per-user frame, 2-row cell agg, quantized means,
    // one fixed-shape chain on the quantized means.
    QueryDef("seq_did", seqDid,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
         |        CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
         |      FROM events),
         |r AS (SELECT MIN(tsu) AS t0, MAX(tsu) AS t1 FROM e),
         |per AS (SELECT user_id,
         |    CAST(SUM(CASE WHEN tsu < t0 + (t1 - t0) // 2
         |      THEN vc ELSE 0 END) AS BIGINT) AS xc,
         |    CAST(SUM(CASE WHEN tsu >= t0 + (t1 - t0) // 2
         |      THEN vc ELSE 0 END) AS BIGINT) AS yc,
         |    (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
         |      % 2) AS arm
         |  FROM e, r GROUP BY user_id),
         |cl AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         |    ${oRound("CAST(SUM(xc) AS DOUBLE) / COUNT(*) / 100.0", 6)} AS m_pre,
         |    ${oRound("CAST(SUM(yc) AS DOUBLE) / COUNT(*) / 100.0", 6)} AS m_post
         |  FROM per GROUP BY arm),
         |t AS (SELECT n_users AS n_treat, m_pre AS treat_pre,
         |    m_post AS treat_post FROM cl WHERE arm = 1),
         |c AS (SELECT n_users AS n_ctrl, m_pre AS ctrl_pre,
         |    m_post AS ctrl_post FROM cl WHERE arm = 0)
         |SELECT n_treat, n_ctrl, treat_pre, treat_post, ctrl_pre, ctrl_post,
         |  ${oRound("(treat_post - treat_pre) - (ctrl_post - ctrl_pre)", 6)} AS did
         |FROM t, c""".stripMargin),
    // Holt: recursive CTE keyed on the row-number time index replays the
    // per-series fold; the trend update nests the NEW level's quantized
    // value exactly as the engine fold does.
    QueryDef("seq_forecast_holt", seqForecastHolt,
      s"""WITH RECURSIVE dc AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |      CAST(COUNT(*) AS DOUBLE) AS y
         |    FROM events GROUP BY 1, 2),
         |o AS (SELECT event_type, day, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM dc),
         |st AS (
         |  SELECT a.event_type, 1 AS t, a.n, a.y AS l, b.y - a.y AS b
         |  FROM o a JOIN o b ON b.event_type = a.event_type AND b.t = 2
         |  WHERE a.t = 1
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1, r.n,
         |    ${oRound("0.5 * o.y + 0.5 * (r.l + r.b)", 9)} AS l,
         |    ${oRound(
             "0.3 * ((" + oRound("0.5 * o.y + 0.5 * (r.l + r.b)", 9) +
             ") - r.l) + 0.7 * r.b", 9)} AS b
         |  FROM st r JOIN o ON o.event_type = r.event_type
         |    AND o.t = r.t + 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  ${oRound("l", 6)} AS level, ${oRound("b", 6)} AS trend,
         |  ${oRound("l + b", 6)} AS fc_1, ${oRound("l + 7 * b", 6)} AS fc_7
         |FROM st WHERE t = n ORDER BY event_type""".stripMargin),
    // Holt-Winters: the seasonal vector rides the recursion as SEVEN
    // columns (engine-portable — no list mutation), one slot updated
    // per step with the same repeated-expression arithmetic the Holt
    // oracle uses; init = classical two-season (week-1 mean level,
    // week-over-week trend, y_i - level seasonals).
    QueryDef("seq_holt_winters", seqHoltWinters, {
      val sCur = "CASE r.t % 7 WHEN 0 THEN r.s0 WHEN 1 THEN r.s1" +
        " WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4" +
        " WHEN 5 THEN r.s5 ELSE r.s6 END"
      val lNew = oRound(s"0.5 * (o.y - ($sCur)) + 0.5 * (r.l + r.b)", 9)
      val l0 = oRound("w.sum1 / 7.0", 9)
      val sCols = (0 to 6).map { i =>
        s"    CASE WHEN r.t % 7 = $i THEN ${oRound(s"0.3 * (o.y - ($lNew)) + 0.7 * r.s$i", 9)}" +
          s" ELSE r.s$i END AS s$i"
      }.mkString(",\n")
      val sInit = (0 to 6).map { i =>
        s"    ${oRound(s"w.y${i + 1} - ($l0)", 9)} AS s$i"
      }.mkString(",\n")
      def sAt(e: String) = s"CASE ($e) WHEN 0 THEN s0 WHEN 1 THEN s1" +
        " WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5" +
        " ELSE s6 END"
      s"""WITH RECURSIVE dc AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |      CAST(COUNT(*) AS DOUBLE) AS y
         |    FROM events GROUP BY 1, 2),
         |o AS (SELECT event_type, day, y,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         |    COUNT(*) OVER (PARTITION BY event_type) AS n
         |  FROM dc),
         |w1 AS (SELECT event_type, MAX(n) AS n,
         |    SUM(CASE WHEN t <= 7 THEN y ELSE 0.0 END) AS sum1,
         |    SUM(CASE WHEN t BETWEEN 8 AND 14 THEN y ELSE 0.0 END) AS sum2,
         |    ${(1 to 7).map(i => s"MAX(CASE WHEN t = $i THEN y END) AS y$i").mkString(", ")}
         |  FROM o WHERE t <= 14 GROUP BY 1 HAVING COUNT(*) >= 14),
         |st AS (
         |  SELECT w.event_type, w.n, 0 AS t,
         |    ($l0) AS l, ${oRound("(w.sum2 - w.sum1) / 49.0", 9)} AS b,
         |$sInit
         |  FROM w1 w
         |  UNION ALL
         |  SELECT r.event_type, r.n, r.t + 1,
         |    ($lNew) AS l,
         |    ${oRound(s"0.3 * (($lNew) - r.l) + 0.7 * r.b", 9)} AS b,
         |$sCols
         |  FROM st r JOIN o ON o.event_type = r.event_type AND o.t = r.t + 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  ${oRound("l", 6)} AS level, ${oRound("b", 6)} AS trend,
         |  ${oRound(s"GREATEST(s0, s1, s2, s3, s4, s5, s6) - LEAST(s0, s1, s2, s3, s4, s5, s6)", 6)} AS s_amp,
         |  ${oRound(s"l + b + (${sAt("n % 7")})", 6)} AS fc_1,
         |  ${oRound(s"l + 7 * b + (${sAt("(n + 6) % 7")})", 6)} AS fc_7
         |FROM st WHERE t = n ORDER BY event_type""".stripMargin
    }),
    // Mann-Kendall: exact integer S and tie sums off the bounded
    // (type, day) self-join; var quantized at 1e-6 before the sqrt, z
    // at 1e-6 after, so the 1.96 trend call has no float edge.
    QueryDef("seq_mann_kendall", seqMannKendall,
      s"""WITH dc AS (SELECT event_type,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT a.event_type,
         |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
         |                  WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
         |      AS s_stat
         |  FROM dc a JOIN dc b
         |    ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1),
         |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
         |  FROM dc GROUP BY 1),
         |tg AS (SELECT event_type, y, COUNT(*) AS t FROM dc GROUP BY 1, 2),
         |tt AS (SELECT event_type,
         |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         |  FROM tg GROUP BY 1),
         |v AS (SELECT n.event_type, n.n_days, s.s_stat,
         |    ${oRound("CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - tt.tie_term AS DOUBLE) / 18.0", 6)} AS var_s
         |  FROM n JOIN s USING (event_type) JOIN tt USING (event_type)),
         |z AS (SELECT event_type, n_days, s_stat, var_s,
         |    ${oRound("CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s) WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s) ELSE 0.0 END", 6)} AS z
         |  FROM v)
         |SELECT event_type, n_days, s_stat, var_s, z,
         |  CASE WHEN z > 1.96 THEN 'increasing'
         |       WHEN z < -1.96 THEN 'decreasing'
         |       ELSE 'none' END AS trend
         |FROM z ORDER BY event_type""".stripMargin),
    // Theil-Sen: pairwise slopes quantized at 1e-9 off the same bounded
    // self-join; medians are exact interpolating percentiles (the
    // agg_percentile precedent); slope/intercept round at 1e-6.
    QueryDef("seq_theil_sen", seqTheilSen,
      s"""WITH dc AS (SELECT event_type,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |sl AS (SELECT a.event_type,
         |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    quantile_cont(${oRound("(b.y - a.y) / CAST(b.day - a.day AS DOUBLE)", 9)}, 0.5) AS slope_med
         |  FROM dc a JOIN dc b
         |    ON a.event_type = b.event_type AND a.day < b.day
         |  GROUP BY 1),
         |md AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |    quantile_cont(y, 0.5) AS y_med,
         |    quantile_cont(day, 0.5) AS day_med
         |  FROM dc GROUP BY 1)
         |SELECT md.event_type, md.n_days, sl.n_pairs,
         |  ${oRound("sl.slope_med", 6)} AS slope,
         |  ${oRound("md.y_med - sl.slope_med * md.day_med", 6)} AS intercept
         |FROM md JOIN sl USING (event_type)
         |ORDER BY event_type""".stripMargin),
    // Winsorized mean: exact interpolating percentile bounds, raw
    // doubles clamped against the EXACT bounds, both means on the
    // quantized-sum discipline, bounds reported at 1e-6.
    QueryDef("seq_winsorized_mean", seqWinsorizedMean,
      s"""WITH b AS (SELECT event_type,
         |    quantile_cont(value, 0.01) AS p01,
         |    quantile_cont(value, 0.99) AS p99
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${oAvg("e.value", 6)} AS raw_mean,
         |  ${oAvg("LEAST(GREATEST(e.value, b.p01), b.p99)", 6)} AS wins_mean,
         |  CAST(SUM(CASE WHEN e.value < b.p01 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cap_lo,
         |  CAST(SUM(CASE WHEN e.value > b.p99 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cap_hi,
         |  ${oRound("MIN(b.p01)", 6)} AS p01,
         |  ${oRound("MIN(b.p99)", 6)} AS p99
         |FROM events e JOIN b USING (event_type)
         |GROUP BY 1 ORDER BY e.event_type""".stripMargin),
    // STL-lite: trend = centered 7-day MA over the calendar-bounded
    // (type, day) frame (integer-valued daily counts -> exact window
    // sums), seasonal = dow mean of the detrended series at the
    // dsum(6)/count grain, residual from the quantized pieces.
    QueryDef("seq_stl_decompose", seqStlDecompose,
      s"""WITH dc AS (SELECT event_type,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(COUNT(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1, 2),
         |tr AS (SELECT event_type, day, y,
         |    ${oRound("AVG(y) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)", 6)} AS trend,
         |    day % 7 AS dow
         |  FROM dc),
         |se AS (SELECT event_type, dow,
         |    ${oRound(oSum("d", 6) + " / COUNT(*)", 6)} AS seasonal
         |  FROM (SELECT event_type, dow, y - trend AS d FROM tr) x
         |  GROUP BY 1, 2)
         |SELECT t.event_type, t.day, t.y, t.trend, s.seasonal,
         |  ${oRound("t.y - t.trend - s.seasonal", 6)} AS resid
         |FROM tr t JOIN se s ON s.event_type = t.event_type AND s.dow = t.dow
         |ORDER BY t.event_type, t.day""".stripMargin),
    // Entropy rate: seq_transitions' lag shape; probabilities quantized
    // at 1e-9 BEFORE the log, each -p ln p term at 1e-9 before the
    // exact sum; the grand total rides a scalar subquery (a comma cross
    // join of tiny frames can plan as CartesianProduct).
    QueryDef("seq_entropy_rate", seqEntropyRate,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
         |    event_type FROM events),
         |x AS (SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id) AS prev
         |  FROM e),
         |t AS (SELECT prev, event_type AS next,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM x WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot
         |  FROM t GROUP BY 1),
         |h AS (SELECT t.prev, tt.tot,
         |    ${oSum(s"-(${oRound("CAST(t.cnt AS DOUBLE) / tt.tot", 9)}) * ln(${oRound("CAST(t.cnt AS DOUBLE) / tt.tot", 9)})", 9)} AS entropy_raw
         |  FROM t JOIN tt USING (prev) GROUP BY 1, 2)
         |SELECT h.prev, h.tot AS n_out,
         |  ${oRound("CAST(h.tot AS DOUBLE) / (SELECT CAST(SUM(tot) AS BIGINT) FROM tt)", 6)} AS share,
         |  ${oRound("h.entropy_raw", 6)} AS entropy_nats,
         |  ${oRound("CAST(h.tot AS DOUBLE) / (SELECT CAST(SUM(tot) AS BIGINT) FROM tt) * h.entropy_raw", 6)} AS rate_contrib
         |FROM h ORDER BY h.prev""".stripMargin),
    // Inter-arrival quantiles: burstiness' per-(user, type) gap shape,
    // exact interpolated quantile_cont == Spark percentile.
    QueryDef("seq_interarrival", seqInterarrival,
      s"""WITH e AS (SELECT user_id, event_type, event_id,
         |    epoch_us(ts) AS tsu FROM events),
         |g AS (SELECT event_type,
         |    (tsu - lag(tsu) OVER (PARTITION BY user_id, event_type
         |      ORDER BY tsu, event_id)) // 1000000 AS gap_s
         |  FROM e)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |  ${oRound("quantile_cont(gap_s, 0.5)", 6)} AS p50_s,
         |  ${oRound("quantile_cont(gap_s, 0.9)", 6)} AS p90_s,
         |  ${oRound("quantile_cont(gap_s, 0.99)", 6)} AS p99_s
         |FROM g WHERE gap_s IS NOT NULL
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Modal-transition accuracy: the window-free min(struct) argmax
    // over the transition frame; accuracy from the per-state total.
    QueryDef("seq_markov_prediction", seqMarkovPrediction,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
         |    event_type FROM events),
         |x AS (SELECT event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY tsu, event_id) AS prev
         |  FROM e),
         |t AS (SELECT prev, event_type AS next,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM x WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot
         |  FROM t GROUP BY 1),
         |bs AS (SELECT prev, MIN({'nc': -cnt, 'nx': next}) AS best
         |  FROM t GROUP BY 1),
         |b2 AS (SELECT prev, best.nx AS modal_next,
         |    CAST(-best.nc AS BIGINT) AS modal_cnt FROM bs)
         |SELECT b2.prev, tt.tot AS n_out, b2.modal_next, b2.modal_cnt,
         |  ${oRound("b2.modal_cnt * 1.0 / tt.tot", 6)} AS accuracy
         |FROM b2 JOIN tt USING (prev) ORDER BY b2.prev""".stripMargin),
    // Markov attribution: identical journey segmentation, 1e-9-quantized
    // transition probs, and the SAME 12-step truncated absorption fixed
    // point unrolled as MATERIALIZED CTEs (one per step, default CTE
    // inlining would re-expand the chain per reference — the PCA rule).
    QueryDef("seq_attribution_markov", seqAttributionMarkov, {
      val stepCtes = (1 to 12).map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT t.v, t.frm AS state, ${oSum("t.p * a.pv", 9)} AS pv
           |  FROM tv t JOIN (SELECT v, state, pv FROM p${k - 1}
           |      UNION ALL SELECT v, 'conv' AS state, 1.0 AS pv FROM vv
           |      UNION ALL SELECT v, 'null' AS state, 0.0 AS pv FROM vv) a
           |    ON a.v = t.v AND a.state = t.nxt
           |  GROUP BY t.v, t.frm)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
         |        event_type, value FROM events),
         |j AS (SELECT user_id, event_id, tsu, event_type, value,
         |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS jid
         |  FROM e),
         |tch AS (SELECT user_id, jid, tsu, event_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id, jid
         |      ORDER BY tsu, event_id) AS prv,
         |    row_number() OVER (PARTITION BY user_id, jid
         |      ORDER BY tsu, event_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY user_id, jid) AS cnt
         |  FROM j WHERE event_type <> 'purchase'),
         |pur AS (SELECT user_id, jid,
         |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM j WHERE event_type = 'purchase'),
         |tr AS (
         |  SELECT COALESCE(prv, 'start') AS frm, event_type AS nxt FROM tch
         |  UNION ALL
         |  SELECT t.event_type AS frm,
         |    CASE WHEN p.user_id IS NULL THEN 'null' ELSE 'conv' END AS nxt
         |  FROM tch t LEFT JOIN pur p
         |    ON p.user_id = t.user_id AND p.jid = t.jid
         |  WHERE t.rn = t.cnt
         |  UNION ALL
         |  SELECT 'start' AS frm, 'conv' AS nxt
         |  FROM pur p LEFT JOIN (SELECT DISTINCT user_id, jid FROM tch) t
         |    ON t.user_id = p.user_id AND t.jid = p.jid
         |  WHERE t.user_id IS NULL),
         |bc AS (SELECT frm, nxt, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tr GROUP BY frm, nxt),
         |bp AS (SELECT frm, nxt,
         |    ${oRound("c * 1.0 / SUM(c) OVER (PARTITION BY frm)", 9)} AS p
         |  FROM bc),
         |vv AS (SELECT 'none' AS v
         |  UNION ALL
         |  SELECT DISTINCT event_type AS v FROM events
         |  WHERE event_type <> 'purchase'),
         |tv AS MATERIALIZED (SELECT v, frm, nxt, ${oSum("p", 9)} AS p
         |  FROM (SELECT vv.v, bp.frm,
         |      CASE WHEN bp.nxt = vv.v THEN 'null' ELSE bp.nxt END AS nxt,
         |      bp.p
         |    FROM vv, bp) GROUP BY v, frm, nxt),
         |p0 AS (SELECT v, 'x' AS state, 0.0 AS pv FROM vv WHERE 1 = 0),
         |$stepCtes,
         |ps AS (SELECT v, pv FROM p12 WHERE state = 'start'),
         |re AS (SELECT v AS channel, pv AS p_removed,
         |    (SELECT pv FROM ps WHERE v = 'none') AS p_base,
         |    ${oRound("(SELECT pv FROM ps WHERE v = 'none') - pv", 9)} AS re
         |  FROM ps WHERE v <> 'none'),
         |x AS (SELECT re.*,
         |    (SELECT ${oSum("re", 9)} FROM re) AS re_tot,
         |    (SELECT CAST(SUM(cents) AS BIGINT) FROM pur) AS vc
         |  FROM re)
         |SELECT channel, ${oRound("p_base", 6)} AS p_base,
         |  ${oRound("p_removed", 6)} AS p_removed,
         |  ${oRound("re", 6)} AS removal_effect,
         |  ${oRound("CASE WHEN re_tot <= 0 THEN 0.0 ELSE re / re_tot END", 6)} AS share,
         |  ${oRound("(CASE WHEN re_tot <= 0 THEN 0.0 ELSE re / re_tot END) * (vc / 100.0)", 2)} AS attributed_value
         |FROM x ORDER BY channel""".stripMargin
    }),
    // Attribution: exact-cents before division, identical left-assoc
    // double ops, per-purchase windows, anti-join direct bucket.
    QueryDef("seq_attribution", seqAttribution,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
         |             event_type, value FROM events),
         |p AS (SELECT user_id, event_id AS p_id, tsu AS ptsu,
         |        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
         |      FROM e WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, event_id AS t_id, tsu AS ttsu,
         |        event_type AS touch_type
         |      FROM e WHERE event_type IN ('view', 'click')),
         |pr AS (SELECT p.p_id, p.cents, t.touch_type, t.ttsu, t.t_id
         |       FROM p JOIN t ON t.user_id = p.user_id
         |         AND t.ttsu < p.ptsu AND t.ttsu >= p.ptsu - 604800000000),
         |w AS (SELECT touch_type, cents,
         |        COUNT(*) OVER (PARTITION BY p_id) AS n,
         |        row_number() OVER (PARTITION BY p_id
         |          ORDER BY ttsu DESC, t_id DESC) AS rn
         |      FROM pr),
         |credited AS (SELECT touch_type,
         |        CAST(COUNT(*) AS BIGINT) AS n_touches,
         |        ${oSum("cents / 100.0 / n", 6)} AS linear_value,
         |        ${oSum("CASE WHEN rn = 1 THEN cents / 100.0 ELSE 0.0 END", 6)}
         |          AS last_touch_value
         |      FROM w GROUP BY touch_type),
         |direct AS (SELECT 'direct' AS touch_type,
         |        CAST(COUNT(*) AS BIGINT) AS n_touches,
         |        ${oSum("cents / 100.0", 6)} AS linear_value,
         |        ${oSum("cents / 100.0", 6)} AS last_touch_value
         |      FROM p WHERE NOT EXISTS
         |        (SELECT 1 FROM pr WHERE pr.p_id = p.p_id))
         |SELECT * FROM credited UNION ALL SELECT * FROM direct
         |ORDER BY touch_type""".stripMargin),
    // Cohort LTV: exact-cents quantization before summation, user-keyed
    // cohort join, per-cohort cumulation over the bounded (cohort, age)
    // frame.
    QueryDef("seq_cohort_ltv", seqCohortLtv,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
         |    event_type, value FROM events),
         |coh AS (SELECT user_id, MIN(wk) AS cw FROM e GROUP BY user_id),
         |sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_cohort
         |  FROM coh GROUP BY cw),
         |b AS (SELECT user_id, wk,
         |    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM e WHERE event_type = 'purchase' GROUP BY user_id, wk),
         |cell AS (SELECT coh.cw, b.wk - coh.cw AS age,
         |    CAST(SUM(b.cents) AS BIGINT) AS cell_cents,
         |    CAST(COUNT(*) AS BIGINT) AS n_buyers
         |  FROM b JOIN coh USING (user_id) GROUP BY 1, 2),
         |cum AS (SELECT cell.*,
         |    CAST(SUM(cell_cents) OVER (PARTITION BY cw ORDER BY age
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_cents
         |  FROM cell)
         |SELECT cw AS cohort_week, age AS age_weeks, n_cohort, n_buyers,
         |  CAST(cum_cents AS DOUBLE) / 100 AS cum_value,
         |  ${oRound("CAST(cum_cents AS DOUBLE) / 100" +
             " / CAST(n_cohort AS DOUBLE)", 6)} AS ltv_per_user
         |FROM cum JOIN sz USING (cw)
         |ORDER BY cohort_week, age_weeks""".stripMargin),
    // KM/NA: one per-user min/max agg, then suffix/cumulative windows
    // over the bounded lifetime-day frame; 1e-9-quantized log/hazard
    // cumsums, d = n short-circuited before ln(0).
    QueryDef("seq_survival", seqSurvival,
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type
         |  FROM events),
         |per AS (SELECT user_id, MIN(tsu) AS f,
         |    MIN(CASE WHEN event_type = 'purchase' THEN tsu END) AS p
         |  FROM e GROUP BY user_id),
         |u0 AS (SELECT (p - f) // 3600000000 AS pd FROM per),
         |u AS (SELECT pd IS NULL OR pd >= 48 AS cen,
         |    CASE WHEN pd IS NULL OR pd >= 48 THEN 48 ELSE pd END AS dur
         |  FROM u0),
         |dd AS (SELECT dur,
         |    CAST(SUM(CASE WHEN NOT cen THEN 1 ELSE 0 END) AS BIGINT) AS d,
         |    CAST(SUM(CASE WHEN cen THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM u GROUP BY dur),
         |r AS (SELECT dur, d, c,
         |    CAST(SUM(d + c) OVER (ORDER BY dur
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         |      AS n
         |  FROM dd),
         |t AS (SELECT r.*,
         |    CASE WHEN d > 0 AND d < n
         |      THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
         |      ELSE 0.0 END AS term,
         |    CASE WHEN d = n THEN 1 ELSE 0 END AS z
         |  FROM r),
         |cum AS (SELECT t.*,
         |    CAST(SUM(CAST(FLOOR(term * 1000000000.0 + 0.5) AS BIGINT))
         |      OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
         |        CURRENT ROW) AS BIGINT) AS ql,
         |    MAX(z) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS hz,
         |    CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
         |        * 1000000000.0 + 0.5) AS BIGINT))
         |      OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND
         |        CURRENT ROW) AS BIGINT) AS qh
         |  FROM t)
         |SELECT dur AS dur_hours, n AS n_risk, d AS d_converted,
         |  c AS c_censored,
         |  CASE WHEN hz = 1 THEN 0.0
         |    ELSE ${oRound("exp(CAST(ql AS DOUBLE) / 1000000000.0)", 6)}
         |    END AS km_survival,
         |  ${oRound("CAST(qh AS DOUBLE) / 1000000000.0", 6)}
         |    AS na_cum_hazard
         |FROM cum ORDER BY dur_hours""".stripMargin),
    // Same (user, type) lag gaps in integer seconds; exact moments,
    // identical IEEE cv chain.
    QueryDef("seq_burstiness", seqBurstiness,
      s"""WITH e AS (SELECT user_id, event_type, event_id,
         |             epoch_us(ts) AS tsu FROM events),
         |g0 AS (SELECT event_type,
         |         (tsu - lag(tsu) OVER (PARTITION BY user_id, event_type
         |            ORDER BY tsu, event_id)) // 1000000 AS gap_s
         |       FROM e),
         |g AS (SELECT event_type, gap_s FROM g0 WHERE gap_s IS NOT NULL),
         |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |        CAST(SUM(gap_s) AS BIGINT) AS sg,
         |        CAST(SUM(gap_s*gap_s) AS BIGINT) AS qg
         |      FROM g GROUP BY event_type),
         |z AS (SELECT event_type, n_gaps, sg, qg,
         |        CAST(sg AS DOUBLE)/n_gaps AS mean_s FROM m)
         |SELECT event_type, n_gaps,
         |  ${oRound("mean_s", 6)} AS mean_gap_s,
         |  ${oRound("sqrt(greatest(CAST(qg AS DOUBLE)/n_gaps - mean_s*mean_s, 0.0))/mean_s", 6)} AS cv,
         |  (${oRound("sqrt(greatest(CAST(qg AS DOUBLE)/n_gaps - mean_s*mean_s, 0.0))/mean_s", 6)} > 1.0) AS bursty
         |FROM z ORDER BY event_type""".stripMargin),
    // Same pinned (cnt, user_id) ranking via a PLAIN global row_number —
    // the independent derivation of the engine's bucket decomposition.
    QueryDef("seq_gini", seqGini,
      s"""WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY user_id),
         |r AS (SELECT cnt,
         |        row_number() OVER (ORDER BY cnt, user_id) AS rnk FROM c)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(cnt) AS BIGINT) AS total_events,
         |  ${oRound("2.0*SUM(rnk*cnt)/(COUNT(*)*SUM(cnt)) - CAST(COUNT(*)+1 AS DOUBLE)/COUNT(*)", 6)}
         |    AS gini
         |FROM r""".stripMargin),
    // Same lag adjacency and count frame as seq_transitions; the bits
    // join replays the integer bin-length log2 per transition.
    QueryDef("seq_user_surprise", seqUserSurprise,
      s"""WITH e AS (SELECT user_id, event_type, event_id,
         |             epoch_us(ts) AS tsu FROM events),
         |adj0 AS (SELECT user_id, event_type AS next,
         |           lag(event_type) OVER (PARTITION BY user_id
         |             ORDER BY tsu, event_id) AS prev
         |         FROM e),
         |adj AS (SELECT user_id, prev, next FROM adj0
         |        WHERE prev IS NOT NULL),
         |c AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM adj GROUP BY prev, next),
         |t AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot
         |      FROM c GROUP BY prev),
         |bts AS (SELECT c.prev, c.next,
         |          length(bin(t.tot)) - length(bin(c.cnt)) AS bits
         |        FROM c JOIN t USING (prev))
         |SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
         |  ${oRound("CAST(SUM(b.bits) AS DOUBLE)/COUNT(*)", 6)} AS avg_bits
         |FROM adj a JOIN bts b ON b.prev = a.prev AND b.next = a.next
         |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
    // Same forward-marker derivation (day + 0..6), independent DuckDB
    // spelling via unnest(range()).
    QueryDef("seq_dau_wau", seqDauWau,
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |              epoch_us(ts) // 86400000000 AS day FROM events),
         |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
         |        FROM ud GROUP BY day),
         |m AS (SELECT DISTINCT user_id, wday FROM (
         |        SELECT user_id, day + unnest(range(0, 7)) AS wday
         |        FROM ud) t),
         |wau AS (SELECT wday, CAST(COUNT(*) AS BIGINT) AS wau
         |        FROM m GROUP BY wday)
         |SELECT d.day, d.dau, w.wau,
         |  ${oRound("CAST(d.dau AS DOUBLE) / w.wau", 6)} AS stickiness
         |FROM dau d JOIN wau w ON w.wday = d.day
         |ORDER BY d.day""".stripMargin),
    // Same quantized-deviation frame; calendar-lag self-join, exact
    // integer numerator/denominator, one quantized division per lag.
    QueryDef("seq_periodicity", seqPeriodicity,
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |             CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY day),
         |m AS (SELECT CAST(SUM(cnt) AS DOUBLE)/COUNT(*) AS mean FROM d),
         |v AS (SELECT day,
         |        CAST(FLOOR((cnt - m.mean)*1000.0+0.5) AS BIGINT) AS dev
         |      FROM d, m),
         |ss AS (SELECT CAST(SUM(dev*dev) AS BIGINT) AS ss FROM v),
         |l AS (SELECT unnest(range(1, 8)) AS lag),
         |p AS (SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |        CAST(SUM(a.dev*b.dev) AS BIGINT) AS num
         |      FROM l, v a, v b WHERE b.day = a.day + l.lag
         |      GROUP BY l.lag)
         |SELECT p.lag, p.n_pairs,
         |  ${oRound("CAST(p.num AS DOUBLE)/ss.ss", 6)} AS autocorr
         |FROM p, ss ORDER BY lag""".stripMargin),
    // Same integer day buckets; per-day deviation quantized to BIGINT
    // before the running sum (order-free), identical argmax ranking.
    QueryDef("seq_changepoint", seqChangepoint,
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |             CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY day),
         |m AS (SELECT CAST(SUM(cnt) AS DOUBLE)/COUNT(*) AS mean FROM d),
         |c AS (SELECT d.day, d.cnt, m.mean,
         |        CAST(SUM(CAST(FLOOR((d.cnt - m.mean)*1000000.0+0.5) AS BIGINT))
         |          OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
         |                AND CURRENT ROW) AS DOUBLE)/1000000.0 AS cusum
         |      FROM d, m),
         |r AS (SELECT day, cnt, mean, cusum,
         |        rank() OVER (ORDER BY abs(cusum) DESC, day) AS rk FROM c)
         |SELECT day, cnt, ${oRound("mean", 6)} AS mean_cnt, cusum,
         |  rk = 1 AS is_changepoint
         |FROM r ORDER BY day""".stripMargin),
    // Same integer day buckets and exact-integer-sum moments; the z chain
    // is spelled with the identical IEEE op shape (q/n − (s/n)·(s/n)).
    QueryDef("seq_anomaly", seqAnomaly,
      s"""WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |             CAST(COUNT(*) AS BIGINT) AS cnt
         |           FROM events GROUP BY user_id, day),
         |st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(cnt) AS BIGINT) AS s,
         |         CAST(SUM(cnt*cnt) AS BIGINT) AS q
         |       FROM d GROUP BY user_id),
         |z AS (SELECT d.user_id, d.day, d.cnt,
         |        CAST(st.s AS DOUBLE)/st.n AS mean,
         |        sqrt(greatest(CAST(st.q AS DOUBLE)/st.n
         |          - (CAST(st.s AS DOUBLE)/st.n)*(CAST(st.s AS DOUBLE)/st.n),
         |          0.0)) AS sd
         |      FROM d JOIN st USING (user_id))
         |SELECT user_id, day, cnt, ${oRound("mean", 6)} AS mean_cnt,
         |  ${oRound("(cnt - mean)/sd", 6)} AS z
         |FROM z WHERE sd > 0 AND ${oRound("(cnt - mean)/sd", 6)} > 2.0
         |ORDER BY user_id, day""".stripMargin),
    QueryDef("seq_matchpath", seqMatchpath,
      s"""WITH ev AS (
         |  SELECT user_id, event_id, value, substr(event_type, 1, 1) AS sym,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
         |  FROM events),
         |vrun AS (
         |  SELECT user_id, MIN(pos) AS vstart, MAX(pos) AS vend
         |  FROM (SELECT user_id, pos,
         |          pos - row_number() OVER (PARTITION BY user_id ORDER BY pos) AS grp
         |        FROM ev WHERE sym = 'v') t
         |  GROUP BY user_id, grp),
         |cand AS (
         |  SELECT p.user_id, v.vstart - 1 AS cpos, p.pos AS ppos
         |  FROM ev p
         |  JOIN vrun v ON v.user_id = p.user_id AND v.vend = p.pos - 1
         |  JOIN ev c ON c.user_id = p.user_id AND c.pos = v.vstart - 1
         |  WHERE p.sym = 'p' AND c.sym = 'c'),
         |m AS (
         |  SELECT user_id, cpos, ppos,
         |    row_number() OVER (PARTITION BY user_id ORDER BY cpos) AS match_idx
         |  FROM cand)
         |SELECT m.user_id, CAST(m.match_idx AS INT) AS match_idx,
         |  MIN(CASE WHEN e.pos = m.cpos THEN e.event_id END) AS start_event_id,
         |  CAST(m.ppos - m.cpos + 1 AS INT) AS n_steps,
         |  ${oRound("SUM(e.value)", 2)} AS total_value
         |FROM m JOIN ev e ON e.user_id = m.user_id AND e.pos BETWEEN m.cpos AND m.ppos
         |GROUP BY m.user_id, m.match_idx, m.cpos, m.ppos
         |ORDER BY m.user_id, match_idx""".stripMargin),
    QueryDef("seq_matchpath_counts", seqMatchpathCounts,
      """WITH seq AS (
        |  SELECT user_id,
        |         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS sym
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id, regexp_extract_all(sym, 'cv+p') AS ms FROM seq)
        |SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
        |       CAST(list_sum(list_transform(ms, x -> len(x))) AS BIGINT) AS n_steps_total
        |FROM m WHERE len(ms) > 0 ORDER BY user_id""".stripMargin),
    QueryDef("seq_sessionize", seqSessionize,
      s"""WITH $sessionCtesSql
         |SELECT user_id, CAST(session_idx AS INT) AS session_idx,
         |  COUNT(*) AS n_events, MIN(tsu) AS start_tsu, MAX(tsu) AS end_tsu,
         |  ${oSum("value", 2)} AS total_value
         |FROM s GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin),
    // Same per-user aggs; quantile_cont thresholds (≡ Spark percentile)
    // in one scalar subquery row, identical 1–5 scoring arithmetic.
    QueryDef("seq_rfm", seqRfm, {
      val qSql = Seq("recency_days", "frequency", "monetary").flatMap(m =>
        Seq(20, 40, 60, 80).map(k =>
          s"quantile_cont(${m}, 0.${k}) AS ${m.head}${k}")).mkString(",\n|        ")
      def upSql(m: String, pre: String) =
        s"(1 + ${Seq(20, 40, 60, 80).map(k =>
          s"CASE WHEN $m > t.$pre$k THEN 1 ELSE 0 END").mkString(" + ")})"
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
         |per AS (SELECT user_id, MAX(tsu) AS last_tsu,
         |          CAST(COUNT(*) AS BIGINT) AS frequency,
         |          ${oSum("value", 2)} AS monetary
         |        FROM e GROUP BY user_id),
         |r AS (SELECT user_id, frequency, monetary,
         |        ((SELECT MAX(tsu) FROM e) - last_tsu) // 86400000000
         |          AS recency_days
         |      FROM per),
         |t AS (SELECT $qSql FROM r)
         |SELECT r.user_id, r.recency_days, r.frequency, r.monetary,
         |  CAST(6 - ${upSql("r.recency_days", "r")} AS INT) AS r_score,
         |  CAST(${upSql("r.frequency", "f")} AS INT) AS f_score,
         |  CAST(${upSql("r.monetary", "m")} AS INT) AS m_score,
         |  CAST((6 - ${upSql("r.recency_days", "r")}) * 100
         |    + ${upSql("r.frequency", "f")} * 10
         |    + ${upSql("r.monetary", "m")} AS INT) AS rfm
         |FROM r, t ORDER BY r.user_id""".stripMargin
    }),
    // Same (ts, event_id)-ordered lag adjacency; row-count normalizer
    // per prev state.
    QueryDef("seq_transitions", seqTransitions,
      s"""WITH e AS (SELECT user_id, event_type, event_id,
         |             epoch_us(ts) AS tsu FROM events),
         |adj AS (SELECT event_type AS next,
         |          lag(event_type) OVER (PARTITION BY user_id
         |            ORDER BY tsu, event_id) AS prev
         |        FROM e),
         |c AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM adj WHERE prev IS NOT NULL GROUP BY prev, next),
         |t AS (SELECT prev, CAST(SUM(cnt) AS BIGINT) AS tot
         |      FROM c GROUP BY prev)
         |SELECT c.prev, c.next, c.cnt,
         |  ${oRound("CAST(c.cnt AS DOUBLE) / t.tot", 6)} AS p
         |FROM c JOIN t USING (prev) ORDER BY prev, next""".stripMargin),
    // (user, day) dedup -> user-keyed cohort min -> offset join; the
    // independent DuckDB derivation uses the same integer day buckets.
    QueryDef("seq_retention", seqRetention,
      s"""WITH d AS (SELECT DISTINCT user_id,
         |             epoch_us(ts) // 86400000000 AS day FROM events),
         |c AS (SELECT user_id, MIN(day) AS cday FROM d GROUP BY user_id),
         |s AS (SELECT cday, CAST(COUNT(*) AS BIGINT) AS n_cohort
         |      FROM c GROUP BY cday),
         |a AS (SELECT c.cday, d.day - c.cday AS off,
         |        CAST(COUNT(*) AS BIGINT) AS n_active
         |      FROM d JOIN c USING (user_id)
         |      WHERE d.day - c.cday <= 7 GROUP BY c.cday, off)
         |SELECT a.cday, a.off, a.n_active, s.n_cohort,
         |  ${oRound("CAST(a.n_active AS DOUBLE) / s.n_cohort", 6)} AS retention
         |FROM a JOIN s USING (cday) ORDER BY cday, off""".stripMargin),
    // Identical earliest-qualifying-event chaining; lag over the 3-row
    // result frame for the conversion ratio.
    QueryDef("seq_funnel", seqFunnel,
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu
         |           FROM events),
         |t1 AS (SELECT user_id, MIN(tsu) AS t1 FROM e
         |       WHERE event_type = 'view' GROUP BY user_id),
         |t2 AS (SELECT e.user_id, MIN(tsu) AS t2 FROM e
         |       JOIN t1 USING (user_id)
         |       WHERE event_type = 'click' AND tsu > t1.t1
         |       GROUP BY e.user_id),
         |t3 AS (SELECT e.user_id, MIN(tsu) AS t3 FROM e
         |       JOIN t2 USING (user_id)
         |       WHERE event_type = 'purchase' AND tsu > t2.t2
         |       GROUP BY e.user_id),
         |c AS (
         |  SELECT 1 AS step, 'view' AS etype,
         |    CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
         |  UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM t2
         |  UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM t3)
         |SELECT step, etype, n_users,
         |  ${oRound("CAST(n_users AS DOUBLE) / lag(n_users) OVER (ORDER BY step)", 6)}
         |    AS conv
         |FROM c ORDER BY step""".stripMargin),
    // Deliberately the UNSPLIT global running sum (vs the engine's
    // bucket-decomposed prefix sum) — an independent derivation of the
    // same sweep, so a decomposition bug cannot hide.
    QueryDef("seq_concurrency", seqConcurrency,
      s"""WITH $sessionCtesSql,
         |sess AS (SELECT user_id, session_idx, MIN(tsu) AS start_tsu,
         |           MAX(tsu) AS end_tsu
         |         FROM s GROUP BY user_id, session_idx),
         |d AS (SELECT start_tsu AS tsu, 1 AS delta, user_id FROM sess
         |      UNION ALL
         |      SELECT end_tsu AS tsu, -1 AS delta, user_id FROM sess),
         |c AS (SELECT tsu, delta, user_id, tsu // 86400000000 AS day,
         |        CAST(SUM(delta) OVER (ORDER BY tsu, delta DESC, user_id)
         |          AS BIGINT) AS conc
         |      FROM d),
         |m AS (SELECT day, MAX(conc) AS max_conc FROM c GROUP BY day)
         |SELECT m.day, m.max_conc, MIN(c.tsu) AS at_tsu
         |FROM c JOIN m ON c.day = m.day AND c.conc = m.max_conc
         |GROUP BY m.day, m.max_conc
         |ORDER BY m.day""".stripMargin)
  )

  /** Shared DuckDB session CTE chain (gaps-and-islands over `events`) —
    * one definition for the sessionize oracle and the concurrency
    * oracle, so the two cannot drift. Exposes `s`:
    * (user_id, tsu, value, session_idx). */
  private lazy val sessionCtesSql: String =
    s"""e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events),
       |g AS (
       |  SELECT user_id, event_id, tsu, value,
       |    CASE WHEN lag(tsu) OVER w IS NULL
       |           OR tsu - lag(tsu) OVER w > ${SessionGapUs} THEN 1 ELSE 0
       |    END AS new_sess
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
       |s AS (
       |  SELECT user_id, tsu, value,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
       |      AS session_idx
       |  FROM g)""".stripMargin
}
