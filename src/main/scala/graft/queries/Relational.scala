package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** §2.1–§2.3, §2.6 core relational surface: scan / project / filter /
  * aggregate / the full join-type matrix / set ops / sorts / limits, plus
  * subqueries (§4.1 HiveSubQueryRemoveRule's decorrelation, native in
  * Catalyst as RewritePredicateSubquery), CTEs incl. WITH RECURSIVE,
  * salted and UNIQUEJOIN joins, bloom-filter runtime pre-filtering and
  * the local-relation fast path.
  *
  * Reference semantics: Hive 2.3.10 `TableScanOperator`, `SelectOperator`,
  * `FilterOperator`, `GroupByOperator`, `JoinOperator`/`MapJoinOperator`,
  * `UnionOperator`, `ReduceSinkOperator`, `LimitOperator`+`TopNHash`
  * (SURVEY.md §2.1, jar-verified; reference tree itself is only
  * /root/reference/README.md:1-4).
  *
  * Scale posture: joins are declared, Catalyst plans them — dims (region,
  * nation, customer at any realistic SF) broadcast under AQE; fact⋈fact
  * (lineitem⋈orders) shuffles on the join key, which is the correct plan at
  * 100 TB. No collect(), no driver-side loops anywhere.
  */
object Relational {

  /** Flagship: TPC-H Q1 pricing summary (scan→filter→2-phase agg→sort).
    * The filter reaches the parquet scan as a pushed predicate; aggregation
    * is partial/final HashAggregate — the exact shape that scales linearly
    * with data volume and cluster size.
    */
  val q1PricingSummary: Q = (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1PricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |${oSum("l_quantity")} AS sum_qty,
       |${oSum("l_extendedprice")} AS sum_base_price,
       |${oSum("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
       |${oSum("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")} AS sum_charge,
       |${oAvg("l_quantity")} AS avg_qty,
       |${oAvg("l_extendedprice")} AS avg_price,
       |${oAvg("l_discount", 6)} AS avg_disc,
       |COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- joins

  /** TPC-H Q5 shape: 5-way join region⋈nation⋈customer⋈orders⋈lineitem.
    * At 100 TB the dims broadcast (AQE auto-selects under the threshold)
    * and the fact⋈fact join shuffles on orderkey — the scalable plan.
    */
  val joinMultiway: Q = (s, dir) => {
    val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
      .join(Tables.t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
      .join(Tables.t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("line_cnt"))
      .orderBy("n_name")
  }

  /** TPC-H Q5-SHAPED (local supplier volume): the full six-table join
    * with the customer-nation = supplier-nation triangle constraint — the
    * classic broad-join planner test. NOT spec Q5: the o_orderdate window
    * is two years, not the spec's one, because the spec window leaves the
    * sf0.001 smoke fixture empty (rows>0 is gated). Dims (region, nation,
    * supplier) broadcast; the fact-fact orders⋈lineitem is the one
    * genuine shuffle join; the date filter pushes into the orders scan. */
  val q5LocalSupplier: Q = (s, dir) => {
    val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
      .join(Tables.t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.t(s, dir, "orders")
        .filter(col("o_orderdate") >= "1994-01-01" && col("o_orderdate") < "1996-01-01"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(dsum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left outer join: every customer keeps a row; unmatched aggregate
    * columns are coalesced to 0 so the result is null-stable. */
  val joinLeft: Q = (s, dir) => {
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("big_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_total"))
      .orderBy("c_custkey")
  }

  /** Right outer join (mirror orientation of joinLeft). */
  val joinRight: Q = (s, dir) => {
    Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .join(Tables.t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "right")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("f_orders"))
      .orderBy("c_custkey")
  }

  /** Full outer join of two filtered per-nation aggregates (asymmetric
    * sides so both unmatched directions occur). */
  val joinFull: Q = (s, dir) => {
    val cust = Tables.t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("cust_cnt"))
    val supp = Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("supp_cnt"))
    cust.join(supp, col("nk") === col("nk2"), "full")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        coalesce(col("cust_cnt"), lit(0L)).as("cust_cnt"),
        coalesce(col("supp_cnt"), lit(0L)).as("supp_cnt"))
      .orderBy("nationkey")
  }

  /** Left semi join — the IN/EXISTS rewrite target. */
  val joinSemi: Q = (s, dir) => {
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left anti join — the NOT IN/NOT EXISTS rewrite target. */
  val joinAnti: Q = (s, dir) => {
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Guarded cartesian product (dims only — never facts at scale). */
  val joinCross: Q = (s, dir) => {
    Tables.t(s, dir, "region").select("r_name")
      .crossJoin(Tables.t(s, dir, "nation").select("n_name"))
      .orderBy("r_name", "n_name")
  }

  /** θ-join (pure non-equi ⇒ BroadcastNestedLoopJoin): supplier×customer
    * account-balance band match. The small side broadcasts; at 100 TB a
    * band join like this must keep one side broadcastable (it does: the
    * supplier dim), otherwise it degenerates to a cartesian shuffle. */
  val joinTheta: Q = (s, dir) => {
    val supp = Tables.t(s, dir, "supplier")
    val cust = Tables.t(s, dir, "customer")
    supp.join(cust,
        col("c_acctbal") > col("s_acctbal") - 100 &&
        col("c_acctbal") <= col("s_acctbal") + 100)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("near_cust_cnt"))
      .orderBy("s_suppkey")
  }

  /** Explicit broadcast-hint join (Hive MAPJOIN hint equivalent). */
  val joinBroadcast: Q = (s, dir) => {
    Tables.t(s, dir, "lineitem")
      .join(broadcast(Tables.t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("line_cnt"))
      .orderBy("p_brand")
  }

  /** As-of join — an operator the reference (and Spark) lacks as a builtin,
    * composed scale-safely: tag both streams, union, and take the last
    * order seen per key in event-time order (`last(..., ignoreNulls)` over
    * an unbounded-preceding row frame). ONE shuffle on the join key — no
    * per-row range scan, no range cross join — which is the shape that
    * survives 100 TB. Orders are pre-deduped to one per (custkey, date) so
    * tie-breaks are deterministic in both engines; the DuckDB oracle uses
    * its native ASOF LEFT JOIN. */
  val joinAsof: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp_ntz").as("ts"))
    val ord = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    val tagged = ord.select(col("o_custkey").as("k"),
        col("o_orderdate").cast("timestamp_ntz").as("t"), lit(1).as("is_o"),
        col("o_orderkey"), col("o_totalprice"), lit(null).cast("long").as("event_id"))
      .unionByName(ev.select(col("user_id").as("k"), col("ts").as("t"),
        lit(0).as("is_o"), lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"), col("event_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("t"), col("is_o").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // both carried columns in ONE select → a single Window pass (an
    // interleaved withColumn projection would block CollapseWindow)
    tagged
      .select(col("*"),
        last(when(col("is_o") === 1, col("o_orderkey")), ignoreNulls = true)
          .over(w).as("last_okey"),
        last(when(col("is_o") === 1, col("o_totalprice")), ignoreNulls = true)
          .over(w).as("last_total"))
      .filter(col("is_o") === 0)
      .select(col("k").as("user_id"), col("event_id"), col("t").as("ts"),
        col("last_okey").as("o_orderkey"), col("last_total").as("o_totalprice"))
      .orderBy("user_id", "event_id")
  }

  /** As-of join WITH a match tolerance (pandas `merge_asof(tolerance=)`,
    * kdb `wj` — the variant [[joinAsof]] does not cover), instantiated
    * as LAST-TOUCH ATTRIBUTION: each purchase matches the latest click
    * by the same user at-or-before it, but a click older than the
    * 1-hour lookback is REJECTED — a stale touchpoint is a correctness
    * bug, not a match. Same union-sweep shape as joinAsof — one shuffle
    * on the user key, the carried click time makes the tolerance a
    * per-row subtraction (never a range join). The oracle derives the
    * match independently via a naive latest-click-per-purchase ≤-join +
    * argmax — a sweep bug cannot hide. */
  val joinAsofTol: Q = (s, dir) => {
    val TolUs = 3600L * 1000000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    // `sid` is each row's OWN event id — the unique third sort key that
    // makes same-microsecond click runs deterministic (last = max id)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("k"), col("t"), lit(1).as("is_c"),
        col("event_id").as("click_id"), col("event_id").as("sid"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("t"), lit(0).as("is_c"),
        lit(null).cast("long").as("click_id"), col("event_id").as("sid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("t"), col("is_c").desc, col("sid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    clicks.unionByName(purchases)
      .select(col("*"),
        last(when(col("is_c") === 1, col("click_id")), ignoreNulls = true)
          .over(w).as("lc"),
        last(when(col("is_c") === 1, col("t")), ignoreNulls = true)
          .over(w).as("lt"))
      .filter(col("is_c") === 0)
      .select(col("k").as("user_id"), col("sid").as("event_id"),
        col("t").as("tsu"),
        when(col("t") - col("lt") <= TolUs, col("lc")).as("click_id"),
        (col("lt").isNotNull && col("t") - col("lt") <= TolUs)
          .as("in_window"))
      .orderBy("user_id", "event_id")
  }

  /** SCD2 point-in-time join — the warehouse temporal-join pattern
    * [[joinAsof]] does NOT cover: the dimension is a slowly-changing
    * type-2 table (validity intervals, open-ended current row) and each
    * fact row joins the version active AT its timestamp. The dimension
    * here is derived in-query: per user, consecutive same-`event_type`
    * runs become status versions (`valid_from` = run start, `valid_to` =
    * next run's start via `lead`, NULL while current), and the probe set
    * is every event shifted +1 h — so probes genuinely cross version
    * boundaries instead of trivially landing in their own run.
    *
    * Scale shape: the PIT join is an EQUI-join on the user key carrying
    * the range predicate as a join condition — SMJ/shuffle on user_id
    * with per-user version chains (bounded) scanned inside the match,
    * never a nested-loop over facts × versions. Intervals partition
    * [first_from, ∞) per user, so each probe matches exactly one
    * version (row count = probe count, asserted in the spec). */
  val joinScd2: Q = (s, dir) => {
    val HourUs = 3600L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tsu", "event_id")
    val runs = ev
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull
          || lag("event_type", 1).over(w) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("run_id", sum("chg").over(w))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("d_user").orderBy("run_id")
    val dim = runs.groupBy(col("user_id").as("d_user"), col("run_id"))
      .agg(min("tsu").as("valid_from"), max("event_type").as("status"))
      .withColumn("valid_to", lead("valid_from", 1).over(wd))
    val probes = ev.select(col("user_id"), col("event_id"),
      (col("tsu") + HourUs).as("tsp"))
    probes
      .join(dim, probes("user_id") === dim("d_user")
        && col("tsp") >= col("valid_from")
        && (col("valid_to").isNull || col("tsp") < col("valid_to")))
      .select(col("user_id"), col("event_id"), col("tsp"),
        col("status"), col("valid_from"))
      .orderBy("user_id", "event_id")
  }

  /** Binned range join — the scale path for pure time-range joins (no key
    * equality): a naive range predicate plans as a nested-loop join (fine
    * for the θ-join showcase, fatal at 100 TB on two fact tables). Here
    * each order's 1-day window explodes into its covering day bins and
    * events equi-join on their own day bin, with the exact range predicate
    * as a post-filter. Shuffle on the bin key, candidate set bounded by
    * bin width — the standard interval-bucketing rewrite. */
  val joinRangeBin: Q = (s, dir) => {
    val big = Tables.t(s, dir, "orders")
      .filter(col("o_totalprice") > 450000)
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("d0"))
      .withColumn("bin", explode(expr("transform(sequence(0, 6), i -> date_add(d0, i))")))
    // r17: per-BIN partial aggregation before the join. The final agg is
    // decomposable over bins and the 7-day range aligns exactly to day
    // bins, so the probe side collapses from every (anchor, order) pair
    // (~|filtered|x62 rows at sf0.1) to one partial row per day — the
    // join output shrinks 62x and the partials table is #days rows
    // (time-span-bounded, NOT data-scale-bounded), broadcastable at any
    // corpus size. At 100 TB this is the difference between shuffling
    // the fact table and shuffling a calendar. For ranges that do NOT
    // align to bin boundaries, pre-agg the interior bins and keep the
    // row-level range verify only on the two edge bins.
    val dayAgg = Tables.t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("bin"))
      .agg(count(lit(1)).as("day_cnt"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5))).as("day_q"))
    big.join(broadcast(dayAgg), "bin")
      .filter(col("bin") >= col("d0") && col("bin") < date_add(col("d0"), 7))
      .groupBy("o_orderpriority")
      .agg(sum(col("day_cnt")).as("follow_cnt"),
        (sum(col("day_q")).cast("double") / 100).as("follow_total"))
      .orderBy("o_orderpriority")
  }

  /** Blocked fuzzy entity-matching join (record linkage): find pairs of
    * DISTINCT entity names that refer to the same thing modulo small
    * edits — the Fellegi–Sunter blocking shape every metadata-merge /
    * catalog-dedup pipeline runs. Three scale moves, in order:
    * (1) canonicalize FIRST — a two-phase groupBy collapses the corpus
    * of rows to its distinct entity strings with support counts, so the
    * expensive comparison runs over entities, never rows (100 TB of
    * parts is still ≤ |name vocabulary| comparison inputs);
    * (2) BLOCK — candidates must share a cheap deterministic key (the
    * head noun here), turning the quadratic all-pairs into per-block
    * pairs, hot blocks AQE-skew-splittable on the equi-join key;
    * (3) score only within blocks — `levenshtein` ≤ 4, i.e. the
    * adjective differs by at most a short edit ("red bolt" ~ "tan
    * bolt"), with the a < b half-matrix filter built into the join so
    * each undirected pair emits once. Output: the match pairs with
    * their edit distance and combined row support. */
  val joinFuzzyBlock: Q = (s, dir) => {
    val nm = Tables.t(s, dir, "part")
      .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", element_at(split(col("p_name"), " "), 2))
    val a = nm.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_a"))
    val b = nm.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 4)
      .select(col("blk"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("int").as("lev"),
        (col("n_a") + col("n_b")).cast("long").as("support"))
      .orderBy("name_a", "name_b")
  }

  // -------------------------------------------------------------- set ops

  val setopUnionAll: Q = (s, dir) => {
    Tables.t(s, dir, "customer")
      .select(col("c_custkey").as("key"), lit("customer").as("src"))
      .union(Tables.t(s, dir, "supplier")
        .select(col("s_suppkey").as("key"), lit("supplier").as("src")))
      .orderBy("src", "key")
  }

  val setopUnionDistinct: Q = (s, dir) => {
    Tables.t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      .union(Tables.t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
      .distinct()
      .orderBy("nationkey")
  }

  val setopIntersect: Q = (s, dir) => {
    Tables.t(s, dir, "customer").filter(col("c_acctbal") > 9500)
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .intersect(Tables.t(s, dir, "supplier")
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy("nationkey")
  }

  val setopIntersectAll: Q = (s, dir) => {
    Tables.t(s, dir, "customer").filter(col("c_acctbal") > 9500)
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .intersectAll(Tables.t(s, dir, "supplier")
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy("nationkey")
  }

  val setopExcept: Q = (s, dir) => {
    Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .except(Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy("nationkey")
  }

  val setopExceptAll: Q = (s, dir) => {
    Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").cast("int").as("nationkey"))
      .exceptAll(Tables.t(s, dir, "supplier")
        .select(col("s_nationkey").cast("int").as("nationkey")))
      .orderBy("nationkey")
  }

  // -------------------------------------------------------- sorts / limits

  /** Ordered top-K → TakeOrderedAndProjectExec (Hive TopNHash): the heap
    * runs per-partition before a single bounded merge — no global sort. */
  val sortTopK: Q = (s, dir) => {
    Tables.t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)
  }

  /** Global multi-column ORDER BY (range-partitioned sort — beats Hive's
    * single-reducer ORDER BY at any scale). */
  val sortGlobal: Q = (s, dir) => {
    Tables.t(s, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .orderBy(col("o_orderdate"), col("o_orderpriority").desc, col("o_orderkey"))
  }

  /** CLUSTER BY ≈ DISTRIBUTE BY + SORT BY: repartition on the key then
    * sort within partitions (Hive ReduceSink semantics). A final global
    * order makes the result oracle-comparable. */
  val sortClusterBy: Q = (s, dir) => {
    Tables.t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .repartition(col("l_returnflag"))
      .sortWithinPartitions("l_returnflag", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
  }

  /** TABLESAMPLE — seeded, deterministic within Spark but not replayable
    * in DuckDB ⇒ registered rows-only (no oracle entry). The
    * oracle-checkable production shape is [[sortHashsample]] below. */
  val sortTablesample: Q = (s, dir) => {
    Tables.t(s, dir, "orders").sample(withReplacement = false, 0.1, seed = 42)
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
  }

  /** Deterministic hash sampling — the honest 100 TB sampling shape.
    * `TABLESAMPLE`'s seeded RNG is engine-private (not replayable in
    * DuckDB, and in Spark it isn't even stable across partition
    * re-planning), so at scale the reproducible pattern is a threshold on
    * a cryptographic digest of the key: md5 is bit-identical everywhere,
    * the predicate pushes down to the scan, and the sample is stable under
    * repartitioning, AQE re-plans, and engine swaps. First hex nibble in
    * {0,1} ⇒ an exact 2/16 = 12.5 % expected rate. Ref: Hive's
    * TABLESAMPLE(BUCKET x OUT OF y ON col) hashes a column the same way
    * for deterministic sampling (SURVEY.md §2 row 58). */
  val sortHashsample: Q = (s, dir) => {
    Tables.t(s, dir, "orders")
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1)
        .isin("0", "1"))
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
  }

  /** Local relation fast path: VALUES inline table, no file scan. */
  val localValues: Q = (s, _) =>
    s.sql(
      """SELECT id, tag, id * 10 AS ten
        |FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(id, tag)
        |ORDER BY id""".stripMargin)

  /** Bloom-filter runtime pre-filter (GenericUDAFBloomFilter shape): a
    * compact sketch of the supplier keys filters the fact table before
    * any join — the Hive bloom runtime-filtering pattern. The sketch is
    * a distributed `bloom_filter_agg` (partial sketches OR-merged), its
    * bytes ship as a literal to every task (like a broadcast), and the
    * probe is the native codegen'd `BloomFilterMightContain` — no Scala
    * UDF serialization wall anywhere in the per-row path. */
  val bloomPrefilter: Q = (s, dir) => {
    val sketch = Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 0)
      .select(call_function("bloom_filter_agg",
        xxhash64(col("s_suppkey")), lit(1000L), lit(14378L)).as("bf"))
      .head.getAs[Array[Byte]](0)
    Tables.t(s, dir, "lineitem")
      .filter(call_function("bloom_might_contain", lit(sketch), xxhash64(col("l_suppkey"))))
      .join(broadcast(Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 0)),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("price_sum"))
      .orderBy("l_returnflag")
  }

  /** Salted join — the manual skew-mitigation pattern: the small side is
    * replicated across `salts` buckets, the big side picks a deterministic
    * salt, the join key becomes (key, salt) so one hot key spreads over
    * `salts` reducers. Result is identical to the unsalted join (oracle
    * checks that). */
  val joinSalted: Q = (s, dir) => {
    val salts = 4
    val ordersRep = Tables.t(s, dir, "orders")
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    val liSalted = Tables.t(s, dir, "lineitem")
      .withColumn("salt",
        pmod(col("l_orderkey") + col("l_linenumber"), lit(salts)).cast("int"))
    liSalted.join(ordersRep,
      liSalted("l_orderkey") === ordersRep("o_orderkey") &&
        liSalted("salt") === ordersRep("salt"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Uncorrelated IN subquery → left-semi rewrite. */
  val subqIn: Q = (s, dir) => sqlOverViews(s, dir, subqInSql)
  private val subqInSql =
    """SELECT c_mktsegment, COUNT(*) AS cnt
      |FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Correlated EXISTS subquery → decorrelated semi join. */
  val subqExists: Q = (s, dir) => sqlOverViews(s, dir, subqExistsSql)
  private val subqExistsSql =
    """SELECT o_orderpriority, COUNT(*) AS cnt
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Scalar subquery (single-value, compared per row). */
  val subqScalar: Q = (s, dir) => sqlOverViews(s, dir, subqScalarSql)
  private val subqScalarSql =
    s"""SELECT c_mktsegment, COUNT(*) AS rich_cnt
       |FROM customer
       |WHERE c_acctbal > (SELECT ${oAvg("c_acctbal", 4)} FROM customer)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** NOT IN (null-aware anti join; fixture keys are non-null). */
  val subqNotIn: Q = (s, dir) => sqlOverViews(s, dir, subqNotInSql)
  private val subqNotInSql =
    """SELECT CAST(c_nationkey AS INT) AS nationkey, COUNT(*) AS cnt
      |FROM customer
      |WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000)
      |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin

  /** WITH / chained CTEs. */
  val cteChain: Q = (s, dir) => sqlOverViews(s, dir, cteChainSql)
  private val cteChainSql =
    s"""WITH big_orders AS (
       |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |  WHERE o_totalprice > 200000),
       |per_cust AS (
       |  SELECT o_custkey, COUNT(*) AS n, ${oSum("o_totalprice", 2)} AS total
       |  FROM big_orders GROUP BY o_custkey)
       |SELECT n AS orders_bucket, COUNT(*) AS customers,
       |  ${oSum("total", 2)} AS bucket_total
       |FROM per_cust GROUP BY n ORDER BY n""".stripMargin

  /** WITH RECURSIVE (Spark 4's UnionLoop operator — the SQL-surface gap
    * recursive hierarchies used to force out to driver loops): ancestry
    * walk over the deterministic user binary tree (parent = u DIV 2, a
    * synthetic but total hierarchy over real fixture ids), reduced to
    * the depth-to-root histogram. Each iteration is one filtered
    * projection of the previous step's frame — the loop runs
    * ⌈log₂(max id)⌉ rounds regardless of user count, and every round is
    * fully distributed (no driver-side fixpoint). DuckDB replays the
    * identical recursion (`//` for DIV). */
  val cteRecursive: Q = (s, dir) => sqlOverViews(s, dir, cteRecursiveSql)
  /** Also this query's SQL-surface text (`SqlSurface.overrides`). */
  private[queries] val cteRecursiveSql =
    """WITH RECURSIVE chain(u, a, depth) AS (
      |  SELECT user_id, user_id, 0
      |  FROM (SELECT DISTINCT user_id FROM events) t
      |  UNION ALL
      |  SELECT u, a DIV 2, depth + 1 FROM chain WHERE a > 0),
      |d AS (SELECT u, MAX(depth) AS depth_to_root FROM chain GROUP BY u)
      |SELECT depth_to_root, COUNT(*) AS n_users
      |FROM d GROUP BY depth_to_root ORDER BY depth_to_root""".stripMargin

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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", q1PricingSummary, q1PricingSummarySql),
    QueryDef("q5_local_supplier", q5LocalSupplier,
      s"""SELECT n_name, ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= '1994-01-01' AND o_orderdate < '1996-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),
    QueryDef("join_multiway", joinMultiway,
      s"""SELECT n_name, ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue,
         |COUNT(*) AS line_cnt
         |FROM region JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QueryDef("join_left", joinLeft,
      s"""SELECT c_custkey, c_name, COUNT(o_orderkey) AS big_orders,
         |COALESCE(${oSum("o_totalprice")}, 0.0) AS big_total
         |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
         |ON o.o_custkey = c_custkey
         |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),
    QueryDef("join_right", joinRight,
      """SELECT c_custkey, COUNT(o_orderkey) AS f_orders
        |FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
        |RIGHT JOIN customer ON o.o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    QueryDef("join_full", joinFull,
      """SELECT COALESCE(nk, nk2) AS nationkey,
        |COALESCE(cust_cnt, 0) AS cust_cnt, COALESCE(supp_cnt, 0) AS supp_cnt
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS cust_cnt FROM customer
        |      WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk2, COUNT(*) AS supp_cnt FROM supplier
        |      WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
        |ON nk = nk2 ORDER BY nationkey""".stripMargin),
    QueryDef("join_semi", joinSemi,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    QueryDef("join_anti", joinAnti,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    QueryDef("join_cross", joinCross,
      """SELECT r_name, n_name FROM (SELECT r_name FROM region) r
        |CROSS JOIN (SELECT n_name FROM nation) n
        |ORDER BY r_name, n_name""".stripMargin),
    QueryDef("join_theta", joinTheta,
      """SELECT s_suppkey, COUNT(*) AS near_cust_cnt
        |FROM supplier JOIN customer
        |ON c_acctbal > s_acctbal - 100 AND c_acctbal <= s_acctbal + 100
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin),
    QueryDef("join_broadcast", joinBroadcast,
      s"""SELECT p_brand, ${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue,
         |COUNT(*) AS line_cnt
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // Tolerance as-of / last-touch attribution: independent naive
    // derivation — latest click per purchase via a <= join + argmax,
    // then the lookback gate.
    QueryDef("join_asof_tol", joinAsofTol,
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) AS t FROM events),
        |c AS (SELECT user_id, event_id, t FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id, t FROM e
        |      WHERE event_type = 'purchase'),
        |cand AS (SELECT p.user_id, p.event_id, p.t,
        |           c.event_id AS click_id, c.t AS ct,
        |           row_number() OVER (PARTITION BY p.user_id, p.event_id
        |             ORDER BY c.t DESC, c.event_id DESC) AS r
        |         FROM p JOIN c ON c.user_id = p.user_id AND c.t <= p.t),
        |best AS (SELECT user_id, event_id, click_id, ct
        |         FROM cand WHERE r = 1)
        |SELECT p.user_id, p.event_id, p.t AS tsu,
        |  CASE WHEN b.ct IS NOT NULL AND p.t - b.ct <= 3600000000
        |    THEN b.click_id END AS click_id,
        |  COALESCE(b.ct IS NOT NULL AND p.t - b.ct <= 3600000000, FALSE)
        |    AS in_window
        |FROM p LEFT JOIN best b USING (user_id, event_id)
        |ORDER BY user_id, event_id""".stripMargin),
    QueryDef("join_asof", joinAsof,
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
        |    max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.user_id AS user_id, e.event_id AS event_id,
        |  CAST(e.ts AS TIMESTAMP) AS ts, o.o_orderkey, o.o_totalprice
        |FROM events e
        |ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
        |ORDER BY user_id, event_id""".stripMargin),
    // SCD2 PIT join: status runs via gaps-and-islands, valid_to via
    // lead, probes shifted +1h so they cross version boundaries.
    QueryDef("join_scd2", joinScd2,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
        |           FROM events),
        |r AS (SELECT user_id, event_id, tsu, event_type,
        |        CASE WHEN lag(event_type) OVER w IS NULL
        |               OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |        END AS chg
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |r2 AS (SELECT user_id, tsu, event_type,
        |         SUM(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |           AS run_id
        |       FROM r),
        |dim AS (SELECT user_id AS d_user, run_id, MIN(tsu) AS valid_from,
        |          MAX(event_type) AS status
        |        FROM r2 GROUP BY user_id, run_id),
        |dim2 AS (SELECT d_user, run_id, valid_from, status,
        |           lead(valid_from) OVER (PARTITION BY d_user ORDER BY run_id)
        |             AS valid_to
        |         FROM dim),
        |p AS (SELECT user_id, event_id, tsu + 3600000000 AS tsp FROM e)
        |SELECT p.user_id, p.event_id, p.tsp, d.status, d.valid_from
        |FROM p JOIN dim2 d ON d.d_user = p.user_id
        |  AND p.tsp >= d.valid_from
        |  AND (d.valid_to IS NULL OR p.tsp < d.valid_to)
        |ORDER BY p.user_id, p.event_id""".stripMargin),
    QueryDef("join_range_bin", joinRangeBin,
      s"""SELECT o1.o_orderpriority AS o_orderpriority, COUNT(*) AS follow_cnt,
         |${oSum("o2.o_totalprice", 2)} AS follow_total
         |FROM orders o1 JOIN orders o2
         |  ON o2.o_orderdate >= o1.o_orderdate
         | AND o2.o_orderdate < o1.o_orderdate + INTERVAL 7 DAY
         |WHERE o1.o_totalprice > 450000
         |GROUP BY o1.o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("join_fuzzy_block", joinFuzzyBlock,
      """WITH nm AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk,
        |              CAST(COUNT(*) AS BIGINT) AS n_parts
        |            FROM part GROUP BY 1, 2)
        |SELECT a.blk, a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev,
        |  CAST(a.n_parts + b.n_parts AS BIGINT) AS support
        |FROM nm a JOIN nm b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY name_a, name_b""".stripMargin),
    QueryDef("setop_union_all", setopUnionAll,
      """SELECT * FROM (
        |SELECT c_custkey AS key, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT s_suppkey AS key, 'supplier' AS src FROM supplier) t
        |ORDER BY src, key""".stripMargin),
    QueryDef("setop_union_distinct", setopUnionDistinct,
      """SELECT * FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |UNION
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin),
    QueryDef("setop_intersect", setopIntersect,
      """SELECT * FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal > 9500
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin),
    QueryDef("setop_intersect_all", setopIntersectAll,
      """SELECT * FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal > 9500
        |INTERSECT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin),
    QueryDef("setop_except", setopExcept,
      """SELECT * FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier WHERE s_acctbal > 5000) t
        |ORDER BY nationkey""".stripMargin),
    QueryDef("setop_except_all", setopExceptAll,
      """SELECT * FROM (
        |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT ALL
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin),
    QueryDef("sort_topk", sortTopK,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    QueryDef("sort_global", sortGlobal,
      """SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
        |ORDER BY o_orderdate, o_orderpriority DESC, o_orderkey""".stripMargin),
    QueryDef("sort_cluster_by", sortClusterBy,
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_quantity >= 49
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_quantity""".stripMargin),
    QueryDef("sort_tablesample", sortTablesample, None),
    QueryDef("sort_hashsample", sortHashsample,
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
        |ORDER BY o_orderkey""".stripMargin),
    QueryDef("local_values", localValues,
      """SELECT id, tag, id * 10 AS ten
        |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, tag)
        |ORDER BY id""".stripMargin),
    QueryDef("bloom_prefilter", bloomPrefilter,
      s"""SELECT l_returnflag, COUNT(*) AS cnt, ${oSum("l_extendedprice")} AS price_sum
         |FROM lineitem WHERE EXISTS (
         |  SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey AND s_acctbal > 0)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    QueryDef("join_salted", joinSalted,
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |${oSum("l_extendedprice*(1.0-l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QueryDef("subq_in", subqIn, subqInSql),
    QueryDef("subq_exists", subqExists, subqExistsSql),
    QueryDef("subq_scalar", subqScalar, subqScalarSql),
    QueryDef("subq_not_in", subqNotIn, subqNotInSql),
    QueryDef("cte_chain", cteChain, cteChainSql),
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
        |ORDER BY nationkey""".stripMargin)
  )
}
