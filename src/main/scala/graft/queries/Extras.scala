package graft.queries

import graft.Tables
import graft.functions.{BloomFunctions, ContextNGramsAgg, GapFunctions, NGramsAgg, ParseUrlTupleGen}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Checklist closers: custom Generator (§2.10 UDTF path), ngrams /
  * context_ngrams Aggregators as queries (§2.4), SQL UDF registration
  * (§2.10 CREATE TEMPORARY FUNCTION ≈ spark.udf.register), local-relation
  * fast path (§2.1 row 2), bloom-filter runtime filtering (§2.4), and the
  * salting pattern for skew joins (§2.3).
  */
object Extras {

  /** Custom Catalyst Generator in a LATERAL VIEW (parse_url_tuple UDTF). */
  val genParseUrlTuple: Q = (s, dir) => {
    ParseUrlTupleGen.register(s)
    Tables.t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        concat(lit("https://u:p@example.com:8080/api/"), col("source"),
          lit("?sid="), col("doc_id"), lit("&x=1#frag")).as("url"))
      .createOrReplaceTempView("doc_urls")
    s.sql(
      """SELECT doc_id, t.host, t.query_sid, t.userinfo, t.file
        |FROM doc_urls
        |LATERAL VIEW parse_url_tuple(url, 'HOST', 'QUERY:sid', 'USERINFO', 'FILE') t
        |  AS host, query_sid, userinfo, file
        |ORDER BY doc_id""".stripMargin)
  }

  /** ngrams UDAF (GenericUDAFnGrams): global top-20 bigrams. */
  val fnNgrams: Q = (s, dir) => {
    val ng = udaf(new NGramsAgg(2, 20), ExpressionEncoder[Seq[String]]())
    Tables.t(s, dir, "documents")
      .agg(ng(split(col("text"), " ")).as("gs"))
      .selectExpr("posexplode(gs) AS (pos, g)")
      .select((col("pos") + 1).as("rank"),
        col("g.ngram").as("ngram"), col("g.freq").as("freq"))
      .orderBy("rank")
  }

  /** context_ngrams UDAF: top-10 words following "data". */
  val fnContextNgrams: Q = (s, dir) => {
    val cng = udaf(new ContextNGramsAgg(Seq("data"), 10), ExpressionEncoder[Seq[String]]())
    Tables.t(s, dir, "documents")
      .agg(cng(split(col("text"), " ")).as("gs"))
      .selectExpr("posexplode(gs) AS (pos, g)")
      .select((col("pos") + 1).as("rank"),
        col("g.ngram").as("next_word"), col("g.freq").as("freq"))
      .orderBy("rank")
  }

  /** SQL-registered scalar UDFs (spark.udf.register path). */
  val fnUdfRegistry: Q = (s, dir) => {
    GapFunctions.registerAll(s)
    Tables.t(s, dir, "documents").createOrReplaceTempView("documents_udf")
    s.sql(
      """SELECT doc_id,
        |  field_str(lang, array('en', 'de', 'es', 'zh')) AS lang_idx,
        |  size(shingle_words(split(text, ' '), 3)) AS n_shingles
        |FROM documents_udf WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)
  }

  /** SQL-bodied temporary functions (CREATE TEMPORARY MACRO analogue):
    * Spark 4's `CREATE TEMPORARY FUNCTION f(...) RETURNS t RETURN expr`
    * defines a macro whose body Catalyst inlines into the plan — the
    * expression participates in codegen and pushdown exactly like a
    * hand-written column, unlike a black-box Scala UDF. */
  val fnSqlMacro: Q = (s, dir) => {
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        |RETURNS DOUBLE RETURN p * (1.0 - d)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION flag_tag(f STRING, st STRING)
        |RETURNS STRING RETURN concat(f, '/', st)""".stripMargin)
    Tables.t(s, dir, "lineitem")
      .select(expr("flag_tag(l_returnflag, l_linestatus)").as("tag"),
        expr("disc_price(l_extendedprice, l_discount)").as("dp"))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"), dsum(col("dp")).as("disc_sum"))
      .orderBy("tag")
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
    BloomFunctions.register(s)
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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("gen_parse_url_tuple", genParseUrlTuple,
      """SELECT doc_id, 'example.com' AS host, CAST(doc_id AS VARCHAR) AS query_sid,
        |'u:p' AS userinfo,
        |'/api/' || source || '?sid=' || doc_id || '&x=1' AS file
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
    QueryDef("fn_ngrams", fnNgrams,
      """WITH grams AS (
        |  SELECT unnest(list_transform(range(len(w)-1), i -> w[i+1] || ' ' || w[i+2])) AS g
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents) t),
        |counts AS (SELECT g, COUNT(*) AS freq FROM grams GROUP BY g),
        |ranked AS (SELECT g, freq,
        |  row_number() OVER (ORDER BY freq DESC, g) AS rank FROM counts)
        |SELECT CAST(rank AS INT) AS rank, g AS ngram, freq
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin),
    QueryDef("fn_context_ngrams", fnContextNgrams,
      """WITH pairs AS (
        |  SELECT unnest(list_transform(range(len(w)-1),
        |    i -> CASE WHEN w[i+1] = 'data' THEN w[i+2] END)) AS nw
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents) t),
        |counts AS (SELECT nw, COUNT(*) AS freq FROM pairs WHERE nw IS NOT NULL GROUP BY nw),
        |ranked AS (SELECT nw, freq,
        |  row_number() OVER (ORDER BY freq DESC, nw) AS rank FROM counts)
        |SELECT CAST(rank AS INT) AS rank, nw AS next_word, freq
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin),
    QueryDef("fn_udf_registry", fnUdfRegistry,
      """SELECT doc_id,
        |CAST(CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'es' THEN 3
        |  WHEN 'zh' THEN 4 ELSE 0 END AS INT) AS lang_idx,
        |CAST(CASE WHEN len(string_split(text, ' ')) < 3 THEN 0
        |  ELSE len(string_split(text, ' ')) - 2 END AS INT) AS n_shingles
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
    // macro bodies inlined (the driver runs one statement per oracle;
    // semantically identical to DuckDB's CREATE MACRO twin)
    QueryDef("fn_sql_macro", fnSqlMacro,
      s"""SELECT l_returnflag || '/' || l_linestatus AS tag, COUNT(*) AS cnt,
         |${oSum("l_extendedprice*(1.0-l_discount)")} AS disc_sum
         |FROM lineitem GROUP BY 1 ORDER BY tag""".stripMargin),
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
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  )
}
