package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** §2.1 rows 13–15: UDTF/generator surface — explode / posexplode /
  * inline / stack / json_tuple, LATERAL VIEW [OUTER], TRANSFORM … USING,
  * and a custom Catalyst Generator (parse_url_tuple, §2.10's UDTF path).
  *
  * Reference: `UDTFOperator`, `LateralViewForwardOperator`/
  * `LateralViewJoinOperator`, `ScriptOperator` (SURVEY.md §2.1). All are
  * Spark-native `Generator` expressions / SQL syntax; TRANSFORM runs the
  * no-serde script path (Spark 3.0+, no Hive dependency).
  *
  * Scale: generators are per-row flatMaps — embarrassingly parallel; the
  * word-count explode aggregates map-side before its single shuffle.
  */
object Generators {

  /** explode(split) → word count (the canonical UDTF demo). */
  val genExplode: Q = (s, dir) => {
    Tables.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** explode_outer over a possibly-empty array (LATERAL VIEW OUTER). */
  val genExplodeOuter: Q = (s, dir) => {
    Tables.t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), " "), w => length(w) > 6)).as("long_word"))
      .orderBy(col("doc_id"), col("long_word").asc_nulls_first)
  }

  /** posexplode: position + value. */
  val genPosexplode: Q = (s, dir) => {
    Tables.t(s, dir, "documents").filter(col("doc_id") < 30)
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, word)")
      .orderBy("doc_id", "pos")
  }

  /** inline(array(struct…)): one row per struct. */
  val genInline: Q = (s, dir) => {
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 1000)
      .selectExpr("o_orderkey",
        """inline(array(
          |  named_struct('lbl', 'base', 'amt', o_totalprice),
          |  named_struct('lbl', 'halved', 'amt', CAST(FLOOR(o_totalprice*50+0.5) AS DOUBLE)/100)
          |)) AS (lbl, amt)""".stripMargin)
      .orderBy("o_orderkey", "lbl")
  }

  /** stack(n, …): unpivot to key/value rows. */
  val genStack: Q = (s, dir) => {
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 1000)
      .selectExpr("o_orderkey",
        "stack(2, 'status', o_orderstatus, 'priority', o_orderpriority) AS (k, v)")
      .orderBy("o_orderkey", "k")
  }

  /** LATERAL VIEW json_tuple (SQL parser path). */
  val genJsonTuple: Q = (s, dir) => {
    Tables.events(s, dir).createOrReplaceTempView("events_jt")
    s.sql(
      """SELECT event_id, jt.k AS k_val
        |FROM events_jt LATERAL VIEW json_tuple(props, 'k') jt AS k
        |WHERE event_id < 500
        |ORDER BY event_id""".stripMargin)
  }

  /** LATERAL VIEW explode with the source row preserved (Hive syntax). */
  val genLateralView: Q = (s, dir) => {
    Tables.t(s, dir, "documents").createOrReplaceTempView("documents_lv")
    s.sql(
      """SELECT doc_id, lang, w.word AS word
        |FROM documents_lv
        |LATERAL VIEW explode(split(text, ' ')) w AS word
        |WHERE doc_id < 20
        |ORDER BY doc_id, word""".stripMargin)
  }

  /** TRANSFORM … USING 'cat' (ScriptOperator, no-serde mode). */
  val genTransformScript: Q = (s, dir) => {
    Tables.t(s, dir, "orders").createOrReplaceTempView("orders_ts")
    s.sql(
      """SELECT CAST(k AS BIGINT) AS okey, v AS prio FROM (
        |  SELECT TRANSFORM(o_orderkey, o_orderpriority)
        |  USING 'cat' AS (k STRING, v STRING)
        |  FROM orders_ts WHERE o_orderkey < 2000
        |) t ORDER BY okey, prio""".stripMargin)
  }

  /** TRANSFORM with ROW FORMAT DELIMITED on both sides (ScriptOperator's
    * serde configuration): rows stream to the script '#'-separated and
    * the script's '#'-separated stdout is split back into columns. The
    * script (`cut`) selects fields BY the delimiter, so a wrong field
    * separator on either side breaks the output — the config is load-
    * bearing, not decorative. (Delimiter choice: Spark's no-serde output
    * reader splits script stdout with the delimiter AS A REGEX, so a
    * metachar like '|' would split on every character; '#' is
    * regex-neutral.) */
  val genTransformDelimited: Q = (s, dir) => sqlOverViews(s, dir, genTransformDelimitedSql)
  /** Also this query's SQL-surface text (`SqlSurface.overrides`). */
  private[queries] val genTransformDelimitedSql =
    """SELECT CAST(k AS BIGINT) AS okey, v AS prio FROM (
      |  SELECT TRANSFORM(o_orderkey, o_orderstatus, o_orderpriority)
      |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '#'
      |    USING 'cut -d"#" -f1,3'
      |    AS (k STRING, v STRING)
      |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '#'
      |  FROM orders WHERE o_orderkey < 2000
      |) t ORDER BY okey, prio""".stripMargin

  /** Custom Catalyst Generator in a LATERAL VIEW (parse_url_tuple UDTF). */
  val genParseUrlTuple: Q = (s, dir) => {
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

  val defs: Seq[QueryDef] = Seq(
    QueryDef("gen_explode", genExplode,
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin),
    QueryDef("gen_explode_outer", genExplodeOuter,
      """SELECT doc_id, unnest(CASE WHEN len(lw) = 0 THEN [NULL] ELSE lw END) AS long_word
        |FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 6) AS lw
        |      FROM documents WHERE doc_id < 100) t
        |ORDER BY doc_id, long_word NULLS FIRST""".stripMargin),
    QueryDef("gen_posexplode", genPosexplode,
      """SELECT doc_id,
        |CAST(unnest(range(len(string_split(text, ' ')))) AS INT) AS pos,
        |unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 30
        |ORDER BY doc_id, pos""".stripMargin),
    QueryDef("gen_inline", genInline,
      """SELECT o_orderkey, lbl, amt FROM (
        |  SELECT o_orderkey, 'base' AS lbl, o_totalprice AS amt
        |  FROM orders WHERE o_orderkey < 1000
        |  UNION ALL
        |  SELECT o_orderkey, 'halved' AS lbl,
        |    CAST(FLOOR(o_totalprice*50+0.5) AS DOUBLE)/100 AS amt
        |  FROM orders WHERE o_orderkey < 1000) t
        |ORDER BY o_orderkey, lbl""".stripMargin),
    QueryDef("gen_stack", genStack,
      """SELECT o_orderkey, k, v FROM (
        |  SELECT o_orderkey, 'status' AS k, o_orderstatus AS v
        |  FROM orders WHERE o_orderkey < 1000
        |  UNION ALL
        |  SELECT o_orderkey, 'priority' AS k, o_orderpriority AS v
        |  FROM orders WHERE o_orderkey < 1000) t
        |ORDER BY o_orderkey, k""".stripMargin),
    QueryDef("gen_json_tuple", genJsonTuple,
      """SELECT event_id, json_extract_string(props, '$.k') AS k_val
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin),
    QueryDef("gen_lateral_view", genLateralView,
      """SELECT doc_id, lang, unnest(list_sort(string_split(text, ' '))) AS word
        |FROM documents WHERE doc_id < 20
        |ORDER BY doc_id, word""".stripMargin),
    QueryDef("gen_transform_script", genTransformScript,
      """SELECT o_orderkey AS okey, o_orderpriority AS prio
        |FROM orders WHERE o_orderkey < 2000 ORDER BY okey, prio""".stripMargin),
    QueryDef("gen_transform_delimited", genTransformDelimited,
      """SELECT o_orderkey AS okey, o_orderpriority AS prio
        |FROM orders WHERE o_orderkey < 2000 ORDER BY okey, prio""".stripMargin),
    QueryDef("gen_parse_url_tuple", genParseUrlTuple,
      """SELECT doc_id, 'example.com' AS host, CAST(doc_id AS VARCHAR) AS query_sid,
        |'u:p' AS userinfo,
        |'/api/' || source || '?sid=' || doc_id || '&x=1' AS file
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)
  )
}
