package graft.queries

import graft.Tables
import graft.functions.GapFunctions
import org.apache.spark.sql.functions._

/** §2.7 scalar-function surface: one themed, oracle-checked query per
  * family from the Hive 2.3.10 FunctionRegistry (SURVEY.md §2.7; ~200
  * names, all listed there with jar evidence), plus the virtual columns
  * (INPUT__FILE__NAME, BLOCK__OFFSET__INSIDE__FILE), SQL UDF
  * registration and SQL-bodied temporary functions (§2.10).
  *
  * Every function here is a Spark builtin (or a GapFunctions composer over
  * builtins) — fully codegen'd, no UDF serialization wall. Functions DuckDB
  * 1.0 cannot express (soundex, format_number, crc32, sha1, murmur hash,
  * aes) live in `fn_hash_extra` (rows-only) + ScalaTest exact-value specs.
  */
object Scalars {

  /** Math family: rounding, conv/hex, pmod, factorial, exp/log/trig. */
  val fnMath: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    p.select(col("p_partkey"),
      abs(col("p_retailprice") - 1000).as("abs_v"),
      dround(col("p_retailprice") / 7, 2).as("round_div7"),
      floor(col("p_retailprice")).as("floor_v"),
      ceil(col("p_retailprice")).as("ceil_v"),
      pmod(col("p_partkey") - 150, lit(7)).as("pmod_v"),
      conv(col("p_size").cast("string"), 10, 2).as("bin_str"),
      hex(col("p_size")).as("hex_str"),
      factorial(col("p_size") % 10).cast("long").as("fact_v"),
      greatest(col("p_size"), lit(25)).as("great_v"),
      least(col("p_size"), lit(25)).as("least_v"),
      signum(col("p_retailprice") - 1000).as("sign_v"),
      dround(exp(col("p_size") / 10.0), 9).as("exp_v"),
      dround(log(col("p_retailprice")), 9).as("ln_v"),
      dround(log10(col("p_retailprice")), 9).as("log10_v"),
      dround(log2(col("p_size")), 9).as("log2_v"),
      dround(sqrt(col("p_retailprice")), 9).as("sqrt_v"),
      dround(cbrt(col("p_retailprice")), 9).as("cbrt_v"),
      dround(sin(col("p_size")), 9).as("sin_v"),
      dround(atan(col("p_size")), 9).as("atan_v"),
      dround(degrees(col("p_size")), 6).as("deg_v"),
      dround(pow(col("p_size"), 2), 4).as("pow_v"))
      .orderBy("p_partkey")
  }

  /** Bitwise family: & | ^ ~ shifts. */
  val fnBitwise: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      (col("c_custkey").bitwiseAND(lit(37L))).as("band"),
      (col("c_custkey").bitwiseOR(lit(37L))).as("bor"),
      (col("c_custkey").bitwiseXOR(lit(37L))).as("bxor"),
      bitwise_not(col("c_custkey")).as("bnot"),
      shiftleft(col("c_custkey"), 3).as("shl"),
      shiftright(col("c_custkey"), 2).as("shr"),
      bit_count(col("c_custkey")).as("bcount"))
      .orderBy("c_custkey")
  }

  /** String family. */
  val fnString: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    p.select(col("p_partkey"),
      length(col("p_name")).as("len_v"),
      upper(col("p_name")).as("upper_v"),
      lower(col("p_type")).as("lower_v"),
      lpad(col("p_brand"), 12, "*").as("lpad_v"),
      rpad(col("p_brand"), 12, "-").as("rpad_v"),
      trim(lit("  pad  ")).as("trim_v"),
      reverse(col("p_name")).as("rev_v"),
      call_function("repeat", lit("*"), col("p_size") % 5).as("rep_v"),
      substring(col("p_name"), 2, 4).as("substr_v"),
      instr(col("p_name"), "i").as("instr_v"),
      concat_ws("|", col("p_brand"), col("p_type"), col("p_name")).as("cws_v"),
      translate(col("p_name"), "aeiou", "AEIOU").as("trans_v"),
      ascii(col("p_name")).as("ascii_v"),
      split_part(col("p_name"), lit(" "), lit(1)).as("sp1"),
      substring_index(col("p_name"), " ", 1).as("sidx_v"),
      levenshtein(col("p_brand"), col("p_type")).as("lev_v"),
      format_string("%s-%04d", col("p_type"), col("p_size")).as("fmt_v"),
      initcap(col("p_name")).as("initcap_v"),
      find_in_set(col("p_type"), lit("ECONOMY,SMALL,LARGE")).as("fis_v"),
      locate("e", col("p_name")).as("loc_v"))
      .orderBy("p_partkey")
  }

  /** Regex/LIKE family. */
  val fnRegex: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      col("c_name").like("%00001%").as("like_v"),
      col("c_mktsegment").rlike("^B.*G$").as("rlike_v"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("rext_v"),
      regexp_replace(col("c_name"), "0", "_").as("rrep_v"),
      regexp_count(col("c_name"), lit("0")).cast("int").as("rcnt_v"),
      split(col("c_name"), "#").getItem(1).as("split_v"))
      .orderBy("c_custkey")
  }

  /** Date/time family (UTC session, SURVEY.md §7.5). */
  val fnDatetime: Q = (s, dir) => {
    val o = Tables.t(s, dir, "orders").filter(col("o_orderkey") < 2000)
    o.select(col("o_orderkey"),
      year(col("o_orderdate")).as("y_v"),
      quarter(col("o_orderdate")).as("q_v"),
      month(col("o_orderdate")).as("m_v"),
      dayofmonth(col("o_orderdate")).as("dom_v"),
      dayofweek(col("o_orderdate")).as("dow_v"),
      dayofyear(col("o_orderdate")).as("doy_v"),
      weekofyear(col("o_orderdate")).as("woy_v"),
      last_day(col("o_orderdate")).as("lday_v"),
      next_day(col("o_orderdate"), "MO").as("nday_v"),
      date_add(col("o_orderdate"), 30).as("dadd_v"),
      date_sub(col("o_orderdate"), 15).as("dsub_v"),
      add_months(col("o_orderdate"), 2).cast("date").as("amon_v"),
      datediff(lit("2000-01-01").cast("date"), col("o_orderdate")).as("ddiff_v"),
      months_between(date_trunc("month", lit("2000-01-01").cast("date")),
        date_trunc("month", col("o_orderdate"))).as("mbtw_v"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm").as("dfmt_v"),
      unix_timestamp(col("o_orderdate")).as("unix_v"),
      from_unixtime(unix_timestamp(col("o_orderdate"))).as("funix_v"),
      date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("dtrunc_v"),
      to_date(col("o_orderdate")).as("todate_v"),
      make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("mkdate_v"))
      .orderBy("o_orderkey")
  }

  /** Conditional/null family: if/case/coalesce/nvl/nullif/between/in. */
  val fnConditional: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      when(col("c_acctbal") > 0, "pos").otherwise("neg").as("if_v"),
      when(col("c_acctbal") > 5000, "high")
        .when(col("c_acctbal") > 0, "mid")
        .otherwise("low").as("case_v"),
      coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("B!")).as("coal_v"),
      nvl(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("M!")).as("nvl_v"),
      nvl2(nullif(col("c_mktsegment"), lit("FURNITURE")), lit("other"), lit("furn")).as("nvl2_v"),
      col("c_acctbal").between(0, 5000).as("btw_v"),
      col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").as("in_v"),
      col("c_mktsegment").isNull.as("isn_v"),
      col("c_mktsegment").isNotNull.as("isnn_v"))
      .orderBy("c_custkey")
  }

  /** Collection family: array/map/struct constructors + accessors. */
  val fnCollection: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    val arr = array(col("p_brand"), col("p_type"), lit("zzz"))
    val mp = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
    val st = struct(col("p_brand").as("b"), col("p_size").as("sz"))
    p.select(col("p_partkey"),
      size(arr).as("asize_v"),
      array_contains(arr, "ECONOMY").as("acont_v"),
      concat_ws(",", sort_array(arr)).as("asort_v"),
      concat_ws(",", sort_array(arr, asc = false)).as("asortd_v"),
      element_at(arr, 2).as("aelem_v"),
      concat_ws(",", slice(arr, 1, 2)).as("aslice_v"),
      size(mp).as("msize_v"),
      concat_ws(",", map_keys(mp)).as("mkeys_v"),
      concat_ws(",", map_values(mp)).as("mvals_v"),
      element_at(mp, "brand").as("melem_v"),
      st.getField("sz").as("sfield_v"),
      concat_ws(",", array_repeat(col("p_brand"), 2)).as("arep_v"),
      concat_ws(",", array_distinct(array(col("p_brand"), col("p_brand"), col("p_type")))).as("adist_v"))
      .orderBy("p_partkey")
  }

  /** Higher-order (lambda) array functions — Spark's functional SQL
    * surface over collections (transform / filter / exists / forall /
    * aggregate / index-aware transform / zip_with), distinct from
    * [[fnCollection]]'s structural operators. Every lambda is
    * codegen-friendly integer arithmetic; the DuckDB twins spell the
    * same semantics via list_transform/list_filter/list_sum and
    * explicit range-indexed folds (no index-aware lambda there). */
  val fnLambda: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    val nums = array(col("p_size"), col("p_size") + 10, lit(1))
    p.select(col("p_partkey"),
      concat_ws(",", transform(nums, x => x * 2)).as("transform_v"),
      concat_ws(",", filter(nums, _ > 5)).as("filter_v"),
      exists(nums, _ > 40).as("exists_v"),
      forall(nums, _ > 0).as("forall_v"),
      aggregate(nums, lit(0L), (a, x) => a + x).as("agg_v"),
      concat_ws(",", transform(nums, (x, i) => x + i)).as("transformi_v"),
      concat_ws(",", zip_with(nums, reverse(nums), (a, b) => a + b))
        .as("zip_v"))
      .orderBy("p_partkey")
  }

  /** try_* error-safe family (the ANSI-mode escape hatches — under
    * Spark 4's ANSI-on default, a bad cast or a division by zero THROWS
    * unless the try_ variant turns it into a null; every robust
    * ingestion pipeline uses these at the raw edge): try_cast,
    * try_divide, try_add (overflow-safe), try_to_number,
    * try_element_at. DuckDB twins via TRY_CAST and null-guarded CASE
    * arithmetic. */
  val fnTry: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    p.select(col("p_partkey"),
      expr("try_cast(p_name AS INT)").as("badcast_v"),
      expr("try_cast(p_size AS STRING)").as("okcast_v"),
      expr("try_divide(p_retailprice, p_size % 3)").as("div_v"),
      expr("try_add(9223372036854775807L, p_size)").as("ovf_v"),
      expr("try_add(p_partkey, p_size)").as("add_v"),
      expr("CAST(try_to_number(CAST(p_size AS STRING), '999') AS BIGINT)")
        .as("tonum_v"),
      expr("try_element_at(array(p_brand, p_type), 5)").as("elem_v"))
      .orderBy("p_partkey")
  }

  /** VARIANT semi-structured type (NEW in Spark 4 — the open-format
    * answer to schemaless JSON columns: parse once into a binary
    * variant, extract typed paths without re-parsing): parse_json /
    * variant_get (typed) / try_variant_get (missing path → null, never
    * an error) / schema_of_variant / is_variant_null. Outputs are
    * extracted scalars, so the result parquet stays plain-typed. DuckDB
    * replays via its JSON extraction (the semantics, not the storage,
    * are the contract). */
  val fnVariant: Q = (s, dir) => {
    Tables.events(s, dir).filter(col("event_id") < 300)
      .select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k_long"),
        expr("variant_get(parse_json(props), '$.k', 'string')").as("k_str"),
        expr("try_variant_get(parse_json(props), '$.missing', 'long')")
          .as("miss_v"),
        expr("schema_of_variant(parse_json(props))").as("schema_v"),
        expr("is_variant_null(parse_json('null'))").as("vnull_v"))
      .orderBy("event_id")
  }

  /** JSON family over events.props. */
  val fnJson: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_id") < 300)
    e.select(col("event_id"),
      get_json_object(col("props"), "$.k").as("gjo_v"),
      json_tuple(col("props"), "k").as("jt_k"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k").as("fj_k"),
      to_json(struct(col("user_id").as("u"))).as("tj_v"),
      schema_of_json(lit("""{"k": 1}""")).as("soj_v"))
      .orderBy("event_id")
  }

  /** URL family: parse_url + parse_url_tuple (GapFunctions wrapper). */
  val fnUrl: Q = (s, dir) => {
    val d = Tables.t(s, dir, "documents").filter(col("doc_id") < 300)
    val url = concat(lit("https://example.com:8080/api/"), col("source"),
      lit("?sid="), col("doc_id"), lit("&x=1#top"))
    val tup = GapFunctions.parseUrlTuple(url, "HOST", "PATH", "QUERY", "REF",
      "PROTOCOL", "AUTHORITY", "FILE", "QUERY:sid")
    d.select(Seq(col("doc_id")) ++ tup: _*).orderBy("doc_id")
  }

  /** Hash/crypto family (oracle-checkable part: md5 + sha2-256). */
  val fnHash: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      md5(col("c_name")).as("md5_v"),
      sha2(col("c_name"), 256).as("sha256_v"),
      length(sha2(col("c_name"), 512)).as("sha512_len"))
      .orderBy("c_custkey")
  }

  /** Hash functions with NO DuckDB 1.0.0 twin (sha1/crc32 absent from its
    * registry; murmur3/xxhash64 are Spark-specific algorithms; soundex
    * absent) — rows-only at the driver gate, with exact known-answer
    * values pinned in FunctionsSpec so the implementations are still
    * value-checked, just not by the oracle replay. The members DuckDB CAN
    * express moved to [[fnHashB64Fmt]] (oracle-checked). */
  val fnHashExtra: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      sha1(col("c_name")).as("sha1_v"),
      crc32(col("c_name")).as("crc32_v"),
      hash(col("c_name"), col("c_custkey")).as("murmur_v"),
      xxhash64(col("c_name")).as("xx64_v"),
      soundex(col("c_name")).as("sdx_v"))
      .orderBy("c_custkey")
  }

  /** The DuckDB-expressible members formerly folded into fn_hash_extra,
    * split out so they ride the full oracle hash gate: base64
    * encode/decode round-trip and format_number's grouped rendering
    * (DuckDB emulates it with fmt-grouping on the integer part + a
    * lpad'ed 2-digit fraction, sign handled separately so (-1, 0)
    * values keep their minus). */
  val fnHashB64Fmt: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      base64(col("c_name").cast("binary")).as("b64_v"),
      base64(unbase64(base64(col("c_name").cast("binary")))).as("b64_rt"),
      format_number(col("c_acctbal"), 2).as("fmtnum_v"))
      .orderBy("c_custkey")
  }

  /** Masking family: mask + positional variants (GapFunctions). */
  val fnMask: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      call_function("mask", col("c_name")).as("mask_v"),
      GapFunctions.maskFirstN(col("c_name"), 4).as("mfn_v"),
      GapFunctions.maskLastN(col("c_name"), 4).as("mln_v"),
      GapFunctions.maskShowFirstN(col("c_name"), 4).as("msfn_v"),
      GapFunctions.maskShowLastN(col("c_name"), 4).as("msln_v"),
      GapFunctions.maskHash(col("c_name")).as("mhash_v"))
      .orderBy("c_custkey")
  }

  /** XPath family (Spark xpath* builtins; XML synthesized from columns so
    * the oracle can derive expected values arithmetically). */
  val fnXpath: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    val xml = concat(lit("<r><v>"), col("p_size"), lit("</v><n>"),
      col("p_brand"), lit("</n></r>"))
    p.select(col("p_partkey"),
      expr("xpath_int(concat('<r><v>', p_size, '</v><n>', p_brand, '</n></r>'), '/r/v')").as("xint_v"),
      call_function("xpath_string", xml, lit("/r/n")).as("xstr_v"),
      call_function("xpath_boolean", xml, lit("/r/v > 25")).as("xbool_v"),
      call_function("xpath_double", xml, lit("/r/v")).as("xdbl_v"),
      concat_ws(",", call_function("xpath", xml, lit("/r/*/text()"))).as("xlist_v"))
      .orderBy("p_partkey")
  }

  /** Cast matrix (§2.7 type conversion; Hive cast semantics).
    *
    * d2dec goes double→string→decimal→string: the middle leg avoids the
    * engine-divergent direct double→decimal rounding (Spark rounds the
    * exact binary expansion via BigDecimal HALF_UP, DuckDB
    * scales-and-rounds the double — see queries/package.scala dsum note),
    * and the final to-string leg pins the OUTPUT representation: a bare
    * decimal column survives Spark→parquet→pandas as `Decimal('2547.40')`
    * but DuckDB→pandas as float64 `2547.4` — numerically equal, rendered
    * differently, so a value-hash comparator flags it. Both engines print
    * DECIMAL(12,2) with fixed two-digit scale, so the string leg is
    * bit-stable across the whole toolchain. */
  val fnCast: Q = (s, dir) => {
    val c = Tables.t(s, dir, "customer").filter(col("c_custkey") < 300)
    c.select(col("c_custkey"),
      col("c_custkey").cast("string").as("l2s"),
      substring(col("c_name"), 10, 9).cast("long").as("s2l"),
      col("c_acctbal").cast("int").as("d2i"),
      col("c_acctbal").cast("string").cast("decimal(12,2)").cast("string").as("d2dec"),
      concat(col("c_nationkey"), lit(".5")).cast("double").as("s2d"),
      (col("c_custkey") % 2 === 0).as("l2b"),
      col("c_nationkey").cast("tinyint").as("i2t"),
      col("c_nationkey").cast("smallint").as("i2sm"),
      expr("try_cast(c_mktsegment AS INT)").as("tryc"))
      .orderBy("c_custkey")
  }

  /** Misc customs: field / elt / find_in_set / str_to_map / reflect /
    * sort_array_by (GapFunctions + Spark natives). */
  val fnMisc: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    val structArr = array(
      struct(col("p_size").cast("int").as("k"), col("p_brand").as("v")),
      struct(lit(25).as("k"), col("p_type").as("v")))
    p.select(col("p_partkey"),
      GapFunctions.field(col("p_type"), lit("ECONOMY"), lit("SMALL"), lit("LARGE")).as("field_v"),
      call_function("elt", (col("p_size") % 2) + 1, col("p_brand"), col("p_type")).as("elt_v"),
      expr("str_to_map(concat('sz:', p_size, ',br:', p_brand), ',', ':')['sz']").as("s2m_v"),
      expr("java_method('java.lang.Math', 'floorMod', cast(p_partkey as int), 7)").as("refl_v"),
      GapFunctions.sortArrayBy(structArr, "k").getItem(0).getField("v").as("sab_v"))
      .orderBy("p_partkey")
  }

  /** UNIONTYPE round-trip (§1.2 serde UnionTypeInfo): build a tagged
    * union over (int | string), extract tag and both fields, render the
    * active branch. Scalar output columns only (driver-comparator rule). */
  val fnUniontype: Q = (s, dir) => {
    val p = Tables.t(s, dir, "part").filter(col("p_partkey") < 300)
    val u = GapFunctions.createUnion(col("p_partkey") % 2,
      col("p_size"), col("p_brand"))
    p.select(col("p_partkey"),
      GapFunctions.extractUnionTag(u).as("utag"),
      GapFunctions.extractUnion(u, 0).as("as_int"),
      GapFunctions.extractUnion(u, 1).as("as_str"),
      coalesce(GapFunctions.extractUnion(u, 0).cast("string"),
        GapFunctions.extractUnion(u, 1)).as("shown"))
      .orderBy("p_partkey")
  }

  private val maskOracle: String => String = e =>
    s"regexp_replace(regexp_replace(regexp_replace($e,'[A-Z]','X','g'),'[a-z]','x','g'),'[0-9]','n','g')"

  /** SQL-callable scalar UDFs from the function catalog
    * ([[graft.functions.GapFunctions]]). */
  val fnUdfRegistry: Q = (s, dir) => {
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
    QueryDef("fn_uniontype", fnUniontype,
      """SELECT p_partkey,
        |CAST(p_partkey % 2 AS INT) AS utag,
        |CASE WHEN p_partkey % 2 = 0 THEN p_size END AS as_int,
        |CASE WHEN p_partkey % 2 = 1 THEN p_brand END AS as_str,
        |COALESCE(CAST(CASE WHEN p_partkey % 2 = 0 THEN p_size END AS VARCHAR),
        |         CASE WHEN p_partkey % 2 = 1 THEN p_brand END) AS shown
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_math", fnMath,
      s"""SELECT p_partkey,
         |abs(p_retailprice - 1000) AS abs_v,
         |${oRound("p_retailprice/7", 2)} AS round_div7,
         |CAST(floor(p_retailprice) AS BIGINT) AS floor_v,
         |CAST(ceil(p_retailprice) AS BIGINT) AS ceil_v,
         |CAST(((p_partkey - 150) % 7 + 7) % 7 AS BIGINT) AS pmod_v,
         |bin(p_size) AS bin_str,
         |to_hex(p_size) AS hex_str,
         |CAST(factorial(p_size % 10) AS BIGINT) AS fact_v,
         |CAST(greatest(p_size, 25) AS INT) AS great_v,
         |CAST(least(p_size, 25) AS INT) AS least_v,
         |CAST(sign(p_retailprice - 1000) AS DOUBLE) AS sign_v,
         |${oRound("exp(p_size/10.0)", 9)} AS exp_v,
         |${oRound("ln(p_retailprice)", 9)} AS ln_v,
         |${oRound("log10(p_retailprice)", 9)} AS log10_v,
         |${oRound("log2(p_size)", 9)} AS log2_v,
         |${oRound("sqrt(p_retailprice)", 9)} AS sqrt_v,
         |${oRound("cbrt(p_retailprice)", 9)} AS cbrt_v,
         |${oRound("sin(p_size)", 9)} AS sin_v,
         |${oRound("atan(p_size)", 9)} AS atan_v,
         |${oRound("degrees(p_size)", 6)} AS deg_v,
         |${oRound("pow(p_size, 2)", 4)} AS pow_v
         |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_bitwise", fnBitwise,
      """SELECT c_custkey,
        |CAST(c_custkey & 37 AS BIGINT) AS band,
        |CAST(c_custkey | 37 AS BIGINT) AS bor,
        |CAST(xor(c_custkey, 37) AS BIGINT) AS bxor,
        |CAST(~c_custkey AS BIGINT) AS bnot,
        |CAST(c_custkey << 3 AS BIGINT) AS shl,
        |CAST(c_custkey >> 2 AS BIGINT) AS shr,
        |CAST(bit_count(c_custkey) AS INT) AS bcount
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_string", fnString,
      """SELECT p_partkey,
        |CAST(length(p_name) AS INT) AS len_v,
        |upper(p_name) AS upper_v,
        |lower(p_type) AS lower_v,
        |lpad(p_brand, 12, '*') AS lpad_v,
        |rpad(p_brand, 12, '-') AS rpad_v,
        |trim('  pad  ') AS trim_v,
        |reverse(p_name) AS rev_v,
        |repeat('*', p_size % 5) AS rep_v,
        |substr(p_name, 2, 4) AS substr_v,
        |CAST(instr(p_name, 'i') AS INT) AS instr_v,
        |p_brand || '|' || p_type || '|' || p_name AS cws_v,
        |translate(p_name, 'aeiou', 'AEIOU') AS trans_v,
        |CAST(ascii(p_name) AS INT) AS ascii_v,
        |split_part(p_name, ' ', 1) AS sp1,
        |array_to_string(string_split(p_name, ' ')[1:1], ' ') AS sidx_v,
        |CAST(levenshtein(p_brand, p_type) AS INT) AS lev_v,
        |printf('%s-%04d', p_type, p_size) AS fmt_v,
        |array_to_string(list_transform(string_split(p_name, ' '),
        |  w -> upper(w[1]) || w[2:]), ' ') AS initcap_v,
        |CAST(COALESCE(list_position(string_split('ECONOMY,SMALL,LARGE', ','), p_type), 0) AS INT) AS fis_v,
        |CAST(instr(p_name, 'e') AS INT) AS loc_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_regex", fnRegex,
      """SELECT c_custkey,
        |c_name LIKE '%00001%' AS like_v,
        |regexp_matches(c_mktsegment, '^B.*G$') AS rlike_v,
        |regexp_extract(c_name, '([0-9]+)', 1) AS rext_v,
        |regexp_replace(c_name, '0', '_', 'g') AS rrep_v,
        |CAST(len(regexp_extract_all(c_name, '0')) AS INT) AS rcnt_v,
        |string_split(c_name, '#')[2] AS split_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_datetime", fnDatetime,
      """SELECT o_orderkey,
        |CAST(year(o_orderdate) AS INT) AS y_v,
        |CAST(quarter(o_orderdate) AS INT) AS q_v,
        |CAST(month(o_orderdate) AS INT) AS m_v,
        |CAST(day(o_orderdate) AS INT) AS dom_v,
        |CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_v,
        |CAST(dayofyear(o_orderdate) AS INT) AS doy_v,
        |CAST(weekofyear(o_orderdate) AS INT) AS woy_v,
        |last_day(CAST(o_orderdate AS DATE)) AS lday_v,
        |CAST(o_orderdate AS DATE) + CAST(CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0
        |  THEN 7 ELSE (8 - isodow(o_orderdate)) % 7 END AS INT) AS nday_v,
        |CAST(o_orderdate AS DATE) + CAST(30 AS INT) AS dadd_v,
        |CAST(o_orderdate AS DATE) - CAST(15 AS INT) AS dsub_v,
        |CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS amon_v,
        |CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS INT) AS ddiff_v,
        |CAST(datediff('month', date_trunc('month', o_orderdate),
        |  DATE '2000-01-01') AS DOUBLE) AS mbtw_v,
        |strftime(o_orderdate, '%Y-%m-%d %H:%M') AS dfmt_v,
        |CAST(epoch(o_orderdate) AS BIGINT) AS unix_v,
        |strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS funix_v,
        |date_trunc('month', o_orderdate) AS dtrunc_v,
        |CAST(o_orderdate AS DATE) AS todate_v,
        |make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS mkdate_v
        |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin),
    QueryDef("fn_conditional", fnConditional,
      """SELECT c_custkey,
        |CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS if_v,
        |CASE WHEN c_acctbal > 5000 THEN 'high'
        |     WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS case_v,
        |COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'B!') AS coal_v,
        |COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'M!') AS nvl_v,
        |CASE WHEN NULLIF(c_mktsegment, 'FURNITURE') IS NOT NULL
        |     THEN 'other' ELSE 'furn' END AS nvl2_v,
        |c_acctbal BETWEEN 0 AND 5000 AS btw_v,
        |c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS in_v,
        |c_mktsegment IS NULL AS isn_v,
        |c_mktsegment IS NOT NULL AS isnn_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_collection", fnCollection,
      """SELECT p_partkey,
        |CAST(3 AS INT) AS asize_v,
        |list_contains([p_brand, p_type, 'zzz'], 'ECONOMY') AS acont_v,
        |array_to_string(list_sort([p_brand, p_type, 'zzz']), ',') AS asort_v,
        |array_to_string(list_reverse_sort([p_brand, p_type, 'zzz']), ',') AS asortd_v,
        |p_type AS aelem_v,
        |p_brand || ',' || p_type AS aslice_v,
        |CAST(2 AS INT) AS msize_v,
        |'brand,type' AS mkeys_v,
        |p_brand || ',' || p_type AS mvals_v,
        |p_brand AS melem_v,
        |CAST(p_size AS INT) AS sfield_v,
        |p_brand || ',' || p_brand AS arep_v,
        |CASE WHEN p_brand = p_type THEN p_brand ELSE p_brand || ',' || p_type END AS adist_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_try", fnTry,
      """SELECT p_partkey,
        |TRY_CAST(p_name AS INT) AS badcast_v,
        |CAST(p_size AS VARCHAR) AS okcast_v,
        |CASE WHEN p_size % 3 = 0 THEN NULL
        |     ELSE p_retailprice / (p_size % 3) END AS div_v,
        |CAST(NULL AS BIGINT) AS ovf_v,
        |p_partkey + p_size AS add_v,
        |CAST(p_size AS BIGINT) AS tonum_v,
        |CAST(NULL AS VARCHAR) AS elem_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_variant", fnVariant,
      """SELECT event_id,
        |CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
        |CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) AS k_str,
        |CAST(NULL AS BIGINT) AS miss_v,
        |'OBJECT<k: BIGINT>' AS schema_v,
        |TRUE AS vnull_v
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin),
    QueryDef("fn_lambda", fnLambda,
      """SELECT p_partkey,
        |array_to_string(list_transform(nums, x -> x*2), ',') AS transform_v,
        |array_to_string(list_filter(nums, x -> x > 5), ',') AS filter_v,
        |len(list_filter(nums, x -> x > 40)) > 0 AS exists_v,
        |len(list_filter(nums, x -> NOT (x > 0))) = 0 AS forall_v,
        |CAST(list_sum(nums) AS BIGINT) AS agg_v,
        |array_to_string(list_transform(range(0, 3), i -> nums[i+1] + i), ',')
        |  AS transformi_v,
        |array_to_string(list_transform(range(1, 4), i -> nums[i] + nums[4-i]), ',')
        |  AS zip_v
        |FROM (SELECT p_partkey, [p_size, p_size+10, 1] AS nums
        |      FROM part WHERE p_partkey < 300) t
        |ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_json", fnJson,
      """SELECT event_id,
        |json_extract_string(props, '$.k') AS gjo_v,
        |json_extract_string(props, '$.k') AS jt_k,
        |CAST(json_extract_string(props, '$.k') AS INT) AS fj_k,
        |'{"u":' || user_id || '}' AS tj_v,
        |'STRUCT<k: BIGINT>' AS soj_v
        |FROM events WHERE event_id < 300 ORDER BY event_id""".stripMargin),
    QueryDef("fn_url", fnUrl,
      """SELECT doc_id,
        |'example.com' AS host,
        |'/api/' || source AS path,
        |'sid=' || doc_id || '&x=1' AS query,
        |'top' AS ref,
        |'https' AS protocol,
        |'example.com:8080' AS authority,
        |'/api/' || source || '?sid=' || doc_id || '&x=1' AS file,
        |CAST(doc_id AS VARCHAR) AS query_sid
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
    QueryDef("fn_hash", fnHash,
      """SELECT c_custkey,
        |md5(c_name) AS md5_v,
        |sha256(c_name) AS sha256_v,
        |CAST(128 AS INT) AS sha512_len
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_hash_extra", fnHashExtra, None),
    // format_number emulation: fmt thousands-grouping is integer-only in
    // DuckDB 1.0.0, so group the truncated |integer| part, append the
    // 2-digit fraction (double→BIGINT cast rounds to nearest, matching
    // HALF_UP on the fixtures' 2-decimal values), and prepend the sign
    // separately so values in (-1, 0) keep their minus.
    QueryDef("fn_hash_b64fmt", fnHashB64Fmt,
      """SELECT c_custkey,
        |base64(CAST(c_name AS BLOB)) AS b64_v,
        |base64(CAST(c_name AS BLOB)) AS b64_rt,
        |CASE WHEN c_acctbal < 0 THEN '-' ELSE '' END ||
        |  format('{:,}', CAST(trunc(abs(c_acctbal)) AS BIGINT)) || '.' ||
        |  lpad(CAST(CAST(abs(c_acctbal) * 100 AS BIGINT) % 100 AS VARCHAR),
        |       2, '0') AS fmtnum_v
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_mask", fnMask,
      s"""SELECT c_custkey,
         |${maskOracle("c_name")} AS mask_v,
         |${maskOracle("substr(c_name, 1, 4)")} || substr(c_name, 5) AS mfn_v,
         |substr(c_name, 1, length(c_name) - 4) ||
         |  ${maskOracle("substr(c_name, length(c_name) - 3)")} AS mln_v,
         |substr(c_name, 1, 4) || ${maskOracle("substr(c_name, 5)")} AS msfn_v,
         |${maskOracle("substr(c_name, 1, length(c_name) - 4)")} ||
         |  substr(c_name, length(c_name) - 3) AS msln_v,
         |md5(c_name) AS mhash_v
         |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_xpath", fnXpath,
      """SELECT p_partkey,
        |CAST(p_size AS INT) AS xint_v,
        |p_brand AS xstr_v,
        |p_size > 25 AS xbool_v,
        |CAST(p_size AS DOUBLE) AS xdbl_v,
        |p_size || ',' || p_brand AS xlist_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_cast", fnCast,
      """SELECT c_custkey,
        |CAST(c_custkey AS VARCHAR) AS l2s,
        |CAST(substr(c_name, 10, 9) AS BIGINT) AS s2l,
        |CAST(trunc(c_acctbal) AS INT) AS d2i,
        |CAST(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(12,2)) AS VARCHAR) AS d2dec,
        |CAST(c_nationkey || '.5' AS DOUBLE) AS s2d,
        |c_custkey % 2 = 0 AS l2b,
        |CAST(c_nationkey AS TINYINT) AS i2t,
        |CAST(c_nationkey AS SMALLINT) AS i2sm,
        |TRY_CAST(c_mktsegment AS INT) AS tryc
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin),
    QueryDef("fn_misc", fnMisc,
      """SELECT p_partkey,
        |CAST(CASE p_type WHEN 'ECONOMY' THEN 1 WHEN 'SMALL' THEN 2
        |  WHEN 'LARGE' THEN 3 ELSE 0 END AS INT) AS field_v,
        |CASE WHEN p_size % 2 = 0 THEN p_brand ELSE p_type END AS elt_v,
        |CAST(p_size AS VARCHAR) AS s2m_v,
        |CAST(((p_partkey % 7) + 7) % 7 AS VARCHAR) AS refl_v,
        |CASE WHEN p_size <= 25 THEN p_brand ELSE p_type END AS sab_v
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
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
    QueryDef("fn_virtual_cols", fnVirtualCols,
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey,
        |'nation.parquet' AS fname
        |FROM nation ORDER BY n_nationkey""".stripMargin),
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
         |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin),
    QueryDef("fn_block_offset", fnBlockOffset,
      """SELECT COUNT(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_blocks,
        |  CAST(0 AS BIGINT) AS min_block_offset,
        |  TRUE AS offsets_in_file
        |FROM lineitem""".stripMargin)
  )
}
