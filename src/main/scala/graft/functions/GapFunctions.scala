package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hive 2.3.10 builtins with no direct Spark 4.1.2 equivalent, implemented
  * as thin Column composers over codegen'd builtins (SURVEY.md §7.4).
  *
  * Composing builtins (rather than Scala UDFs) keeps every one of these
  * inside whole-stage codegen — no serialization wall in the hot path,
  * which is what matters at 100 TB.
  */
object GapFunctions {

  /** Hive `field(needle, s1, s2, …)`: 1-based index of the first argument
    * among the rest, 0 if absent (FunctionRegistry name `field`). */
  def field(needle: Column, options: Column*): Column = {
    val hits = options.zipWithIndex.map { case (o, i) =>
      when(needle === o, lit(i + 1))
    }
    coalesce(hits :+ lit(0): _*)
  }

  private def maskCol(c: Column): Column = call_function("mask", c)

  /** Hive `mask_first_n(str, n)`: mask the first n chars, keep the rest. */
  def maskFirstN(c: Column, n: Int): Column =
    concat(maskCol(substring(c, 1, n)), substring(c, n + 1, Int.MaxValue))

  /** Hive `mask_last_n(str, n)`: mask the last n chars, keep the prefix. */
  def maskLastN(c: Column, n: Int): Column =
    concat(substring(c, lit(0), greatest(length(c) - n, lit(0))),
      maskCol(substring(c, -n, n)))

  /** Hive `mask_show_first_n(str, n)`: show first n chars, mask the rest. */
  def maskShowFirstN(c: Column, n: Int): Column =
    concat(substring(c, 1, n), maskCol(substring(c, n + 1, Int.MaxValue)))

  /** Hive `mask_show_last_n(str, n)`: mask all but the last n chars. */
  def maskShowLastN(c: Column, n: Int): Column =
    concat(maskCol(substring(c, lit(0), greatest(length(c) - n, lit(0)))),
      substring(c, -n, n))

  /** Hive `mask_hash(str)`: md5 hex digest (Hive 2.x semantics). */
  def maskHash(c: Column): Column = md5(c)

  /** Hive `sort_array_by(array<struct>, fieldName)`: sort an array of
    * structs by one field — `array_sort` with a comparator lambda. */
  def sortArrayBy(arr: Column, fieldName: String): Column =
    array_sort(arr, (l, r) =>
      when(l.getField(fieldName) < r.getField(fieldName), lit(-1))
        .when(l.getField(fieldName) > r.getField(fieldName), lit(1))
        .otherwise(lit(0)))

  /** Hive `in_file(str, filename)`: membership of str in the file's lines.
    * The file is read once driver-side (Hive does the same per-map task)
    * and shipped as a literal set — i.e. a broadcast, never a join. */
  def inFile(c: Column, path: String): Column = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().toSeq finally src.close()
    c.isin(lines: _*)
  }

  /** Hive `parse_url_tuple(url, p1, p2, …)` — the UDTF variant of
    * parse_url; as a column list (one `parse_url` per requested part,
    * all codegen'd). */
  def parseUrlTuple(url: Column, parts: String*): Seq[Column] =
    parts.map { p =>
      val c =
        if (p.startsWith("QUERY:"))
          parse_url(url, lit("QUERY"), lit(p.stripPrefix("QUERY:")))
        else parse_url(url, lit(p))
      c.as(p.toLowerCase.replace(":", "_"))
    }

  /** Word-shingle maker for MinHash pipelines (SURVEY.md §2.9): k-word
    * sliding shingles, joined with single spaces. Pure higher-order
    * builtins (transform over an index range) — stays in codegen. */
  def shingles(words: Column, k: Int): Column =
    transform(
      sequence(lit(0), greatest(size(words) - k, lit(0))),
      i => concat_ws(" ", slice(words, i + 1, lit(k))))

  /** Hive UNIONTYPE encoding (serde UnionTypeInfo, SURVEY.md §1.2): a
    * tagged union value is a struct `{tag, field0…fieldN}` where exactly
    * the tagged field is non-null — the struct-tag layout Hive's
    * ObjectInspector uses, expressible losslessly in Spark's type system.
    * `create_union(tag, v0, v1, …)` composer; codegen'd `when` chain. */
  def createUnion(tag: Column, values: Column*): Column = {
    val t = tag.cast("int")
    struct((t.as("tag") +: values.zipWithIndex.map { case (v, i) =>
      when(t === i, v).as(s"field$i")
    }): _*)
  }

  /** Hive `extract_union(u)` tag accessor. */
  def extractUnionTag(u: Column): Column = u.getField("tag")

  /** Hive `extract_union(u, i)` field accessor (null unless tagged i). */
  def extractUnion(u: Column, i: Int): Column = u.getField(s"field$i")

  /** The two Scala UDFs behind `fn_udf_registry` (the Hive CREATE
    * TEMPORARY FUNCTION path, SURVEY.md §2.10). */
  val sqlFunctions: Seq[SqlFunction] = table(getClass.getName)(
    scalaUdf("field_str",
      (needle: String, opts: Seq[String]) =>
        if (needle == null || opts == null) 0 else opts.indexOf(needle) + 1),
    scalaUdf("shingle_words",
      (words: Seq[String], k: Int) =>
        if (words == null || words.size < k) Seq.empty[String]
        else words.sliding(k).map(_.mkString(" ")).toSeq))
}
