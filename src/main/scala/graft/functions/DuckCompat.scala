package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, LessThan, Literal, Subtract}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** ANSI-gap compat pack for the oracle dialect (SURVEY §3.4): the scalar
  * names DuckDB-flavoured SQL texts use, as NATIVE functions that
  * delegate to Spark's own builtin expression builders —
  * each call site becomes the underlying Catalyst expression (full
  * codegen, usable inside generators like `explode`, type-generic),
  * which a `CREATE TEMPORARY FUNCTION` SQL macro cannot do (Spark
  * rejects SQL UDFs inside Generate, and macro params pin array element
  * types).
  *
  * This is the packaged-library half of the reference's UDF lifecycle
  * (`/root/reference/README.md:1-4` hosts Hive 2.3.10, whose engine
  * resolves `CREATE TEMPORARY FUNCTION` names through its own
  * FunctionRegistry the same way): a session built with
  * [[graft.GraftExtensions]] gets the dialect names; every semantic
  * equivalence claimed here is pinned by the `SqlSurfaceSpec` exact-row
  * gate on the texts that use it.
  */
object DuckCompat {
  private def builtin(name: String): Seq[Expression] => Expression = {
    val b = FunctionRegistry.builtin
      .lookupFunctionBuilder(FunctionIdentifier(name))
      .getOrElse(throw new IllegalStateException(s"no builtin $name"))
    b(_)
  }

  /** [lo, hi) as sequence(lo, hi-1) guarded to [] when lo >= hi (DuckDB's
    * empty-range contract; see the `range` entry below). */
  private def halfOpenRange(lo: Expression, hi: Expression): Expression =
    If(LessThan(lo, hi),
      builtin("sequence")(Seq(lo, Cast(Subtract(hi, Literal(1L)), LongType))),
      Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false)))

  /** The dialect names; kept in one table so the catalog and the doc
    * table in COVERAGE.md stay in sync. */
  val sqlFunctions: Seq[SqlFunction] = table(getClass.getName)(
    // epoch_us(ts) = microseconds since epoch
    "epoch_us" -> builtin("unix_micros"),
    // sha256(s) = sha2(s, 256)
    "sha256" -> (es => builtin("sha2")(Seq(es.head, Literal(256)))),
    // string_split(s, sep) — the oracle texts use literal separators for
    // which Spark's regex split is identical (gate-verified per text)
    "string_split" -> builtin("split"),
    "starts_with" -> builtin("startswith"),
    "list_distinct" -> builtin("array_distinct"),
    "array_to_string" -> builtin("array_join"),
    "json_extract_string" -> builtin("get_json_object"),
    "regexp_matches" -> builtin("rlike"),
    "to_hex" -> builtin("hex"),
    // range(n) = [0, n); range(a, b) = [a, b) — half-open like DuckDB's,
    // vs sequence's inclusive stop; elements widened to BIGINT to match.
    // EMPTY ranges (start >= stop) guard to [] explicitly: DuckDB returns
    // [] there, while Spark's sequence(start, stop) with start > stop
    // generates a DESCENDING array — without the If, a surface text
    // hitting an empty range on non-fixture data would emit spurious rows.
    "range" -> {
      case Seq(n) => halfOpenRange(Cast(Literal(0), LongType), Cast(n, LongType))
      case Seq(a, b) => halfOpenRange(Cast(a, LongType), Cast(b, LongType))
      case es => throw new IllegalArgumentException(
        s"range takes 1 or 2 args, got ${es.size}")
    },
    // quantile_cont = exact continuous-interpolation percentile
    "quantile_cont" -> builtin("percentile"),
    "list_contains" -> builtin("array_contains"),
    "list_min" -> builtin("array_min"),
    "list_max" -> builtin("array_max"),
    // DuckDB sorts ascending nulls-last by default — array_sort's default
    "list_sort" -> builtin("array_sort"),
    "list_reverse_sort" -> (es => {
      require(es.size == 1, "list_reverse_sort(list)")
      builtin("sort_array")(Seq(es.head, Literal(false)))
    }),
    "list_concat" -> builtin("concat"),
    // arg order flips: list_prepend(elem, list) vs array_prepend(list, elem)
    "list_prepend" -> (es => {
      require(es.size == 2, "list_prepend(elem, list)")
      builtin("array_prepend")(Seq(es(1), es.head))
    }),
    "ends_with" -> builtin("endswith"),
    "arg_min" -> builtin("min_by"),
    "arg_max" -> builtin("max_by"),
    // the dialect's dense dot product — graft's own codegen Expression
    // (also injected session-wide as `dot_product` by GraftExtensions)
    "list_inner_product" -> (es => {
      require(es.size == 2, "list_inner_product(a, b)")
      DotProduct(es.head, es(1))
    }),
    // the oracle dialect's explicit-regex split; Spark's split IS regex
    "string_split_regex" -> builtin("split"),
    // scalar xor(a, b) — Spark only has the ^ operator spelling
    "xor" -> (es => {
      require(es.size == 2, "xor(a, b)")
      org.apache.spark.sql.catalyst.expressions.BitwiseXor(es.head, es(1))
    }),
    "nfc_normalize" -> (es => {
      require(es.size == 1, "nfc_normalize(str)")
      UnicodeNormalize(es.head, java.text.Normalizer.Form.NFC)
    }))
}
