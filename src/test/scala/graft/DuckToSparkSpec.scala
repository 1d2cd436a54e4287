package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SqlSurface.duckToSpark

/** Unit pins for the oracle-dialect → Spark SQL rewriter feeding the
  * SQL-string entry surface. The end gate is SqlSurfaceSpec's exact-row
  * round-trip over every surface text without an override; these pins
  * catch the rewrite CLASSES (so a future transform can't silently
  * regress a protected case like in-string content and only be caught
  * as a cryptic row mismatch a round later). */
class DuckToSparkSpec extends AnyFunSuite {

  test("string literals are untouched by token rewrites") {
    // `//` in a URL, a regex char class, VARCHAR and len( inside strings
    val s = "SELECT 'http://x//y', '[a-z]+@[0-9]', 'CAST AS VARCHAR', 'len(' FROM t"
    assert(duckToSpark(s) == s)
  }

  test("integer division and casts rewrite outside strings") {
    assert(duckToSpark("SELECT a // b, CAST(x AS VARCHAR) FROM t") ==
      "SELECT a  DIV  b, CAST(x AS STRING) FROM t")
  }

  test("list literal vs 1-based indexing vs slice") {
    assert(duckToSpark("SELECT ['a', 'b'] FROM t") ==
      "SELECT array('a', 'b') FROM t")
    assert(duckToSpark("SELECT ws[i] FROM t") ==
      "SELECT element_at(ws, CAST((i) AS INT)) FROM t")
    assert(duckToSpark("SELECT e.hs[3] FROM t e") ==
      "SELECT element_at(e.hs, CAST((3) AS INT)) FROM t e")
    assert(duckToSpark("SELECT v[1:16] FROM t") ==
      "SELECT slice(v, 1, (16) - (1) + 1) FROM t")
  }

  test("struct literal with a bracketed list value splits on the right commas") {
    // r18 ADVICE: the top-level comma split tracked only parens, so
    // {'k': [1, 2]} mis-split at the list's interior comma and the
    // keyless second fragment threw StringIndexOutOfBoundsException.
    assert(duckToSpark("SELECT MIN({'nc': -c, 'p': prefix}) FROM t") ==
      "SELECT MIN(named_struct('nc', -c, 'p', prefix)) FROM t")
    assert(duckToSpark("SELECT {'k': [1, 2], 'j': 3} FROM t") ==
      "SELECT named_struct('k', array(1, 2), 'j', 3) FROM t")
    // a keyless fragment now fails with a named error, not a raw StringIndexOOB
    val ex = intercept[IllegalArgumentException] {
      duckToSpark("SELECT {'k': 1, 2} FROM t")
    }
    assert(ex.getMessage.contains("struct literal part"))
  }

  test("hex-string cast idiom in both :: and CAST spellings") {
    assert(duckToSpark("(('0x' || substr(md5(w), 1, 7))::BIGINT)") ==
      "(CAST(conv(substr(md5(w), 1, 7), 16, 10) AS BIGINT))")
    assert(duckToSpark("CAST('0x' || substr(md5(w), 1, 4) AS INT)") ==
      "CAST(conv(substr(md5(w), 1, 4), 16, 10) AS INT)")
  }

  test("lambda list functions rename; list_slice/list_reduce re-shape") {
    assert(duckToSpark("list_transform(xs, x -> x + 1)") ==
      "transform(xs, x -> x + 1)")
    assert(duckToSpark("list_slice(v, m*8+1, m*8+8)") ==
      "slice(v, m*8+1, (m*8+8) - (m*8+1) + 1)")
    assert(duckToSpark("list_reduce(v, (a, b) -> a + b)") ==
      "reduce(slice(v, 2, size(v) - 1), element_at(v, 1), (a, b) -> a + b)")
  }

  test("in-aggregate ORDER BY becomes listagg WITHIN GROUP") {
    assert(duckToSpark("string_agg(w, ' ' ORDER BY p)") ==
      "listagg(w, ' ') WITHIN GROUP (ORDER BY p)")
  }

  test("typed-list cast and 2-arg regexp_extract_all group default") {
    assert(duckToSpark("SELECT embedding::DOUBLE[] FROM e") ==
      "SELECT CAST(embedding AS ARRAY<DOUBLE>) FROM e")
    assert(duckToSpark("regexp_extract_all(s, p)") ==
      "regexp_extract_all(s, p, 0)")
    assert(duckToSpark("regexp_extract_all(s, p, 1)") ==
      "regexp_extract_all(s, p, 1)")
  }

  test("every surface text is parseable Spark SQL (parse-only, no exec)") {
    val parser = SparkSpec.session.sessionState.sqlParser
    SparkEntry.sqlQueries.foreach { case (name, text) =>
      try parser.parsePlan(text)
      catch { case e: Throwable =>
        fail(s"$name does not parse: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.getClass.getName)}")
      }
    }
  }
}
