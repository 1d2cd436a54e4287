package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._

/** Semantic pins for URL canonicalization + URL-level dedup
  * (`llm_url_dedup`): exact canonical forms for hand-picked messy URLs,
  * and the group/keeper laws over the synthetic corpus re-derived
  * independently from the doc_id arithmetic. */
class UrlDedupSpec extends SparkSpec {

  test("canonicalUrl pins: case, ports, slashes, tracking params, order") {
    val cases = Seq(
      // scheme+host case and default port fold; path case preserved
      "HTTPS://WWW.Ex.COM:443/A/b" -> "https://www.ex.com/A/b",
      "http://ex.com:80/x/" -> "http://ex.com/x",
      // fragment dropped, tracking params dropped, survivors sorted
      "https://ex.com/p?utm_source=a&ref=2&b=1#frag" -> "https://ex.com/p?b=1&ref=2",
      "https://ex.com/p?ref=2&b=1&fbclid=XX&gclid=YY" -> "https://ex.com/p?b=1&ref=2",
      // param order alone must not split a group
      "https://ex.com/p?b=1&ref=2" -> "https://ex.com/p?b=1&ref=2",
      // all params tracking => no '?'
      "https://ex.com/p/?utm_campaign=x" -> "https://ex.com/p",
      // non-default port survives
      "https://ex.com:8443/p" -> "https://ex.com:8443/p",
      // port stripping is scheme-aware: :443 is NOT http's default and
      // :80 is NOT https's — both name distinct resources and keep keys
      "http://ex.com:443/p" -> "http://ex.com:443/p",
      "https://ex.com:80/p" -> "https://ex.com:80/p")
    import spark.implicits._
    val got = cases.map(_._1).toDF("url")
      .select(Dedup.canonicalUrl(col("url")).as("c")).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"canonicalization mismatch: got $g want $want")
    }
  }

  test("llm_url_dedup groups and keepers match an independent re-derivation") {
    val res = SparkEntry.queries("llm_url_dedup")(spark, sfDir).collect()
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // canonical identity from the synthesis arithmetic: path bucket,
    // whether a ref param survives, and its value
    def key(id: Long): (Long, Option[Long]) =
      (id % 25, if (id % 3 < 2) Some(id % 2) else None)
    val groups = docs.groupBy { case (id, _) => key(id) }
    assert(res.length == groups.size, "canonical group count")
    assert(res.map(_.getAs[Long]("dup_cnt")).sum == docs.length,
      "every doc lands in exactly one group")
    // keeper = max n_chars, min doc_id tiebreak, per group
    val wantKeepers = groups.values.map { members =>
      members.minBy { case (id, nc) => (-nc, id) }._1
    }.toSet
    assert(res.map(_.getAs[Long]("keeper_id")).toSet == wantKeepers)
  }
}
