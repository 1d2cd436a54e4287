package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._

/** Semantic pins for exact duplicated-substring detection via bounded
  * prefix doubling (`llm_suffix_dedup`): hand-built corpora where the
  * duplicated spans are known by construction (cross-doc shared span,
  * within-doc repetition, unique doc), plus a full brute-force gram
  * re-derivation over the sf0.001 fixture — suffix-class equality at
  * depth d must coincide exactly with literal d-gram equality. */
class SuffixDupSpec extends SparkSpec {

  private def run(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.suffixDupOf(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toMap
  }

  test("cross-doc 8-word shared span: depth 8, one dup-8 position each") {
    val res = run(Seq(
      1L -> "a b c d e f g h x1 x2",
      2L -> "z1 a b c d e f g h z2",
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
    // docs 1+2 share exactly "a b c d e f g h": depth-8 dup at one
    // position each, no 16-gram exists in 10-word docs
    assert(res(1L) == ((10L, 8, 1L, 0L)))
    assert(res(2L) == ((10L, 8, 1L, 0L)))
    // doc 3 is all-unique words: nothing duplicates at any depth
    assert(res(3L) == ((10L, 0, 0L, 0L)))
  }

  test("within-doc repetition duplicates without a second document") {
    // 10x the same word: every 8-gram (positions 1..3) is identical
    val res = run(Seq(7L -> Seq.fill(10)("r").mkString(" ")))
    assert(res(7L) == ((10L, 8, 3L, 0L)))
  }

  test("16-word verbatim copy reaches depth 16") {
    val span = (1 to 16).map(i => s"w$i").mkString(" ")
    val res = run(Seq(
      1L -> s"$span tail1 tail2",
      2L -> s"head1 $span"))
    assert(res(1L)._2 == 16 && res(1L)._4 == 1L)
    assert(res(2L)._2 == 16 && res(2L)._4 == 1L)
  }

  test("suffixes never cross document boundaries") {
    // concatenating doc 1's tail with doc 2's head would form a
    // duplicated 2-gram ("x y") if positions crossed the boundary
    val res = run(Seq(
      1L -> "a1 a2 a3 x",
      2L -> "y b1 b2 b3",
      3L -> "c1 x y c2"))
    // "x" and "y" each appear twice -> depth 1; the 2-gram "x y"
    // exists only inside doc 3, so no depth-2 duplication anywhere
    assert(res.values.forall(_._2 <= 1))
  }

  private def runScrub(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Dedup.suffixScrubOf(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
  }

  test("scrub cuts the later occurrence of a shared 8-word span, keeps the first") {
    val res = runScrub(Seq(
      1L -> "a b c d e f g h x1 x2",
      2L -> "z1 a b c d e f g h z2"))
    // doc 1 holds the global-first occurrence (min (doc_id, pos) struct) — untouched
    assert(res(1L) == ((10L, 0L, "a b c d e f g h x1 x2")))
    // doc 2's occurrence starts at position 2: words 2..9 cut
    assert(res(2L) == ((10L, 8L, "z1 z2")))
  }

  test("scrub unions overlapping removable spans to first-occurrence-plus-boundary") {
    // 10x the same word: removable starts 2,3 cover positions 2..10 —
    // only the global-first span's start position survives
    val res = runScrub(Seq(7L -> Seq.fill(10)("r").mkString(" ")))
    assert(res(7L) == ((10L, 9L, "r")))
  }

  test("scrub first-occurrence survives a >1M-word document (no packed-key collision)") {
    // r17 advice: the old first-occurrence key packed doc_id*1_000_000
    // + pos, silently colliding once a doc passes 1M words — here doc 1
    // plants its span at position 1,000,021, whose OLD key (2,000,021)
    // sorts AFTER doc 2's occurrence at position 5 (old key 2,000,005),
    // so the packed arithmetic would misattribute "first" to doc 2 and
    // scrub doc 1. The lexicographic (doc_id, pos) struct min keeps
    // doc 1 (lower doc_id) untouched regardless of magnitude.
    val big = 1000030
    val spanAt = 1000021 // 1-based word position of the planted span
    val doc1 = (1 to big).map { i =>
      if (i >= spanAt && i < spanAt + 8) s"dup${i - spanAt}" else s"w$i"
    }.mkString(" ")
    val doc2 = "v1 v2 v3 v4 dup0 dup1 dup2 dup3 dup4 dup5 dup6 dup7 v5 v6"
    val res = runScrub(Seq(1L -> doc1, 2L -> doc2))
    assert(res(1L)._1 == big.toLong && res(1L)._2 == 0L,
      s"doc 1's first occurrence was scrubbed: ${res(1L)._2} words removed")
    assert(res(2L) == ((14L, 8L, "v1 v2 v3 v4 v5 v6")))
  }

  test("scrub leaves short and unique docs intact") {
    val res = runScrub(Seq(
      1L -> "s1 s2 s3",                          // < 8 words: no grams
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))   // unique: no dups
    assert(res(1L) == ((3L, 0L, "s1 s2 s3")))
    assert(res(2L) == ((10L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
  }

  test("scrub fixture result == brute-force recount (sf0.001)") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val grams = docs.flatMap { case (id, t) =>
      val ws = t.split(" ")
      (1 to ws.length - 7).map(p =>
        (ws.slice(p - 1, p + 7).mkString(" "), id, p, id * 1000000L + p))
    }
    val byGram = grams.groupBy(_._1)
    val removable = grams.filter { case (g, _, _, pk) =>
      val o = byGram(g); o.length >= 2 && pk != o.map(_._4).min
    }
    val coveredByDoc = removable.groupBy(_._2).map { case (id, o) =>
      id -> o.flatMap { case (_, _, p, _) => p until p + 8 }.toSet
    }
    val want = docs.map { case (id, t) =>
      val ws = t.split(" ")
      val cov = coveredByDoc.getOrElse(id, Set.empty[Int])
      val kept = (1 to ws.length).filterNot(cov).map(i => ws(i - 1))
      id -> ((ws.length.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap
    assert(runScrub(docs.toSeq) == want)
  }

  test("fixture result == brute-force gram recount (sf0.001, all depths)") {
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val depths = Seq(1, 2, 4, 8, 16)
    // corpus-wide gram counts per depth, literally
    val counts: Map[Int, Map[Seq[String], Int]] = depths.map { d =>
      d -> docs.flatMap { case (_, t) =>
        t.split(" ").toSeq.sliding(d).filter(_.size == d)
      }.groupBy(identity).map { case (g, o) => (g: Seq[String]) -> o.length }
    }.toMap
    val want = docs.map { case (id, t) =>
      val ws = t.split(" ").toSeq
      val dupAt = depths.filter(d =>
        ws.sliding(d).filter(_.size == d).exists(g => counts(d)(g) >= 2))
      def nDup(d: Int): Long =
        ws.sliding(d).filter(_.size == d).count(g => counts(d)(g) >= 2).toLong
      id -> ((ws.size.toLong, if (dupAt.isEmpty) 0 else dupAt.max,
        nDup(8), nDup(16)))
    }.toMap
    val got = run(docs.toSeq)
    assert(got == want)
  }
}
