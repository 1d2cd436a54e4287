package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Result element of [[NGramsAgg]]: one n-gram and its frequency. */
case class NGramFreq(ngram: String, freq: Long)

/** Exact top-k gram counter shared by [[NGramsAgg]] and
  * [[ContextNGramsAgg]]: each input row is one word sequence, `grams`
  * draws the counted grams from a sequence of at least `n` words, and
  * the aggregate returns the top-k grams by frequency (ties broken
  * lexicographically, so the result is deterministic — Hive's pf-based
  * estimation is replaced by exact counts with per-partition map merging,
  * which is both simpler and oracle-checkable; the merge is
  * associative/commutative so Spark's partial aggregation distributes it).
  *
  * Memory: buffers are pruned to `maxBuffer` entries on overflow (keep
  * highest counts), bounding state like Hive's precision-factor heap does.
  */
abstract class TopGramsAgg(n: Int, k: Int, maxBuffer: Int)
    extends Aggregator[Seq[String], Map[String, Long], Seq[NGramFreq]] {

  protected def grams(words: Seq[String]): Iterator[String]

  override def zero: Map[String, Long] = Map.empty

  private def prune(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= maxBuffer) m
    else m.toSeq.sortBy { case (g, f) => (-f, g) }.take(maxBuffer).toMap

  override def reduce(b: Map[String, Long], words: Seq[String]): Map[String, Long] =
    if (words == null || words.size < n) b
    else prune(grams(words).foldLeft(b)((acc, g) => acc.updated(g, acc.getOrElse(g, 0L) + 1L)))

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    prune(b.foldLeft(a) { case (acc, (g, f)) =>
      acc.updated(g, acc.getOrElse(g, 0L) + f)
    })

  override def finish(m: Map[String, Long]): Seq[NGramFreq] =
    m.toSeq.sortBy { case (g, f) => (-f, g) }.take(k)
      .map { case (g, f) => NGramFreq(g, f) }

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Seq[NGramFreq]] =
    ExpressionEncoder[Seq[NGramFreq]]()
}

/** Hive `ngrams(array<array<string>>, n, k, pf)` as a typed Spark
  * `Aggregator` (SURVEY.md §2.4: `GenericUDAFnGrams`, no Spark builtin):
  * the top-k word n-grams.
  */
class NGramsAgg(n: Int, k: Int, maxBuffer: Int = 100000)
    extends TopGramsAgg(n, k, maxBuffer) {
  override protected def grams(words: Seq[String]): Iterator[String] =
    words.sliding(n).map(_.mkString(" "))
}

/** Hive `context_ngrams(array<array<string>>, array<string context>, k)`:
  * frequencies of words filling the `null` slots of a context pattern.
  * Context is the preceding words; e.g. context Seq("data") with n-slot 1
  * counts the words that follow "data".
  */
class ContextNGramsAgg(context: Seq[String], k: Int, maxBuffer: Int = 100000)
    extends TopGramsAgg(context.size + 1, k, maxBuffer) {
  override protected def grams(words: Seq[String]): Iterator[String] =
    words.sliding(context.size + 1).collect { case w if w.init == context => w.last }
}
