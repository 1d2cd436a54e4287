package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all suites (sf0.001 fixtures). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  override def afterAll(): Unit = () // shared session, never stopped per-suite

  /** Per-commit sample of a name list, bounding a suite's wall clock: a
    * stable md5-keyed slice (md5 byte `byte` mod `modulus` is 0, so the
    * subset never silently rotates out a regression) plus every
    * `SqlSurface.recentAdditions` entry (a new name must never dodge the
    * per-commit gate by md5 luck). With env var `fullVar` set to `full`
    * (close-of-round runs) every name is sampled. */
  protected case class CommitSample(fullVar: String, byte: Int, modulus: Int)
      extends (String => Boolean) {
    val full: Boolean = sys.env.get(fullVar).contains("full")
    def apply(name: String): Boolean = full || {
      val md = java.security.MessageDigest.getInstance("MD5")
      ((md.digest(name.getBytes("UTF-8"))(byte) & 0xff) % modulus) == 0 ||
        graft.queries.SqlSurface.recentAdditions.contains(name)
    }
  }

  /** Jobs started by `body` on this thread (and the broadcast and AQE
    * stage threads that inherit its local properties). A sentinel job
    * flushes the listener bus: events arrive in order, so once the
    * sentinel's start is seen every job of `body` has been counted. */
  protected def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobcount"
    val tag = java.util.UUID.randomUUID.toString
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => counted.incrementAndGet()
          case Some(t) if t == s"$tag-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not flush")
      counted.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

/** Driver-contract formatting: the bench line must be strict JSON AND fit
  * inside the driver's 2000-char tail capture (with sbt's "[success]"
  * epilogue after it) — r02–r04 all shipped a ~2.5 KB all-queries line
  * that was truncated mid-line and recorded as "parsed": null. */
class BenchFormatSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("bench JSON line is parseable, locale-stable, headline-only") {
    // headline entries carry the scalar median of the repeats (the
    // [median, min, max] spreads are in BENCH-FULL only); the total sums
    // medians; non-headline queries fold into the total only.
    // "load" = [launch, finish] 1-min load averages; "wide" = queries
    // whose max/min repeat ratio > 2.5 (the weather flag) — both default
    // to the unknown/-1 form when the caller has no readings.
    val line = Bench.jsonLine(
      Seq("q1_pricing_summary" -> Seq(1.23456, 1.0, 1.5),
        "not_a_headline" -> Seq(0.0004)), "/data/sf0.1", 0.05, 1.2)
    assert(line ==
      """{"metric":"total","value":1.235,"unit":"sec","n":2,"queries":{"q1_pricing_summary":1.235},"failed":[],"wide":[],"load":[0.050,1.200],"sf":"/data/sf0.1"}""")
    val empty = Bench.jsonLine(Nil, "/x")
    assert(empty == """{"metric":"total","value":0.000,"unit":"sec","n":0,"queries":{},"failed":[],"wide":[],"load":[-1.000,-1.000],"sf":"/x"}""")
    // a failed query (empty repeat vector) is excluded from the total,
    // reads -1, and is named in "failed"
    val withFail = Bench.jsonLine(
      Seq("ok" -> Seq(2.0), "join_smb" -> Seq.empty), "/x")
    assert(withFail ==
      """{"metric":"total","value":2.000,"unit":"sec","n":2,"queries":{"join_smb":-1},"failed":["join_smb"],"wide":[],"load":[-1.000,-1.000],"sf":"/x"}""")
    // the weather flag: a 3.8x max/min spread lands in "wide" (even for a
    // non-headline query — the flag adjudicates the whole registry), a
    // tight spread does not; a -1 failure sentinel never divides by zero
    val withWide = Bench.jsonLine(
      Seq("join_salted" -> Seq(3.05, 1.0, 3.83), "ok" -> Seq(1.0, 0.9, 1.1)), "/x")
    assert(withWide.contains(""""wide":["join_salted"]"""), withWide)
    // the spreads live on in the BENCH-FULL detail, failures as all -1
    assert(Bench.fullDetail(Seq("join_salted" -> Seq(3.05, 1.0, 3.83),
      "join_smb" -> Seq.empty)) ==
      """{"join_salted":[3.050,1.000,3.830],"join_smb":[-1,-1,-1]}""")
  }

  test("contract line from the FULL registry stays under the tail window") {
    // Worst realistic case: every registered query present, long sf path,
    // every headline query failed (adds the whole failed list).
    val all = SparkEntry.queries.keys.toSeq.sorted.map(_ -> Seq.empty[Double])
    val line = Bench.jsonLine(all, "/root/testdata/sf0.1")
    assert(line.length < 1750, s"bench line too long for driver tail: ${line.length}")
    // strict-JSON check with an independent parser
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \ "metric") == org.json4s.JString("total"))
    // Worst healthy case: every headline query carries a 6-char
    // median AND every registered query trips the 2.5x weather flag
    // (wide list hits its 3-name cap + overflow marker) AND both load
    // readings are present — the longest line the contract can emit.
    // Must clear the driver's 2000-char tail capture with sbt's
    // "[success]" epilogue to spare.
    val healthy = SparkEntry.queries.keys.toSeq.sorted
      .map(_ -> Seq(88.888, 8.888, 88.888))
    val spreadLine = Bench.jsonLine(healthy, "/root/testdata/sf0.1", 31.99, 31.99)
    assert(spreadLine.length < 1900,
      s"bench spread line too long for driver tail: ${spreadLine.length}")
    assert((org.json4s.jackson.JsonMethods.parse(spreadLine) \ "metric")
      == org.json4s.JString("total"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // 12 executor threads so the fan-out suites (QueriesSpec sweep,
    // SqlSurfaceSpec round-trips, DeterminismSpec phases) overlap
    // whole 4-partition jobs instead of serializing on 4 threads;
    // shuffle.partitions stays 4 so per-query plan shapes and the
    // partition-count determinism guards are unchanged.
    val s = GraftSession.local(12, shufflePartitions = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
