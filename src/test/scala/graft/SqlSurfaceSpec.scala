package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Round-trip gate for the SQL-string entry surface: every
  * `SparkEntry.sqlQueries` text, run through spark.sql over the fixture
  * views, must return EXACTLY the rows of the registered builder (same
  * order — every surface query ends in a total-order ORDER BY; same
  * rendering — Row.toString covers values and nested structure).
  *
  * This is the lifecycle stage the reference drives via a HiveQL string
  * through its Driver; the builders alone exercise only the DataFrame
  * API. A surface entry that drifts from its builder (alias, quantizer,
  * filter constant) fails here, not in a downstream round.
  *
  * Execution shape (r17, verdict item 6): the per-name round-trips run
  * CONCURRENTLY on a fixed 12-thread pool inside one test — Spark's
  * scheduler interleaves the jobs (the same concurrency a multi-user
  * HiveServer2 would drive), cutting the suite's wall-clock to ~1/4 of
  * the r16 sequential per-test spelling while asserting the identical
  * per-name property; failures list every divergent name with its first
  * row diff. The per-name clearCache is gone with the sequential
  * harness: a cached frame plan-matching between a builder and its SQL
  * twin can only REUSE identical rows (determinism under partitioning
  * is separately guarded by DeterminismSpec), so cache warmth cannot
  * mask a real text/builder divergence.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("SQL surface is large enough to count as an entry point (>= 150)") {
    assert(SparkEntry.sqlQueries.size >= 150,
      s"only ${SparkEntry.sqlQueries.size} SQL-surface queries")
  }

  test("sql surface round-trip: every entry matches its builder") {
    // Suite-wall-clock bound (r18, verdict item 5): the per-commit run
    // exercises a stable md5-keyed quarter of the surface (~56 texts),
    // and close-of-round runs set SPARK_GRAFT_SQL_SURFACE=full for the
    // complete sweep. A NEW surface entry must be gated by one full run
    // before it ships — the close protocol's full `sbt test` provides that.
    val all = SparkEntry.sqlQueries.keys.toSeq.sorted
    val sampled = CommitSample("SPARK_GRAFT_SQL_SURFACE", byte = 0, modulus = 4)
    val selected = all.filter(sampled)
    if (!sampled.full)
      info(s"sampled quarter: ${selected.size}/${all.size} texts " +
        "(SPARK_GRAFT_SQL_SURFACE=full for the complete sweep)")
    // Longest-first submission: the measured tail (multi-job iterative
    // builders — PCA's driver-side power iteration, the LSH/knn
    // families, the n-gram LM trio) each run 60–120 s under pool
    // contention; submitted late they extend the drain past the point
    // where the other 160 round-trips have finished. Front-loading
    // bounds wall-clock at ~max(heaviest, total/threads) instead.
    val heavyFirst = Seq("llm_minhash_lsh",
      "llm_dedup_incremental", "llm_knn_classify", "llm_knn_graph",
      "llm_lsh_capped", "llm_lm_bigram", "llm_lm_trigram",
      "llm_lm_quality", "llm_ngram_jaccard", "llm_split_leakage",
      "llm_contamination_fuzzy", "llm_corpus_pipeline")
    val names = heavyFirst.filter(selected.contains) ++
      selected.filterNot(heavyFirst.contains)
    spark.catalog.clearCache()
    graft.Tables.registerAll(spark, sfDir)
    // the surface's optimizer setting, undone below: the shared session
    // must plan later suites' builders as Bench and Verify do
    val excluded = "spark.sql.optimizer.excludedRules"
    val priorExcluded = spark.conf.getOption(excluded)
    graft.queries.SqlSurface.registerCompat(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val timings = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      val futures = names.map { name =>
        Future {
          val t0 = System.nanoTime()
          val viaSql = spark.sql(SparkEntry.sqlQueries(name))
            .collect().toSeq.map(_.toString)
          val viaApi = SparkEntry.queries(name)(spark, sfDir)
            .collect().toSeq.map(_.toString)
          timings.add(name -> (System.nanoTime() - t0) / 1e9)
          if (viaSql == viaApi) None
          else Some(s"$name (${viaSql.size} vs ${viaApi.size} rows; " +
            s"first diff: ${viaSql.zipAll(viaApi, "<none>", "<none>")
              .find(p => p._1 != p._2)})")
        }.recover { case e: Throwable =>
          Some(s"$name threw: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.getClass.getName).take(160)}")
        }
      }
      val failures =
        Await.result(Future.sequence(futures), 30.minutes).flatten
      // wall-clock forensics for the suite-trim work: the slowest
      // round-trips bound the pool's drain time
      import scala.jdk.CollectionConverters._
      val slow = timings.asScala.toSeq.sortBy(-_._2).take(10)
        .map { case (n, s) => f"$n $s%.1fs" }.mkString(", ")
      info(s"slowest round-trips: $slow")
      assert(failures.isEmpty,
        s"${failures.size} SQL-surface divergences:\n  " +
          failures.mkString("\n  "))
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
      priorExcluded.fold(spark.conf.unset(excluded))(spark.conf.set(excluded, _))
    }
  }
}
