package graft

import java.nio.file.Files

/** Adversarial scale-probe: the two 100 TB dedup pathologies — a giant
  * boilerplate cluster (the hot-bucket cap must fire, or candidate pairs
  * explode quadratically) and a templated near-dup chain (the log-round
  * connected-components path must cluster it) — generated as a synthetic
  * `documents` fixture and run through the REAL pipeline entries
  * (`llm_minhash_lsh` → `llm_dedup_cc` → `llm_corpus_select`), not
  * unit-level shims. The closest a local[4] harness gets to certifying
  * the 100 TB story: both guards firing together on one corpus.
  *
  * Everything downstream of the fixed texts is deterministic (md5-based
  * hashing), so the assertions are stable run to run.
  */
class DedupScaleProbeSpec extends SparkSpec {

  // boilerplate: 1050 byte-identical docs — over the production cap
  // (1000), so every LSH band bucket for this text must be dropped
  private val boilerIds = 10000L until 11050L
  // chain: doc i mutates one more word than doc i-1, so adjacent docs are
  // near-dups (J ≈ 0.93) and distant ones are not
  private val chainIds = 20000L until 20040L
  private val uniqueIds = 30000L until 30010L

  private lazy val probeDir: String = {
    val dir = Files.createTempDirectory("graft_probe").toFile.getAbsolutePath
    import spark.implicits._
    val boilerText = (0 until 120).map(i => s"boiler$i").mkString(" ")
    val boiler = boilerIds.map(id =>
      (id, boilerText, "en", "probe", boilerText.length.toLong))
    val chain = chainIds.zipWithIndex.map { case (id, i) =>
      val text = (0 until 80)
        .map(j => if (j < i) s"mut$j" else s"base$j").mkString(" ")
      (id, text, "en", "probe", text.length.toLong)
    }
    val uniq = uniqueIds.map { id =>
      val text = (0 until 60).map(j => s"u${id}w$j").mkString(" ")
      (id, text, "en", "probe", text.length.toLong)
    }
    (boiler ++ chain ++ uniq).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val pairs: Seq[(Long, Long)] =
    SparkEntry.queries("llm_minhash_lsh")(spark, probeDir)
      .select("doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq

  test("hot-bucket cap suppresses the boilerplate cluster's pair blowup") {
    // 1050 identical docs would otherwise emit C(1050,2) ≈ 550k pairs;
    // with the cap they emit ZERO (identical docs share every band, so
    // every one of their buckets is over cap and dropped).
    val boiler = boilerIds.toSet
    assert(!pairs.exists(p => boiler(p._1) || boiler(p._2)),
      "boilerplate docs must produce no LSH pairs once the cap fires")
    assert(pairs.size < 1000, s"pair list blew up: ${pairs.size}")
  }

  test("near-dup chain links survive LSH and verification") {
    val pairSet = pairs.toSet
    val adjacent = chainIds.dropRight(1).map(i => (i, i + 1))
    val found = adjacent.count(pairSet)
    // deterministic given the fixed texts; J ≈ 0.93 per link makes an
    // all-band miss ~0.2% per link, so near-total coverage is expected
    assert(found >= 30, s"only $found/39 adjacent chain pairs found")
    val uniq = uniqueIds.toSet
    assert(!pairs.exists(p => uniq(p._1) || uniq(p._2)),
      "unique docs must not pair with anything")
  }

  test("connected components cluster the chain and isolate the rest") {
    val labels = SparkEntry.queries("llm_dedup_cc")(spark, probeDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: union-find over the verified pair list
    val ids = (boilerIds ++ chainIds ++ uniqueIds).toSeq
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // relabel ground truth to min-of-component (find gives the min root
    // because unions always hang the larger root under the smaller)
    val expect = ids.map(i => i -> find(i)).toMap
    assert(labels === expect)
    // capped boilerplate docs are singletons — no pairs, no merging
    boilerIds.foreach(id => assert(labels(id) === id))
    uniqueIds.foreach(id => assert(labels(id) === id))
  }

  test("connected components takes the reliable-checkpoint path on clusters") {
    import spark.implicits._
    // A cluster session has a checkpoint dir configured; CC must then use
    // reliable checkpoints (executor-local blocks don't survive executor
    // loss). Both paths are semantically identical, so setting the dir on
    // the shared session only changes where later CC tests materialize.
    val ckptDir = Files.createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    spark.sparkContext.setCheckpointDir(ckptDir)
    val got = graft.queries.Dedup.connectedComponents(
        (1L to 6L).toDF("doc_id"),
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
    // the reliable path actually wrote checkpoint data
    val wrote = new java.io.File(ckptDir).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
  }

  test("corpus selection collapses the boilerplate to at most one keeper") {
    val manifest = SparkEntry.queries("llm_corpus_select")(spark, probeDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup keeps one doc per content hash: 1050 identical texts
    // collapse to min(doc_id) (which may itself fall to the 5% train-split
    // holdout, hence "at most one")
    assert(manifest.count(boilerIds.toSet) <= 1,
      "exact dedup failed to collapse identical boilerplate docs")
    // chain docs are all unique texts → keepers; quality 0.9, lang en —
    // only the ~5% split holdout may drop any
    assert(manifest.count(chainIds.toSet) >= 30)
  }
}
