package graftbench

import graft.{Pipeline, Tables}
import graft.queries.{Maintenance, SqlSurface}
import org.apache.spark.GraftBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up graft `setups` times (the last
  * session is kept), run the workload's ops in a closed loop for `seconds`,
  * and write everything the scorer needs to `out`:
  *
  *   graftbench.Main <workload> <dataDir> <workDir> <out> <seconds> <trace> <cores> <setups> <limitS> [all]
  *
  * The optional `all` runs hive_sql over its whole draw set instead of its
  * deck (perfbench/sweep.py uses it to choose and to vet the deck).
  * Timing stops at each op's last result row; capturing results for the
  * output checks, cache release and bus draining happen between ops. */
object Main {
  final case class OpRec(id: Int, kind: String, key: String, cold: Boolean, startMs: Long,
      latS: Double, failed: Boolean, phases: Seq[(String, Long, Long)], compiles: Long,
      compileNs: Long)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, dataDir, workDir, out, secondsS, traceS, coresS, setupsS, limitS) = args.take(9)
    val allTexts = args.drop(9).headOption.contains("all")
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val heap = new HeapPeak
    val load0 = loadAvg()
    val steal0 = stealS()

    val wl: Workload = workload match {
      case "hive_sql" if allTexts =>
        new HiveSql(dataDir, HiveSql.drawSet.sortBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n)), 2)
      case "hive_sql" => new HiveSql(dataDir, HiveSql.deck, HiveSql.minPasses)
      case "corpus_dedup" => new CorpusDedup(dataDir)
      case "ingest_merge" => new IngestMerge(dataDir, workDir)
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setupsS.toInt) {
      val s0 = if (i == 0) t0 else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, workDir)
      wl.setup(spark)
      setupS += (System.nanoTime() - s0) / 1e9
    }
    val sc = spark.sparkContext
    val u0 = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - u0) / 1e9
    // the warm-up's late listener events must not reach the tracer
    GraftBenchBus.drain(sc)
    val tracer = new Tracer
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    val h = new Harness(spark, tracer, trace, limitS.toDouble)
    heap.reset()
    val w0 = System.nanoTime()
    var more = true
    while (more && ((System.nanoTime() - w0) / 1e9 < seconds || h.ops.size < wl.minOps ||
        !wl.boundary(h.ops.size)))
      more = wl.next(h)
    if (!more) {
      System.err.println(s"[perfbench] $workload ran out of generated inputs")
      sys.exit(3)
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val peakMb = heap.peakMb

    val layers = if (trace) {
      GraftBenchBus.drain(sc)
      Layers.of(tracer, h.ops.toSeq, cores)
    } else Map.empty[String, Double]
    val minhash = if (trace) Layers.minhashNsPerDoc(wl.corpusTexts(spark)) else 0.0
    if (trace) Layers.writeSpans(tracer, h.ops.toSeq, s"$out.spans.jsonl")

    val result = Json.obj(
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "warmup_s" -> warmupS,
      "window_s" -> windowS,
      "peak_heap_mb" -> peakMb,
      "rdds_left_max" -> h.rddsLeftMax,
      "cache_bytes_stored" -> h.cacheBytes,
      "load" -> Seq(load0, loadAvg()),
      "steal_s" -> (stealS() - steal0),
      "ops" -> h.ops.toSeq.map(o => Json.obj("id" -> o.id, "kind" -> o.kind, "key" -> o.key,
        "cold" -> o.cold, "lat_s" -> o.latS, "failed" -> o.failed, "compiles" -> o.compiles,
        "compile_s" -> o.compileNs / 1e9)),
      "layers" -> (layers + ("functions.minhash_ns_per_doc" -> minhash)),
      "check" -> wl.checkData)
    val pw = new PrintWriter(new File(out), "UTF-8")
    try pw.write(Json.write(result)) finally pw.close()
    spark.stop()
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds of CPU the hypervisor gave to other guests (all CPUs), from
    * /proc/stat; -1 where unreadable. Reported beside the load average. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: Throwable => -1.0 }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
}

/** Post-GC heap peak of the JVM: the largest heap occupancy any collection
  * left behind, read from the collectors' notifications. */
final class HeapPeak {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit = {
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = peak = 0L
  def peakMb: Double = {
    // a run whose window saw no collection still reports its live heap
    if (peak == 0L) {
      System.gc()
      peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    peak / 1048576.0
  }
}

/** Runs ops: sets the job group of each phase (`gb-<op>-<phase>`) and a
  * job tag per op, enforces the latency limit by cancelling the op's jobs,
  * releases graft's caches after every op and records what is left. */
final class Harness(val spark: SparkSession, tracer: Tracer, trace: Boolean, limitS: Double) {
  import Main.OpRec
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var rddsLeftMax = 0
  var cacheBytes = 0L
  private val seen = mutable.HashSet.empty[String]
  private val sc = spark.sparkContext
  private var phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var opId = 0

  /** Time one phase of the open op under its own job group. */
  def phase[T](name: String)(f: => T): T = {
    sc.setJobGroup(s"gb-$opId-$name", name, interruptOnCancel = true)
    val s = System.currentTimeMillis()
    try f finally {
      phases += ((name, s, System.currentTimeMillis()))
      sc.clearJobGroup()
    }
  }

  /** Run one op; `body` returns the value the caller captures for checks.
    * Returns None when the op failed or went over the latency limit. */
  def op[T](kind: String, key: String)(body: => T): Option[T] = {
    opId = ops.size
    phases = mutable.ArrayBuffer.empty
    val tag = s"gb-op-$opId"
    val cold = seen.add(s"$kind/$key")
    tracer.currentOp = opId
    sc.addJobTag(tag)
    @volatile var done = false
    val watchdog = new Thread(() => {
      val deadline = System.nanoTime() + (limitS * 1e9).toLong
      while (!done) {
        if (System.nanoTime() > deadline) sc.cancelJobsWithTag(tag, "over the latency limit")
        Thread.sleep(50)
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val res = try Some(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $kind/$key failed: ${e.getMessage}")
        None
    }
    val lat = (System.nanoTime() - t) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileNs = CodeGenerator.compileTime - compileNs0
    done = true
    watchdog.join()
    sc.removeJobTag(tag)
    cacheBytes += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Pipeline.releaseCaches(spark)
    rddsLeftMax = math.max(rddsLeftMax, sc.getPersistentRDDs.size)
    if (trace) GraftBenchBus.drain(sc)
    tracer.currentOp = -1
    val failed = res.isEmpty || lat > limitS
    ops += OpRec(opId, kind, key, cold, startMs, lat, failed, phases.toSeq, compiles, compileNs)
    if (failed) None else res
  }
}

trait Workload {
  /** Workload state a user would build before the first query. */
  def setup(spark: SparkSession): Unit
  /** Run the next op; false when the generated inputs are used up. */
  def next(h: Harness): Boolean
  /** Untimed work before the window that absorbs JVM-wide first-use costs
    * (JIT of Spark's executor paths), so they do not land on the first op. */
  def warmup(spark: SparkSession): Unit = ()
  def minOps: Int
  /** Whether the window may end after `opsDone` ops. */
  def boundary(opsDone: Int): Boolean = true
  def checkData: Any
  def corpusTexts(spark: SparkSession): Seq[String]
}

/** Passes over a fixed deck of graft's Hive-surface SQL texts, in the same
  * order every pass, over the tables generated from the seed; each result
  * is fully collected. The first pass runs every text cold. */
final class HiveSql(dataDir: String, texts: Seq[String], passes: Int) extends Workload {
  private var at = 0
  private val results = mutable.LinkedHashMap.empty[String, Any]

  def setup(spark: SparkSession): Unit = {
    Tables.registerAll(spark, dataDir)
    SqlSurface.registerCompat(spark)
  }
  override def warmup(spark: SparkSession): Unit =
    HiveSql.warmupTexts.filterNot(HiveSql.deck.contains).foreach { n =>
      SqlSurface.run(spark, dataDir, n).collect()
      Pipeline.releaseCaches(spark)
    }
  def minOps: Int = texts.size * passes
  override def boundary(opsDone: Int): Boolean = opsDone % texts.size == 0
  def next(h: Harness): Boolean = {
    val name = texts(at % texts.size)
    at += 1
    val rows = h.op("query", name) {
      val df = h.phase("build")(SqlSurface.run(h.spark, dataDir, name))
      val rows = h.phase("action")(df.collect())
      (df.schema.fieldNames.toSeq, rows)
    }
    rows.foreach { case (cols, rs) =>
      if (!results.contains(name))
        results(name) = Json.obj("cols" -> cols, "rows" -> rs.toSeq.map(Json.row),
          "oracle" -> graft.SparkEntry.oracleSql.get(name).orNull)
    }
    true
  }
  def checkData: Any = Json.obj("draw_set" -> HiveSql.drawSet.size, "texts" -> texts,
    "results" -> results.toMap)
  def corpusTexts(spark: SparkSession): Seq[String] =
    spark.read.parquet(s"$dataDir/documents.parquet").select("text").collect().map(_.getString(0)).toSeq
}

object HiveSql {
  /** Families outside the Hive query surface: LLM-data and graph operators,
    * sources and sinks, streams, MERGE and materialized views. */
  val excludedFamilies = Seq("llm_", "graph_", "sink_", "src_", "stream_", "merge", "mv_")
  /** Texts whose single run at the benchmark's scale exceeds the latency
    * limit (measured times in perfbench/README.md). */
  val overLimit = Seq("seq_attribution_markov", "seq_forecast_holt", "seq_holt_winters")
  lazy val drawSet: Seq[String] = SqlSurface.sql.keys.toSeq
    .filterNot(n => excludedFamilies.exists(n.startsWith))
    .filterNot(overLimit.contains).sorted
  /** One text per major executor shape, as graft.Bench warms up. */
  val warmupTexts = Seq("q1_pricing_summary", "agg_basic", "win_ranking", "join_multiway")
  /** A run makes at least this many passes over its texts: one cold, the
    * rest warm. */
  val minPasses = 3
  /** The deck, as perfbench/sweep.py chose it from a measured
    * run of the whole draw set so that its cold latencies, compile share
    * and job counts spread like the draw set's (README.md, "The hive_sql
    * deck"). */
  val deck: Seq[String] = Seq("gen_explode_outer", "fn_url", "sort_global", "fn_regex",
    "fn_string2", "join_theta", "fn_context_ngrams", "subq_in", "setop_except_all", "agg_variance",
    "agg_regr", "fn_ngrams", "seq_sessionize", "seq_concurrency", "seq_matchpath", "seq_attribution")
}

/** Batch LLM-data pipeline over the generated corpus; one op is one pass
  * of six graft operators, each fully collected and followed by
  * `Pipeline.releaseCaches`. */
final class CorpusDedup(dataDir: String) extends Workload {
  private var docs: DataFrame = _
  private val counts = mutable.ArrayBuffer.empty[Map[String, Long]]
  private var clusters: Seq[(Long, Long)] = Seq.empty
  val steps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "nearDupClusters" -> Pipeline.nearDupClusters,
    "gopherRules" -> Pipeline.gopherRules,
    "repetition" -> Pipeline.repetition,
    "dupChunks" -> Pipeline.dupChunks,
    "contamination" -> ((d: DataFrame) => Pipeline.contamination(d, id => id % 100 === 0)),
    "sourceStats" -> Pipeline.sourceStats)

  def setup(spark: SparkSession): Unit = {
    docs = spark.read.parquet(s"$dataDir/documents.parquet")
  }
  def minOps: Int = 2
  def next(h: Harness): Boolean = {
    val res = h.op("pass", "pipeline") {
      steps.map { case (name, f) =>
        val df = h.phase(s"build.$name")(f(docs))
        val rows = h.phase(s"action.$name")(df.collect())
        Pipeline.releaseCaches(h.spark)
        name -> rows
      }
    }
    res.foreach { r =>
      counts += r.map { case (n, rows) => n -> rows.length.toLong }.toMap
      if (clusters.isEmpty)
        clusters = r.head._2.toSeq.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("cluster_id")))
    }
    true
  }
  def checkData: Any = Json.obj("counts" -> counts.toSeq,
    "clusters" -> clusters.map { case (d, c) => Seq(d, c) })
  def corpusTexts(spark: SparkSession): Seq[String] =
    docs.select("text").collect().map(_.getString(0)).toSeq
}

/** Writes beside reads: per generated batch, one incremental dedup round
  * against the on-disk state (appending the survivors), one copy-on-write
  * merge into the partitioned target table, and a read-back aggregate. */
final class IngestMerge(dataDir: String, workDir: String) extends Workload {
  private val state = s"$workDir/dedup_state"
  private val target = s"$workDir/target"
  private var batch = 0
  private val survivors = mutable.ArrayBuffer.empty[Seq[Long]]
  private val readbacks = mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
  private val written = mutable.ArrayBuffer.empty[Long]
  private def batches = new File(s"$dataDir/batches").list().count(_.startsWith("docs_"))

  def setup(spark: SparkSession): Unit = {
    Pipeline.writeDedupState(spark.read.parquet(s"$dataDir/corpus.parquet"), state)
    spark.read.parquet(s"$dataDir/target.parquet").repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(target)
  }
  def minOps: Int = 6

  /** Bytes of data files under `dir` that were not there before. */
  private def files(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  def next(h: Harness): Boolean = {
    if (batch >= batches) return false
    val b = batch
    val s = h.spark
    val before = files(state) ++ files(target)
    val res = h.op("batch", "cycle") {
      val docs = s.read.parquet(s"$dataDir/batches/docs_$b.parquet")
      val ids = h.phase("build.dedup")(Pipeline.incrementalDedup(s, docs, state, append = true))
      val kept = h.phase("action.dedup")(ids.collect().map(_.getLong(0)).sorted.toSeq)
      h.phase("sink.merge")(Maintenance.cowMerge(s, target,
        s.read.parquet(s"$dataDir/batches/upd_$b.parquet"),
        s.read.parquet(s"$dataDir/batches/del_$b.parquet"),
        s.read.parquet(s"$dataDir/batches/ins_$b.parquet")))
      val back = h.phase("action.readback")(s.read.parquet(target).groupBy("o_orderstatus")
        .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")))
        .orderBy("o_orderstatus").collect())
      (kept, back.toSeq.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2))))
    }
    val after = files(state) ++ files(target)
    res.foreach { case (kept, back) =>
      survivors += kept
      readbacks += back
      written += after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
    }
    batch += 1
    true
  }
  def checkData: Any = Json.obj("survivors" -> survivors.toSeq, "readback" -> readbacks.toSeq,
    "bytes_written" -> written.toSeq)
  def corpusTexts(spark: SparkSession): Seq[String] =
    spark.read.parquet(s"$dataDir/corpus.parquet").select("text").collect().map(_.getString(0)).toSeq
}
