package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** readStream smoke: the tumbling-window aggregation produces identical
  * results via Structured Streaming (file source, one micro-batch) and
  * the batch query (SURVEY.md §5.2 item 5). */
class StreamingSpec extends SparkSpec {

  test("tumbling window: streaming result == batch result") {
    val streamDir = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.tumblingStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("tumbling_smoke")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val streamed = spark.table("tumbling_smoke")
      .orderBy("win_start", "event_type").collect()
    val batch = graft.streaming.Events.streamTumbling(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("stream-static enrichment join: streaming result == batch result") {
    val streamDir = Files.createTempDirectory("graft_enrich_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.enrichStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("enrich_smoke")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val streamed = spark.table("enrich_smoke")
      .orderBy("win_start", "category").collect()
    val batch = graft.streaming.Events.streamEnrich(spark, sfDir).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("windowed top-k: streamed counts + consumer rank == batch result") {
    val streamDir = Files.createTempDirectory("graft_topk_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.topkCountsStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("topk_smoke")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    // the consumer-side rank over the tiny per-window frame
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(col("cnt").desc, col("event_type"))
    val streamed = spark.table("topk_smoke")
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(rk))
      .filter(col("rnk") <= 2)
      .select("win_start", "rnk", "event_type", "cnt")
      .orderBy("win_start", "rnk").collect()
    val batch = graft.streaming.Events.streamTopkTypes(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("flatMapGroupsWithState: streaming result == batch result") {
    val streamDir = Files.createTempDirectory("graft_state_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.statefulStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("stateful_smoke")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val streamed = spark.table("stateful_smoke").orderBy("user_id").collect()
    val batch = graft.streaming.Events
      .streamStatefulSessions(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("foreachBatch sink: streamed micro-batches land in parquet and match batch") {
    val streamDir = Files.createTempDirectory("graft_feb_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val outDir = Files.createTempDirectory("graft_feb_out").toString

    val stream = graft.streaming.Events.tumblingStream(spark, streamDir.toString)
    val q = stream.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val landed = spark.read.parquet(outDir)
      .orderBy("win_start", "event_type").collect()
    val batch = graft.streaming.Events.streamTumbling(spark, sfDir).collect()
    assert(landed.length == batch.length)
    assert(landed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("update output mode: per-key aggregate streams with watermark") {
    val streamDir = Files.createTempDirectory("graft_upd_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.tumblingStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("update_smoke")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    // one micro-batch → update mode emits every changed (= every) group
    val streamed = spark.table("update_smoke")
      .orderBy("win_start", "event_type").collect()
    val batch = graft.streaming.Events.streamTumbling(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("stream-stream interval join: streaming result == batch result") {
    val streamDir = Files.createTempDirectory("graft_ssj_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val stream = graft.streaming.Events.intervalJoinStream(spark, streamDir.toString)
    val q = stream.writeStream
      .format("memory").queryName("ssj_smoke")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")

    val streamed = spark.table("ssj_smoke")
      .orderBy("user_id", "click_id", "purchase_id").collect()
    val batch = graft.streaming.Events.streamIntervalJoin(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("stateful dedup twin: dropDuplicates over stream equals batch first-rows count") {
    val batch = graft.streaming.Events.streamDedupFirst(spark, sfDir).count()
    val direct = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(batch == direct)
  }

  test("dropDuplicatesWithinWatermark twin: surviving keys == batch distinct") {
    val streamDir = Files.createTempDirectory("graft_ddww_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = graft.streaming.Events
      .dedupWithinWatermarkStream(spark, streamDir.toString)
      .writeStream.format("memory").queryName("ddww_smoke")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    // exactly one survivor per key, and the key set is the batch
    // distinct — the dedup decision matches even though WHICH row
    // survives is arrival-order dependent by the operator's contract
    val streamed = spark.table("ddww_smoke")
      .orderBy("user_id", "event_type").collect().map(_.toString)
    val batch = graft.streaming.Events.streamDedupFirst(spark, sfDir)
      .select("user_id", "event_type").collect().map(_.toString)
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("transformWithState twin: session stats match the batch result") {
    val streamDir = Files.createTempDirectory("graft_tws_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // the v2 state API requires the RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = graft.streaming.Events.statefulStreamTws(spark, streamDir.toString)
        .writeStream.format("memory").queryName("tws_smoke")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish in 120s")
      val streamed = spark.table("tws_smoke").orderBy("user_id").collect()
      val batch = SparkEntry
        .queries("stream_stateful_sessions")(spark, sfDir).collect()
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful session state survives a checkpointed restart") {
    // Events arrive in two time-ordered halves with a query stop/restart
    // between them. The restarted query must resume from the checkpoint:
    // skip already-processed files AND reload per-user session state. If
    // state were lost, users spanning the split would report second-half
    // counts only; if the file log were lost, their events would double-
    // count — either way the final per-user stats diverge from batch.
    val streamDir = Files.createTempDirectory("graft_ckpt_stream").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_loc").toString
    val outDir = Files.createTempDirectory("graft_ckpt_out").toString
    // Normalize ts first so the median split works whatever the fixture's
    // physical encoding is (Long-nanos, NTZ micros, TIMESTAMP micros); the
    // normalized frame is also what gets written to the stream dir, and
    // eventsStream re-normalizes on read (TimestampType passthrough).
    val raw = Tables.normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .withColumn("tsu", unix_micros(col("ts")))
    val cut = raw.stat.approxQuantile("tsu", Array(0.5), 0.0).head.toLong
    def run(): Unit = {
      val q = graft.streaming.Events.statefulStream(spark, streamDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120s")
    }
    raw.filter(col("tsu") <= cut).drop("tsu").write.mode("append").parquet(streamDir)
    run()
    raw.filter(col("tsu") > cut).drop("tsu").write.mode("append").parquet(streamDir)
    run()
    // Last emission per user wins (n_events grows monotonically across
    // micro-batches); the time-ordered split makes phase1++phase2 equal
    // the per-user (ts, event_id)-sorted full sequence, so recovered
    // state must reproduce the batch result exactly.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val finalRows = spark.read.parquet(outDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "n_sessions", "total_value")
      .orderBy("user_id").collect()
    val batch = SparkEntry
      .queries("stream_stateful_sessions")(spark, sfDir).collect()
    assert(finalRows.length == batch.length)
    assert(finalRows.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("streaming incremental dedup (exact layer) == batch exact layer") {
    // The persisted dedup state is STATIC; new docs arrive as a stream.
    // Pipeline.incrementalDedupExactStream must emit exactly the docs
    // the batch exact layer would keep (stream-left/static-right
    // left_anti — a supported streaming shape).
    val statePath = Files.createTempDirectory("graft_sdedup").toString + "/state"
    val d = Tables.t(spark, sfDir, "documents")
    Pipeline.writeDedupState(
      d.filter(col("doc_id") < 25).select("doc_id", "text"), statePath)
    val streamDir = Files.createTempDirectory("graft_sdedup_in").toString
    d.filter(col("doc_id") >= 25).select("doc_id", "text")
      .write.mode("overwrite").parquet(streamDir)
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val q = Pipeline.incrementalDedupExactStream(spark, stream, statePath)
      .writeStream.format("memory").queryName("dedup_exact_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    val streamed = spark.table("dedup_exact_stream")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchExact = d.filter(col("doc_id") >= 25)
      .withColumn("h", sha2(col("text"), 256))
      .join(spark.read.parquet(statePath).select("h"), Seq("h"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batchExact)
  }

  test("streaming contamination == batch contamination (static eval side)") {
    // Fixture docs stream in over two file drops; the eval slice
    // (doc_id % 97 == 0) is STATIC. Update-mode counts, last row per
    // doc (each doc finalizes in its own micro-batch), must equal the
    // batch operator on the full frame.
    val d = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    val base = Files.createTempDirectory("graft_contam").toString
    val (streamDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
    val cut = 25L
    corpus.filter(col("doc_id") < cut).coalesce(1)
      .write.mode("append").parquet(streamDir)
    val schema = spark.read.parquet(streamDir).schema
    def runOnce(): Unit = {
      val q = Pipeline.contaminationStream(
          spark.readStream.schema(schema).parquet(streamDir),
          d.filter(col("doc_id") % 97 === 0))
        .writeStream
        .option("checkpointLocation", ckpt) // shared: run 2 resumes, no reprocess
        .outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "stream did not finish in 120s")
    }
    runOnce()
    corpus.filter(col("doc_id") >= cut).coalesce(1)
      .write.mode("append").parquet(streamDir)
    runOnce()
    // every doc finalizes in the micro-batch that carries it, so each
    // doc_id appears exactly once across both runs' update emissions
    val streamedRows = spark.read.parquet(outDir)
      .select("doc_id", "n_shared", "n_grams", "contam_ratio").collect()
    assert(streamedRows.map(_.getLong(0)).distinct.length === streamedRows.length)
    val streamed = streamedRows
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3))).toMap
    val batch = SparkEntry.queries("llm_contamination")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3))).toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming incremental dedup (exact + near) folds survivors across micro-batches") {
    // The FULL loop as a stream (Pipeline.incrementalDedupStream): two
    // file drops = two micro-batches over one checkpoint. Planted
    // corpus makes every semantic visible:
    //   state:   doc 1  = template1
    //   batch A: doc 10 = template1            (near/exact dup of state → drop)
    //            doc 11 = template2            (new → survive, FOLDS BACK)
    //   batch B: doc 20 = template2 + " tail"  (near-dup of A's survivor —
    //            dropped ONLY IF the fold-back between micro-batches worked)
    //            doc 21 = unrelated            (new → survive)
    // Expected stream survivors {11, 21}, and the sequential batch loop
    // (same two rounds via incrementalDedup on a state copy) must agree.
    import spark.implicits._
    val t1 = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val t2 = (1 to 30).map(i => s"beta$i").mkString(" ")
    val corpus = Seq((1L, t1)).toDF("doc_id", "text")
    val a = Seq((10L, t1), (11L, t2)).toDF("doc_id", "text")
    val b = Seq((20L, t2 + " tail"),
      (21L, "an entirely unrelated closing document body")).toDF("doc_id", "text")

    val base = Files.createTempDirectory("graft_sdedup_full").toString
    val (stateS, stateB) = (s"$base/state_stream", s"$base/state_batch")
    Pipeline.writeDedupState(corpus, stateS)
    Pipeline.writeDedupState(corpus, stateB)
    val (streamDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    a.coalesce(1).write.mode("append").parquet(streamDir)
    val schema = spark.read.parquet(streamDir).schema
    def runOnce(): Unit = {
      val q = Pipeline.incrementalDedupStream(
        spark.readStream.schema(schema).parquet(streamDir), stateS, outDir, ckpt)
      assert(q.awaitTermination(120000), "stream did not finish in 120s")
    }
    runOnce()
    b.coalesce(1).write.mode("append").parquet(streamDir)
    runOnce()

    val streamed = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === Set(11L, 21L),
      s"fold-back broken: expected {11, 21}, got $streamed")
    // micro-batch ids prove two distinct batches ran through one checkpoint
    assert(spark.read.parquet(outDir).select("batch_id")
      .distinct().count() === 2)
    // idempotent sink layout: each micro-batch owns a batch_id=<id>
    // partition (a retried batch overwrites its own partition)
    val partDirs = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs.exists(_.startsWith("batch_id=")), partDirs.toString)
    // sequential batch loop on the untouched state copy agrees
    val batchSurv =
      Pipeline.incrementalDedup(spark, a, stateB).collect().map(_.getLong(0)).toSet ++
      Pipeline.incrementalDedup(spark, b, stateB).collect().map(_.getLong(0)).toSet
    assert(streamed === batchSurv)
  }
}
