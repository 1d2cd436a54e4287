package graft

import org.apache.spark.sql.functions._

/** Copy-on-write MERGE mechanics (queries/Maintenance.cowMerge): beyond
  * the oracle-checked values, prove the WRITE behavior — a batch that
  * touches one partition must leave every other partition's files
  * physically untouched. */
class MaintenanceSpec extends SparkSpec {
  import graft.queries.Maintenance

  private def partFiles(dir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("o_orderstatus="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet
      }.toMap
  }

  private def orders = Tables.t(spark, sfDir, "orders")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** A fresh partitioned copy of the fixture orders at a tmp path. */
  private def target(name: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    orders.repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    out
  }

  test("cowMerge rewrites only the touched partition") {
    val out = target("graft_cow_spec")
    val before = partFiles(out)
    assert(before.keySet == Set("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"))

    // batch touches ONLY status 'P' rows: update some, delete one, insert one
    val pKeys = orders.filter(col("o_orderstatus") === "P")
      .select("o_orderkey").orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0))
    val updates = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(pKeys(0), 1.23)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("u_price", org.apache.spark.sql.types.DoubleType))))
    import spark.implicits._
    val deletes = Seq(pKeys(1)).toDF("o_orderkey")
    val inserts = Seq((90000001L, "P", 55.5)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")

    Maintenance.cowMerge(spark, out, updates, deletes, inserts)

    val after = partFiles(out)
    // untouched partitions: exact same files, same mtimes — never rewritten
    assert(after("o_orderstatus=F") == before("o_orderstatus=F"))
    assert(after("o_orderstatus=O") == before("o_orderstatus=O"))
    // touched partition: rewritten
    assert(after("o_orderstatus=P") != before("o_orderstatus=P"))

    // and the merge semantics held
    val merged = spark.read.parquet(out)
    assert(merged.filter(col("o_orderkey") === pKeys(0))
      .head.getAs[Double]("o_totalprice") == 1.23)
    assert(merged.filter(col("o_orderkey") === pKeys(1)).count() == 0)
    assert(merged.filter(col("o_orderkey") === 90000001L).count() == 1)
    assert(merged.count() == orders.count()) // -1 delete +1 insert
  }

  test("cowMerge reads the target with the inserts' schema and stays within its job budget") {
    // Load-independent check: the target is read with the schema the call
    // already holds, so no job goes to inferring it (an inferring read
    // makes it 8 jobs on this fixture).
    val out = target("graft_cow_jobs")
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("u_price"))
    val deletes = orders.filter(col("o_orderkey") % 89 === 0).select(col("o_orderkey"))
    val inserts = orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
    val jobs = jobsOf(Maintenance.cowMerge(spark, out, updates, deletes, inserts))
    assert(jobs <= 7, s"cowMerge ran $jobs jobs")
    assert(spark.read.parquet(out).count() ==
      orders.count() - deletes.count() + inserts.count())
  }
}
