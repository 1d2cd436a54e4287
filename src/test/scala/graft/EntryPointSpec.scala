package graft

/** Pins the single owners behind graft's entry points: the module list
  * both registries are projected from, and the session policy every
  * main and this fixture share. */
class EntryPointSpec extends SparkSpec {
  test("registry: no query name in two modules; exactly two queries lack an oracle") {
    assert(SparkEntry.modules.map(_._1.size).sum == SparkEntry.queries.size)
    assert(SparkEntry.modules.map(_._2.size).sum == SparkEntry.oracleSql.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("fn_hash_extra", "sort_tablesample"))
  }

  test("session: the shared test session carries every GraftSession setting") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.warehouse.dir")
      .endsWith(s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"))
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
