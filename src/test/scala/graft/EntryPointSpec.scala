package graft

/** Pins the single owners behind graft's entry points: the module list
  * the registry, the oracle map and the SQL surface are projected from,
  * the `SPARK_GRAFT_ONLY` selection, and the session policy every main
  * and this fixture share. */
class EntryPointSpec extends SparkSpec {
  import graft.queries.SqlSurface

  test("registry: no query name in two modules; exactly two queries lack an oracle") {
    val defs = SparkEntry.modules.flatten
    assert(defs.size == SparkEntry.queries.size)
    assert(defs.count(_.oracle.isDefined) == SparkEntry.oracleSql.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("fn_hash_extra", "sort_tablesample"))
  }

  test("surface: exactly the registry minus the exclusions") {
    assert(SparkEntry.sqlQueries.keySet ==
      SparkEntry.queries.keySet -- SqlSurface.excluded.keySet)
    // an exclusion for a renamed or deleted query would otherwise linger
    val stale = SqlSurface.excluded.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"exclusions naming no registered query: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("surface: every override names a registered, non-excluded query") {
    // the derived surface would otherwise drop an override written for an
    // excluded or misspelled name without a word
    val overrides = SqlSurface.overrides.keySet
    val stray = overrides -- (SparkEntry.queries.keySet -- SqlSurface.excluded.keySet)
    assert(stray.isEmpty, s"overrides for no surface name: ${stray.toSeq.sorted.mkString(", ")}")
  }

  test("SPARK_GRAFT_ONLY: unset selects all, a list selects it, an unknown name fails") {
    assert(SparkEntry.select(None) == SparkEntry.queries)
    assert(SparkEntry.select(Some("join_smb,agg_basic")).keySet == Set("join_smb", "agg_basic"))
    val e = intercept[IllegalArgumentException](SparkEntry.select(Some("join_smb,agg_basci")))
    assert(e.getMessage.contains("agg_basci"))
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
