package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every module's named query builders; `oracleSql`
  * carries the DuckDB-runnable ANSI equivalent for each (omitted only for
  * genuinely non-SQL-expressible ops, which the driver checks rows-only).
  */
object SparkEntry {
  /** Flagship query (TPC-H Q1 pricing summary) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every registered module's `(queries, oracleSql)` pair — the one
    * module list both registries are projected from. */
  private[graft] val modules: Seq[(Map[String, graft.queries.Q], Map[String, String])] = Seq(
    graft.queries.Relational.queries -> graft.queries.Relational.oracleSql,
    graft.queries.Aggregates.queries -> graft.queries.Aggregates.oracleSql,
    graft.queries.Windows.queries -> graft.queries.Windows.oracleSql,
    graft.queries.Scalars.queries -> graft.queries.Scalars.oracleSql,
    graft.queries.Generators.queries -> graft.queries.Generators.oracleSql,
    graft.queries.Text.queries -> graft.queries.Text.oracleSql,
    graft.streaming.Events.queries -> graft.streaming.Events.oracleSql,
    graft.sources.WritePaths.queries -> graft.sources.WritePaths.oracleSql,
    graft.queries.Extras.queries -> graft.queries.Extras.oracleSql,
    graft.queries.Extras2.queries -> graft.queries.Extras2.oracleSql,
    graft.queries.Maintenance.queries -> graft.queries.Maintenance.oracleSql,
    graft.queries.Sequences.queries -> graft.queries.Sequences.oracleSql,
    graft.queries.Graph.queries -> graft.queries.Graph.oracleSql,
    graft.queries.HiveCompat.queries -> graft.queries.HiveCompat.oracleSql)

  // a name in two modules would otherwise silently resolve to the last one
  private val twice = modules.flatMap(_._1.keys).groupBy(identity).collect {
    case (name, defs) if defs.size > 1 => name }
  require(twice.isEmpty, s"query names registered by two modules: ${twice.mkString(", ")}")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, graft.queries.Q] = modules.flatMap(_._1).toMap

  /** SQL-string entry surface (SURVEY.md §3.1): runnable Spark SQL text
    * per query name, executed over the fixture views via
    * `graft.queries.SqlSurface.run` — the HiveQL-string lifecycle stage
    * the reference drives through its Driver. `SqlSurfaceSpec` asserts
    * every entry returns rows identical to the registered builder. */
  def sqlQueries: Map[String, String] = graft.queries.SqlSurface.sql

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = modules.flatMap(_._2).toMap
}
