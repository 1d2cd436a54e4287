package graft

import graft.queries.{Q, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each module declares its queries once (`defs: Seq[QueryDef]`);
  * `queries`, `oracleSql` and `sqlQueries` are projections of that one
  * module list. `oracleSql` carries the DuckDB-runnable ANSI equivalent
  * per query (omitted only for genuinely non-SQL-expressible ops, which
  * are checked rows-only).
  */
object SparkEntry {
  /** Flagship query (TPC-H Q1 pricing summary) on sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every registered module's declarations — the one module list the
    * registry, the oracle map and the SQL surface are projected from. */
  private[graft] val modules: Seq[Seq[QueryDef]] = Seq(
    graft.queries.Relational.defs,
    graft.queries.Aggregates.defs,
    graft.queries.Windows.defs,
    graft.queries.Scalars.defs,
    graft.queries.Generators.defs,
    graft.queries.Dedup.defs,
    graft.queries.Vectors.defs,
    graft.queries.LmStats.defs,
    graft.queries.Quality.defs,
    graft.queries.Sampling.defs,
    graft.queries.CorpusStats.defs,
    graft.queries.Multimodal.defs,
    graft.queries.CorpusPipeline.defs,
    graft.streaming.Events.defs,
    graft.sources.WritePaths.defs,
    graft.queries.Maintenance.defs,
    graft.queries.Sequences.defs,
    graft.queries.Graph.defs)

  // a name in two modules would otherwise silently resolve to the last one
  private val twice = modules.flatten.map(_.name).groupBy(identity).collect {
    case (name, defs) if defs.size > 1 => name }
  require(twice.isEmpty, s"query names registered by two modules: ${twice.mkString(", ")}")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Q] = modules.flatten.map(d => d.name -> d.build).toMap

  /** SQL-string entry surface (SURVEY.md §3.1): runnable Spark SQL text
    * per query name, executed over the fixture views via
    * `graft.queries.SqlSurface.run` — the HiveQL-string lifecycle stage
    * the reference drives through its Driver. `SqlSurfaceSpec` asserts
    * every entry returns rows identical to the registered builder. */
  def sqlQueries: Map[String, String] = graft.queries.SqlSurface.sql

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.flatten.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** The registry restricted to a `SPARK_GRAFT_ONLY` value — a
    * comma-separated list of query names; unset = every query. A name
    * not in the registry fails, so a typo never runs an empty
    * selection. */
  def select(only: Option[String]): Map[String, Q] = only match {
    case None => queries
    case Some(list) =>
      val names = list.split(",").toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
  }
}
