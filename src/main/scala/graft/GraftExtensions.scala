package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions._

/** SparkSessionExtensions entry point (SURVEY.md §2.10) and the one way a
  * graft SQL function enters a session: every session that runs graft
  * queries must be built with `spark.sql.extensions=graft.GraftExtensions`
  * ([[GraftSession.local]] sets it). The extension injects
  * [[GraftExtensions.catalog]] — the packaged-library equivalent of
  * Hive's `CREATE TEMPORARY FUNCTION`, done once per session instead of
  * per query — plus the grouped top-k rewrite.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.catalog.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // grouped top-k pushdown: optimizer rewrite + planner strategy
    // (the full custom-operator ladder — see graft.plans.TopKPerKey)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  /** Every graft SQL function, concatenated from each function module's
    * own table. */
  val catalog: Seq[SqlFunction] = DotProduct.sqlFunctions ++
    ParseUrlTupleGen.sqlFunctions ++
    TextHashFunctions.sqlFunctions ++ // native text-hash kernels, see TextHashOps
    UnicodeNormalize.sqlFunctions ++
    BloomFunctions.sqlFunctions ++
    EwahBitmap.sqlFunctions ++
    GapFunctions.sqlFunctions ++
    DuckCompat.sqlFunctions

  // a name in two tables would otherwise silently resolve to the last one
  private val twice = catalog.map(_._1).groupBy(identity).collect {
    case (name, fns) if fns.size > 1 => name }
  require(twice.isEmpty, s"SQL functions declared by two modules: ${twice.mkString(", ")}")
}
