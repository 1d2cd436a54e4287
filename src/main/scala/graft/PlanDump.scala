package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the named queries to per-query files —
  * the before/after plan evidence for optimization rounds:
  * `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"` writes
  * `<outDir>/<query>_<suffix>.txt` per query. Dev tool, not contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(4, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.split(",").filter(_.nonEmpty).foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
      Pipeline.releaseCaches(spark)
    }
    spark.stop()
  }
}
