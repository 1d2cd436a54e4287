package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level profiling harness for optimization work (guide §1: measure
  * first). NOT part of the driver contract — a developer tool that runs
  * named queries in a Bench-identical session and prints, per repeat, the
  * per-stage wall/task-time/shuffle breakdown from a SparkListener, so
  * "where does the time go" is empirical rather than guessed (the Bench
  * session runs with the UI off, so this listener is the only view).
  *
  * Usage: SPARK_GRAFT_PROFILE=query1,query2 sbt "runMain graft.Profile"
  */
object Profile {
  private case class StageRec(id: Int, name: String, tasks: Int,
    wallMs: Long, taskMs: Long, shufR: Long, shufW: Long, inB: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE",
      args.headOption.getOrElse("")).split(",").filter(_.nonEmpty)
    val repeats = sys.env.get("SPARK_GRAFT_REPEATS").map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val stages = mutable.ArrayBuffer[StageRec]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.synchronized { stages += StageRec(si.stageId,
          si.name.split(" at ").headOption.getOrElse(si.name), si.numTasks,
          wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead) }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        println(s"==== $name optimized plan ====\n" +
          fn(spark, sfDir).queryExecution.optimizedPlan.treeString)
      (1 to repeats).foreach { r =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        val recs = stages.synchronized(stages.toList)
        println(f"==== $name repeat $r: $total%.3f s, ${recs.size} stages, " +
          f"stage-wall sum ${recs.map(_.wallMs).sum / 1e3}%.3f s ====")
        if (r == repeats) {
          recs.sortBy(-_.wallMs).take(25).foreach { s =>
            println(f"  stage ${s.id}%4d ${s.name}%-28s tasks=${s.tasks}%3d " +
              f"wall=${s.wallMs / 1e3}%7.3f taskSum=${s.taskMs / 1e3}%8.3f " +
              f"in=${s.inB / 1e6}%8.1fMB sr=${s.shufR / 1e6}%7.1fMB sw=${s.shufW / 1e6}%7.1fMB")
          }
        }
        Pipeline.releaseCaches(spark)
      }
    }
    spark.stop()
  }
}
