package graft

/** Ad-hoc SQL-surface round-trip probe: for each query name passed as an
  * argument (or every surface entry with none), run the SQL-text entry
  * and the registered builder over the fixture dir and print OK/DIFF —
  * the fast per-name dev loop behind `SqlSurfaceSpec`'s gate.
  * `sbt "runMain graft.SurfaceProbe llm_t_closeness seq_cuped"` */
object SurfaceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    graft.queries.SqlSurface.registerCompat(spark)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.sqlQueries.keys.toSeq.sorted
    var bad = 0
    names.foreach { name =>
      try {
        val viaSql = spark.sql(SparkEntry.sqlQueries(name)).collect()
          .toSeq.map(_.toString)
        val viaApi = SparkEntry.queries(name)(spark, sfDir).collect()
          .toSeq.map(_.toString)
        if (viaSql == viaApi) println(s"OK   $name (${viaApi.size} rows)")
        else {
          bad += 1
          val d = viaSql.zipAll(viaApi, "<none>", "<none>")
            .find(p => p._1 != p._2)
          println(s"DIFF $name: ${viaSql.size} vs ${viaApi.size} rows; $d")
        }
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"ERR  $name: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.getClass.getName).take(200)}")
      } finally Pipeline.releaseCaches(spark)
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
