package graft

/** Dev probe (test scope, not shipped): for every registered query not
  * yet in the SQL surface, try running its DuckDB oracle SQL through
  * spark.sql (with the SqlSurface compat prelude applied) over the
  * fixture views and compare to the builder's result — reports which
  * oracle strings are Spark-portable, to seed the SQL-string entry
  * surface. */
object SqlProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, sfDir)
    graft.queries.SqlSurface.registerCompat(spark)
    val already = graft.queries.SqlSurface.sql.keySet
    // SPARK_GRAFT_ONLY: probe just these names, INCLUDING ones already
    // in the surface (local iteration on a single entry's translation —
    // the full-registry sweep stays the no-env default).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = only match {
      case Some(sel) => SparkEntry.oracleSql.keys.toSeq.sorted.filter(sel)
      case None => SparkEntry.oracleSql.keys.toSeq.sorted.filterNot(already)
    }
    var ok = List.empty[String]
    names.foreach { name =>
      def attempt(tag: String, text: String): Boolean =
        try {
          val viaSql = spark.sql(text).collect().toSeq
          val viaApi = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
          if (viaSql.map(_.toString) == viaApi.map(_.toString)) {
            println(s"$tag $name"); true
          } else {
            val diff = viaSql.map(_.toString).zipAll(viaApi.map(_.toString), "<none>", "<none>")
              .find(p => p._1 != p._2)
            println(s"MISMATCH-$tag $name (${viaSql.size} vs ${viaApi.size} rows; $diff)")
            false
          }
        } catch {
          case e: Throwable =>
            val head = Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.map(_.trim).find(_.nonEmpty).getOrElse("?").take(160)
            println(s"FAIL-$tag $name: $head")
            false
        }
      val raw = SparkEntry.oracleSql(name)
      val hit = attempt("PORTABLE", raw) || {
        val tr = graft.queries.SqlSurface.duckToSpark(raw)
        tr != raw && attempt("DIALECT", tr)
      }
      if (hit) ok ::= name
      Pipeline.releaseCaches(spark)
    }
    println(s"== portable: ${ok.size}/${names.size}")
    spark.stop()
  }
}
