package graft


/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries to files, so plan claims in OPTIMIZATION_r*.md are checkable
  * without running Spark (plans/rNN/&lt;query&gt;_{before,after}.txt).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  * Writes <outDir>/<name>_<suffix>.txt per query. Same session as Bench
  * (SparkEntry.session) so the initial plans match what the bench
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val spark = SparkEntry.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val names =
      if (qlist == "all") SparkEntry.names
      else qlist.split(",").toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try w.println(plan) finally w.close()
        val exchanges = "Exchange".r.findAllIn(plan).length
        println(s"[plandump] $name: ${plan.linesIterator.length} lines, " +
          s"$exchanges Exchange mentions")
      } catch { case e: Throwable =>
        // queries with driver-side fixed-point loops (IRLS/NR) run jobs
        // during plan CONSTRUCTION; a failure here must not kill the
        // whole dump
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
