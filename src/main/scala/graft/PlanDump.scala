package graft

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan-evidence tool for the optimization rounds (the judge reads
  * plans/rNN/<query>_{before,after}.txt instead of running Spark).
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [query ...]
  *
  * Writes <outDir>/<query>_<suffix>.txt for each query (all queries
  * when none named).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r06")
    val suffix = args.lift(2).getOrElse("after")
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create("graft-plan-dump", logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      } catch { case e: Exception =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
