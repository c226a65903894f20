package graft

/** Ad-hoc per-query timing probe: time named SparkEntry queries (or
  * all, with no names) at a given sf dir, reps with min — the quick
  * plan-iteration loop Bench is too heavyweight for.
  *
  *   runMain graft.QueryProbe <sfDir> <reps> [query ...]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.create("graft-query-probe", logLevel = "ERROR")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s min=${times.min}%7.3f  all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
