package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of graft's mains (ValidateJob,
  * CurateJob, SuggestJob, QueryProbe, PlanDump).
  *
  * A `spark.master` that spark-submit already set is kept; otherwise the
  * session runs `local[n]`, where n is `SPARK_GRAFT_CPUS` or the host's
  * core count, and shuffle partitions are n unless the launcher passed
  * its own. Under a launcher's master the shuffle width is the
  * launcher's or Spark's default: the submitting host's core count says
  * nothing about the cluster's. The UI is off and the session time zone
  * is UTC.
  */
object GraftSession {

  /** What [[create]] configures: master, shuffle partitions and the
    * fixed settings. A pure function of the launcher's conf (spark-submit
    * passes it as `spark.*` system properties), the environment and the
    * host's core count.
    */
  private[graft] def settings(conf: Map[String, String], env: Map[String, String],
                              hostCores: Int): Map[String, String] = {
    val fixed = Map("spark.ui.enabled" -> "false", "spark.sql.session.timeZone" -> "UTC")
    conf.get("spark.master") match {
      case Some(m) => fixed + ("spark.master" -> m)
      case None =>
        val n = env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(hostCores)
        require(n > 0, s"SPARK_GRAFT_CPUS must be positive, got $n")
        fixed + ("spark.master" -> s"local[$n]") +
          ("spark.sql.shuffle.partitions" -> conf.getOrElse("spark.sql.shuffle.partitions", n.toString))
    }
  }

  def create(appName: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(settings(new SparkConf().getAll.toMap, sys.env,
        Runtime.getRuntime.availableProcessors))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
