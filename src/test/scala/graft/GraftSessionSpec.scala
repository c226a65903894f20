package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession.settings

/** The session factory's master choice, as a pure function of the
  * launcher conf, the environment and the host's core count — no
  * session is started.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("a spark.master set by spark-submit is kept") {
    val m = "local-cluster[4,2,1024]"
    assert(settings(Map("spark.master" -> m), Map.empty, 4)("spark.master") === m)
    assert(settings(Map("spark.master" -> "yarn"), Map("SPARK_GRAFT_CPUS" -> "8"), 4)("spark.master")
      === "yarn")
  }

  test("without spark.master: local[n], n from SPARK_GRAFT_CPUS, then host cores") {
    assert(settings(Map.empty, Map("SPARK_GRAFT_CPUS" -> "3"), 16)("spark.master") === "local[3]")
    assert(settings(Map.empty, Map.empty, 6)("spark.master") === "local[6]")
  }

  test("shuffle partitions equal n; UI off, session time zone UTC") {
    val three = settings(Map.empty, Map("SPARK_GRAFT_CPUS" -> "3"), 16)
    assert(three("spark.sql.shuffle.partitions") === "3")
    assert(three("spark.ui.enabled") === "false")
    assert(three("spark.sql.session.timeZone") === "UTC")
  }

  test("the launcher's master or --conf keeps its own shuffle width") {
    // a cluster master: the submitting host's 5 cores say nothing about
    // the cluster, so Spark's default (or the launcher's value) stays
    val yarn = settings(Map("spark.master" -> "yarn"), Map.empty, 5)
    assert(!yarn.contains("spark.sql.shuffle.partitions"))
    assert(yarn("spark.ui.enabled") === "false")
    // --conf spark.sql.shuffle.partitions=200 wins over local[n]
    val conf = Map("spark.sql.shuffle.partitions" -> "200")
    assert(settings(conf, Map("SPARK_GRAFT_CPUS" -> "3"), 16)("spark.sql.shuffle.partitions") === "200")
    assert(!settings(conf + ("spark.master" -> "yarn"), Map.empty, 5)
      .contains("spark.sql.shuffle.partitions"))
  }
}
