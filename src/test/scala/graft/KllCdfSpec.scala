package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, QuantileSketches}

/** kll_cdf at split points computed per row (the Drift.ksSketch shape),
  * which Spark's built-in KLL rank extractor does not accept.
  */
class KllCdfSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  // 150 values < k = 200: the sketch keeps every item, so its ranks are exact
  private val values = spark.range(1, 151).select(col("id").cast("int").as("v"))

  test("kll_cdf at computed splits: the exact CDF floored to 1/1000, then 1.0") {
    val cdf = values.agg(QuantileSketches.kll_agg(col("v")).as("s"), max(col("v")).as("hi"))
      .select(QuantileSketches.kll_cdf(col("s"),
        array(col("hi") / 10, col("hi") / 2, col("hi") - 0.5, col("hi") * 2)))
      .as[Seq[Double]].head()
    // rank(149.5) = 149/150 = 0.99333…
    assert(cdf === Seq(0.1, 0.5, 0.993, 1.0, 1.0))
  }

  test("kll_cdf from SQL: computed splits; an empty sketch gives #splits NaNs") {
    values.createOrReplaceTempView("kll_cdf_values")
    val r = spark.sql(
      """SELECT kll_cdf(s, array(hi / 2D)) AS c, kll_cdf(e, array(hi / 2D, hi)) AS empty
        |FROM (SELECT kll_agg(v) AS s, kll_agg(CASE WHEN v < 0 THEN v END) AS e, max(v) AS hi
        |      FROM kll_cdf_values)""".stripMargin).head()
    assert(r.getSeq[Double](0) === Seq(0.5, 1.0))
    assert(r.getSeq[Double](1).length == 2 && r.getSeq[Double](1).forall(_.isNaN))
  }
}
