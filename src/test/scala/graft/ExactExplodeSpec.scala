package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Md5, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import graft.compilex.ExactExplode

/** graft.compilex.ExactExplode gives explode's rows, computes a
  * projected array once, and leaves every other filter free to push
  * down.
  */
class ExactExplodeSpec extends SparkSpec {

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def splitsIn(plan: LogicalPlan): Int =
    plan.collect { case n => n.expressions }.flatten.map(_.collect { case s: StringSplit => s }.size).sum

  /** Non-empty, empty and null arrays, null elements, and arrays of
    * structs shaped like violations()' `_fails`, read back from parquet
    * so the explode runs in a task, not folded while planning.
    */
  private lazy val arrays: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_exact_explode").toString
    val fail = "struct<cid:string,pass:boolean,observed:string>"
    Seq[(Long, Seq[Option[Int]], String)](
        (1L, Seq(Some(1), Some(2), Some(3)), "a b c"), (2L, Seq(), ""), (3L, null, null),
        (4L, Seq(None, Some(5), None), " a  b "), (5L, Seq(None), "a"), (6L, Seq(Some(7), Some(7)), "a a"))
      .toDF("id", "ints", "text")
      .withColumn("fails", expr(s"""cast(case id
        when 1 then array(named_struct('cid', 'c1', 'pass', false, 'observed', '3'),
                          named_struct('cid', 'c2', 'pass', false, 'observed', null))
        when 2 then array()
        when 3 then null
        when 4 then array(null, named_struct('cid', 'c1', 'pass', false, 'observed', 'x'))
        else array(named_struct('cid', null, 'pass', null, 'observed', null)) end as array<$fail>)"""))
      .write.parquet(s"$dir/arrays")
    spark.read.parquet(s"$dir/arrays")
  }

  test("ExactExplode gives explode's rows on empty, null, null-element and struct arrays, interpreted and codegen") {
    for ((path, conf) <- paths; c <- Seq("ints", "fails")) withConf(conf: _*) {
      val exact = rowsOf(ExactExplode(arrays, col("id"))(col(c), "e"))
      assert(exact.nonEmpty, s"$c ($path)")
      assert(exact === rowsOf(arrays.select(col("id"), explode(col(c)).as("e"))), s"$c ($path)")
    }
    for ((path, conf) <- paths) withConf(conf: _*) {
      val words = arrays.select(col("id"), split(col("text"), " ").as("w"))
      assert(rowsOf(ExactExplode(words, col("id"))(col("w"), "e")) ===
        rowsOf(words.select(col("id"), explode(col("w")).as("e"))), s"split ($path)")
    }
  }

  test("an explode of a projected split over a parquet scan splits once and infers no size filter") {
    val words = arrays.select(col("id"), split(col("text"), " ").as("w"))
    val exact = ExactExplode(words, col("id"))(col("w"), "e").queryExecution.optimizedPlan
    assert(splitsIn(exact) === 1, exact.toString)
    assert(exact.collect { case f: Filter if f.condition.exists(_.isInstanceOf[Size]) => f }.isEmpty,
      exact.toString)
    // the plain explode's inferred size filter re-splits below the projection
    val plain = words.select(col("id"), explode(col("w")).as("e")).queryExecution.optimizedPlan
    assert(splitsIn(plain) > 1, plain.toString)
  }

  test("d_decontam's bench-split filter sits below the n-gram projection, with no fence") {
    val plan = SparkEntry.queries("d_decontam")(spark, "/root/testdata/sf0.01").queryExecution.optimizedPlan
    assert(plan.collect { case m: CollectMetrics => m }.isEmpty, plan.toString)
    val ngrams = plan.collect { case p: Project if p.projectList.exists(_.exists(_.isInstanceOf[StringSplit])) => p }
    assert(ngrams.nonEmpty, plan.toString)
    for (p <- ngrams)
      assert(p.child.exists { case f: Filter => f.condition.exists(_.isInstanceOf[Md5]); case _ => false },
        p.toString)
  }
}
