package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import graft.compilex.ConstraintCompiler
import graft.gen.TokenData
import graft.suite.NorthStar

/** The plan barrier (graft.compilex.Barrier): fenced frames compose in
  * one plan, and every fenced explode reads an attribute that one
  * operator computes.
  */
class BarrierSpec extends SparkSpec {

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("violations() of two different suites union in one plan and equal the two results apart") {
    val table = TokenData.tokenTable(spark, 2000, 2)
    val two = NorthStar.suite.copy(name = "north_star_two",
      constraints = NorthStar.suite.constraints.take(2))
    val all = ConstraintCompiler.violations(table, NorthStar.suite)
    val few = ConstraintCompiler.violations(table, two)
    val apart = rowsOf(all) ++ rowsOf(few)
    assert(apart.nonEmpty)
    assert(rowsOf(all.unionAll(few)) === apart.sorted)
  }

  /** What is wrong with the explodes of `df`'s optimized plan. A
    * Generate must explode a plain attribute, and the array behind it
    * must be computed by one operator. Without the fence, the filter
    * Spark infers from an explode (`size(a) > 0`) is pushed below the
    * projection with the whole array chain substituted for `a`, so the
    * chain runs twice and the Filter leaves codegen.
    */
  private def explodeProblems(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }.flatMap { g =>
      g.generator.children.flatMap {
        case a: Attribute =>
          val chains = g.child.flatMap(_.expressions).flatMap(_.collect {
            case al: Alias if al.exprId == a.exprId => al.child })
          chains.flatMap { c =>
            val by = g.child.collect {
              case n if n.expressions.exists(_.exists(_.semanticEquals(c))) => n.nodeName }
            if (by.size == 1) Nil else Seq(s"${a.name} is computed by ${by.mkString(", ")}")
          }
        case e => Seq(s"explodes a computed expression: $e")
      }
    }

  test("a fenced explode reads an attribute computed by one operator: violations() without an Observation, dupNgrams") {
    // parquet inputs, as in production: the unfenced violations() plan
    // over the in-memory generated table does not show the double chain
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_barrier").toString
    TokenData.tokenTable(spark, 100, 2).write.parquet(s"$dir/tokens")
    Seq((1L, "one two three four five six seven eight nine", "en", "web", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents.parquet")
    val frames = Seq(
      "violations" -> ConstraintCompiler.violations(spark.read.parquet(s"$dir/tokens"), NorthStar.suite),
      "dupNgrams" -> PipelineQueries.dupNgrams(spark, dir))
    for ((name, df) <- frames) {
      assert(df.queryExecution.optimizedPlan.collect { case g: Generate => g }.nonEmpty,
        s"$name has no Generate")
      assert(explodeProblems(df).isEmpty, s"$name")
    }
  }
}
