package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Final, PartialMerge}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import graft.compilex.ConstraintCompiler
import graft.gen.TokenData
import graft.suite.NorthStar

/** Explodes of computed arrays (graft.compilex.ExactExplode): exploded
  * frames compose in one plan, every such explode reads an attribute
  * that one operator computes, and no query computes an exploded array
  * or a per-row text value twice before its first exchange.
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
    * must be computed by one operator. Under a plain explode, the filter
    * Spark infers from it (`size(a) > 0`) is pushed below the
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

  /** The Generates of `plan` whose input array more than one operator
    * computes: an attribute input's alias chain (followed through
    * renames) must sit in one operator below the Generate, an inline
    * input in none.
    */
  private def recomputedInputs(plan: LogicalPlan): Seq[String] =
    plan.collect { case g: Generate => g }.flatMap { g =>
      def chain(e: Expression): Option[Expression] = e match {
        case a: Attribute =>
          g.child.flatMap(_.expressions).flatMap(_.collect {
            case al: Alias if al.exprId == a.exprId => al.child }).headOption.flatMap(chain)
        case c => Some(c)
      }
      g.generator.children.flatMap { in =>
        chain(in).toSeq.flatMap { c =>
          val by = g.child.collect {
            case n if n.expressions.exists(_.exists(_.semanticEquals(c))) => n.nodeName }
          val allowed = if (in.isInstanceOf[Attribute]) 1 else 0
          if (by.size == allowed) Nil else Seq(s"explode of ${c.sql} computed in ${by.mkString(", ")}")
        }
      }
    }

  /** Per-row work over `text` (LambdaInvariantSpec's set) that two
    * operators on one path from a leaf up to the first exchange above it
    * both compute. A round-robin repartition (`docs()`' `repartition(n)`)
    * only moves rows, so the path runs on through it. Leaves are
    * skipped, since a scan repeats the filters pushed into it, and so
    * are the final and merge forms of an aggregate, which read its
    * partial buffers.
    */
  private def textWorkTwice(plan: SparkPlan): Seq[String] = {
    def work(e: Expression): Seq[Expression] = e match {
      case a: AggregateExpression if a.mode == Final || a.mode == PartialMerge => Nil
      case _ =>
        (if (LambdaInvariantSpec.perRowWork(e) && e.references.exists(_.name == "text")) Seq(e) else Nil) ++
          e.children.flatMap(work)
    }
    def paths(p: SparkPlan, above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
        p.children.flatMap(paths(_, above))
      case _: Exchange => p.children.flatMap(paths(_, Nil))
      case _ if p.children.isEmpty => Seq(above)
      case _ => p.children.flatMap(paths(_, p :: above))
    }
    paths(plan, Nil).flatMap { path =>
      path.flatMap(n => n.expressions.flatMap(work).map(w => w.canonicalized -> (w, n)).toMap.values)
        .groupBy(_._1.canonicalized).values.collect {
          case by if by.size > 1 => s"${by.head._1.sql} computed in ${by.map(_._2.nodeName).mkString(", ")}" }
    }.distinct
  }

  test("every query computes each exploded array, and each per-row text value, once before its first exchange") {
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val qe = q(spark, "/root/testdata/sf0.01").queryExecution
      val physical = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (recomputedInputs(qe.optimizedPlan) ++ textWorkTwice(physical)).distinct.map(p => s"$name: $p")
    }
    assert(flagged.isEmpty, flagged.mkString("\n", "\n", ""))
  }
}
