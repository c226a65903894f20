package graft

import org.apache.spark.sql.catalyst.expressions._

/** No lambda body of a `d_*` query does per-row work that reads none of
  * its lambda's variables. In Spark 4.1 the array lambdas
  * (transform/filter/aggregate/...) are `CodegenFallback` and evaluate
  * their body once per element, so such a subtree (a `split(text)`
  * inside a window lambda) re-runs once per element for the same value.
  * Bind it once per row instead: TextOps' word binder or `aggregate()`'s
  * seed.
  */
class LambdaInvariantSpec extends SparkSpec {
  import LambdaInvariantSpec.perRowWork

  /** The outermost per-row-work subtrees of `e` that sit in a lambda
    * body and read none of that (innermost) lambda's variables.
    */
  private def invariantWork(e: Expression): Seq[Expression] = {
    def go(e: Expression, vars: Option[Set[ExprId]]): Seq[Expression] = e match {
      case lf: LambdaFunction =>
        go(lf.function, Some(lf.arguments.collect { case v: NamedLambdaVariable => v.exprId }.toSet))
      case _ if vars.exists(vs => perRowWork(e) &&
          !e.exists { case v: NamedLambdaVariable => vs(v.exprId); case _ => false }) => Seq(e)
      case _ => e.children.flatMap(go(_, vars))
    }
    go(e, None)
  }

  test("no d_* query re-evaluates lambda-invariant per-row work inside a lambda") {
    val flagged = SparkEntry.queries.toSeq.filter(_._1.startsWith("d_")).sortBy(_._1)
      .flatMap { case (name, q) =>
        val plan = q(spark, "/root/testdata/sf0.01").queryExecution.optimizedPlan
        plan.collect { case n => n.expressions.flatMap(invariantWork) }.flatten
          .map(_.sql).distinct.map(w => s"$name: $w")
      }
    assert(flagged.isEmpty, flagged.mkString("\n", "\n", ""))
  }
}

object LambdaInvariantSpec {

  /** A split, a regexp, a hash or a higher-order function. */
  def perRowWork(e: Expression): Boolean = e match {
    case _: StringSplit | _: RLike | _: RegExpReplace | _: RegExpExtractBase |
         _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 | _: HashExpression[_] |
         _: HigherOrderFunction => true
    case _ => false
  }
}
