package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.{ColumnBridge, FunctionBridge}

/** The engine's SQL-facing function surface: every custom Catalyst
  * expression/aggregate, with name + builder, consumable two ways:
  *   - [[graft.GraftExtensions]] injects them at session build
  *     (`--conf spark.sql.extensions=graft.GraftExtensions`), the
  *     spark-submit path;
  *   - [[register]] adds them to a live session (REPL/tests).
  * This mirrors the reference's `extend(validator, {keyword: fn})`
  * surface (PJS:validators.py:516-598) at the SQL layer.
  */
object GraftFunctions {

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")

  private def intLit(e: Expression): Int = {
    // foldable check FIRST: eval(null) on a non-foldable arg (a column
    // reference) throws an opaque unbound-reference error deep inside
    // Catalyst instead of a usable message (round-4 review)
    require(e.foldable, s"expected an integer literal, got non-literal expression $e")
    e.eval(null) match {
      case i: Int => i
      case l: Long =>
        require(l >= Int.MinValue && l <= Int.MaxValue, s"integer literal out of range: $l")
        l.toInt
      case other => throw new IllegalArgumentException(s"expected integer literal, got $other")
    }
  }

  /** Sketch parameters that are SHORT-typed downstream (t-digest k):
    * range-check before narrowing — `70000.toShort` silently wraps to a
    * wrong compression with no error (round-4 review).
    */
  private def shortLit(e: Expression): Short = {
    val i = intLit(e)
    require(i >= 1 && i <= Short.MaxValue, s"sketch parameter must be in [1, 32767], got $i")
    i.toShort
  }

  /** A Column-API composition as a SQL builder: the KLL functions are
    * compositions of Spark's built-in `kll_sketch_*` functions, which the
    * analyzer resolves in the returned tree.
    */
  private def composed(f: Seq[Column] => Column)(args: Seq[Expression]): Expression =
    ColumnBridge.converted(f(args.map(ColumnBridge.column)))

  /** (name, usage, builder) triples for every custom function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("token_stats", "token_stats(arr) - single-pass struct(tmin,tmax,dups,n) of an int array",
      args => { arity("token_stats", 1, args); TokenStats(args.head) }),
    ("cosine_sim", "cosine_sim(a, b) - fused cosine similarity of two float/double arrays",
      args => { arity("cosine_sim", 2, args); CosineSim(args(0), args(1)) }),
    ("tdigest_agg", "tdigest_agg(col[, k]) - mergeable t-digest sketch of a numeric column",
      args => args match {
        case Seq(c)    => QuantileSketches.TDigestAgg(c)
        case Seq(c, k) => QuantileSketches.TDigestAgg(c, shortLit(k))
        case _ => throw new IllegalArgumentException("tdigest_agg expects 1 or 2 arguments")
      }),
    ("tdigest_quantiles", "tdigest_quantiles(sketch, probs) - quantile values at the given ranks",
      args => { arity("tdigest_quantiles", 2, args); QuantileSketches.TDigestQuantiles(args(0), args(1)) }),
    ("tdigest_cdf", "tdigest_cdf(sketch, splits) - CDF values at the given split points",
      args => { arity("tdigest_cdf", 2, args); QuantileSketches.TDigestCdf(args(0), args(1)) }),
    ("tdigest_summary", "tdigest_summary(sketch) - exact struct(n,min,max) carried by the sketch",
      args => { arity("tdigest_summary", 1, args); QuantileSketches.TDigestSummary(args.head) }),
    ("kll_agg", "kll_agg(col[, k]) - mergeable KLL quantile sketch (provable rank error)",
      args => args match {
        case Seq(_)    => composed(a => QuantileSketches.kll_agg(a.head))(args)
        case Seq(_, k) => composed(a => QuantileSketches.kll_agg(a.head, intLit(k)))(args)
        case _ => throw new IllegalArgumentException("kll_agg expects 1 or 2 arguments")
      }),
    ("kll_quantiles", "kll_quantiles(sketch, probs) - quantile values at the given literal ranks",
      args => { arity("kll_quantiles", 2, args); composed(a => QuantileSketches.kll_quantiles(a(0), a(1)))(args) }),
    ("kll_cdf", "kll_cdf(sketch, splits) - CDF values at the given split points",
      args => { arity("kll_cdf", 2, args); composed(a => QuantileSketches.kll_cdf(a(0), a(1)))(args) }),
    ("kll_summary", "kll_summary(sketch) - exact struct(n,min,max) carried by the sketch",
      args => { arity("kll_summary", 1, args); composed(a => QuantileSketches.kll_summary(a.head))(args) }),
    ("regex_valid", "regex_valid(s) - true iff s compiles as a (Java) regular expression",
      args => { arity("regex_valid", 1, args); RegexValid(args.head) }),
    ("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical normalization of a string",
      args => { arity("nfc_normalize", 1, args); NfcNormalize(args.head) }),
    ("char_entropy", "char_entropy(s) - Shannon entropy (bits/char, log2) over code-point frequencies",
      args => { arity("char_entropy", 1, args); CharEntropy(args.head) })
  )

  /** Register every custom function into a live session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, usage, builder) => FunctionBridge.register(spark, name, usage, builder) }
}
