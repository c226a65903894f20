package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distribution-drift checks — KS statistic on n_tok and PSI on the
  * per-source mix against a baseline snapshot (BASELINE.json north_star).
  * The reference seed is `const`/`enum` asserted against a stored
  * expectation (PJS:_keywords.py:85-87,269-271) lifted to distributions.
  *
  * Scale design: both statistics reduce the table to a per-source /
  * per-bin count FIRST (partial+final hash agg, output cardinality =
  * #sources or #bins ≪ anything), then do all CDF / ratio arithmetic on
  * that tiny frame, which meets the baseline snapshot in a full outer
  * join (Spark cannot broadcast either side of one; both sides are
  * #sources/#bins rows). No windowing ever touches raw rows.
  */
object Drift {

  /** Write a baseline snapshot: per-source counts + n_tok histogram. */
  def writeSnapshot(df: DataFrame, path: String, binWidth: Int = 16): Unit = {
    Referential.saltedSourceCounts(df).withColumn("kind", lit("source_mix"))
      .select(col("kind"), col("source").as("key"), col("cnt"))
      .unionByName(
        Stats.histogram(df, "n_tok", binWidth).withColumn("kind", lit("n_tok_hist"))
          .select(col("kind"), col("bin").cast("string").as("key"), col("cnt")))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** PSI (population stability index) of the source mix vs baseline:
    * psi = Σ_k (p_k - q_k) * ln(p_k / q_k), ε-smoothed for keys present
    * on only one side. Output: one row (psi, n_keys).
    */
  def psiSourceMix(current: DataFrame, snapshot: DataFrame, eps: Double = 1e-6): DataFrame = {
    val cur = Referential.saltedSourceCounts(current).select(col("source").as("key"), col("cnt").as("c_cnt"))
    val base = snapshot.filter(col("kind") === "source_mix").select(col("key"), col("cnt").as("b_cnt"))
    // null-safe join key: `source` is nullable, and an equi-join would
    // keep each side's null-key row UNMATCHED — identical mixes with a
    // null slice would report phantom PSI (round-4 review)
    val joined = cur.join(base, cur("key") <=> base("key"), "full_outer")
      .select(coalesce(cur("key"), base("key")).as("key"),
        coalesce(col("c_cnt"), lit(0L)).as("c"), coalesce(col("b_cnt"), lit(0L)).as("b"))
    val tot = joined.agg(sum("c").as("ct"), sum("b").as("bt"))
    val withFrac = joined.crossJoin(broadcast(tot))
      .select(col("key"),
        greatest(col("c") / col("ct"), lit(eps)).as("p"),
        greatest(col("b") / col("bt"), lit(eps)).as("q"))
    withFrac.agg(
      round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"),
      count(lit(1)).as("n_keys"))
  }

  /** Two-sample KS statistic over fixed-width bins of `field`:
    * D = max_bin |CDF_current(bin) - CDF_baseline(bin)|. Binned (width
    * 16 over n_tok in [0,520]) so the statistic is deterministic and the
    * shuffle is O(#bins). Output: one row (ks, n_bins).
    */
  def ksBinned(current: DataFrame, snapshot: DataFrame, field: String = "n_tok", binWidth: Int = 16): DataFrame = {
    val cur = Stats.histogram(current, field, binWidth).select(col("bin"), col("cnt").as("c_cnt"))
    val base = snapshot.filter(col("kind") === "n_tok_hist")
      .select(col("key").cast("long").as("bin"), col("cnt").as("b_cnt"))
    // null-safe join: a nullable field yields a null BIN on each side,
    // which an equi-join keeps as two unmatched rows — identical
    // distributions with a null slice would report ks > 0 (round-4
    // review; the null bin sorts first in the CDF window, same as any
    // other fixed bin position)
    val joined = cur.join(base, cur("bin") <=> base("bin"), "full_outer")
      .select(coalesce(cur("bin"), base("bin")).as("bin"),
        coalesce(col("c_cnt"), lit(0L)).as("c"), coalesce(col("b_cnt"), lit(0L)).as("b"))
    val tot = joined.agg(sum("c").as("ct"), sum("b").as("bt"))
    val w = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // #bins is tiny (~35) — single-partition window on the aggregated frame is fine
    joined.crossJoin(broadcast(tot))
      .withColumn("cdf_c", sum(col("c")).over(w) / col("ct"))
      .withColumn("cdf_b", sum(col("b")).over(w) / col("bt"))
      .agg(round(max(abs(col("cdf_c") - col("cdf_b"))), 6).as("ks"), count(lit(1)).as("n_bins"))
  }

  /** Sketch-based KS: D = max over split points of |CDF_a - CDF_b| where
    * both CDFs come from mergeable KLL sketches (Spark's built-in KLL,
    * composed in [[graft.functions.QuantileSketches]]).
    *
    * Scale story vs [[ksBinned]]: binning needs the value range known up
    * front; the sketch path is range-free (split points derived from the
    * sketches' exact min/max AFTER aggregation) and shuffles one ~KB
    * sketch state per partition regardless of the value domain — the
    * right shape when `field` is unbounded or heavy-tailed at 10^12 rows.
    * Rank error ≤ ~1.65% per side at k=200 (plus ≤ 0.001 from kll_cdf's
    * rank grid) bounds the KS estimate error.
    */
  def ksSketch(current: DataFrame, baseline: DataFrame, field: String = "n_tok", nSplits: Int = 64): DataFrame = {
    import graft.functions.QuantileSketches._
    val a = current.agg(kll_agg(col(field)).as("sa"))
    val b = baseline.agg(kll_agg(col(field)).as("sb"))
    val na = kll_summary(col("sa"))("n")
    val nb = kll_summary(col("sb"))("n")
    a.crossJoin(b)
      .withColumn("lo", least(kll_summary(col("sa"))("min"), kll_summary(col("sb"))("min")))
      .withColumn("hi", greatest(kll_summary(col("sa"))("max"), kll_summary(col("sb"))("max")))
      .withColumn("splits", transform(sequence(lit(1), lit(nSplits)),
        i => col("lo") + i.cast("double") * (col("hi") - col("lo")) / lit((nSplits + 1).toDouble)))
      .select(
        // degenerate inputs: an EMPTY side has NaN min/max → ks is
        // undefined, yield null; a CONSTANT field on both sides
        // (lo == hi) means both distributions are the same point mass
        // → ks = 0 (round-4 review). The when() branches evaluate
        // lazily, so the CDF probe only runs on well-formed splits.
        when(na > 0 && nb > 0 && col("lo") < col("hi"),
          round(aggregate(
            zip_with(kll_cdf(col("sa"), col("splits")), kll_cdf(col("sb"), col("splits")),
              (x, y) => abs(x - y)),
            lit(0.0), (acc, d) => greatest(acc, d)), 6))
          .otherwise(when(na > 0 && nb > 0, lit(0.0)))
          .as("ks"),
        lit(nSplits).as("n_splits"))
  }
}
