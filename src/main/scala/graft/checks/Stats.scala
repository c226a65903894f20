package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiler — per-column min/max/null-rate, approx-distinct
  * (HLL sketch, [[Uniqueness.approxDistinct]]), token-length quantiles
  * (QuantileSummaries sketch via percentile_approx), per BASELINE.json
  * north_star. These are the reference's per-row keywords
  * (minimum/maximum/required, PJS:_keywords.py:149-164,304-309) lifted
  * to table-scale aggregates.
  *
  * Scale design: everything here is ONE partial+final hash aggregation —
  * sketches (HLL, quantile summaries) merge associatively on executors,
  * so the only shuffled bytes are fixed-size sketch states, independent
  * of row count.
  */
object Stats {

  /** Exact scalar stats for the token table, one pass. */
  def profile(df: DataFrame): DataFrame = {
    df.agg(
      count(lit(1)).as("n_rows"),
      // n_tok
      min("n_tok").as("n_tok_min"),
      max("n_tok").as("n_tok_max"),
      sum(col("n_tok").cast("long")).as("n_tok_sum"),
      avg(col("n_tok").isNull.cast("double")).as("n_tok_null_rate"),
      // tokens: per-element bounds folded into the same scan
      min(array_min(col("tokens"))).as("token_min"),
      max(array_max(col("tokens"))).as("token_max"),
      sum(size(col("tokens")).cast("long")).as("total_tokens"),
      // doc_id
      min(length(col("doc_id"))).as("doc_id_len_min"),
      avg(col("doc_id").isNull.cast("double")).as("doc_id_null_rate"),
      // source
      count(col("source")).as("source_non_null")
    )
  }

  /** The 1-row SUGGESTION profile: observed bounds, length band, null
    * presence, enum set + emit guards — one aggregation pass. SHARED by
    * [[graft.ValidationQueries.suggestSuite]] (DuckDB-oracled as
    * v_suggest_suite) and [[graft.run.SuggestJob.suggestJson]] so the
    * oracled signals and the emitted schema document cannot drift; it
    * lives here so core query code does not depend on the job layer.
    * `nrows`/`srccomma` guard the document emitter: empty input and
    * comma-carrying source values (which the comma-joined enum surface
    * cannot represent) must degrade loudly/safely, not emit a suite the
    * data itself fails.
    */
  def suggestProfile(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("nrows"),
      sum(col("doc_id").isNull.cast("long")).as("dnull"),
      sum(col("n_tok").isNull.cast("long")).as("nnull"),
      sum(col("tokens").isNull.cast("long")).as("tknull"),
      sum(col("source").isNull.cast("long")).as("snull"),
      min(length(col("doc_id"))).as("dminlen"),
      max(length(col("doc_id"))).as("dmaxlen"),
      min(col("n_tok")).as("nmin"),
      max(col("n_tok")).as("nmax"),
      min(size(col("tokens"))).as("szmin"),
      max(size(col("tokens"))).as("szmax"),
      min(array_min(col("tokens"))).as("emin"),
      max(array_max(col("tokens"))).as("emax"),
      countDistinct(col("source")).as("ndistinct"),
      array_join(array_sort(collect_set(col("source"))), ",").as("srcs"),
      sum(coalesce(col("source").contains(",").cast("long"), lit(0L))).as("srccomma"))

  /** Sketch stats (approx, mergeable): HLL distinct + quantiles.
    * Not DuckDB-comparable bit-for-bit — checked by property bounds in
    * tests instead of the SQL oracle.
    */
  def sketchProfile(df: DataFrame): DataFrame = {
    import graft.functions.QuantileSketches._
    df.agg(
      Uniqueness.approxDistinct(col("doc_id"), 0.01).as("doc_id_approx_distinct"),
      Uniqueness.approxDistinct(col("source"), 0.01).as("source_approx_distinct"),
      percentile_approx(col("n_tok"), array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
        .as("n_tok_p50_p90_p99"),
      // the north star names t-digest for token-length histograms: the
      // DataSketches-backed TypedImperativeAggregate, mergeable map-side
      tdigest_agg(col("n_tok")).as("n_tok_tdigest")
    ).withColumn("n_tok_td_p50_p90_p99",
      tdigest_quantiles(col("n_tok_tdigest"), array(lit(0.5), lit(0.9), lit(0.99))))
     .drop("n_tok_tdigest")
  }

  /** Fixed-width histogram of a numeric column — deterministic (unlike
    * sketch quantiles) so it IS oracle-comparable, and the substrate for
    * the KS drift statistic. binWidth buckets: bin = floor(x / w).
    */
  def histogram(df: DataFrame, field: String, binWidth: Int): DataFrame = {
    df.groupBy(floor(col(field) / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Approximate token vocabulary size: distinct token ids across all
    * rows. explode would shuffle 10^14 tokens; instead HLL-sketch each
    * row's array elementwise... the HLL sketch aggregate needs
    * scalar input, so we explode AFTER per-partition projection but rely
    * on partial aggregation: the HLL update happens map-side, so nothing
    * but sketches cross the wire. (Generator is codegen'd; no shuffle of
    * exploded rows occurs — verified via .explain in tests.)
    */
  def tokenVocabApprox(df: DataFrame, rsd: Double = 0.02): DataFrame = {
    df.select(explode(col("tokens")).as("t"))
      .agg(Uniqueness.approxDistinct(col("t"), rsd).as("vocab_approx"))
  }
}
