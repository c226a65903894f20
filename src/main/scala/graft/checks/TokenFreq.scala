package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level token-frequency statistics over the north-star token
  * table — the vocab-audit surface of a training-data pipeline (vocab
  * pruning, special-token frequency checks, OOV-rate gates). Three
  * shapes, each picked for its 10^12-row story:
  *
  *  - EXACT top-k per source: explode + hash-aggregate on
  *    (source, token). Map-side partial aggregation collapses each
  *    input partition to at most |vocab| rows before the shuffle, so
  *    the wire carries O(|vocab|·|sources|), never O(token instances)
  *    — the wordcount shape. The top-k itself is the same salted
  *    two-phase window as ValidationQueries.topViolations.
  *  - Vocab coverage per source: exact two-phase count-distinct +
  *    OOV instance counts in one aggregation pass.
  *  - Count-min sketch expressed RELATIONALLY: depth×width bucket
  *    sums are a pure commutative integer aggregation over the
  *    per-token counts, so the sketch state crosses the wire as
  *    O(depth·width·|sources|) rows (10 240 cells at 2×1024×5)
  *    regardless of corpus or vocab size, AND an external engine
  *    (DuckDB) reproduces every cell exactly — no custom binary
  *    state to match. Both depth hashes derive from ONE md5 per
  *    distinct (source, token): hex chars 1-8 and 9-16 of the same
  *    digest (md5 is the repo-wide cross-engine hash primitive,
  *    graft.pipeline.TextOps).
  */
object TokenFreq {

  /** (source, token, cnt) exact counts — the shared substrate.
    *
    * r6 shape: ONE mergeable histogram aggregate per source
    * ([[graft.functions.TokenHist]]) instead of
    * explode + groupBy(source, token). The explode shape pays a
    * per-INSTANCE UnsafeRow hash probe under a string+int key (measured
    * 11-19 s for 264M instances at local[32]; int-only keys are ~3x
    * cheaper — OPTIMIZATION_r06.md "Round-start measurement") and
    * ships O(distinct keys per partition) rows through the exchange.
    * The histogram probes the group key once per ROW, counts instances
    * with a dense-array increment, and ships
    * |vocab|-bounded sparse buffer state. The (token, cnt) multiset it
    * explodes to afterwards is value-identical — exact integer counts,
    * same null-element and out-of-range handling as the explode.
    */
  def tokenCounts(toks: DataFrame): DataFrame =
    toks.groupBy(col("source"))
      .agg(graft.functions.TokenHist.token_hist_agg(col("tokens")).as("h"))
      .select(col("source"), explode(col("h")).as("tc"))
      .select(col("source"), col("tc.token").as("token"), col("tc.cnt").as("cnt"))

  /** (cnt DESC, token ASC) is TOTAL within a source because token is
    * the grouping key — the two engines can never pick different
    * winners on a count tie.
    */
  private val ord = Seq(col("cnt").desc, col("token").asc)

  private def twoPhaseTopK(counts: DataFrame, k: Int): DataFrame = {
    // phase 1 inside (source, salt-bucket): the global per-source top-k
    // is a subset of the union of per-bucket top-ks, so phase 2 re-ranks
    // ≤ k·32 survivors per source instead of windowing the full
    // per-source count table through 5 reducers
    val w1 = Window.partitionBy(col("source"), pmod(col("token"), lit(32))).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("source")).orderBy(ord: _*)
    counts
      .withColumn("_prk", row_number().over(w1)).filter(col("_prk") <= k)
      .withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
      .drop("_prk")
  }

  /** Per-source top-k token ids by exact count: (source, token, cnt, rk). */
  def topK(toks: DataFrame, k: Int): DataFrame =
    twoPhaseTopK(tokenCounts(toks), k)

  /** Per-source total instances, exact distinct ids, out-of-vocab
    * instances, and covered fraction of the vocab. The one double
    * division happens once per output row AFTER aggregation —
    * bit-identical in any engine.
    *
    * Shape (r6): derived from the [[tokenCounts]] wordcount substrate
    * instead of two countDistinct aggregates over the raw explode — the
    * multi-distinct rewrite EXPANDS every token instance 3x into a
    * 4-column-key hash aggregate (plan: Expand(3x) before the partial
    * agg), tripling the hot aggregation. Over (source, token, cnt) every
    * output is a plain aggregate: total = sum(cnt), distinct = row
    * count, in-vocab distinct = conditional row count, oov instances =
    * conditional sum(cnt) — identical values, one pass, no Expand.
    */
  def vocabCoverage(toks: DataFrame, vocab: Int): DataFrame =
    tokenCounts(toks)
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("total_tokens"),
        // countDistinct semantics: null token ids (possible under the
        // schema even if absent from the generator) form a substrate row
        // but must not count as a distinct id
        count(col("token")).as("distinct_tokens"),
        // coverage counts IN-VOCAB distinct ids only: OOV ids are not
        // vocabulary entries, so they must not inflate the covered
        // fraction past 1.0 (round-4 review); distinct_tokens stays the
        // raw distinct count (OOV presence is its own oov_tokens column)
        count(when(col("token") >= 0 && col("token") < vocab, lit(1)))
          .as("in_vocab_distinct"),
        sum(when(col("token") < 0 || col("token") >= vocab, col("cnt")).otherwise(0L))
          .as("oov_tokens"))
      .withColumn("vocab_coverage",
        col("in_vocab_distinct").cast("double") / lit(vocab.toDouble))
      .drop("in_vocab_distinct")

  /** Bucket hash for CMS depth `d` (0 or 1 as a Column): hex window
    * [1+8d, 8] of md5(token) parsed base-16. conv() returns a decimal
    * STRING — the cast to long is load-bearing.
    */
  private def bucketAt(depth: Column, width: Long): Column =
    pmod(conv(md5(col("token").cast("string")).substr(lit(1) + depth * 8, lit(8)), 16, 10)
      .cast("long"), lit(width))

  /** Depth-2 count-min sketch probed at the per-source top-k exact
    * counts: (source, token, cnt, est, overcount, rk) with the CMS
    * one-sided guarantee est >= cnt pinned by the overcount column.
    * At scale the probe side is whatever token list the user audits
    * (special tokens, a watchlist) — bounded, broadcast.
    */
  def cmsTopkEst(toks: DataFrame, k: Int, width: Long = 1024L): DataFrame = {
    // the (source, token, cnt) substrate feeds BOTH the sketch cells and
    // the probe top-k; without materialization each branch re-runs the
    // full explode + wordcount aggregation over every token instance.
    // The frame is vocab-bounded (≤ |vocab|·|sources| rows regardless of
    // corpus size), so an eager localCheckpoint is scale-safe and halves
    // the row-count-proportional work (r6; guide §1.2 "don't compute
    // things twice").
    val counts = tokenCounts(toks).localCheckpoint(true)
    val cms = counts
      .select(col("source"), col("cnt"),
        explode(array(
          struct(lit(0).as("depth"), bucketAt(lit(0), width).as("bucket")),
          struct(lit(1).as("depth"), bucketAt(lit(1), width).as("bucket")))).as("db"))
      .select(col("source"), col("cnt"), col("db.depth").as("depth"), col("db.bucket").as("bucket"))
      .groupBy(col("source"), col("depth"), col("bucket"))
      .agg(sum(col("cnt")).as("bcnt"))
    val probes = twoPhaseTopK(counts, k)
      .withColumn("depth", explode(array(lit(0), lit(1))))
      .withColumn("bucket", bucketAt(col("depth"), width))
    // probe side is k·depth·|sources| rows — bounded by construction,
    // safe to pin broadcast (the corpus-scaling side is cms, streamed)
    cms.join(broadcast(probes), Seq("source", "depth", "bucket"))
      .groupBy(col("source"), col("token"), col("cnt"), col("rk"))
      .agg(min(col("bcnt")).as("est"))
      .withColumn("overcount", col("est") - col("cnt"))
      .select("source", "token", "cnt", "est", "overcount", "rk")
  }

  /** RARE-TOKEN GATE (the exact-arithmetic face of CCNet-style
    * LM-quality filtering): tokens whose global count sits in the
    * bottom decile of the count DISTRIBUTION (threshold = smallest
    * count value whose cumulative token-id coverage reaches
    * ceil(|present vocab|/10) — sf-adaptive, no magic constant), then
    * per-source rare-instance fraction and rare-id presence. Scale
    * shape: global counts are vocab-bounded (map-side combine), the
    * threshold window sorts DISTINCT count values only, and the rare
    * set (≥10% of vocab, count-bounded) broadcasts into the exploded
    * scan — the probe side is vocab-bounded no matter the corpus.
    * All integer arithmetic until one rounded division per output row.
    */
  def rareTokens(toks: DataFrame): DataFrame = {
    // ONE pass over the token instances builds the (source, token, scnt)
    // wordcount substrate; everything downstream — global counts, the
    // threshold window, the rare join, the per-source rollup — operates
    // on vocab-bounded frames only (r6: the old shape exploded the
    // corpus TWICE — once for the global counts, once for the final
    // rollup — and ran a countDistinct Expand inside the rollup). The
    // substrate is ≤ |vocab|·|sources| rows at any corpus size, so the
    // eager localCheckpoint is scale-safe.
    val srcCounts = tokenCounts(toks).withColumnRenamed("cnt", "scnt")
      .localCheckpoint(true)
    val counts = srcCounts.groupBy(col("token")).agg(sum(col("scnt")).as("cnt"))
    // exact bottom-decile threshold over the count DISTRIBUTION:
    // histogram of count values -> ordered cumulative window
    val hist = counts.groupBy(col("cnt")).agg(count(lit(1)).as("ids"))
    val byCnt = Window.partitionBy(lit(1)).orderBy(col("cnt"))
    val thr = hist
      .withColumn("cum", sum(col("ids")).over(byCnt))
      .withColumn("nvocab", sum(col("ids")).over(Window.partitionBy(lit(1))))
      .filter(col("cum") >= expr("(nvocab + 9) div 10"))
      .agg(min(col("cnt")).as("rare_threshold"))
    val rare = counts.join(broadcast(thr), counts("cnt") <= thr("rare_threshold"))
      .select(col("token"), lit(1).as("is_rare"), col("rare_threshold"))
    // per-source metrics from the substrate: instance counts weight by
    // scnt; "rare ids present" = rare rows of the substrate (one row per
    // present (source, token), so no countDistinct Expand needed)
    srcCounts.join(broadcast(rare), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("scnt")).as("n_tokens"),
        sum(when(col("is_rare") === 1, col("scnt")).otherwise(0L)).as("n_rare"),
        round(sum(when(col("is_rare") === 1, col("scnt")).otherwise(0L)).cast("double") /
          sum(col("scnt")), 6).as("rare_frac"),
        count(when(col("is_rare") === 1, lit(1))).as("rare_ids_present"),
        max(col("rare_threshold")).as("rare_threshold"))
  }

  /** TOKEN-DISTRIBUTION DRIFT per source: KS distance between each
    * source's token-id histogram (folded to `nBuckets` id buckets) and
    * the whole-corpus histogram. KS = max over ordered buckets of
    * |cdf_source − cdf_corpus| — cumulative sums run in window order
    * and max is order-independent, so the value is bit-deterministic
    * in any engine (unlike sum-over-many-doubles drift scores). Scale
    * shape: the only row-count-proportional work is the (source,
    * bucket) partial aggregation; everything after operates on
    * |sources|·nBuckets rows.
    */
  def tokenDriftKS(toks: DataFrame, nBuckets: Int = 64): DataFrame = {
    // r6: bucket counts fold the tokenCounts histogram substrate
    // (sum of exact per-id counts per id bucket ≡ count of instances
    // per bucket), and sb is localCheckpoint'ed because it feeds THREE
    // consumers (corpus histogram, the source grid, the per-source
    // join) — without materialization each one re-ran the full explode
    // + bucket aggregation over every token instance. The frame is
    // |sources|·nBuckets rows (hundreds), so materializing is free at
    // any corpus size.
    val sb = tokenCounts(toks)
      .groupBy(col("source"), pmod(col("token"), lit(nBuckets)).as("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint(true)
    // corpus histogram derived from the already-aggregated frame
    val corpus = sb.groupBy(col("bucket")).agg(sum(col("cnt")).as("ccnt"))
      .withColumn("ccum", sum(col("ccnt")).over(Window.partitionBy(lit(1)).orderBy(col("bucket"))))
      .withColumn("ctot", sum(col("ccnt")).over(Window.partitionBy(lit(1))))
    // Dense evaluation grid: every source × every corpus bucket. The
    // source CDF is a step function — at a bucket the source skips it
    // holds its last value, and |cdf_src − cdf_corpus| must still be
    // evaluated there (a source concentrated in the top bucket has
    // KS ≈ 1 against a uniform corpus, which a present-buckets-only
    // join would misreport as 0). Both sides are already aggregated,
    // so the grid is |sources|·nBuckets rows.
    val grid = sb.select(col("source")).distinct().crossJoin(broadcast(corpus))
    val perSrc = grid.join(sb, Seq("source", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum", sum(col("cnt")).over(Window.partitionBy(col("source")).orderBy(col("bucket"))))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("source"))))
    perSrc
      .select(col("source"),
        abs(col("cum").cast("double") / col("tot") -
          col("ccum").cast("double") / col("ctot")).as("d"))
      .groupBy(col("source"))
      .agg(round(max(col("d")), 6).as("ks"))
  }
}
