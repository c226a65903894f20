package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Global key-uniqueness check — `uniqueItems` semantics
  * (PJS:_utils.py:156-181) lifted from one array to a 10^12-row key
  * column, per BASELINE.json north_star: "checks uniqueness of doc_id
  * with salted aggregate + HLL pre-filter".
  *
  * Scale design:
  *  1. HLL pre-filter: a DataSketches HLL estimate of the key
  *     ([[approxDistinct]]) vs `count(*)`, observed on phase 2's input
  *     scan (no scan of its own, no shuffle of raw rows — the sketches
  *     merge).
  *     FAST-FAIL SIGNAL ONLY: an estimate far below the row count proves
  *     duplicates exist (alert/abort early); a near-equal estimate
  *     certifies NOTHING — at rsd=0.01 the sketch noise (~1%) can hide
  *     up to ~1% duplicate keys. Certification always requires phase 2.
  *  2. Exact phase, which ValidateJob always runs (the only
  *     certification): two-phase salted aggregation — first
  *     `groupBy(salt, key)` (salt = input partition id mod S spreads a
  *     hot key across S reducers), then re-agg by key. For a true key
  *     column the first phase's map-side combine already collapses
  *     almost everything; the salt bounds the worst case where one key
  *     value repeats billions of times (which would otherwise pin one
  *     reducer).
  */
object Uniqueness {

  final case class HllVerdict(rows: Long, approxDistinct: Long, mayHaveDups: Boolean)

  /** DataSketches HLL log2(buckets) for a target relative standard
    * error: the sketch's error is 1.04/sqrt(2^lgK), so lgK =
    * ceil(2·log2(1.04/rsd)), clamped to the sketch's range [4, 21].
    * rsd 0.01 gives 14 (0.81% error).
    */
  def hllLgK(rsd: Double): Int =
    math.min(21, math.max(4, math.ceil(2 * math.log(1.04 / rsd) / math.log(2)).toInt))

  /** Approximate distinct count of `c` at relative standard error `rsd`:
    * the one approx-distinct mechanism of the engine. Spark's
    * built-in HLL++ distinct aggregate (2^14 registers at rsd 0.01) costs
    * about the same whatever the row count: 1.3–2.0 s per query on 150k
    * keys in 24 files at `local[4]` on a 4-vCPU host, against 0.21–0.38 s
    * for this DataSketches sketch at lgK 14 (a plain `count`: 0.16–0.20
    * s; ten timed repeats each after a warm-up).
    */
  def approxDistinct(c: Column, rsd: Double): Column =
    hll_sketch_estimate(hll_sketch_agg(c, hllLgK(rsd)))

  /** Phase 1: sketch-only pre-filter, observed on a scan that runs anyway
    * (ValidateJob: [[duplicateKeys]]' input). Returns `df` with `count(1)` and
    * the key's sketch estimate observed, and a function that waits for the
    * first action over it to finish and returns the verdict. rsd=0.01 → ~1% error.
    * `mayHaveDups = true` is a definite early-warning; `false` means
    * only "no duplicates VISIBLE above the sketch noise" — callers must
    * still run [[duplicateKeys]] to certify (round-1 ADVICE, high).
    */
  def observePrefilter(df: DataFrame, key: String, rsd: Double = 0.01): (DataFrame, () => HllVerdict) = {
    val obs = Observation(s"hll-prefilter-${System.nanoTime()}")
    (df.observe(obs, count(lit(1)).as("rows"), approxDistinct(col(key), rsd).as("ad")), () => {
      val rows = obs.get("rows").asInstanceOf[Long]; val ad = obs.get("ad").asInstanceOf[Long]
      // duplicates LIKELY iff the estimate sits below the row count by
      // MORE than sketch noise (3·rsd): a tighter bound fires on clean
      // tables, and `true` must stay a definite early-warning
      HllVerdict(rows, ad, ad < (rows * (1 - 3 * rsd)).toLong)
    })
  }

  /** Phase 2: exact duplicate keys via salted two-phase aggregation.
    * Returns (key, dup_count) for keys appearing more than once.
    *
    * The salt derives from the INPUT PARTITION, not from the key: a
    * salt that is a function of the grouping key sends every instance
    * of a hot key to the same reducer anyway — a no-op spread plus an
    * extra shuffle (round-4 review). Partition-derived salt splits a
    * billion-repeat key across up to `salt` reducers in phase 1; phase
    * 2 then combines ≤ salt pre-aggregated rows per key. Counts are
    * exact regardless of partition layout.
    */
  def duplicateKeys(df: DataFrame, key: String, salt: Int = 64): DataFrame = {
    df.select(col(key))
      .groupBy(pmod(spark_partition_id().cast("long"), lit(salt.toLong)).as("_salt"), col(key))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(key))
      .agg(sum("_c").as("dup_count"))
      .filter(col("dup_count") > 1)
  }
}
