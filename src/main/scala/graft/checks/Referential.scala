package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Referential-integrity check: fact.source must exist in the
  * allowed-sources dimension — the engine reading of `$ref` to an
  * external value set / `enum` membership (PJS:_keywords.py:269-275),
  * per BASELINE.json north_star: "verifies referential integrity of
  * source against an allowed-sources dimension via broadcast hash join".
  *
  * Scale design: the dimension is tiny (a handful of sources) → ALWAYS
  * broadcast; the fact side streams through map-side hash lookups with
  * zero shuffle. left_anti = violations.
  *
  * Skew note (BASELINE.json north_rule: "skew-salting on the source
  * key"): a broadcast join is inherently skew-immune — no fact-side
  * shuffle happens at all, so a 55%-web skew costs nothing here. Salting
  * is therefore applied where skew actually hurts: skewed AGGREGATION
  * keys (see [[saltedSourceCounts]]) and any future shuffle join against
  * a non-broadcastable dim ([[saltedJoinViolations]] shows the pattern).
  */
object Referential {

  /** Violations: rows whose source is absent (or inactive) in the dim. */
  def violations(facts: DataFrame, dim: DataFrame, key: String = "source"): DataFrame = {
    val active = dim.filter(col("active")).select(col(key))
    facts.join(broadcast(active), Seq(key), "left_anti")
  }

  /** Per-source row counts with explicit skew salting: phase 1 groups by
    * (source, salt) so the 55%-web key fans across `salt` reducers;
    * phase 2 merges the per-salt partials. With only ~6 distinct sources
    * a plain groupBy would put ALL of web on one reducer at 10^12 rows.
    */
  def saltedSourceCounts(facts: DataFrame, key: String = "source", salt: Int = 32): DataFrame = {
    facts
      .groupBy(col(key), pmod(xxhash64(col("doc_id")), lit(salt.toLong)).as("_salt"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(key))
      .agg(sum("_c").as("cnt"))
  }

  /** Pattern for a salted shuffle join (used when the dim is too big to
    * broadcast): explode the dim with salt in [0, S), key facts by
    * (key, hash(doc_id) mod S). Kept exercised by tests so the pattern
    * stays correct even though the default path broadcasts.
    */
  def saltedJoinViolations(facts: DataFrame, dim: DataFrame, key: String = "source", salt: Int = 8): DataFrame = {
    val saltedDim = dim.filter(col("active"))
      .select(col(key))
      .withColumn("_salt", explode(sequence(lit(0L), lit(salt.toLong - 1))))
    val saltedFacts = facts.withColumn("_salt", pmod(xxhash64(col("doc_id")), lit(salt.toLong)))
    saltedFacts.join(saltedDim, Seq(key, "_salt"), "left_anti").drop("_salt")
  }
}
