package graft.compilex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, posexplode_outer}

/** `df.select(keep :+ explode(arr).as(as))`, row for row, for an `arr`
  * that a projection below computes. A non-outer explode of an attribute
  * makes Spark infer `isnotnull(arr) AND size(arr) > 0` under it
  * (`InferFiltersFromGenerate`), and that filter is pushed below the
  * projection with the whole array chain substituted: the chain runs
  * twice per row and the Filter leaves codegen. An outer Generate infers
  * nothing, so this one is `posexplode_outer`, and the rows an outer
  * explode adds for a null or empty array (the only ones whose position
  * is null) are filtered out above it. Every other filter still pushes
  * down unaided (ExactExplodeSpec).
  */
object ExactExplode {
  private val Pos = "_graft_explode_pos"

  def apply(df: DataFrame, keep: Column*)(arr: Column, as: String): DataFrame =
    df.select(keep :+ posexplode_outer(arr).as(Seq(Pos, as)): _*)
      .filter(col(Pos).isNotNull)
      .drop(Pos)
}
