package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** r6 optimization round: the three fused internals that replaced
  * composed Column chains in hot paths must be VALUE-IDENTICAL to the
  * chains they replaced — asserted here on data that includes the
  * shapes the generated tables never carry (null elements, null
  * arrays, empties, out-of-range ids), so the equivalence is pinned
  * structurally, not just on the driver fixtures.
  *
  *  - TokenHist.token_hist_agg  ≡ explode + groupBy(source, token)
  *  - WindowStats.window_stats  ≡ the posexplode window layout
  *  - CsvJoinInts.csv_join_ints ≡ concat_ws(",", transform(coalesce))
  */
class FusedOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val weird = Seq(
    ("a", Seq[Integer](1, 2, 2, 3, null, -5, 300000, 0)),
    ("a", Seq[Integer]()),
    ("a", null),
    ("b", Seq[Integer](7)),
    ("b", Seq[Integer](null, null)),
    ("c", (0 until 500).map(i => Integer.valueOf(i % 37)))
  ).toDF("source", "tokens")

  test("token_hist_agg multiset equals explode + groupBy counts (nulls, OOV, empties)") {
    val fused = weird.groupBy(col("source"))
      .agg(graft.functions.TokenHist.token_hist_agg(col("tokens")).as("h"))
      .select(col("source"), explode(col("h")).as("tc"))
      .select(col("source"), col("tc.token"), col("tc.cnt"))
      .collect().toSet
    val composed = weird.select(col("source"), explode(col("tokens")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("cnt"))
      .collect().toSet
    assert(fused === composed)
    assert(fused.nonEmpty)
    // null element group present with exact count
    assert(fused.contains(Row("b", null, 2L)))
  }

  test("window_stats equals the exploded window layout per row") {
    val w = 5; val s = 3
    val n = size(col("tokens"))
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(s)))
      .otherwise(array().cast("array<int>"))
    val wnd = weird.withColumn("id", monotonically_increasing_id())
      .select(col("id"), posexplode(transform(starts, st => slice(col("tokens"), st + 1, lit(w)))))
      .select(col("id"), size(col("col")).as("len"),
        coalesce(aggregate(
          zip_with(sequence(lit(1), size(col("col"))), col("col"),
            (i, t) => i.cast("long") * t),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("ck"))
      .groupBy(col("id")).agg(
        count(lit(1)).cast("int").as("n_windows"),
        sum((col("len") === w).cast("int")).cast("int").as("n_full"),
        sum(col("len").cast("long")).as("sum_len"),
        sum(col("ck")).as("ck"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    val fused = weird.withColumn("id", monotonically_increasing_id())
      .select(col("id"), graft.functions.WindowStats.window_stats(col("tokens"), w, s).as("ws"))
      .collect().map { r =>
        val id = r.getLong(0)
        if (r.isNullAt(1)) id -> null
        else { val st = r.getStruct(1); id -> (st.getInt(0), st.getInt(1), st.getLong(2), st.getLong(3)) }
      }.toMap
    for ((id, v) <- fused) v match {
      case null => assert(!wnd.contains(id)) // null/empty arrays emit no windows
      case (nw, _, _, _) if nw == 0 => assert(!wnd.contains(id))
      case other => assert(wnd(id) === other, s"row $id")
    }
  }

  test("csv_join_ints equals concat_ws(transform(coalesce)) byte for byte") {
    val composed = concat_ws(",",
      transform(col("tokens"), x => coalesce(x.cast("string"), lit("~"))))
    // a null array included: both give "". `weird` alone is folded by
    // the interpreted path; behind a shuffle the projection is codegen'd
    for (df <- Seq(weird, weird.repartition(2))) {
      val rows = df
        .select(graft.functions.CsvJoinInts.csv_join_ints(col("tokens")).as("f"),
          composed.as("c"), col("tokens").isNull.as("null_array"))
        .collect()
      assert(rows.exists(_.getBoolean(2)))
      rows.foreach(r => assert(r.getString(0) === r.getString(1)))
    }
  }
}
