package graft.run

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** spark-submit main for the END-TO-END curation pipeline: documents →
  * benchmark-slice exclusion → quality funnel → decontamination →
  * dedup canonicalization → tokenization, writing the curated corpus
  * in the north-star token-table shape plus the per-source survival
  * ledger. The composed semantics are DuckDB-oracled as the
  * d_curate_ledger driver-gate query; this main is the operational
  * wrapper a pipeline actually launches.
  *
  *   spark-submit --class graft.run.CurateJob ... <sfDir> <outDir>
  */
object CurateJob {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_curate")
    val spark = graft.GraftSession.create("graft-curate")
    run(spark, sfDir, outDir)
    spark.stop()
  }

  /** Writes `outDir/ledger` (single-file JSON, per-source counts) and
    * `outDir/curated` (parquet, partitioned by source — the layout the
    * validation engine's partition loop consumes downstream).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    // the expensive intermediates — LSH + connected-components dedup
    // and the decontamination n-gram join — feed BOTH writes; they are
    // materialized once, not once per output (round-4 review)
    val (contam, dropped) = graft.PipelineQueries.curationIdFrames(spark, sfDir)
    // the two writes are independent: run them side by side so each
    // one's small final stages leave no core idle. The printed count is
    // observed on the curated write.
    val curated = Observation()
    TaskRunner.runAll("graft-curate", IndexedSeq(
      () => graft.PipelineQueries.curateLedgerWith(spark, sfDir, contam, dropped)
        .coalesce(1).write.mode("overwrite").json(s"$outDir/ledger"),
      () => graft.PipelineQueries.curatedTokensWith(spark, sfDir, contam, dropped)
        .observe(curated, count(lit(1)).as("n"))
        .write.mode("overwrite").partitionBy("source").parquet(s"$outDir/curated")),
      spark.sparkContext.defaultParallelism)
    val kept = curated.get("n").asInstanceOf[Long]
    println(s"[curate] $sfDir -> $outDir: $kept curated sequences")
  }
}
