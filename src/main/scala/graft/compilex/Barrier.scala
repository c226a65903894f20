package graft.compilex

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** The optimizer fence in front of an explode of a computed array.
  * Without it the `size(a) > 0` filter Spark infers from the explode is
  * pushed below the projection that builds `a`, with the whole array
  * chain substituted: the chain runs twice per row, outside whole-stage
  * codegen (2.9 s vs 0.2 s for one n-gram explode at sf0.1,
  * OPTIMIZATION_r06.md "Round-start measurement"; BarrierSpec pins the
  * fenced shape). The fence is a `CollectMetrics` node whose metric is
  * never read; its name is unique per call, drawn from a process-wide
  * counter, so any number of fenced frames compose in one plan.
  */
object Barrier {
  private val ids = new AtomicLong

  def apply(df: DataFrame): DataFrame =
    df.observe(s"graft_barrier_${ids.incrementAndGet()}", count(lit(1)))
}
