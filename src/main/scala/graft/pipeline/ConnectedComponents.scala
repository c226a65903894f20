package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list, by alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14 — the algorithm behind GraphFrames'
  * default CC). Converges in O(log n) rounds regardless of component
  * DIAMETER — the property naive min-label propagation lacks (a chain
  * of near-dup docs propagates one hop per round there), and the reason
  * this is the shape that survives a 100-TB dedup graph.
  *
  * State: the symmetric edge set plus a self-loop per node (the node
  * universe: a node whose only input edge is (x, x) stays a singleton
  * component instead of vanishing), one (u, v, m) row per directed
  * edge, where m = min(N(u) ∪ {u}) — the min over u's rows, self-loop
  * included. The input is symmetrized into that shape by ONE
  * checkpoint action; each round is one more.
  *
  * A round is two shuffles, both keyed on u:
  *   1. large-star: every row with v > u emits (v, m(u)) — every larger
  *      neighbour is attached to u's min — and every self-loop stays;
  *   2. repartition on u;
  *   3. distinct, then the min over u (a window over the partition the
  *      exchange already made), the min of u's smaller neighbours;
  *   4. small-star: every smaller neighbour v ≠ m of u is attached to m,
  *      u itself too, each edge emitted in both orientations;
  *   5. repartition on u;
  *   6. distinct, then the (min, degree) per node for the next round —
  *      all in the round's `localCheckpoint` action, which truncates the
  *      iterative lineage (swap for reliable `checkpoint` + a checkpoint
  *      dir on a real cluster).
  * Each round begins with its own repartition because a checkpoint's
  * partitioning cannot be relied on: under AQE a `localCheckpoint`
  * reports `UnknownPartitioning(0)`, so a plan over it re-shuffles for
  * any keyed operator anyway.
  *
  * Stop test: the checkpoint action also observes how many nodes have a
  * smaller neighbour (m < u) and more than one neighbour. Zero means
  * every non-root has exactly one neighbour, which is smaller and has
  * no smaller neighbour itself: each component is a star centred on
  * its min — a star forest, which both stars map to itself. So zero is
  * exactly the fixpoint, the loop stops on the round that reaches it
  * (no confirming round; an input that is already a star forest runs
  * no round at all), and no set fingerprint can collide.
  *
  * Result: one row per node that appears in any edge — (node,
  * component) with component = MIN node id of the connected component
  * (deterministic, engine-independent: the DuckDB oracle recomputes it
  * via a recursive-CTE transitive closure). In the converged forest
  * that is m on each node's self-loop row, so labeling is a filter.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame of undirected edges; self-loops
    *              and duplicates are tolerated. Column ORDER (not name)
    *              selects (u, v).
    * @param maxRounds convergence guard: the round bound is log2(n)ish,
    *                  so 25 covers any graph that fits on hardware;
    *                  hitting it RAISES (never a silently-partial
    *                  clustering).
    */
  def components(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    componentsWithRounds(edges, maxRounds)._1

  /** [[components]] and the number of rounds it ran. */
  private[graft] def componentsWithRounds(edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val Seq(a, b) = edges.columns.take(2).map(col).toSeq
    var (e, open) = checkpointRound(
      edges.select(explode(array(pair(a, b), pair(b, a), pair(a, a), pair(b, b))).as("p")))
    var round = 0
    while (open > 0 && round < maxRounds) {
      val (e2, open2) = checkpointRound(smallStar(largeStar(e)))
      e = e2
      open = open2
      round += 1
    }
    require(open == 0,
      s"connected components did not converge in $maxRounds rounds — " +
        "raise maxRounds (bound is ~log2(n) rounds)")
    (e.filter(col("v") === col("u")).select(col("u").as("node"), col("m").as("component")),
      round)
  }

  private def pair(u: Column, v: Column): Column = struct(u.as("u"), v.as("v"))

  private val byNode = Window.partitionBy("u")

  /** Steps 5-6 over a frame of `p` = (u, v) structs: the (u, v, m)
    * state, checkpointed, and the number of nodes that keep the graph
    * from being a star forest, observed on the same action.
    */
  private def checkpointRound(pairs: DataFrame): (DataFrame, Long) = {
    val obs = Observation() // fresh unique name
    val out = pairs.select(col("p.u").as("u"), col("p.v").as("v"))
      .repartition(col("u")).distinct()
      .withColumn("m", min(col("v")).over(byNode))
      .withColumn("n", count(lit(1)).over(byNode)) // degree + 1 (the self-loop)
      .observe(obs, count(when(col("v") === col("u") && col("m") < col("u") &&
        col("n") > 2, 1)).as("open"))
      .select(col("u"), col("v"), col("m"))
      .localCheckpoint(true)
    (out, obs.get("open").asInstanceOf[Long])
  }

  /** Step 1: (v, m(u)) for every larger neighbour v of u, oriented
    * big→small (m <= u < v), plus every self-loop.
    */
  private def largeStar(e: DataFrame): DataFrame =
    e.filter(col("v") >= col("u"))
      .select(col("v").as("u"), when(col("v") > col("u"), col("m")).otherwise(col("v")).as("v"))

  /** Steps 2-4 over the big→small large-star edges: u's rows are its
    * smaller neighbours and its self-loop, so their min m is the
    * small-star centre. Each row v ≠ m emits (v, m) and (m, v) — on the
    * self-loop row that is u's own edge to m — and each self-loop
    * re-emits itself.
    */
  private def smallStar(ls: DataFrame): DataFrame =
    ls.repartition(col("u")).distinct()
      .withColumn("m", min(col("v")).over(byNode))
      .select(explode(array(
        when(col("v") =!= col("m"), pair(col("v"), col("m"))),
        when(col("v") =!= col("m"), pair(col("m"), col("v"))),
        when(col("v") === col("u"), pair(col("u"), col("u"))))).as("p"))
      .filter(col("p").isNotNull)
}
