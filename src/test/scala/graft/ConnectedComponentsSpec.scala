package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.ConnectedComponents

/** Large-star/small-star connected components against a driver-side
  * union-find, its round bound, its star-forest stop and its
  * two-shuffle round.
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** node -> min node of its component, by union-find. */
  private def unionFind[A](edges: Seq[(A, A)])(implicit ord: Ordering[A]): Map[A, A] = {
    val parent = scala.collection.mutable.Map.empty[A, A]
    def find(x: A): A = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** A seeded random forest of small components: duplicate and reversed
    * edges, self-loops on connected nodes, self-loop-only nodes.
    */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val n = 5 + rnd.nextInt(60)
    val ids = rnd.shuffle((0 until n).map(_ => rnd.nextInt(1000).toLong).distinct)
    // component sizes 1-12; a size-1 component is one self-loop-only node
    val groups = Iterator.unfold(ids) { rest =>
      if (rest.isEmpty) None else Some(rest.splitAt(1 + rnd.nextInt(12)))
    }.toSeq
    val edges = groups.flatMap { g =>
      val tree = g.indices.drop(1).map(i => (g(i), g(rnd.nextInt(i))))
      val extra = Seq.fill(rnd.nextInt(g.size + 1))((g(rnd.nextInt(g.size)), g(rnd.nextInt(g.size))))
      if (g.size == 1) Seq((g.head, g.head)) else tree ++ extra
    }
    val dups = edges.filter(_ => rnd.nextInt(4) == 0)
    val reversed = edges.filter(_ => rnd.nextInt(4) == 0).map(_.swap)
    rnd.shuffle(edges ++ dups ++ reversed)
  }

  private def labels[A](df: DataFrame, get: (Row, Int) => A): Map[A, A] = {
    val rows = df.collect().toSeq.map(r => get(r, 0) -> get(r, 1))
    assert(rows.length == rows.map(_._1).distinct.length, "one row per node")
    rows.toMap
  }

  test("labels equal a driver-side union-find over 24 seeded random graphs, Long and String ids") {
    import spark.implicits._
    (1 to 24).foreach { seed =>
      val g = randomGraph(seed)
      if (seed % 2 == 0) {
        val got = labels(ConnectedComponents.components(g.toDF("a", "b")), (r, i) => r.getLong(i))
        assert(got == unionFind(g), s"seed $seed (Long ids)")
      } else {
        // fixed-width names, so string order is numeric order shifted
        val s = g.map { case (a, b) => (f"n$a%04d", f"n$b%04d") }
        val got = labels(ConnectedComponents.components(s.toDF("a", "b")), (r, i) => r.getString(i))
        assert(got == unionFind(s), s"seed $seed (String ids)")
      }
    }
  }

  test("the empty graph and a self-loop-only graph") {
    import spark.implicits._
    val empty = ConnectedComponents.componentsWithRounds(Seq.empty[(Long, Long)].toDF("a", "b"), 25)
    assert(empty._1.count() == 0 && empty._2 == 0)
    assert(empty._1.columns.toSeq == Seq("node", "component"))
    val loops = Seq((3L, 3L), (1L, 1L), (3L, 3L)).toDF("a", "b")
    assert(labels(ConnectedComponents.components(loops), (r, i) => r.getLong(i)) ==
      Map(1L -> 1L, 3L -> 3L))
  }

  test("a 10,000-node path converges within 2·ceil(log2 n) rounds") {
    import spark.implicits._
    val n = 10000
    val (df, rounds) = ConnectedComponents.componentsWithRounds(
      (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b"), 25)
    val bound = 2 * math.ceil(math.log(n) / math.log(2)).toInt
    assert(rounds <= bound, s"$rounds rounds > $bound")
    val got = df.collect()
    assert(got.length == n && got.forall(_.getLong(1) == 0L))
  }

  test("an input that already is a star forest runs no round") {
    import spark.implicits._
    // stars centred on their min, given in both orientations and with
    // duplicates, plus a singleton
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 1L), (10L, 11L), (10L, 11L), (20L, 20L))
    val (df, rounds) = ConnectedComponents.componentsWithRounds(edges.toDF("a", "b"), 25)
    assert(rounds == 0)
    assert(labels(df, (r, i) => r.getLong(i)) == unionFind(edges))
    // one more edge between leaves makes it a non-star: one round at least
    val (_, more) = ConnectedComponents.componentsWithRounds((edges :+ (3L -> 4L)).toDF("a", "b"), 25)
    assert(more >= 1)
  }

  test("the input checkpoint shuffles once and every round twice") {
    import spark.implicits._
    val shuffles = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          shuffles.add(collect(qe.executedPlan) { case s: ShuffleExchangeLike => s }.size)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val path = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    spark.listenerManager.register(listener)
    try {
      val rounds = ConnectedComponents.componentsWithRounds(path, 25)._2
      assert(rounds >= 2)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (shuffles.size < 1 + rounds && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      assert(shuffles.asScala.toSeq == 1 +: Seq.fill(rounds)(2))
    } finally spark.listenerManager.unregister(listener)
  }
}
