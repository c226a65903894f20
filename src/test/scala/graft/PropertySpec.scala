package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import scala.jdk.CollectionConverters._
import graft.compilex.ConstraintCompiler
import graft.functions.CosineSim
import graft.suite.NorthStar

/** Property-based equivalences for the fused/custom paths (raw
  * scalacheck generators, one batched Spark job per property — the
  * per-case roundtrip style is prohibitively slow under local Spark).
  */
class PropertySpec extends SparkSpec {

  test("failCounts == explode-based counts on the north-star suite (generated table)") {
    val df = graft.gen.TokenData.tokenTable(spark, 5000L, parallelism = 4)
    val viaStack = ConstraintCompiler.failCounts(df, NorthStar.suite, Set("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val viaExplode = ConstraintCompiler.withProfiles(df, Set("tokens"))
      .select(explode(ConstraintCompiler.checksColumn(NorthStar.suite, Set("tokens"))).as("c"))
      .groupBy(col("c.cid")).agg(
        sum(when(!col("c.pass"), 1L).otherwise(0L)).as("fails"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaStack === viaExplode)
  }

  test("CosineSim equals scala brute force on random float vector pairs") {
    val genPair = for {
      n <- Gen.choose(1, 64)
      a <- Gen.listOfN(n, Gen.choose(-100f, 100f))
      b <- Gen.listOfN(n, Gen.choose(-100f, 100f))
    } yield (a, b)
    val pairs = Gen.listOfN(60, genPair).sample.get
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = false)),
      StructField("b", ArrayType(FloatType, containsNull = false))))
    val rows = pairs.map { case (a, b) => Row(a, b) }
    val got = spark.createDataFrame(rows.asJava, schema)
      .select(CosineSim.cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x0, y0) =>
        val x = x0.toDouble; val y = y0.toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    got.zip(want).foreach { case (g, w) => assert(g === w || (g.isNaN && w.isNaN)) }
  }

  test("chunk windows reconstruct the sequence (random arrays, stride < width)") {
    val arrays = Gen.listOfN(80, Gen.listOf(Gen.chooseNum(0, 999))).sample.get
      .zipWithIndex.map { case (xs, i) => (i.toLong, xs) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("tokens", ArrayType(IntegerType, containsNull = false))))
    val df = spark.createDataFrame(arrays.map { case (i, xs) => Row(i, xs) }.asJava, schema)
    val (wSz, st) = (ValidationQueries.ChunkW, ValidationQueries.ChunkS)
    val got: Map[Long, Seq[Seq[Int]]] = ValidationQueries.windowsOf(df, Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .groupBy(_._1).map { case (id, ws) => id -> ws.sortBy(_._2).map(_._3).toSeq }
    arrays.foreach { case (id, xs) =>
      val ws = got.getOrElse(id, Seq.empty[Seq[Int]])
      if (xs.isEmpty) assert(ws.isEmpty)
      else {
        // stride-prefixes of all windows but the last + the last window
        // reproduce the sequence exactly (windows overlap by W - S)
        val rebuilt = ws.dropRight(1).flatMap(_.take(st)) ++ ws.last
        assert(rebuilt == xs, s"doc $id")
        // every window is a literal slice of the original
        ws.zipWithIndex.foreach { case (w, k) =>
          assert(w == xs.slice(k * st, k * st + wSz), s"doc $id window $k") }
      }
    }
  }

  test("chunk windows: a source whose token arrays are all null or empty has no row") {
    val schema = StructType(Seq(
      StructField("source", StringType),
      StructField("tokens", ArrayType(IntegerType, containsNull = false))))
    val rows = Seq(Row("none", null), Row("none", Seq.empty[Int]),
      Row("some", Seq(4, 5, 6)), Row("some", (0 until 300).toSeq), Row("some", null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val wSz = ValidationQueries.ChunkW
    val want = ValidationQueries.windowsOf(df, Seq("source"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](2))
      .groupBy(_._1).map { case (src, ws) =>
        val w = ws.map(_._2).toSeq
        src -> ((w.length.toLong, w.count(_.length == wSz).toLong, w.map(_.length.toLong).sum,
          w.map(_.zipWithIndex.map { case (t, i) => (i + 1).toLong * t }.sum).sum.toString))
      }
    val got = ValidationQueries.chunkWindowsOf(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(want.keySet === Set("some"))
    assert(got === want)
  }

  test("TokenStats (tmin,tmax,dups,n) == scala brute force on random int arrays") {
    val arrays = Gen.listOfN(120, Gen.listOf(Gen.chooseNum(-50, 50))).sample.get
    val schema = StructType(Seq(StructField("t", ArrayType(IntegerType, containsNull = false))))
    val got = spark.createDataFrame(arrays.map(Row(_)).asJava, schema)
      .select(graft.functions.TokenStats.token_stats(col("t")).as("s"))
      .select(col("s.tmin"), col("s.tmax"), col("s.dups"), col("s.n"))
      .collect()
    arrays.zip(got).foreach { case (xs, r) =>
      assert(r.getInt(2) === xs.length - xs.distinct.length)
      assert(r.getInt(3) === xs.length)
      if (xs.nonEmpty) { assert(r.getInt(0) === xs.min); assert(r.getInt(1) === xs.max) }
    }
  }
}
