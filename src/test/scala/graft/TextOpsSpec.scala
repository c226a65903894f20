package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Md5, StringSplit}
import org.apache.spark.sql.functions._
import graft.pipeline.TextOps

/** The word-window builders (shingles3, wordNgramHashes, wordBigrams)
  * split each document once per row, and give exactly what the
  * composed definition below gives, whose window lambda re-splits the
  * document once per window. simhash16 likewise splits and hashes each
  * word once per row, where its composed definition did so once per bit.
  */
class TextOpsSpec extends SparkSpec {

  /** The composed definitions: the split sits inside the window lambda. */
  private object Composed {
    def words(text: Column): Column = split(text, " ")
    def wordNgramHashes(text: Column, n: Int): Column = {
      val w = words(text)
      when(size(w) >= n,
        transform(sequence(lit(1), size(w) - (n - 1)),
          i => md5(concat_ws(" ", slice(w, i, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }
    def wordBigrams(text: Column): Column = {
      val w = words(text)
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1), i => concat_ws(" ", slice(w, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
    }
    def shingles3(text: Column): Column = {
      val w = words(text)
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))
    }
    def simhash16(text: Column): Column = {
      val hs = transform(words(text), TextOps.h32(_))
      (0 until 16).map { b =>
        val bitSum = aggregate(hs, lit(0L),
          (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
        when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }

  private val builders: Seq[(String, Column => Column, Column => Column)] = Seq(
    ("shingles3", TextOps.shingles3 _, Composed.shingles3 _),
    ("wordBigrams", TextOps.wordBigrams _, Composed.wordBigrams _)) ++
    Seq(2, 3, 8).map(n => (s"wordNgramHashes($n)",
      (t: Column) => TextOps.wordNgramHashes(t, n), (t: Column) => Composed.wordNgramHashes(t, n)))

  /** null, empty, blank, fewer than / exactly n words for each n, and
    * leading, trailing and doubled spaces.
    */
  private val edgeTexts: Seq[String] = {
    def ws(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    Seq(null, "", " ", "  ", "a", "a b", "a b c") ++
      Seq(2, 3, 8).flatMap(n => Seq(ws(n - 1), ws(n), ws(n + 1))) ++
      Seq(" " + ws(9), ws(9) + " ", ws(4) + "  " + ws(5), "  " + ws(3) + "  ",
        "a  b", " a b ", "a a a a a a a a a a")
  }

  /** sf0.01 documents plus the edge texts, read back from parquet so
    * the projection runs in a task, not folded while planning.
    */
  private lazy val texts: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_textops").toString
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(col("text"))
      .union(edgeTexts.toDF("text"))
      .withColumn("id", monotonically_increasing_id())
      .write.parquet(s"$dir/texts")
    spark.read.parquet(s"$dir/texts")
  }

  test("each builder equals its composed definition on sf0.01 documents and edge texts, interpreted and codegen") {
    for ((path, conf) <- paths; (name, built, composed) <- builders) withConf(conf: _*) {
      val rows = texts.select(col("id"), col("text"), built(col("text")).as("b"),
        composed(col("text")).as("c")).collect()
      assert(rows.length === 500 + edgeTexts.size)
      assert(rows.exists(_.getSeq[String](2).nonEmpty), s"$name ($path) built nothing")
      rows.foreach { r =>
        assert(r.getSeq[String](2) === r.getSeq[String](3), s"$name ($path) on ${r.getString(1)}")
      }
    }
  }

  test("each builder splits the document once, outside every lambda body") {
    for ((name, built, _) <- builders) {
      val exprs = texts.select(built(col("text"))).queryExecution.optimizedPlan.expressions
      val splits = exprs.flatMap(_.collect { case s: StringSplit => s })
      assert(splits.size === 1, s"$name holds ${splits.size} splits")
      val inLambda = exprs.flatMap(_.collect { case lf: LambdaFunction => lf.function })
        .flatMap(_.collect { case s: StringSplit => s })
      assert(inLambda.isEmpty, s"$name splits inside a lambda body")
    }
  }

  test("simhash16 equals its composed definition on sf0.01 documents and edge texts, interpreted and codegen") {
    for ((path, conf) <- paths) withConf(conf: _*) {
      val rows = texts.select(col("text"), TextOps.simhash16(col("text")).as("b"),
        Composed.simhash16(col("text")).as("c")).collect()
      assert(rows.length === 500 + edgeTexts.size)
      assert(rows.exists(r => !r.isNullAt(1) && r.getLong(1) != 0L), s"simhash16 ($path) is all zero")
      rows.foreach(r => assert(r.get(1) === r.get(2), s"simhash16 ($path) on ${r.getString(0)}"))
    }
  }

  test("d_simhashes splits and md5-hashes the words once per row") {
    val exprs = SparkEntry.queries("d_simhashes")(spark, "/root/testdata/sf0.01")
      .queryExecution.optimizedPlan.collect { case n => n.expressions }.flatten
    val splits = exprs.flatMap(_.collect { case s: StringSplit => s })
    val md5s = exprs.flatMap(_.collect { case m: Md5 => m })
    assert(splits.size === 1, s"d_simhashes holds ${splits.size} splits")
    assert(md5s.size === 1, s"d_simhashes holds ${md5s.size} md5s")
  }
}
