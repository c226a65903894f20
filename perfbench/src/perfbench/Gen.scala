package perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One generated token-table row (FIXTURES.md shape). */
final case class TokenRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** Seeded inputs for the three workloads. The token table keeps the
  * FIXTURES.md shape (doc_id, tokens, n_tok, source), its injected
  * violation classes (row index i ≡ k mod 1000) and its 55/15/15/10/5
  * source skew; the seed changes token content, doc ids, source
  * assignment and row order. graft only ever sees the written files.
  */
object Gen extends Serializable {
  val Vocab = 262144
  val Sources: Seq[String] = Seq("web", "books", "code", "wiki", "forums")
  val Spam = "spam"

  /** SplitMix64 finaliser: the one mixing function behind every seeded choice. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, tag: Long, i: Long): Long = mix(mix(seed * 31 + tag) + i)
  private def below(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)

  // doc-id numbering: i ↦ (i·A + B) mod 10^12 is a bijection (gcd(A, 10) = 1)
  private val IdSpace = 1000000000000L
  private val IdMul = 982451653L
  def docNum(seed: Long, i: Long): Long =
    below(i * IdMul + below(h(seed, 1, 0), IdSpace), IdSpace)
  def docId(seed: Long, i: Long): String = f"doc-${docNum(seed, i)}%012d"

  /** Source of row i under the skewed mix; class k=4 rows go to "spam". */
  def sourceOf(seed: Long, i: Long): String =
    if (below(i, 1000) == 4) Spam
    else {
      val b = below(h(seed, 2, i), 100)
      if (b < 55) "web" else if (b < 70) "books" else if (b < 85) "code"
      else if (b < 95) "wiki" else "forums"
    }

  def row(seed: Long, i: Long, source: String): TokenRow = {
    val k = below(i, 1000)
    val rng = new java.util.SplittableRandom(h(seed, 3, i))
    val n = 16 + rng.nextInt(497)
    var toks = Array.fill(n)(rng.nextInt(Vocab))
    k match {
      case 0 => toks(0) = -5
      case 1 => toks(1) = 300000
      case 6 => toks = Array.emptyIntArray
      case 7 => toks(2) = toks(3)
      case _ =>
    }
    val id =
      if (k == 5) "x"
      else if (k == 2 && i >= 1000) docId(seed, i - 999)
      else docId(seed, i)
    TokenRow(id, toks, if (k == 3) toks.length + 7 else toks.length, source)
  }

  /** Position p of a block of n rows ↦ row index: a seeded bijection of
    * [0, n) (stride 2^31-1 is prime, so coprime with any n below it),
    * which is what reorders rows from seed to seed.
    */
  def rowAt(seed: Long, n: Long, p: Long): Long =
    below(p * 2147483647L + below(h(seed, 4, n), n), n)

  /** Appends rows [first, first+n) of the seeded table under `table`
    * as Hive-partitioned `source=<s>/` parquet files (one file per task
    * and source; concurrent writers, so rows are not sorted first).
    * `pick`, when given, reassigns each non-spam row to one of the named
    * sources (the incremental workload's append batches). Returns the
    * number of rows written per source.
    */
  def writeTokens(spark: SparkSession, table: String, seed: Long, first: Long, n: Long,
                  tasks: Int, pick: Seq[String] = Nil): Map[String, Long] = {
    import spark.implicits._
    def src(i: Long): String = {
      val s = sourceOf(seed, i)
      if (pick.isEmpty || s == Spam) s else pick(below(h(seed, 5, i), pick.size).toInt)
    }
    val rows = spark.range(0, n, 1, tasks).as[Long].map { p =>
      val i = first + rowAt(seed, n, p)
      row(seed, i, src(i))
    }
    val writers = "spark.sql.maxConcurrentOutputFileWriters"
    spark.conf.set(writers, "8")
    try rows.write.mode(SaveMode.Append).partitionBy("source")
      // the engine's canonical token-table encoding (parquet v2 pages)
      .option("parquet.writer.version", "v2")
      .parquet(table)
    finally spark.conf.unset(writers)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    (0L until n).foreach(p => counts(src(first + p)) += 1)
    counts.toMap
  }

  /** A seeded permutation and re-sharding of the documents table: same
    * rows, new row order, `shards` files in a `documents.parquet` dir.
    */
  def writeDocuments(spark: SparkSession, from: String, toDir: String, seed: Long): Int = {
    val shards = 2 + below(h(seed, 6, 0), 7).toInt
    val key = xxhash64(lit(seed), col("doc_id"))
    spark.read.parquet(from)
      .repartitionByRange(shards, key).sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(s"$toDir/documents.parquet")
    shards
  }
}
