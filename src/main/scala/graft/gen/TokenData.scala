package graft.gen

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic token table per FIXTURES.md §1 (seed fixed via
  * xxhash64's constant seed; keyed by row index i so any prefix is
  * stable). Entirely Column-expression based: generation itself is a
  * distributed codegen'd job — at 10^12 rows the generator is a Spark
  * job like any other, never a driver loop.
  *
  * Shape (BASELINE.json input_hint):
  *   doc_id:string, tokens:array<int32>, n_tok:int32, source:string
  *
  * Injected violations at i % 1000 == k (FIXTURES.md table):
  *   0 tokens[0] = -5          -> tokens.items.minimum
  *   1 tokens[1] = 300000      -> tokens.items.maximum
  *   2 doc_id = doc_id(i-1000) -> doc_id.unique
  *   3 n_tok = size(tokens)+7  -> n_tok.eq.size
  *   4 source = "spam"         -> source.ref.allowed_sources
  *   5 doc_id = "x"            -> doc_id.minLength
  *   6 tokens = []             -> tokens.minItems
  *   7 tokens[2] := tokens[3]  -> tokens.uniqueItems
  */
object TokenData {
  val VOCAB = 262144 // 2^18 token ids
  val SOURCES: Seq[String] = Seq("web", "books", "code", "wiki", "forums")

  /** Rows per scale-factor directory name (testdata sf -> token rows). */
  def rowsFor(sfName: String): Long = sfName match {
    case "sf0.001" => 10000L
    case "sf0.01"  => 100000L
    case "sf0.1"   => 1000000L
    case other     => 10000L
  }

  def dataRoot = "/root/repo/data"

  def tokenTable(spark: SparkSession, nRows: Long, parallelism: Int = 32): DataFrame = {
    val i = col("id")
    val k = pmod(i, lit(1000L))
    // n = 16 + hash64(i,"len") mod 497  (mean ~264 tokens/row)
    val len0 = (lit(16) + pmod(xxhash64(lit("len"), i), lit(497L))).cast("int")
    // tokens[j] = hash64(i,j) mod 262144
    val toks0 = transform(sequence(lit(0), len0 - 1),
      j => pmod(xxhash64(i, j), lit(VOCAB.toLong)).cast("int"))

    val toks = when(k === 0, concat(array(lit(-5)), slice(toks0, lit(2), size(toks0) - 1)))
      .when(k === 1, concat(slice(toks0, lit(1), lit(1)), array(lit(300000)), slice(toks0, lit(3), size(toks0) - 2)))
      .when(k === 6, array().cast("array<int>"))
      .when(k === 7, concat(slice(toks0, lit(1), lit(2)), array(element_at(toks0, 4)), slice(toks0, lit(4), size(toks0) - 3)))
      .otherwise(toks0)

    // dup target is i-999 (class k==3, which keeps its own doc_id) so every
    // injected duplicate really collides with an existing id; i-1000 would
    // point at another k==2 row whose own id was itself replaced.
    val docId = when(k === 5, lit("x"))
      .when(k === 2 && i >= 1000, format_string("doc-%012d", i - 999))
      .otherwise(format_string("doc-%012d", i))

    // skewed source mix web .55 / books .15 / code .15 / wiki .10 / forums .05
    val srcBucket = pmod(xxhash64(lit("src"), i), lit(100L))
    val source = when(k === 4, lit("spam"))
      .when(srcBucket < 55, lit("web"))
      .when(srcBucket < 70, lit("books"))
      .when(srcBucket < 85, lit("code"))
      .when(srcBucket < 95, lit("wiki"))
      .otherwise(lit("forums"))

    spark.range(0, nRows, 1, parallelism)
      .select(
        docId.as("doc_id"),
        toks.as("tokens"),
        when(k === 3, size(toks) + 7).otherwise(size(toks)).cast("int").as("n_tok"),
        source.as("source"))
  }

  /** Allowed-sources dimension (FIXTURES.md §2): broadcast side of the
    * referential check ($ref to external value set, PJS:_keywords.py:274).
    */
  def allowedSources(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (SOURCES.map(_ -> true) :+ ("legacy" -> false)).toDF("source", "active")
  }

  /** Idempotent cache: generate the token table for a testdata sf dir
    * once under /root/repo/data/<sfName>/ and reuse. Written flat (not
    * hive-partitioned) so the DuckDB oracle can read the same files with
    * a plain glob; the partitioned-write path is exercised by TableIO
    * tests separately.
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    val sfName = new java.io.File(sfDir).getName
    val out = s"$dataRoot/$sfName/token_seqs"
    val success = new java.io.File(s"$out/_SUCCESS")
    // each artifact keyed on its OWN _SUCCESS marker: a crash between
    // the two writes must not leave a permanently half-initialized dir
    // (tokens committed, allowed_sources missing — round-4 review); the
    // cheap dimension is simply re-written on the next call
    val allowedOk = new java.io.File(
      s"$dataRoot/$sfName/allowed_sources/_SUCCESS")
    if (!success.exists() || !allowedOk.exists()) synchronized {
      if (!success.exists())
        writeTokens(tokenTable(spark, rowsFor(sfName)), out)
      if (!allowedOk.exists())
        allowedSources(spark).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dataRoot/$sfName/allowed_sources")
    }
    out
  }

  /** Canonical token-table writer: parquet v2 pages (DELTA_BINARY_PACKED
    * for the int token arrays). Measured vs the v1 default (2M rows,
    * min over 4 alternating rounds; BASELINE.md "Parquet layout"): ~2x
    * faster full-suite decode (2.0 vs 0.87 M rows/s) AND 40% smaller files
    * (1.29 vs 2.13 GB) — at 100 TB that is the difference between a
    * bandwidth-bound and a compute-bound scan, so it is the default for
    * every table the engine writes.
    */
  def writeTokens(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("parquet.writer.version", "v2")
      .parquet(out)

  def read(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensure(spark, sfDir))

  def readAllowed(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    val sfName = new java.io.File(sfDir).getName
    spark.read.parquet(s"$dataRoot/$sfName/allowed_sources")
  }
}
