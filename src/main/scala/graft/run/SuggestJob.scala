package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.suite.{Suite, SuiteLoader}

/** PROFILE → SUITE bootstrap: derive a candidate constraint suite from
  * the observed data and emit it as a loadable 2020-12 JSON Schema
  * document — the job a team runs when pointing the validator at an
  * unknown table (the same bootstrap direction as Deequ's constraint
  * suggestion). The document round-trips through the REAL loader
  * (SuiteLoader.parseSuiteDocument), so the suggestion is guaranteed
  * to compile — and, by construction from observed bounds, the
  * profiled data passes its own suggestion (SuggestJobSpec pins both,
  * plus rejection of out-of-band rows).
  *
  * One aggregation pass derives every signal (the same single-scan
  * shape as ValidationQueries.suggestSuite); the JSON assembly is a
  * driver-side reshape of that 1-row result.
  */
object SuggestJob {

  /** Minimal JSON string escaping for observed values embedded in the
    * suggestion document (quote, backslash, control chars).
    */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c            => c.toString
    }

  /** Suggested suite as a 2020-12 JSON Schema document over the
    * north-star token-table shape. `enumMax`: emit `enum` only when the
    * observed distinct set is at most this large (else fall back to a
    * bare type check, like every suggestion engine does for
    * high-cardinality keys).
    */
  def suggestJson(df: DataFrame, enumMax: Int = 10): String = {
    val p = graft.checks.Stats.suggestProfile(df).head()
    if (p.getAs[Long]("nrows") == 0L)
      throw new IllegalArgumentException(
        "cannot suggest a suite from an empty table: no rows to profile")
    // every bound is emitted ONLY when observed: a non-empty table can
    // still have all-null doc_id (no length band), all-null n_tok, or
    // all-empty tokens arrays (no element bounds) — each clause degrades
    // to the bare type check instead of NPE-ing on a null aggregate
    def opt(n: String): Option[Long] =
      if (p.isNullAt(p.fieldIndex(n))) None else Some(p.getAs[Number](n).longValue())
    def band(lo: String, hi: String, kLo: String, kHi: String): String =
      (opt(lo), opt(hi)) match {
        case (Some(a), Some(b)) => s""", "$kLo": $a, "$kHi": $b"""
        case _                  => ""
      }
    // {"type": T} fails on null per the reference's type semantics (a
    // null column value IS JSON null) — when nulls were observed, admit
    // them via a type union so the data passes its own suggestion
    def typ(base: String, nullCount: String): String =
      if (opt(nullCount).contains(0L)) s""""type": "$base""""
      else s""""type": ["$base", "null"]"""
    val srcs = p.getAs[String]("srcs").split(',').toSeq.filter(_.nonEmpty)
    // a literal ',' inside a source value cannot survive the profile's
    // comma-joined enum surface, and enum fails on unlisted nulls —
    // fall back to the type check rather than emit a suite the data
    // itself would fail
    val enumSafe = p.getAs[Long]("srccomma") == 0L && srcs.nonEmpty &&
      opt("snull").contains(0L)
    val sourceSchema =
      if (opt("ndistinct").exists(_ <= enumMax) && enumSafe)
        srcs.map(s => "\"" + jsonEscape(s) + "\"").mkString("{\"enum\": [", ", ", "]}")
      else s"{${typ("string", "snull")}}"
    val required = if (opt("dnull").contains(0L)) "\"required\": [\"doc_id\"]," else ""
    val items = (opt("emin"), opt("emax")) match {
      case (Some(a), Some(b)) =>
        s""", "items": {"type": "integer", "minimum": $a, "maximum": $b}"""
      case _ => ""
    }
    s"""{
       |  "$$schema": "https://json-schema.org/draft/2020-12/schema",
       |  "$$id": "https://graft.example/suggested",
       |  "type": "object",
       |  $required
       |  "properties": {
       |    "doc_id": {${typ("string", "dnull")}${band("dminlen", "dmaxlen", "minLength", "maxLength")}},
       |    "n_tok": {${typ("integer", "nnull")}${band("nmin", "nmax", "minimum", "maximum")}},
       |    "tokens": {${typ("array", "tknull")}${band("szmin", "szmax", "minItems", "maxItems")}$items},
       |    "source": $sourceSchema
       |  }
       |}""".stripMargin
  }

  /** Suggest + load through the real document loader. */
  def suggest(df: DataFrame, columns: Seq[String] = Seq("doc_id", "tokens", "n_tok", "source")): (String, Suite) = {
    val json = suggestJson(df)
    (json, SuiteLoader.parseSuiteDocument(json, Nil, columns))
  }

  /** spark-submit main: <tablePath> <outFile> — writes the suggested
    * schema document and prints the per-constraint fail counts of the
    * table against its own suggestion (all zero unless the table
    * changed under the profiler's feet).
    */
  def main(args: Array[String]): Unit = {
    val Array(tablePath, outFile) = args.take(2)
    val spark = graft.GraftSession.create("graft-suggest")
    val df = spark.read.parquet(tablePath)
    val (json, suite) = suggest(df)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(s"[suggest] wrote ${suite.constraints.length} constraints to $outFile")
    graft.compilex.ConstraintCompiler.failCounts(df, suite).show(50, truncate = false)
    spark.stop()
  }
}
