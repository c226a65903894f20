package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.{col, lit}
import scala.jdk.CollectionConverters._
import graft.suite.{FieldConstraint, SuiteLoader}
import graft.compilex.ConstraintCompiler

/** Golden parity corpus — JSON-Schema-Test-Suite case format
  * (PJS:tests/_suite.py:134-269: file = list of {description, schema,
  * tests:[{description, data, valid}]}), self-authored from the spec
  * semantics (the suite repo is not on this machine, SURVEY.md §5.2),
  * plus a `ctype` field declaring the column type each group's
  * instances inhabit (the engine's reinterpretation: the column type IS
  * the JSON type, SURVEY.md §1.3).
  *
  * Each case: schema → SuiteLoader → ConstraintCompiler → evaluate on a
  * one-column DataFrame; verdict must equal the case's `valid`.
  */
abstract class GoldenCorpusSpec(resource: String) extends SparkSpec {
  private val mapper = new ObjectMapper()
  private val corpus = mapper.readTree(
    scala.io.Source.fromResource(resource)(scala.io.Codec.UTF8).mkString)

  private def sparkType(ct: String): DataType = ct match {
    case "int"         => IntegerType
    case "long"        => LongType
    case "double"      => DoubleType
    case "string"      => StringType
    case "bool"        => BooleanType
    case "array<int>"  => ArrayType(IntegerType, containsNull = false)
    // null elements reachable: the JSON `null` instance inside an array
    // (element keywords must type-gate it, ConstraintCompiler.compile's check)
    case "array<int?>"    => ArrayType(IntegerType, containsNull = true)
    case "array<string>"  => ArrayType(StringType, containsNull = false)
    case "array<string?>" => ArrayType(StringType, containsNull = true)
  }

  private def toValue(n: com.fasterxml.jackson.databind.JsonNode, ct: String): Any =
    if (n == null || n.isNull) null
    else ct match {
      case "int"         => n.asInt()
      case "long"        => n.asLong()
      case "double"      => n.asDouble()
      case "string"      => n.asText()
      case "bool"        => n.asBoolean()
      case "array<int>"     => n.asScala.map(_.asInt()).toSeq
      case "array<int?>"    => n.asScala.map(e => if (e.isNull) null else e.asInt()).toSeq
      case "array<string>"  => n.asScala.map(_.asText()).toSeq
      case "array<string?>" => n.asScala.map(e => if (e.isNull) null else e.asText()).toSeq
    }

  /** Optional `resources` array on a group: additional schema documents
    * (absolute `$id`) for the multi-resource registry path.
    */
  private def resourcesOf(group: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    Option(group.get("resources")).map(_.asScala.map(_.toString).toSeq).getOrElse(Nil)

  corpus.asScala.foreach { group =>
    val desc = group.get("description").asText()
    val ct = group.get("ctype").asText()
    if (ct == "row") rowGroupTest(group, desc) else singleColumnTest(group, desc, ct)
  }

  /** Single-column groups: the schema constrains one value column `v`. */
  private def singleColumnTest(group: com.fasterxml.jackson.databind.JsonNode,
                               desc: String, ct: String): Unit =
    test(s"golden: $desc") {
      val constraint = SuiteLoader.parseSchema(group.get("schema").toString, resourcesOf(group))
      val compiled = ConstraintCompiler.compile(FieldConstraint(desc, "v", constraint))
      val tests = group.get("tests").asScala.toSeq
      val schema = StructType(Seq(
        StructField("v", sparkType(ct), nullable = true),
        StructField("expected", BooleanType, nullable = false),
        StructField("tdesc", StringType, nullable = false)))
      val rows = tests.map(t => Row(
        toValue(t.get("data"), ct), t.get("valid").asBoolean(), t.get("description").asText()))
      val df = spark.createDataFrame(rows.asJava, schema)
      val got = df.select(col("tdesc"), col("expected"), compiled.pass.as("got")).collect()
      val bad = got.filter(r => r.getBoolean(1) != r.getBoolean(2))
      assert(bad.isEmpty,
        s"\nparity failures in '$desc':\n" +
          bad.map(r => s"  [${r.getString(0)}] expected=${r.getBoolean(1)} got=${r.getBoolean(2)}").mkString("\n"))
    }

  /** Row groups (round-2): the schema is a whole SUITE DOCUMENT (object
    * level — properties/required/dependentRequired/dependentSchemas/
    * allOf/$defs/$ref), instances are JSON objects mapped onto one row
    * via the group's `columns` type declaration (missing key → NULL,
    * the engine's documented absent≙null reinterpretation). The verdict
    * is the conjunction of every parsed FieldConstraint — exactly how
    * the reference's iter_errors empty⇔valid works at document level.
    * check_golden_vs_reference.py validates the same (schema, object)
    * pairs with the reference validator directly.
    */
  private def rowGroupTest(group: com.fasterxml.jackson.databind.JsonNode, desc: String): Unit =
    test(s"golden: $desc") {
      val columns = group.get("columns").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toSeq
      val suite = SuiteLoader.parseSuiteDocument(group.get("schema").toString,
        resourcesOf(group), columns.map(_._1))
      val compiled = suite.resolved.constraints.map(ConstraintCompiler.compile(_, Set.empty))
      val tests = group.get("tests").asScala.toSeq
      val schema = StructType(
        columns.map { case (f, ct) => StructField(f, sparkType(ct), nullable = true) } ++
          Seq(StructField("expected", BooleanType, nullable = false),
            StructField("tdesc", StringType, nullable = false)))
      val rows = tests.map { t =>
        val data = t.get("data")
        Row.fromSeq(columns.map { case (f, ct) => toValue(data.get(f), ct) } ++
          Seq(t.get("valid").asBoolean(), t.get("description").asText()))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      // a schema whose keywords all discharge at compile time (e.g. a
      // propertyNames constraint every column name satisfies) compiles
      // to ZERO row constraints — vacuously true per row
      val verdict = compiled.map(_.pass).foldLeft(lit(true))(_ && _)
      val got = df.select(col("tdesc"), col("expected"), verdict.as("got")).collect()
      val bad = got.filter(r => r.getBoolean(1) != r.getBoolean(2))
      assert(bad.isEmpty,
        s"\nparity failures in '$desc' (ids=${suite.constraints.map(_.id)}):\n" +
          bad.map(r => s"  [${r.getString(0)}] expected=${r.getBoolean(1)} got=${r.getBoolean(2)}").mkString("\n"))
    }
}

/** The curated golden parity corpus. */
class GoldenSuiteSpec extends GoldenCorpusSpec("golden/cases.json")

/** The FUZZ-differential corpus: 240 seed-deterministic random
  * (schema, instance) groups inside the supported subset, generated by
  * tools/gen_fuzz_cases.py and LABELED BY THE LIVE REFERENCE validator
  * at generation time; check_golden_vs_reference.py re-derives every
  * label on demand, so this spec closes engine == corpus == reference
  * over 1,440 additional randomized cases.
  */
class FuzzSuiteSpec extends GoldenCorpusSpec("golden/fuzz_cases.json")

/** The row-model fuzz corpus: 120 random suite DOCUMENTS (required /
  * dependentRequired / properties / patternProperties / min-max
  * Properties / propertyNames / dependentSchemas / allOf over the
  * 4-column universe) with object instances, reference-labeled at
  * generation; field keywords restricted to the null-gated set so the
  * absent-key ≙ NULL-column mapping is exact in both models.
  */
class FuzzRowSuiteSpec extends GoldenCorpusSpec("golden/fuzz_row_cases.json")

/** The legacy-dialect fuzz corpus: draft-7/draft-4 groups exercising
  * the retired keyword forms (items ARRAY form + additionalItems,
  * $ref-overrides-siblings via `definitions`, draft-4 boolean
  * exclusive bounds), each labeled by its own draft's reference
  * validator (validator_for).
  */
class FuzzLegacySuiteSpec extends GoldenCorpusSpec("golden/fuzz_legacy_cases.json")

/** The dynamic-ref fuzz corpus: $dynamicRef/$dynamicAnchor re-binding,
  * plain-$anchor bookends, anonymous-entry invisibility, 2019-09
  * $recursiveRef chains with independently-random anchor flags, and
  * doc-level $dynamicRef row schemas — the engine resolves the whole
  * dynamic-scope walk at COMPILE time; each group is labeled by the
  * reference running the walk at RUNTIME over a registry, so a wrong
  * compile-time winner is a red test, never a silent divergence.
  */
class FuzzDynamicSuiteSpec extends GoldenCorpusSpec("golden/fuzz_dynamic_cases.json")

/** The format fuzz corpus: structured near-miss strings (mis-padded
  * dates, leap-second times, +24:00 offsets, mis-sized uuid groups,
  * leading-zero octets, ~2 pointer escapes, interior-zero relative
  * pointer prefixes, …) against the TEN format checkers the engine
  * claims EXACT reference semantics for — date, date-time, time, uuid,
  * ipv4, ipv6, email, idn-email, json-pointer, relative-json-pointer —
  * each labeled by the live reference checker
  * (Draft202012Validator.FORMAT_CHECKER). The Java-dialect `regex`,
  * idn-hostname, and the spec-derived grammars (duration, uri*, iri*)
  * stay excluded, like the generator's other model boundaries; so do
  * the int(,16)-family uuid wrapper pathologies (brace/urn stripping
  * with compensated dash positions — see the checker's doc comment).
  */
class FuzzFormatSuiteSpec extends GoldenCorpusSpec("golden/fuzz_format_cases.json")

/** The double-column fuzz corpus: numeric keywords over a DoubleType
  * column — mixed integral/fractional bounds, enum/const carrying JSON
  * ints AND floats (cross-type numeric equality 2 == 2.0), -0.0,
  * exclusive bounds, combinator wrappers. multipleOf stays curated-only
  * (IEEE float-remainder boundary), values stay inside the float-exact
  * integer range.
  */
class FuzzDoubleSuiteSpec extends GoldenCorpusSpec("golden/fuzz_double_cases.json")

/** The string-array fuzz corpus: element-level STRING keywords
  * (minLength/maxLength/pattern/enum/const + the exact-semantics
  * formats uuid/ipv4) inside items/prefixItems/contains over
  * array<string> and array<string?> columns, plus array-level keywords
  * and unevaluatedItems — pins the element-level string path with
  * in-array null gating against the reference.
  */
class FuzzStrArraySuiteSpec extends GoldenCorpusSpec("golden/fuzz_strarray_cases.json")

/** The long-column fuzz corpus: 64-bit integer exactness — instances
  * adjacent to 2^53 (where a double model collapses neighbors onto the
  * bound), bounds/divisors up to 2^62 (binary64-representable, the
  * JSON-number model boundary), exact integral multipleOf, enum/const
  * with big longs. Pins the numLit long-literal path and the exact
  * integer multipleOf against the reference's arbitrary-precision ints.
  */
class FuzzLongSuiteSpec extends GoldenCorpusSpec("golden/fuzz_long_cases.json")

/** The bool-column fuzz corpus: enum/const/type over BooleanType —
  * tiny surface, completes the ctype matrix (notably: jsonschema's
  * equal() special-cases bool so true is NOT the number 1).
  */
class FuzzBoolSuiteSpec extends GoldenCorpusSpec("golden/fuzz_bool_cases.json")
