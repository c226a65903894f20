package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.compilex.ConstraintCompiler
import graft.suite.{Constraint, FieldConstraint, SuiteLoader}
import graft.suite.Constraint._

/** SuiteLoader follows `$ref`/`$dynamicRef`/`$recursiveRef` through one
  * resolver in all three walkers (document level, field level, and the
  * unevaluatedItems evaluated-index walk), so every walker enters a
  * cross-resource target's resource before resolving what sits inside
  * it, and every walker refuses a cycle the same way. The expected
  * verdicts below are jsonschema 4.26's (Draft202012Validator over a
  * `referencing` Registry holding the listed resources).
  */
class RefResolverSpec extends SparkSpec {

  // X's $defs/t re-binds to the $dynamicAnchor 'n' of the outermost
  // declaring resource in scope: X itself (a: two prefix items), not Y
  private val X = """{"$id":"https://x/","$defs":{"t":{"$dynamicRef":"https://y/#n"},""" +
    """"a":{"$dynamicAnchor":"n","prefixItems":[true,true]}}}"""
  private val Y = """{"$id":"https://y/","$dynamicAnchor":"n"}"""

  private def verdicts(c: Constraint, ct: DataType, values: Seq[Any]): Seq[Boolean] = {
    val df = spark.createDataFrame(values.map(v => Row(v)).asJava,
      StructType(Seq(StructField("v", ct, nullable = true))))
    df.select(ConstraintCompiler.compile(FieldConstraint("v", "v", c)).pass).collect().map(_.getBoolean(0)).toSeq
  }

  Seq(
    "$ref before unevaluatedItems" ->
      """{"$id":"https://e/","$ref":"https://x/#/$defs/t","unevaluatedItems":false}""",
    "unevaluatedItems before $ref" ->
      """{"$id":"https://e/","unevaluatedItems":false,"$ref":"https://x/#/$defs/t"}"""
  ).foreach { case (order, e) =>
    test(s"the unevaluatedItems walk resolves a cross-resource $$dynamicRef inside the target's resource ($order)") {
      val c = SuiteLoader.parseSchema(e, Seq(X, Y))
      val parts = c match {
        case AllOf(cs) => cs
        case other     => Seq(other)
      }
      // the walk and the assertion beside it pick the same anchor
      assert(parts.contains(PrefixItems(Seq(Always(true), Always(true)))), c)
      assert(parts.contains(ItemsFrom(2, Always(false))), c)
      val arrays = Seq(Seq.empty[Int], Seq(1), Seq(1, 2), Seq(1, 2, 3))
      assert(verdicts(c, ArrayType(IntegerType, containsNull = false), arrays) ===
        Seq(true, true, true, false))
    }
  }

  test("a cross-resource doc-level ref target resolves its own unevaluatedProperties inside its resource") {
    // the uP's $dynamicRef re-binds to X's anchor (const "s"): X is in
    // the dynamic scope while its schema applies; Y's (const "t") is the
    // initial resolution only
    val x = """{"$id":"https://x/","$defs":{"t":{"unevaluatedProperties":{"$dynamicRef":"https://y/#n"}},""" +
      """"s":{"$dynamicAnchor":"n","const":"s"}}}"""
    val y = """{"$id":"https://y/","$dynamicAnchor":"n","const":"t"}"""
    val suite = SuiteLoader.parseSuiteDocument(
      """{"$id":"https://e/","$ref":"https://x/#/$defs/t"}""", Seq(x, y), Seq("a"))
    val Seq(fc) = suite.constraints
    assert(fc.constraint === Const("s"))
    // reference: {"a":"s"} valid, {"a":"t"} invalid
    assert(verdicts(fc.constraint, StringType, Seq("s", "t")) === Seq(true, false))
  }

  Seq(
    "$ref '#' at the root" -> """{"$ref":"#","properties":{"a":{"type":"string"}}}""",
    "$defs x -> y -> x loop" ->
      """{"$defs":{"x":{"$ref":"#/$defs/y"},"y":{"$ref":"#/$defs/x"}},"$ref":"#/$defs/x"}""",
    "$dynamicRef to the root's own anchor" ->
      """{"$dynamicAnchor":"node","$dynamicRef":"#node","properties":{"a":{"type":"string"}}}""",
    "2019-09 $recursiveRef '#'" ->
      ("""{"$schema":"https://json-schema.org/draft/2019-09/schema","$recursiveRef":"#",""" +
        """"properties":{"a":{"type":"string"}}}"""),
    "draft-07 sibling-override $ref '#'" ->
      ("""{"$schema":"http://json-schema.org/draft-07/schema#","$ref":"#",""" +
        """"properties":{"a":{"type":"string"}}}"""),
    "$ref '#' inside an anyOf branch" -> """{"anyOf":[{"$ref":"#"}]}"""
  ).foreach { case (desc, doc) =>
    test(s"doc-level cycle is refused as circular: $desc") {
      val e = intercept[IllegalArgumentException](SuiteLoader.parseSuiteDocument(doc, Nil, Seq("a", "b")))
      assert(e.getMessage.contains("circular"), e.getMessage)
    }
  }
}
