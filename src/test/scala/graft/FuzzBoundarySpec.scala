package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.suite.SuiteLoader

/** The unevaluated* boundary corpus, COMPILE side (round-5, VERDICT
  * item 4): dense near-boundary shapes the static model must accept —
  * combinator branches carrying their OWN `unevaluatedItems` whose
  * pointwise matches exempt elements at the outer uI (the tracker's
  * `for keyword in ["contains","unevaluatedItems"]` loop,
  * PJS:_utils.py:243-247 — the round-5 walk fix), boolean combinator
  * branches (the tracker returns [] for boolean schemas), uI through
  * $ref targets, if-arm uI, and dual-scope `unevaluatedProperties`
  * (root + branch/dependentSchemas frames). Reference-labeled at
  * generation; a raise here is a red test — assertion (b) of the
  * boundary pin: NO compilable shape raises.
  */
class FuzzBoundarySuiteSpec extends GoldenCorpusSpec("golden/fuzz_boundary_cases.json")

/** The unevaluated* boundary corpus, RAISE side: asserts the loader's
  * raise set is EXACTLY the declared-undecidable set, family by family
  * (assertion (a) of the boundary pin). Each group records the
  * reference's own outcome at generation time:
  *
  *  - cycle-ref: $ref cycles reachable from the uI walk. The reference
  *    itself RecursionErrors at runtime (its tracker recurses into $ref
  *    with no cycle guard, PJS:_utils.py:199-211, verified live per
  *    group) — the compile-time raise is full parity, just earlier and
  *    explicit.
  *  - draft-gate: unevaluated* under a draft-7 document. The reference
  *    silently ignores the post-2019 keyword (the recorded labels prove
  *    it); the engine refuses rather than silently weakening — the
  *    documented raise-don't-weaken policy, a deliberate deviation.
  *  - field-object: object applicators inside a FIELD subschema. Column
  *    values are scalars/arrays, so the reference verdict is the
  *    vacuous non-object behavior (labels recorded); the engine raises
  *    on the almost-surely-wrong schema instead of compiling a no-op.
  *
  * The uP duplicate-scope guard is deliberately ABSENT as a family:
  * every JSON object node opens its own annotation frame and carries at
  * most one uP key, so that guard is unreachable from JSON input — the
  * dual-up COMPILE family above pins the same-document two-uP shapes as
  * green instead. No Spark session needed: every raise is at parse time.
  */
class FuzzBoundaryRaiseSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val corpus = mapper.readTree(
    scala.io.Source.fromResource("golden/fuzz_boundary_raises.json")(scala.io.Codec.UTF8).mkString)

  /** The phrase each family's refusal message carries. */
  private val Reasons = Map(
    "cycle-ref"    -> "circular",
    "draft-gate"   -> "vocabulary",
    "field-object" -> "unsupported inside a field subschema")

  corpus.asScala.foreach { group =>
    val desc = group.get("description").asText()
    val family = group.get("family").asText()
    test(s"boundary-raise[$family]: $desc") {
      assert(group.get("expect").asText() == "raise")
      val resources = Option(group.get("resources"))
        .map(_.asScala.map(_.toString).toSeq).getOrElse(Nil)
      val thrown = intercept[Exception] {
        if (group.get("ctype").asText() == "row") {
          val cols = group.get("columns").properties().asScala.map(_.getKey).toSeq
          SuiteLoader.parseSuiteDocument(group.get("schema").toString, resources, cols)
        } else SuiteLoader.parseSchema(group.get("schema").toString, resources)
      }
      // the refusal must be the loader's EXPLICIT raise, never an
      // incidental crash (NPE/ClassCast/StackOverflow would fail here)
      assert(thrown.isInstanceOf[IllegalArgumentException] ||
        thrown.isInstanceOf[UnsupportedOperationException],
        s"expected an explicit loader raise, got ${thrown.getClass}: ${thrown.getMessage}")
      // ... and it must name the family's refusal, not some other one
      // (a cycle refused as "unresolvable" would be a wrong reason)
      val reason = Reasons.getOrElse(family, fail(s"unknown raise family '$family'"))
      assert(String.valueOf(thrown.getMessage).contains(reason),
        s"[$family] expected a message naming '$reason', got: ${thrown.getMessage}")
    }
  }
}
