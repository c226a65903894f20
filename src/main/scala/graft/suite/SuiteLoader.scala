package graft.suite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import graft.suite.Constraint._

/** JSON-Schema-subset → Constraint ADT loader.
  *
  * The engine's analogue of the reference's schema compile
  * (PJS:validators.py:282-304): a schema is data (JSON), parsed once on
  * the driver into the ADT, every reference resolved by compile-time
  * inlining.
  *
  * References: `$ref` resolves intra-document fragments — `#` (root),
  * `#/arbitrary/json/pointer` (RFC 6901 walk with ~0/~1 unescaping and
  * array indices, mirroring REF:_core.py:653-698's pointer lookup) and
  * `#anchor` (`$anchor` lookup by subtree scan, mirroring the
  * reference's BFS subschema cache, PJS:validators.py:1254-1262) — and
  * absolute refs against the caller-supplied resource registry (an
  * unknown base URI raises like referencing.exceptions.Unresolvable:
  * zero-egress). `$dynamicRef` and the 2019-09 `$recursiveRef` resolve
  * with full re-binding: inlining makes the reference's dynamic scope
  * static at every site. One resolver ([[withRef]]) follows all three
  * for the document-level walker, the field-level walker and the
  * unevaluatedItems evaluated-index walk. Circular refs raise at parse —
  * inlining cannot represent them.
  *
  * Unknown keywords: ANNOTATIONS (title, description, default,
  * examples, …) are ignored like the reference ignores non-assertion
  * keywords; unsupported APPLICATORS (object keywords inside field
  * subschemas, keywords outside the dialect's vocabulary, unknown
  * keywords) RAISE — a silently dropped applicator would silently
  * weaken the suite. patternProperties / additionalProperties /
  * propertyNames resolve against the declared column list.
  * unevaluatedItems and unevaluatedProperties are exact: unconditional
  * evaluation is a compile-time constant, conditional evaluation
  * (dependentSchemas triggers, anyOf/oneOf branches, if/then/else arms)
  * becomes per-row gates.
  *
  * Boolean schemas: `true` → always-pass, `false` → always-fail
  * (PJS:validators.py:290-291,369-379).
  */
object SuiteLoader {
  private val mapper = new ObjectMapper()

  /** Annotation keywords: legal to ignore (no assertion semantics).
    * `$defs` and its pre-2019 spelling `definitions` assert nothing
    * themselves; `#/$defs/...` and `#/definitions/...` refs reach them by
    * pointer walk like any other location.
    */
  private val Annotations = Set(
    "$id", "$schema", "$anchor", "$comment", "$vocabulary", "$defs",
    "definitions", "title", "description", "default", "examples",
    "deprecated", "readOnly", "writeOnly",
    // the content-* trio is annotation-only in the reference under EVERY
    // dialect (jsonschema 4.x keeps none of them in any VALIDATORS map —
    // probed against the live validator; draft-7's optional content
    // assertion mode was removed), so ignoring matches it exactly
    "contentMediaType", "contentEncoding", "contentSchema")

  /** Dialect resolution (≙ validator_for, PJS:validators.py:1335-1410):
    * the `$schema` URI picks per-draft keyword semantics, carried as the
    * draft NUMBER (3/4/6/7/2019/2020) because the legacy behaviors
    * retired at DIFFERENT drafts:
    *  - `items` array form + `additionalItems` — drafts ≤ 2019-09
    *    (prefixItems arrived in 2020-12; PJS:_legacy_keywords.py:41-113)
    *  - `$ref` overrides its siblings — drafts ≤ 7 ONLY (2019-09 starts
    *    evaluating keywords alongside $ref; `ignore_ref_siblings`,
    *    PJS:_legacy_keywords.py:9-21)
    *  - object-level `dependencies` — drafts ≤ 7 (split into
    *    dependentRequired/dependentSchemas in 2019-09;
    *    `_legacy_keywords.py:24-38`)
    *  - boolean `exclusiveMinimum`/`exclusiveMaximum` — drafts ≤ 4
    *    (draft-6 made them numeric)
    * Like the reference, the dialect can switch at any subschema
    * carrying its own `$schema`.
    */
  private def draftOf(n: JsonNode, inherited: Int): Int =
    Option(n.get("$schema")).filter(_.isTextual).map(_.asText()) match {
      case Some(uri) =>
        if (uri.contains("draft-03")) 3
        else if (uri.contains("draft-04")) 4
        else if (uri.contains("draft-06")) 6
        else if (uri.contains("draft-07")) 7
        else if (uri.contains("2019-09")) 2019
        else 2020
      case None => inherited
    }
  private val ModernDraft = 2020
  private def legacyItems(draft: Int): Boolean = draft <= 2019
  private def refOverridesSiblings(draft: Int): Boolean = draft <= 7
  private def legacyDependencies(draft: Int): Boolean = draft <= 7
  private def booleanExclusive(draft: Int): Boolean = draft <= 4

  /** Draft keyword VOCABULARY gate (≙ the reference's per-draft keyword
    * maps, PJS:validators.py Draft3/4/6/7/201909/202012 definitions): a
    * keyword used under a dialect that predates it is NOT a keyword
    * there — the reference silently ignores it, so compiling it would
    * make the engine STRICTLY WRONG (false violations). Ignoring would
    * silently weaken author intent instead; the loader raises, naming
    * the introducing draft (fuzzing the reference under draft-4
    * surfaced the divergence for numeric exclusiveMaximum/const).
    */
  private def requireDraft(keyword: String, introduced: Int, draft: Int): Unit =
    require(draft >= introduced,
      s"'$keyword' is not part of the draft-$draft vocabulary (introduced in draft-$introduced) — " +
        "the reference would ignore it; raising instead of diverging either way")

  /** The `$recursive*` pair exists ONLY in 2019-09: earlier drafts never
    * had it, and 2020-12 removed it in favor of `$dynamic*` — under any
    * other dialect the reference treats it as an unknown keyword and
    * ignores it (verified against the live validator), so compiling it
    * would be strictly wrong and ignoring it would drop author intent.
    */
  private def require2019Only(keyword: String, draft: Int): Unit = {
    requireDraft(keyword, 2019, draft)
    require(draft == 2019,
      s"'$keyword' is 2019-09-only vocabulary (removed in draft-2020; $$dynamicRef/$$dynamicAnchor " +
        "replace it) — the reference ignores it there; raising instead of diverging either way")
  }

  /** Applicators / assertions the engine does not support INSIDE a field
    * subschema (object-shaped instances never occur: a field value is a
    * scalar or array; minProperties et al. are constants over a fixed
    * relational schema — SURVEY.md §2.1-2.2 OUT rows). These RAISE.
    */
  private val UnsupportedInField = Set(
    "properties", "patternProperties", "additionalProperties",
    "propertyNames", "unevaluatedProperties",
    "dependentSchemas", "dependentRequired", "required",
    "minProperties", "maxProperties", "dependencies")

  /** One `unevaluatedProperties` annotation SCOPE: the document root, or
    * a subschema parsed in its own frame ([[framed]]: a doc-level
    * $ref/$recursiveRef/$dynamicRef target, an allOf branch, a
    * dependentSchemas subschema, a combinator branch or a conditional
    * arm). 2020-12
    * annotation flow is UPWARD only (the referrer's unevaluated* sees
    * the target's annotations, never vice versa —
    * find_evaluated_property_keys_by_schema recurses INTO $ref), so a
    * frame is pushed on entering a ref target and every mark is
    * committed to ALL open frames: the referrer's siblings stay
    * invisible to the target's own uP, while the target's evaluations
    * exempt the referrer's (round-3 ADVICE, medium — was a raise, now
    * exact).
    */
  private final class UpFrame(val baseGates: Int) {
    val evaluated = scala.collection.mutable.Set.empty[String]
    // field -> alternative per-row gates under which it counts evaluated
    val condEvaluated = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Constraint]]
    // the frame's own unevaluatedProperties subschema, if any
    var up: Option[JsonNode] = None
  }

  /** Per-document parse state for the decidable-subset `unevaluated*`
    * support: which fields the name-driven applicators evaluated
    * unconditionally, plus — r4 — which fields are evaluated only under
    * a per-row GATE (dependentSchemas: trigger present; anyOf/oneOf:
    * branch valid), mirroring
    * find_evaluated_property_keys_by_schema (PJS:_utils.py:261-350)
    * pointwise instead of raising. `not` branches contribute nothing
    * (the tracker never recurses into `not`). Scoped to one
    * parseSuiteDocument call.
    */
  private final class DocParseState {
    val rootFrame = new UpFrame(0)
    // open annotation scopes, innermost first (head = current)
    var frames: List[UpFrame] = List(rootFrame)
    // gates active for the subschema being parsed (innermost first);
    // pushed by dependentSchemas (FieldPresent(trigger)), composed by AND
    var gateStack: List[Constraint] = Nil
    // While parsing an anyOf/oneOf/not branch (or an if/then/else arm),
    // marks destined for the BRANCH frame and everything outer are
    // buffered here — the branch-validity gate only exists once the
    // branch has parsed. `bypass` is the frame count at sink install
    // (branch frame included): frames pushed AFTER the sink (a $ref
    // target's or dependentSchemas subschema's own annotation scope
    // INSIDE the branch) must still receive marks directly, or their
    // own unevaluatedProperties would resolve against an empty
    // evaluated set (round-4 review, repro-pinned).
    var markSink: Option[(Marks, Int)] = None
    def markEvaluated(field: String): Unit = commitMark(field, gateStack)
    private def commitTo(frs: List[UpFrame], field: String, gates: List[Constraint]): Unit =
      frs.foreach { fr =>
        // gates RELATIVE to the frame: the gateStack suffix active when
        // the frame was pushed is the frame's own existence condition
        // (a dependentSchemas subschema's marks are UNCONDITIONAL within
        // its own frame — the trigger gate conditions the whole frame,
        // wrap() included), while outer frames keep the full chain
        val rel = gates.dropRight(math.min(fr.baseGates, gates.length))
        if (rel.isEmpty) fr.evaluated += field
        else fr.condEvaluated.getOrElseUpdate(field,
          scala.collection.mutable.ArrayBuffer.empty) += (rel match {
            case g :: Nil => g
            case gs       => AllOf(gs)
          })
      }
    def commitToFrame(fr: UpFrame, field: String, gates: List[Constraint]): Unit =
      commitTo(fr :: Nil, field, gates)
    def commitMark(field: String, gates: List[Constraint]): Unit = markSink match {
      case Some((buf, bypass)) =>
        buf += ((field, gates))
        commitTo(frames.dropRight(math.min(bypass, frames.length)), field, gates)
      case None => commitTo(frames, field, gates)
    }
  }
  private val docStateVar = new scala.util.DynamicVariable[Option[DocParseState]](None)

  /** Evaluated-field marks held back for a branch-validity gate: (field,
    * the gates active when it was marked).
    */
  private type Marks = scala.collection.mutable.ArrayBuffer[(String, List[Constraint])]

  /** The chain of schema RESOURCES the parse has entered, innermost
    * first (head = the resource currently being parsed). Because `$ref`
    * resolution here is compile-time INLINING, the reference's runtime
    * "dynamic scope" (REF:_core.py:709-725, the `_previous` stack
    * appended on every base-URI change) is STATICALLY KNOWN at every
    * inlining site — which is what makes full `$dynamicRef` re-binding
    * and the 2019-09 `$recursiveRef` outward walk exactly resolvable at
    * compile time (r4). Recursion through a re-bound target still
    * raises via the cycle guards: an infinite inlining cannot validate
    * a flat row, and the cyclic shapes are precisely the tree-schema
    * idioms a relational column model cannot hold anyway.
    */
  private val dynScopeVar = new scala.util.DynamicVariable[List[JsonNode]](Nil)

  /** Whether a document can appear in the dynamic scope at all: the
    * reference only pushes a base URI into `_previous` when it is
    * NON-EMPTY (`_evolve`: `if self._base_uri and ...`,
    * REF:_core.py:717-725) — an ANONYMOUS entry schema (no `$id`) is
    * never part of the walk, so its `$dynamicAnchor`s are invisible to
    * re-binding (verified against the live validator; pinned by the
    * anonymous-entry golden group).
    */
  private def hasBaseUri(d: JsonNode): Boolean =
    Option(d.get("$id")).exists(_.isTextual)

  /** Run `body` with `tRoot` as the current resource, pushing it onto
    * the dynamic scope unless it is anonymous or already the head
    * (mirrors referencing's push-on-base-change, REF:_core.py:717-725).
    */
  private def inResource[A](tRoot: JsonNode)(body: => A): A = {
    val cur = dynScopeVar.value
    if (!hasBaseUri(tRoot) || cur.headOption.exists(_ eq tRoot)) body
    else dynScopeVar.withValue(tRoot :: cur)(body)
  }

  /** Parse one JSON Schema (subset) document into a Constraint. */
  def parseSchema(json: String): Constraint = {
    val n = mapper.readTree(json)
    dynScopeVar.withValue(if (hasBaseUri(n)) List(n) else Nil) {
      toConstraint(n, n, Set.empty, draftOf(n, ModernDraft))
    }
  }

  // ---- multi-resource $id registry (round-2 VERDICT item 7) -------------
  // Static subset of the reference's Registry (REF:_core.py:653-698):
  // a caller-supplied in-memory map of absolute `$id` → schema document.
  // An absolute `$ref` ("https://example/defs#/$defs/x") resolves
  // against it — still zero-egress (the registry IS the closed world;
  // an unknown base URI raises exactly like an unresolvable remote).
  // Carried in a DynamicVariable so the recursive parse keeps its
  // signatures; parsing is driver-side and per-thread.
  private val registryVar = new scala.util.DynamicVariable[Map[String, JsonNode]](Map.empty)

  private def buildRegistry(resources: Seq[String]): Map[String, JsonNode] =
    resources.map { json =>
      val n = mapper.readTree(json)
      val id = Option(n.get("$id")).filter(_.isTextual).map(_.asText())
        .getOrElse(throw new IllegalArgumentException("registry resource must carry an absolute $id"))
      // index under both spellings so "uri" and "uri#" both hit
      id.stripSuffix("#") -> n
    }.toMap

  /** parseSchema against a registry of additional resources (each a
    * schema document with an absolute `$id`).
    */
  def parseSchema(json: String, resources: Seq[String]): Constraint =
    registryVar.withValue(buildRegistry(resources)) { parseSchema(json) }

  /** parseSuiteDocument against a registry of additional resources. */
  def parseSuiteDocument(json: String, resources: Seq[String]): Suite =
    registryVar.withValue(buildRegistry(resources)) { parseSuiteDocument(json) }

  /** Declared table columns, needed by the name-driven applicators
    * (patternProperties / schema-form additionalProperties /
    * propertyNames): over a fixed relational schema the key universe is
    * the column list, so these applicators resolve to concrete columns
    * at COMPILE time — the relational reading of the reference's
    * per-instance key iteration (PJS:_keywords.py:16-56,28-33).
    */
  private val tableColumnsVar = new scala.util.DynamicVariable[Seq[String]](Nil)

  /** The declared (non-internal) columns, or raise with a usage hint —
    * a name-driven applicator without the key universe would have to be
    * silently dropped, which the loader never does.
    */
  private def declaredColumns(kw: String): Seq[String] = {
    val cols = tableColumnsVar.value.filterNot(_.startsWith("__"))
    require(cols.nonEmpty,
      s"'$kw' needs the declared table columns — parse with parseSuiteDocument(json, resources, tableColumns)")
    cols
  }

  /** Compile-time evaluation of a string constraint against a literal —
    * used by propertyNames, whose instances (the key names) are all
    * known at compile time over a relational schema
    * (PJS:_keywords.py:28-33 descends per key; here the keys are the
    * column list). Keywords outside the string surface raise.
    */
  private[suite] def evalString(c: Constraint, s: String): Boolean = c match {
    case Always(b)    => b
    case TypeIs(t)    => t == "string"
    case MinLength(n) => s.codePointCount(0, s.length) >= n
    case MaxLength(n) => s.codePointCount(0, s.length) <= n
    case Pattern(re)  => re.r.findFirstIn(s).isDefined
    case Enum(vs)     => vs.contains(s)
    case Const(v)     => v == s
    case AllOf(cs)    => cs.forall(evalString(_, s))
    case AnyOf(cs)    => cs.exists(evalString(_, s))
    case OneOf(cs)    => cs.count(evalString(_, s)) == 1
    case Not(x)       => !evalString(x, s)
    case IfThenElse(i, t, e) =>
      if (evalString(i, s)) t.forall(evalString(_, s)) else e.forall(evalString(_, s))
    case other => throw new UnsupportedOperationException(
      s"propertyNames supports string keywords only, got $other")
  }

  /** Full parse entry: resources registry + declared table columns. */
  def parseSuiteDocument(json: String, resources: Seq[String], tableColumns: Seq[String]): Suite =
    tableColumnsVar.withValue(tableColumns) { parseSuiteDocument(json, resources) }

  /** Parse a whole SUITE document — a JSON Schema object whose
    * `properties` map the table's columns (≙ the reference's root-schema
    * entry, PJS:validators.py:1265-1332): each keyword inside a field's
    * subschema becomes one named FieldConstraint (`<field>.<keyword>`)
    * so violations stay per-keyword granular, exactly like the
    * reference's per-keyword ValidationError.validator.
    *
    * Document-level keywords: `required`, `dependentRequired`,
    * `dependentSchemas` (each trigger's subschema recursed with a
    * WhenPresent wrap), `allOf` (branches recursed and concatenated —
    * the common real-world "allOf of partial suites" wrapping, round-2
    * VERDICT item 5), `$ref` (pointer-resolved then recursed), `$defs`.
    * Doc-level `anyOf`/`oneOf`/`not`/`if`/`then`/`else` (r4 general
    * form) compose branch validity as anchor-independent predicates:
    * each branch's FieldConstraints are re-anchored onto their own
    * fields via [[Constraint.OnField]] and conjoined, so branches may
    * constrain any mix of fields.
    */
  def parseSuiteDocument(json: String): Suite = {
    val root = mapper.readTree(json)
    require(root.isObject, "suite document must be a JSON object")
    val name = Option(root.get("$id")).map(_.asText()).getOrElse("anonymous-suite")
    val cs = scala.collection.mutable.ArrayBuffer.empty[FieldConstraint]
    val state = new DocParseState
    dynScopeVar.withValue(if (hasBaseUri(root)) List(root) else Nil) {
    docStateVar.withValue(Some(state)) {
      parseObjectLevel(root, root, "", identity, Set.empty, cs, draftOf(root, ModernDraft))
      // unevaluatedProperties (2020-12 annotation semantics,
      // PJS:_keywords.py:407-436, decidable subset): evaluation flows
      // from properties / patternProperties / additionalProperties —
      // including through allOf branches and inlined $refs, which is
      // exactly what distinguishes it from additionalProperties.
      // Unconditional evaluation lands in the frame's evaluated set
      // (compile-time constant); conditional evaluation
      // (dependentSchemas, anyOf/oneOf branches) lands in condEvaluated
      // as per-row gates (r4). Inner frames (ref targets) were already
      // resolved at their pop; this is the root frame's turn.
      resolveUnevaluated(state.rootFrame, root, "", identity, draftOf(root, ModernDraft), cs, state)
    }
    }
    // keep ids unique when allOf branches repeat a (field, keyword) pair
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val uniq = cs.toSeq.map { fc =>
      val n = seen.getOrElse(fc.id, 0); seen(fc.id) = n + 1
      if (n == 0) fc else fc.copy(id = s"${fc.id}#$n")
    }
    Suite(name, uniq)
  }

  /** Resolve one frame's `unevaluatedProperties` into FieldConstraints.
    * Columns evaluated only CONDITIONALLY (under a dependentSchemas
    * trigger or a valid anyOf/oneOf branch) carry per-row gates — the
    * column is exempt exactly when some gate holds, so each gate becomes
    * an AnyOf alternative alongside the subschema (pointwise mirror of
    * find_evaluated_property_keys_by_schema, PJS:_utils.py:261-350).
    * Called at frame POP for ref targets (their evaluated set is then
    * complete and the referrer's siblings never entered it) and from the
    * document post-pass for the root frame. When the frame carried a uP,
    * every column in the universe is afterwards marked evaluated in the
    * still-open OUTER frames — uP evaluates every key left in its scope,
    * which is verdict-exact upward cascade (a row failing the inner uP
    * is invalid regardless; a row passing it has those keys evaluated).
    */
  private def resolveUnevaluated(fr: UpFrame, root: JsonNode,
                                 prefix: String,
                                 wrap: Constraint => Constraint, draft: Int,
                                 out: scala.collection.mutable.ArrayBuffer[FieldConstraint],
                                 st: DocParseState): Unit = if (fr.up.nonEmpty) {
    resolveUnevaluatedCore(fr, root, prefix, wrap, draft, out, st)
    tableColumnsVar.value.foreach(st.markEvaluated)
  }

  /** Constraint emission only — the caller decides how the frame's
    * "uP evaluates everything left" cascade reaches outer scopes
    * (directly for unconditional frames, via the branch-mark buffer
    * under the branch-validity gate for combinator/conditional arms).
    */
  private def resolveUnevaluatedCore(fr: UpFrame, root: JsonNode,
                                 prefix: String,
                                 wrap: Constraint => Constraint, draft: Int,
                                 out: scala.collection.mutable.ArrayBuffer[FieldConstraint],
                                 st: DocParseState): Unit = fr.up.foreach { up =>
    val rest = declaredColumns("unevaluatedProperties").filterNot(fr.evaluated)
    def gatesFor(c: String): Seq[Constraint] =
      fr.condEvaluated.get(c).map(_.toSeq).getOrElse(Nil)
    if (up.isBoolean) {
      if (!up.asBoolean())
        rest.foreach { c =>
          val inner = gatesFor(c) match {
            case Nil => Always(false)
            case gs  => AnyOf(gs) // evaluated under some gate → exempt
          }
          out += FieldConstraint(s"$prefix$c.unevaluatedProperties", c, wrap(WhenPresent(c, inner)))
        }
    } else {
      val (gated, ungated) = rest.partition(c => gatesFor(c).nonEmpty)
      if (ungated.nonEmpty) {
        val props = mapper.createObjectNode()
        ungated.foreach(c => props.set[JsonNode](c, up))
        parseProperties(props, root, s"${prefix}unevaluatedProperties.", wrap, out, draft)
      }
      gated.foreach { c =>
        val props = mapper.createObjectNode()
        props.set[JsonNode](c, up)
        parseProperties(props, root, s"${prefix}unevaluatedProperties.",
          cc => wrap(AnyOf(gatesFor(c) :+ cc)), out, draft)
      }
    }
  }

  /** Commit a combinator branch's (or conditional arm's) buffered marks
    * into its own frame and resolve the frame's uP INTO the branch's
    * constraint buffer — the uP becomes part of branch VALIDITY (2020-12
    * semantics: every branch is applied; a failing uP fails the branch).
    * The frame's "evaluates everything" cascade is appended to the mark
    * buffer so outer scopes see it under the branch-validity gate, like
    * any other branch mark; resolution-time marks are suppressed (they
    * would reach outer frames UNgated).
    */
  private def resolveBranchFrame(fr: UpFrame, marks: Marks, root: JsonNode, prefix: String,
      draft: Int, buf: scala.collection.mutable.ArrayBuffer[FieldConstraint],
      st: DocParseState): Unit = {
    marks.foreach { case (f, gates) => st.commitToFrame(fr, f, gates) }
    if (fr.up.nonEmpty) {
      val saved = st.markSink
      st.markSink = Some((scala.collection.mutable.ArrayBuffer.empty, st.frames.length))
      try resolveUnevaluatedCore(fr, root, prefix, identity, draft, buf, st)
      finally st.markSink = saved
      tableColumnsVar.value.foreach(c => marks += ((c, st.gateStack)))
    }
  }

  /** The one frame bracket of the document-level walker: parse `body`
    * inside its own annotation frame. Marks made within flow upward into
    * every open frame; at pop the frame's own unevaluatedProperties (if
    * any) resolves against only what `body` evaluated — through
    * [[resolveUnevaluated]], or, when `marks` is given (a combinator
    * branch or conditional arm, whose marks wait for the branch-validity
    * gate and are buffered there meanwhile), through
    * [[resolveBranchFrame]].
    */
  private def framed(root: JsonNode, prefix: String, wrap: Constraint => Constraint, draft: Int,
                     out: scala.collection.mutable.ArrayBuffer[FieldConstraint],
                     marks: Option[Marks] = None)(body: => Unit): Unit = {
    val st = docStateVar.value
    val savedSink = st.flatMap(_.markSink)
    st.foreach { s =>
      s.frames = new UpFrame(s.gateStack.length) :: s.frames
      marks.foreach(m => s.markSink = Some((m, s.frames.length)))
    }
    try body
    finally st.foreach { s =>
      s.markSink = savedSink
      val fr = s.frames.head
      s.frames = s.frames.tail
      marks match {
        case Some(m) => resolveBranchFrame(fr, m, root, prefix, draft, out, s)
        case None    => resolveUnevaluated(fr, root, prefix, wrap, draft, out, s)
      }
    }
  }

  /** One object-level schema (the document root, or a subschema parsed
    * in its own [[framed]] frame) → FieldConstraints appended to `out`,
    * each wrapped by `wrap` (identity at root; WhenPresent under
    * dependentSchemas).
    */
  private def parseObjectLevel(n: JsonNode, root: JsonNode,
                               prefix: String, wrap: Constraint => Constraint,
                               activeRefs: Set[RefId],
                               out: scala.collection.mutable.ArrayBuffer[FieldConstraint],
                               inheritedDraft: Int): Unit = {
    val draft = draftOf(n, inheritedDraft)

    // a doc-level $ref/$recursiveRef/$dynamicRef target parses in its own
    // annotation frame: its marks flow upward into every open frame, its
    // own unevaluatedProperties resolves at pop against only what the
    // target subtree evaluated
    def parseRef(kind: String, text: String): Unit =
      withRef(kind, text, root, draft, activeRefs) { t =>
        require(t.node.isObject, s"doc-level $kind '$text' must target an object schema")
        framed(t.root, prefix, wrap, t.draft, out) {
          parseObjectLevel(t.node, t.root, prefix, wrap, t.refs, out, t.draft)
        }
      }

    // pre-2019 drafts: a document-level $ref overrides its siblings too
    // (same ignore_ref_siblings rule as the field-level path)
    if (refOverridesSiblings(draft) && n.has("$ref")) return parseRef("$ref", n.get("$ref").asText())

    // shared by dependentSchemas (2019-09+) and the schema-valued arm of
    // legacy `dependencies` (PJS:_legacy_keywords.py:24-38)
    def dependentSchemaEntry(trigger: String, sub: JsonNode, kw: String): Unit =
      if (sub.isBoolean) {
        if (!sub.asBoolean()) // {trigger: false}: trigger must be absent
          out += FieldConstraint(s"$prefix$trigger.$kw", trigger,
            wrap(WhenPresent(trigger, Always(false))))
      } else {
        require(sub.isObject, s"$kw['$trigger'] must be a schema")
        // evaluation under dependentSchemas is CONDITIONAL on the
        // trigger's presence: the reference's key tracker recurses into
        // the subschema exactly when the trigger key is in the instance
        // (PJS:_utils.py:318-325, with NO validity check on the
        // subschema), so every key it evaluates is gated on
        // FieldPresent(trigger) — pointwise-exact, no raise needed (r4)
        val (p, w) = (s"$prefix$trigger.$kw.", (c: Constraint) => wrap(WhenPresent(trigger, c)))
        docStateVar.value.foreach(s => s.gateStack = FieldPresent(trigger) :: s.gateStack)
        // own annotation scope whose base includes the trigger gate; it
        // resolves BEFORE the gate pops so the cascade marks stay
        // conditioned on the trigger's presence
        try framed(root, p, w, draft, out)(parseObjectLevel(sub, root, p, w, activeRefs, out, draft))
        finally docStateVar.value.foreach(s => s.gateStack = s.gateStack.tail)
      }

    // one anyOf/oneOf/not branch or if/then/else arm: its own frame, its
    // FieldConstraints in a private buffer, its marks held back for the
    // branch-validity gate; a uP inside is part of BRANCH validity (r4b)
    def parseBranch(node: JsonNode, label: String): (Seq[FieldConstraint], Seq[(String, List[Constraint])]) = {
      require(node.isObject, s"doc-level $label must be an object or boolean schema")
      val buf = scala.collection.mutable.ArrayBuffer.empty[FieldConstraint]
      val marks: Marks = scala.collection.mutable.ArrayBuffer.empty
      framed(root, "", identity, draft, buf, Some(marks)) {
        parseObjectLevel(node, root, "", identity, activeRefs, buf, draft)
      }
      (buf.toSeq, marks.toSeq)
    }

    // declared columns matched by NEITHER `properties` nor any
    // `patternProperties` regex (find_additional_properties,
    // PJS:_utils.py:69-84) — the key universe is the declared column list
    def additionalColumns: Seq[String] = {
      val cols = declaredColumns("additionalProperties")
      val named = Option(n.get("properties"))
        .map(_.properties().asScala.map(_.getKey).toSet).getOrElse(Set.empty[String])
      val ppRes = Option(n.get("patternProperties"))
        .map(_.properties().asScala.map(_.getKey.r).toSeq).getOrElse(Nil)
      cols.filterNot(c => named(c) || ppRes.exists(_.findFirstIn(c).isDefined))
    }

    n.properties().asScala.foreach { entry =>
      entry.getKey match {
        case "required" =>
          // the object-level name-array form arrived in draft-4
          // (draft-3 required is a boolean inside the property subschema)
          requireDraft("required (array form)", 4, draft)
          entry.getValue.asScala.foreach(f =>
            out += FieldConstraint(s"$prefix${f.asText()}.required", f.asText(), wrap(Required())))
        case "dependentRequired" =>
          requireDraft("dependentRequired", 2019, draft)
          entry.getValue.properties().asScala.foreach { e =>
            out += FieldConstraint(s"$prefix${e.getKey}.dependentRequired", e.getKey,
              wrap(DependentRequired(e.getValue.asScala.map(_.asText()).toSeq)))
          }
        case "dependentSchemas" =>
          requireDraft("dependentSchemas", 2019, draft)
          entry.getValue.properties().asScala.foreach { e =>
            dependentSchemaEntry(e.getKey, e.getValue, "dependentSchemas")
          }
        case "dependencies" if legacyDependencies(draft) =>
          // pre-2019 combined keyword: array value = dependentRequired,
          // schema value = dependentSchemas (PJS:_legacy_keywords.py:24-38)
          entry.getValue.properties().asScala.foreach { e =>
            val (trigger, dv) = (e.getKey, e.getValue)
            if (dv.isArray)
              out += FieldConstraint(s"$prefix$trigger.dependencies", trigger,
                wrap(DependentRequired(dv.asScala.map(_.asText()).toSeq)))
            else if (dv.isTextual && draft <= 3) // draft-3 single-name form
              out += FieldConstraint(s"$prefix$trigger.dependencies", trigger,
                wrap(DependentRequired(Seq(dv.asText()))))
            else dependentSchemaEntry(trigger, dv, "dependencies")
          }
        case "allOf" =>
          requireDraft("allOf", 4, draft) // draft-3 spells it `extends`
          entry.getValue.asScala.zipWithIndex.foreach { case (branch, i) =>
            require(branch.isObject, s"doc-level allOf[$i] must be an object schema")
            // each branch is its own annotation scope (r4b): a uP inside
            // it sees only the branch subtree; its marks still flow
            // upward into every open frame
            val p = s"${prefix}allOf[$i]."
            framed(root, p, wrap, draft, out)(parseObjectLevel(branch, root, p, wrap, activeRefs, out, draft))
          }
        case kw @ ("anyOf" | "oneOf" | "not") =>
          requireDraft(kw, 4, draft)
          // Doc-level anyOf/oneOf/not, GENERAL form (r4): a branch is
          // valid iff ALL its keywords pass (PJS:_keywords.py:337-373),
          // so each branch compiles to an AllOf over its parsed
          // FieldConstraints with every constraint re-anchored onto its
          // own field via OnField — making the branch validity an
          // anchor-independent row predicate. Branches may therefore
          // constrain ANY mix of fields (the round-2/3 single-field
          // restriction is lifted); the emitted FieldConstraint is
          // attributed to the first constrained field.
          // branch evaluation is data-dependent (a branch's annotations
          // apply only when it succeeds) — but POINTWISE: the
          // reference's key tracker adds a branch's keys iff the row
          // validates against that branch (PJS:_utils.py:327-334), so
          // each mark made while parsing a branch is re-committed under
          // that branch's validity constraint as its gate (r4). `not`
          // branches contribute nothing — the tracker never recurses
          // into `not` — so their marks are dropped.
          val branchNodes =
            if (kw == "not") Seq(entry.getValue) else entry.getValue.asScala.toSeq
          val branches = branchNodes.zipWithIndex.map { case (branch, i) =>
            // boolean branches are valid schemas: `true` asserts nothing
            // and evaluates nothing, `false` admits nothing — both are
            // load-bearing for oneOf's exactly-one count (round-4
            // review: these used to raise)
            if (branch.isBoolean)
              (Seq.empty[FieldConstraint], Seq.empty[(String, List[Constraint])],
                Some(Always(branch.asBoolean()): Constraint))
            else {
              // an annotation-only branch ({} / title-only / bare
              // properties with empty schemas) asserts nothing: it is
              // Always(true) — but its MARKS still count (a branch
              // {"properties":{"a":true}} evaluates key 'a' whenever
              // the row matches, which is always)
              val (fcs, marks) = parseBranch(branch, s"$kw[$i]")
              (fcs, marks, None)
            }
          }
          // attribution field: first asserting branch's first field;
          // all-constant combinators fall back to the first declared column
          val bfield = branches.flatMap(_._1.headOption).headOption.map(_.field)
            .orElse(tableColumnsVar.value.headOption)
            .getOrElse(throw new IllegalArgumentException(
              s"doc-level $kw has no asserting branch and no declared columns to anchor to"))
          val per = branches.map {
            case (_, _, Some(const))           => const
            case (fcs, _, None) if fcs.isEmpty => Always(true)
            case (fcs, _, None) =>
              val cs = fcs.map(fc =>
                if (fc.field == bfield) fc.constraint else OnField(fc.field, fc.constraint))
              if (cs.size == 1) cs.head else AllOf(cs)
          }
          if (kw != "not")
            branches.zip(per).foreach { case ((_, marks, _), branchGate) =>
              marks.foreach { case (f, gates) =>
                // the gate must evaluate against the BRANCH's fields, not
                // the unevaluated column it will guard — re-anchor
                docStateVar.value.foreach(_.commitMark(f, OnField(bfield, branchGate) :: gates))
              }
            }
          val comb = kw match {
            case "anyOf" => AnyOf(per)
            case "oneOf" => OneOf(per)
            case _       => Not(per.head)
          }
          out += FieldConstraint(s"$prefix$bfield.$kw", bfield, wrap(comb))
        case "if" =>
          requireDraft("if", 7, draft)
          // Doc-level conditional (PJS:_keywords.py:382-389): row
          // validity is `cond ? then : else`, every arm an
          // anchor-independent AllOf of OnField-wrapped constraints
          // (same composition as the general combinators above).
          // Evaluated-key marks mirror the reference tracker exactly
          // (find_evaluated_property_keys_by_schema's `if` arm,
          // PJS:_utils.py:337-350): marks from `if` and `then` count
          // when the row validates against `if`; marks from `else`
          // when it does NOT.
          def parseArm(node: JsonNode, label: String)
              : (Option[Constraint], Option[String], Seq[(String, List[Constraint])]) =
            if (node.isBoolean) (Some(Always(node.asBoolean())), None, Nil)
            else {
              val (fcs, marks) = parseBranch(node, label)
              val c: Option[Constraint] = fcs.map(fc => OnField(fc.field, fc.constraint)) match {
                case Seq()    => None // annotation-only arm: asserts nothing
                case Seq(one) => Some(one)
                case cs       => Some(AllOf(cs))
              }
              (c, fcs.headOption.map(_.field), marks)
            }
          val (condC, condField, condMarks) = parseArm(entry.getValue, "if")
          val thenArm = Option(n.get("then")).map(parseArm(_, "then"))
          val elseArm = Option(n.get("else")).map(parseArm(_, "else"))
          val (thenC, elseC) = (thenArm.flatMap(_._1), elseArm.flatMap(_._1))
          if (thenC.nonEmpty || elseC.nonEmpty) {
            val anchor = (thenArm.flatMap(_._2) orElse elseArm.flatMap(_._2) orElse
              condField).getOrElse(declaredColumns("if").head)
            out += FieldConstraint(s"${prefix}if", anchor,
              wrap(IfThenElse(condC.getOrElse(Always(true)), thenC, elseC)))
          }
          docStateVar.value.foreach { st =>
            def commitGated(marks: Seq[(String, List[Constraint])],
                            gate: Option[Constraint]): Unit =
              marks.foreach { case (f, gates) => st.commitMark(f, gate.fold(gates)(_ :: gates)) }
            commitGated(condMarks, condC)
            thenArm.foreach(a => commitGated(a._3, condC))
            // an assertion-free `if` is always valid → `else` never
            // applies, so its marks are dropped (reference: elif branch
            // unreachable when is_valid is constant-true)
            condC.foreach(g => elseArm.foreach(a => commitGated(a._3, Some(Not(g)))))
          }
        case "then" | "else" => // consumed by the sibling `if` case;
          // without one the reference never descends into them
          // (the if_ validator is the only reader — PJS:_keywords.py:382-389)
          ()
        case "$ref" => parseRef("$ref", entry.getValue.asText())
        case "$recursiveRef" =>
          require2019Only("$recursiveRef", draft)
          parseRef("$recursiveRef", entry.getValue.asText())
        case "$recursiveAnchor" =>
          require2019Only("$recursiveAnchor", draft)
          require(entry.getValue.isBoolean, "$recursiveAnchor must be a boolean")
        case "$dynamicRef" =>
          requireDraft("$dynamicRef", 2020, draft)
          parseRef("$dynamicRef", entry.getValue.asText())
        case "$dynamicAnchor" =>
          requireDraft("$dynamicAnchor", 2020, draft)
          // declaration marker only (names this node for the resolver)
          require(entry.getValue.isTextual, "$dynamicAnchor must be a string")
        case "properties" =>
          parseProperties(entry.getValue, root, prefix, wrap, out, draft)
        case "minProperties" =>
          requireDraft("minProperties", 4, draft)
          // present keys = non-null columns over the declared universe
          // (PJS:_keywords.py:312-318); sibling maxProperties folds into
          // the same counted constraint
          val cols = declaredColumns("minProperties")
          val mx = Option(n.get("maxProperties")).map(_.asInt()).getOrElse(Int.MaxValue)
          out += FieldConstraint(s"${prefix}minProperties", cols.head,
            wrap(PresentCount(entry.getValue.asInt(), mx, cols)))
        case "maxProperties" if !n.has("minProperties") =>
          requireDraft("maxProperties", 4, draft)
          val cols = declaredColumns("maxProperties")
          out += FieldConstraint(s"${prefix}maxProperties", cols.head,
            wrap(PresentCount(0, entry.getValue.asInt(), cols)))
        case "maxProperties" => () // consumed by the minProperties case
        case "type" =>
          val t = entry.getValue
          require(t.isTextual && t.asText() == "object",
            s"suite document type must be 'object', got $t")
        case "patternProperties" =>
          // name-driven applicator over a FIXED key universe (the table
          // columns): each regex resolves to concrete columns at compile
          // time, then the subschema applies per column exactly like
          // `properties` (PJS:_keywords.py:16-25; re.search semantics
          // like the reference's pattern keyword)
          val cols = declaredColumns("patternProperties")
          entry.getValue.properties().asScala.foreach { pp =>
            val re = pp.getKey.r
            val matched = cols.filter(c => re.findFirstIn(c).isDefined)
            val props = mapper.createObjectNode()
            matched.foreach(c => props.set[JsonNode](c, pp.getValue))
            parseProperties(props, root, s"${prefix}patternProperties.", wrap, out, draft)
          }
        case "additionalProperties" if !entry.getValue.isBoolean =>
          // schema form: applies to every additional column
          val props = mapper.createObjectNode()
          additionalColumns.foreach(c => props.set[JsonNode](c, entry.getValue))
          parseProperties(props, root, s"${prefix}additionalProperties.", wrap, out, draft)
        case "additionalProperties" =>
          // boolean form: `false` forbids the PRESENCE of any declared
          // column matched by neither `properties` nor a
          // `patternProperties` regex — the reference descends into
          // present instance keys only (PJS:_keywords.py:42-56 via
          // find_additional_properties), so an absent (null) column is a
          // vacuous pass and a present one fails the `false` subschema
          // outright. (Round-4 fuzz differential caught the old
          // compile-time-only reading diverging from the reference.)
          // `true` evaluates everything vacuously. Either way every
          // remaining key counts as evaluated, so
          // unevaluatedProperties downstream sees nothing.
          if (!entry.getValue.asBoolean())
            additionalColumns.foreach(c => out += FieldConstraint(s"${prefix}additionalProperties.$c", c,
              wrap(WhenPresent(c, Always(false)))))
          docStateVar.value.foreach(st => tableColumnsVar.value.foreach(st.markEvaluated))
        case "unevaluatedProperties" =>
          requireDraft("unevaluatedProperties", 2019, draft)
          // deferred to the pop of the current frame ([[framed]], or
          // parseSuiteDocument's post-pass for the root): the frame's
          // evaluated-key set must be complete first
          docStateVar.value match {
            case Some(st) =>
              // one uP per annotation SCOPE (frame): the document root
              // and each doc-level ref target get their own frame (r4 —
              // the in-ref-target raise is gone; annotations flow upward
              // only, so the referrer's siblings stay invisible to a
              // target's uP while the target's marks exempt the root's).
              // Two reaching the SAME frame (e.g. via allOf) would
              // last-wins-drop one assertion, so raise (round-3 review).
              val fr = st.frames.head
              require(fr.up.isEmpty,
                "multiple unevaluatedProperties in the same annotation scope — " +
                  "the static subset supports exactly one per scope")
              fr.up = Some(entry.getValue)
            case None => throw new UnsupportedOperationException(
              "unevaluatedProperties requires parseSuiteDocument with declared table columns")
          }
        case "propertyNames" =>
          requireDraft("propertyNames", 6, draft)
          // the subschema validates the KEYS themselves; every key (=
          // column name) is known at compile time, so evaluate the name
          // constraint NOW (PJS:_keywords.py:28-33) — a failing name
          // means rows where that column is PRESENT are invalid (the
          // key only exists on rows where the column is non-null)
          val pv = entry.getValue
          val cols = declaredColumns("propertyNames")
          val nameFails: String => Boolean =
            if (pv.isBoolean) { _ => !pv.asBoolean() }
            else { val c = toConstraint(pv, root, activeRefs, draft); s => !evalString(c, s) }
          cols.filter(nameFails).foreach(c =>
            out += FieldConstraint(s"$prefix$c.propertyNames", c,
              wrap(WhenPresent(c, Always(false)))))
        case k if Annotations.contains(k) => ()
        case k =>
          throw new UnsupportedOperationException(
            s"unsupported document-level keyword '$k' — raising instead of silently dropping an applicator")
      }
    }
  }

  /** `properties`: one FieldConstraint per (field, keyword) slice. */
  private def parseProperties(props: JsonNode, root: JsonNode,
                              prefix: String, wrap: Constraint => Constraint,
                              out: scala.collection.mutable.ArrayBuffer[FieldConstraint],
                              draft: Int): Unit = {
    props.properties().asScala.foreach { p =>
      val (field, sub) = (p.getKey, p.getValue)
      require(sub.isObject || sub.isBoolean, s"field '$field' subschema must be object or boolean")
      // properties/patternProperties/additionalProperties all funnel
      // through here: record the field as EVALUATED for
      // unevaluatedProperties — gated when inside a conditionally-
      // applied subschema (dependentSchemas / combinator branch)
      docStateVar.value.foreach(_.markEvaluated(field))
      if (sub.isBoolean) {
        // a boolean subschema applies only when the key is PRESENT
        // (PJS:_keywords.py:290-301 descends only for keys in the
        // instance): `false` rejects rows where the column is non-null
        // and vacuously passes rows where it is absent (null)
        val c = if (sub.asBoolean()) Always(true) else WhenPresent(field, Always(false))
        out += FieldConstraint(s"$prefix$field.schema", field, wrap(c))
      } else {
        // keywords consumed by a sibling anchor keyword, never alone;
        // the legacy dialect adds additionalItems (consumed by the
        // items-array slice) and the draft-4 BOOLEAN exclusive-bound
        // forms (consumed by their minimum/maximum slices — the NUMERIC
        // forms stay standalone keywords). The anchoring decisions MUST
        // use the SUBSCHEMA's dialect — a field subschema can switch
        // dialect via its own $schema, and judging its keywords by the
        // parent's draft would silently drop e.g. a draft-4 boolean
        // exclusiveMinimum inside a 2020-12 document.
        val subDraft = draftOf(sub, draft)
        // Legacy (draft<=7) `$ref` OVERRIDES its siblings INSIDE a field
        // subschema too (ignore_ref_siblings, PJS:_legacy_keywords.py:
        // 9-21): a draft-7 {"$ref": …, "maximum": 2} must emit ONLY the
        // resolved ref — slicing per keyword here would ALSO emit a
        // standalone Maximum the reference discards, i.e. false
        // violations (round-2 ADVICE, medium). toConstraint's own
        // early-return implements the discard; hand it the whole
        // subschema instead of slicing.
        if (refOverridesSiblings(subDraft) && sub.has("$ref")) {
          val c = toConstraint(sub, root, Set.empty, subDraft)
          out += FieldConstraint(s"$prefix$field.$$ref", field, wrap(c))
        } else {
        val anchored = Set("minContains", "maxContains", "then", "else", "$defs") ++
          (if (legacyItems(subDraft)) Set("additionalItems") else Set.empty) ++
          Seq("exclusiveMinimum", "exclusiveMaximum")
            .filter(k => booleanExclusive(subDraft) && Option(sub.get(k)).exists(_.isBoolean))
        sub.properties().asScala.foreach { e =>
          val k = e.getKey
          if (k == "unevaluatedItems") {
            // compiled against the FULL sibling context (the walk reads
            // prefixItems/items/contains/combinators/refs from the node
            // itself — no slice, no extraction); vacuous → no constraint
            requireDraft("unevaluatedItems", 2019, subDraft)
            unevaluatedItemsConstraint(sub, root, Set.empty, subDraft)
              .foreach(c => out += FieldConstraint(s"$prefix$field.$k", field, wrap(c)))
          } else if (!anchored.contains(k) && !Annotations.contains(k)) {
            // single-keyword slice, carrying the anchored siblings along
            val slice = mapper.createObjectNode()
            slice.set[JsonNode](k, e.getValue)
            val carry = Map(
              "contains" -> Seq("minContains", "maxContains"),
              "if"       -> Seq("then", "else"),
              "items"    -> Seq("prefixItems", "additionalItems"),
              "minimum"  -> Seq("exclusiveMinimum").filter(_ => anchored("exclusiveMinimum")),
              "maximum"  -> Seq("exclusiveMaximum").filter(_ => anchored("exclusiveMaximum")))
            carry.getOrElse(k, Nil)
              .foreach(s => Option(sub.get(s)).foreach(slice.set[JsonNode](s, _)))
            val c = toConstraint(slice, root, Set.empty, subDraft)
            // the prefixItems slice inside a MODERN items-slice is only
            // there to offset items; it emits its own constraint from
            // its own keyword iteration, so drop it from the items slice
            // result. Plain Items is matched too: an EMPTY prefixItems
            // array compiles items without offset, and the extraction
            // must not fall through to the AllOf carrying the redundant
            // PrefixItems (round-1 ADVICE, low). The LEGACY items-array
            // slice is exempt: there its PrefixItems IS the items
            // semantic, not a sibling duplicate.
            val cleaned = c match {
              case Constraint.AllOf(xs) if k == "items" && sub.has("prefixItems") =>
                xs.find(x => x.isInstanceOf[Constraint.ItemsFrom] || x.isInstanceOf[Constraint.Items])
                  .getOrElse(c)
              case other => other
            }
            out += FieldConstraint(s"$prefix$field.$k", field, wrap(cleaned))
          }
        }
        }
      }
    }
  }

  def toConstraint(n: JsonNode): Constraint =
    toConstraint(n, n, Set.empty, if (n.isObject) draftOf(n, ModernDraft) else ModernDraft)

  private def anyVal(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isTextual) n.asText()
    else if (n.isNull) null
    else throw new IllegalArgumentException(s"unsupported constant: $n")

  /** Static evaluated-index info for `unevaluatedItems` (the
    * compile-time mirror of find_evaluated_item_indexes_by_schema,
    * PJS:_utils.py:184-258): `prefixLen` = length of the contiguous
    * evaluated prefix (union over all contributing applicators = max,
    * since each contributes positions 0..len-1), `contains` = compiled
    * contains subschemas whose matches are evaluated pointwise,
    * `everything` = some applicator in the closure evaluates every
    * element (uI vacuous), `cond` = contributions gated on a branch's
    * per-row validity. The walk recurses through applicator branches and
    * through `$ref`/`$dynamicRef`/`$recursiveRef` targets (r4b), the
    * latter via [[withRef]] like the assertion compiled beside it.
    */
  private final case class EvalIdx(prefixLen: Int, contains: Seq[Constraint],
                                   everything: Boolean,
                                   cond: Seq[(Constraint, EvalIdx)]) {
    def base: EvalIdx = copy(cond = Nil)
    def nonEmptyBase: Boolean = prefixLen > 0 || contains.nonEmpty || everything
  }

  private def evaluatedIndexInfo(n: JsonNode, root: JsonNode, seen: Set[RefId],
                                 inheritedDraft: Int,
                                 ownUi: Boolean = true): EvalIdx = {
    if (n.isBoolean) return EvalIdx(0, Nil, everything = false, Nil)
    val draft = draftOf(n, inheritedDraft)
    var plen = 0
    var everything = false
    val cont = Seq.newBuilder[Constraint]
    val cond = Seq.newBuilder[(Constraint, EvalIdx)]
    def merge(e: EvalIdx): Unit = {
      plen = math.max(plen, e.prefixLen)
      everything ||= e.everything
      cont ++= e.contains
      cond ++= e.cond
    }
    // a contribution that only counts when `gate` holds for the row;
    // nested conditionals flatten with AND-composed gates (the tracker
    // recurses into a VALID branch, whose own gated parts then apply
    // under their own validity)
    def gatedMerge(gate: Constraint, e: EvalIdx): Unit = {
      if (e.nonEmptyBase) cond += (gate -> e.base)
      e.cond.foreach { case (g2, e2) => cond += (AllOf(Seq(gate, g2)) -> e2) }
    }
    Option(n.get("items")).foreach { it =>
      if (!it.isArray) everything = true // 2020-12 schema form: evaluates the rest
      else {
        plen = math.max(plen, it.size()) // 2019-09 positional form
        if (n.has("additionalItems")) everything = true
      }
    }
    Option(n.get("prefixItems")).foreach(p => plen = math.max(plen, p.size()))
    // the tracker treats `contains` and `unevaluatedItems` IDENTICALLY:
    // an element valid against either subschema counts evaluated
    // (PJS:_utils.py:243-247 `for keyword in ["contains",
    // "unevaluatedItems"]`). For the node whose uI is being compiled
    // the self-contribution is a provable no-op ("matches u OR u"), so
    // the TOP call skips it (ownUi=false) to keep the compiled tree
    // minimal; for a RECURSED node (combinator branch, ref target) its
    // own uI is load-bearing: the outer uI must exempt elements the
    // branch's uI validated (round-5 fix, live-pinned by the
    // fuzz_boundary corpus branch-ui groups).
    (if (ownUi) Seq("contains", "unevaluatedItems") else Seq("contains")).foreach(kw =>
      Option(n.get(kw)).foreach(c => cont += toConstraint(c, root, seen, draft)))
    // allOf merges UNCONDITIONALLY: the tracker gates on branch validity,
    // but a failing allOf branch fails the row anyway — verdict-exact.
    // Boolean branches contribute nothing (the tracker returns [] for
    // boolean schemas: PJS:_utils.py:190-191); evaluatedIndexInfo's own
    // isBoolean early-return implements that, so no shape raises here.
    Option(n.get("allOf")).foreach(_.asScala.foreach { b =>
      // boolean branches are legal (tracker parity); any OTHER
      // non-object node is malformed and must fail loudly HERE, not
      // rely on the separate main allOf parse path (r5 ADVICE)
      require(b.isObject || b.isBoolean,
        s"allOf branch must be an object or boolean schema, got: $b")
      merge(evaluatedIndexInfo(b, root, seen, draft))
    })
    // anyOf/oneOf: each branch contributes iff the row VALIDATES against
    // it (find_evaluated_item_indexes_by_schema's errs-is-None gate)
    Seq("anyOf", "oneOf").foreach { kw =>
      Option(n.get(kw)).foreach(_.asScala.foreach { b =>
        gatedMerge(toConstraint(b, root, seen, draft), evaluatedIndexInfo(b, root, seen, draft))
      })
    }
    // if/then under if-validity; else under its negation. `not` is NOT
    // in the tracker's keyword set — it contributes nothing and is
    // deliberately ignored here (it asserts via its own slice).
    Option(n.get("if")).foreach { ifN =>
      val g = toConstraint(ifN, root, seen, draft)
      val ifInfo = evaluatedIndexInfo(ifN, root, seen, draft)
      val thenInfo = Option(n.get("then"))
        .map(evaluatedIndexInfo(_, root, seen, draft))
        .getOrElse(EvalIdx(0, Nil, everything = false, Nil))
      gatedMerge(g, EvalIdx(
        math.max(ifInfo.prefixLen, thenInfo.prefixLen),
        ifInfo.contains ++ thenInfo.contains,
        ifInfo.everything || thenInfo.everything,
        ifInfo.cond ++ thenInfo.cond))
      Option(n.get("else")).foreach(e =>
        gatedMerge(Not(g), evaluatedIndexInfo(e, root, seen, draft)))
    }
    // ref targets merge unconditionally; the tracker follows all three
    // kinds (the 2019-09 one too), inside the target's resource
    Seq("$ref", "$dynamicRef", "$recursiveRef").foreach(kind =>
      Option(n.get(kind)).foreach(r => merge(withRef(kind, r.asText(), root, draft, seen) { t =>
        evaluatedIndexInfo(t.node, t.root, t.refs, t.draft)
      })))
    EvalIdx(plen, cont.result(), everything, cond.result())
  }

  /** Compile `unevaluatedItems` with its full sibling context `n`
    * (NOT a slice): base evaluated-prefix/contains from the walk, plus
    * the conditionally-valid contributors (anyOf/oneOf branch validity,
    * if-validity) folded into the LINEAR [[Constraint.UnevaluatedItems]]
    * encoding — effective prefix is the runtime max over active gates,
    * contains subschemas activate under their gate, so there is NO
    * contributor cap (the old 2^k IfThenElse expansion capped at 3).
    * Returns None when every element is unconditionally evaluated
    * (vacuous). Ungated shapes keep the plain ItemsFrom fast path.
    */
  private def unevaluatedItemsConstraint(n: JsonNode, root: JsonNode, seen: Set[RefId],
                                         draft: Int): Option[Constraint] = {
    val info = evaluatedIndexInfo(n, root, seen, draft, ownUi = false)
    if (info.everything) return None
    val u = toConstraint(n.get("unevaluatedItems"), root, seen, draft)
    if (info.cond.isEmpty)
      Some(ItemsFrom(info.prefixLen,
        if (info.contains.isEmpty) u else AnyOf(info.contains :+ u)))
    else Some(Constraint.UnevaluatedItems(
      info.prefixLen,
      info.cond.collect { case (g, e) if e.prefixLen > 0 => (g, e.prefixLen) },
      info.cond.collect { case (g, e) if e.everything => g },
      info.contains,
      info.cond.flatMap { case (g, e) => e.contains.map(g -> _) },
      u))
  }

  // ---- $ref machinery (REF:_core.py:653-698 static subset) --------------

  private def unescapePointer(seg: String): String =
    seg.replace("~1", "/").replace("~0", "~")

  /** Cycle-guard key for an active reference (see [[withRef]]): scoped
    * to a DOCUMENT by true reference identity, not the raw ref string —
    * with the multi-resource registry the same fragment string
    * ("#/$defs/s") legitimately appears in several documents, and
    * string-only keying misreported that as circular (round-3 review).
    * identityHashCode participates only in hashing; equality is `eq` on
    * the document node, so two distinct documents sharing a hash can
    * never collide into a false cycle (round-3 ADVICE, low).
    */
  private final class RefId(val root: JsonNode, val ref: String) {
    override def hashCode: Int = System.identityHashCode(root) * 31 + ref.hashCode
    override def equals(o: Any): Boolean = o match {
      case r: RefId => (r.root eq root) && r.ref == ref
      case _        => false
    }
    override def toString: String = ref
  }

  /** A resolved reference: the target node, its owning resource, the
    * dialect it inherits, and the active-ref set with this reference's
    * cycle key added.
    */
  private final case class RefTarget(node: JsonNode, root: JsonNode, draft: Int, refs: Set[RefId])

  /** The one reference resolver of the loader, shared by the
    * document-level walker, the field-level walker and the
    * unevaluatedItems evaluated-index walk: resolve `text` (the value of
    * keyword `kind`: `$ref`, `$dynamicRef` or `$recursiveRef`) from
    * resource `root`, refuse a cycle, and run `body` on the target inside
    * the target's resource. The reference likewise follows every ref —
    * its evaluated-item walk included (PJS:_utils.py:200-219) — through
    * one resolver lookup and scope push (REF:_core.py:709-725).
    *
    * Cycle key: a `$ref` target is a pure function of (root, text), so
    * its key is the referring resource plus the text; a `$dynamicRef` or
    * `$recursiveRef` target depends on the dynamic scope, so its key is
    * the target's resource plus the kind and text. Dialect: a
    * same-resource `$ref`/`$dynamicRef` target inherits the referrer's;
    * a cross-resource target, and a `$recursiveRef` (always a resource
    * root), starts from its resource's `$schema`.
    */
  private def withRef[A](kind: String, text: String, root: JsonNode, draft: Int,
                         active: Set[RefId])(body: RefTarget => A): A = {
    val (tRoot, target) = kind match {
      case "$ref"        => resolveRefTarget(text, root)
      case "$dynamicRef" => resolveDynamicTarget(text, root)
      case _             => val r = resolveRecursiveTarget(text, root); (r, r)
    }
    val key = new RefId(if (kind == "$ref") root else tRoot, kind + text)
    if (active.contains(key))
      throw new IllegalArgumentException(s"circular $kind '$text' — compile-time inlining cannot represent cycles")
    val tDraft = if ((tRoot eq root) && kind != "$recursiveRef") draft else draftOf(tRoot, draft)
    inResource(tRoot)(body(RefTarget(target, tRoot, tDraft, active + key)))
  }

  /** RFC 6901 JSON-pointer walk from `root` (objects by key, arrays by
    * index). Returns None when any step is missing.
    */
  private def pointerWalk(root: JsonNode, ptr: String): Option[JsonNode] = {
    if (ptr.isEmpty) return Some(root)
    var cur: JsonNode = root
    ptr.split("/", -1).foreach { seg0 =>
      val seg = unescapePointer(seg0)
      cur =
        if (cur == null) null
        else if (cur.isObject) cur.get(seg)
        else if (cur.isArray && seg.matches("0|[1-9][0-9]*")) cur.get(seg.toInt)
        else null
    }
    Option(cur)
  }

  /** `$anchor` lookup: scan the document for an object carrying
    * `$anchor: name` (≙ the reference's BFS subschema cache,
    * PJS:validators.py:1254-1262).
    */
  private def findAnchor(root: JsonNode, name: String): Option[JsonNode] =
    findAnchors(root, "$anchor", name).headOption

  /** All nodes in `root` carrying `<keyword>: name` (BFS, ≙ the
    * reference's subschema cache, PJS:validators.py:1254-1262). The
    * full list matters for `$dynamicAnchor`, where MORE than one
    * occurrence means re-binding is possible.
    */
  private def findAnchors(root: JsonNode, keyword: String, name: String): Seq[JsonNode] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
    val queue = scala.collection.mutable.Queue[JsonNode](root)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      if (n.isObject) {
        val a = n.get(keyword)
        if (a != null && a.isTextual && a.asText() == name) out += n
        n.properties().asScala.foreach(e => queue.enqueue(e.getValue))
      } else if (n.isArray) n.asScala.foreach(queue.enqueue(_))
    }
    out.toSeq
  }

  /** FULL compile-time `$dynamicRef` resolution (r4; upgraded from the
    * round-3 non-rebinding static subset). Compile-time `$ref` inlining
    * makes the reference's runtime dynamic scope STATIC at every
    * inlining site (dynScopeVar), so the runtime walk
    * (REF:jsonschema.py:595-620, `DynamicAnchor.resolve`) is reproduced
    * exactly, re-binding included:
    *  1. INITIAL resolution happens in the ref's OWN resource (2020-12
    *     §8.2.3.2): a `$dynamicAnchor` there activates the dynamic
    *     walk; a plain `$anchor` there bookends to ordinary `$ref`
    *     semantics; nothing there is UNRESOLVABLE — a foreign anchor
    *     never substitutes for a failed local resolution.
    *  2. When active, EVERY resource in the dynamic scope is checked
    *     (the reference `continue`s past non-declaring entries — the
    *     walk is NOT contiguous) and the OUTERMOST one declaring a
    *     same-name `$dynamicAnchor` wins (the reference's `last`
    *     overwrite in the innermost→outermost loop); plain `$anchor`s
    *     in scope never participate (isinstance DynamicAnchor check).
    *  3. Recursion through a re-bound target still raises via the
    *     cycle guard in [[withRef]], and a declaring document with a
    *     NESTED `$id` sub-resource raises — the flat registry does not
    *     model anchor ownership across embedded resources.
    */
  private def resolveDynamicTarget(ref: String, root: JsonNode): (JsonNode, JsonNode) = {
    val hash = ref.indexOf('#')
    require(hash >= 0 && !ref.substring(hash + 1).contains("/"),
      s"$$dynamicRef '$ref' must use a plain-name fragment")
    val name = ref.substring(hash + 1)
    val owner =
      if (hash == 0) root
      else registryVar.value.getOrElse(ref.substring(0, hash).stripSuffix("#"),
        throw new IllegalArgumentException(
          s"$$dynamicRef '$ref' base not in the resource registry (zero-egress closed world)"))
    // anchor-declaration test with the flat-registry soundness guard:
    // an anchor found inside an embedded $id sub-resource would be
    // mis-attributed to the outer document, so a declaring doc with a
    // nested $id raises rather than risking a wrong winner
    def declares(d: JsonNode): Boolean = {
      val hit = findAnchors(d, "$dynamicAnchor", name).nonEmpty
      if (hit) require(!hasNestedId(d),
        s"$$dynamicRef '$ref': a document declaring $$dynamicAnchor '$name' embeds a nested $$id " +
          "sub-resource — anchor ownership across embedded resources is not modeled (raises)")
      hit
    }
    if (declares(owner)) {
      // dynamic behavior active: walk the statically-known scope chain
      // outermost-first; the first declaring resource IS the
      // reference's final `last` (its loop runs innermost→outermost
      // and keeps overwriting). Fallback = the initial resolution.
      val winner = dynScopeVar.value.reverse.find(declares).getOrElse(owner)
      val anchors = findAnchors(winner, "$dynamicAnchor", name)
      require(anchors.size == 1,
        s"$$dynamicRef '$ref': $$dynamicAnchor '$name' declared ${anchors.size} times in one " +
          "resource — ambiguous (malformed schema)")
      (winner, anchors.head)
    } else
      findAnchor(owner, name).map { a =>
        require(!hasNestedId(owner),
          s"$$dynamicRef '$ref': bookend resource embeds a nested $$id sub-resource — anchor " +
            "ownership across embedded resources is not modeled (raises)")
        owner -> a
      }.getOrElse(throw new IllegalArgumentException(s"unresolvable $$dynamicRef '$ref'"))
  }

  /** FULL compile-time 2019-09 `$recursiveRef` resolution (r4; upgraded
    * from the round-3 non-rebinding static subset). The reference
    * resolves `#` to the CURRENT resource root, then — only when that
    * root carries a truthy `$recursiveAnchor` — walks the dynamic scope
    * OUTWARD, contiguously while each root is anchored, breaking at the
    * first unanchored one, and lands on the outermost contiguously-
    * anchored root (REF:jsonschema.py:622-642, the `lookup("#")` +
    * `dynamic_scope()` loop with its `break`). The scope chain is
    * statically known under inlining (dynScopeVar), so the walk runs at
    * compile time. The genuinely recursive shapes (the re-bound outer
    * root transitively re-reaches the ref) raise via the cycle guard in
    * [[withRef]]; a nested `$id` sub-resource would re-base `#` to an
    * inner root the flat registry does not model → RAISE likewise.
    */
  private def resolveRecursiveTarget(ref: String, root: JsonNode): JsonNode = {
    require(ref == "#",
      s"$$recursiveRef must be '#' (2019-09 §8.2.4.2.1; the reference assumes the same, " +
        s"REF:jsonschema.py:626-628) — got '$ref'")
    require(!hasNestedId(root),
      "$recursiveRef inside a document with a nested $id sub-resource — '#' would re-base " +
        "to the inner resource root, which the flat registry cannot represent (raises)")
    def anchored(d: JsonNode): Boolean = d.isObject &&
      Option(d.get("$recursiveAnchor")).exists { a =>
        require(a.isBoolean, s"$$recursiveAnchor must be a boolean, got $a")
        a.asBoolean()
      }
    if (!anchored(root)) root
    else {
      // outward walk over the scope OUTSIDE the current resource
      // (the reference's `_previous` excludes the current base)
      val outward = dynScopeVar.value match {
        case h :: t if h eq root => t
        case s                   => s
      }
      var resolved = root
      var rest = outward
      while (rest.nonEmpty && anchored(rest.head)) {
        resolved = rest.head
        rest = rest.tail
      }
      require(!hasNestedId(resolved),
        "$recursiveRef '#': the re-bound outer root embeds a nested $id sub-resource — " +
          "not modeled by the flat registry (raises)")
      resolved
    }
  }

  /** Any `$id` on an object STRICTLY BELOW `root` (an embedded
    * sub-resource, which re-bases fragment resolution).
    */
  private def hasNestedId(root: JsonNode): Boolean = {
    val queue = scala.collection.mutable.Queue[(JsonNode, Boolean)]((root, true))
    var found = false
    while (queue.nonEmpty && !found) {
      val (n, isRoot) = queue.dequeue()
      if (n.isObject) {
        if (!isRoot && Option(n.get("$id")).exists(_.isTextual)) found = true
        n.properties().asScala.foreach(e => queue.enqueue((e.getValue, false)))
      } else if (n.isArray) n.asScala.foreach(c => queue.enqueue((c, false)))
    }
    found
  }

  /** Resolve a reference to (owningDocument, targetNode). A fragment ref
    * resolves inside `root`; an ABSOLUTE ref ("uri" / "uri#/ptr" /
    * "uri#anchor") switches to the registry resource for that base URI
    * (REF:_core.py:653-698's base-URI join + registry fetch, static
    * subset) — the owning document is returned so NESTED refs inside the
    * target resolve against the right root. Unknown base URIs raise,
    * mirroring referencing.exceptions.Unresolvable (zero-egress: the
    * caller-supplied registry is the closed world).
    */
  private def resolveRefTarget(ref: String, root: JsonNode): (JsonNode, JsonNode) =
    if (ref == "#" || ref == "") (root, root)
    else if (ref.startsWith("#/")) {
      // RFC 6901: "#/" is the pointer "/" — ONE empty segment (the
      // ""-named member), NOT the document root ("#" alone is the root;
      // round-4 review: drop(2) turned "#/" into the empty pointer)
      val target =
        if (ref == "#/") Option(root.get(""))
        else pointerWalk(root, ref.drop(2))
      (root, target
        .getOrElse(throw new IllegalArgumentException(s"unresolvable $$ref '$ref'")))
    }
    else if (ref.startsWith("#"))
      (root, findAnchor(root, ref.drop(1))
        .getOrElse(throw new IllegalArgumentException(s"unresolvable $$anchor ref '$ref'")))
    else {
      val (base, frag) = ref.indexOf('#') match {
        case -1 => (ref, "")
        case i  => (ref.substring(0, i), ref.substring(i))
      }
      val doc = registryVar.value.getOrElse(base.stripSuffix("#"),
        throw new IllegalArgumentException(
          s"non-fragment $$ref '$ref' not in the resource registry: zero-egress, suites must be " +
            "self-contained (mirrors referencing.exceptions.Unresolvable, REF:_core.py:658-686)"))
      (doc, resolveRefTarget(if (frag.isEmpty) "#" else frag, doc)._2)
    }

  /** `root` is the resource the node belongs to, for pointer/anchor
    * refs; `activeRefs` guards against circular inlining.
    */
  private def toConstraint(n: JsonNode, root: JsonNode, activeRefs: Set[RefId],
                           inheritedDraft: Int): Constraint = {
    if (n.isBoolean) return Always(n.asBoolean())
    require(n.isObject, s"schema must be object or boolean, got $n")
    val draft = draftOf(n, inheritedDraft)
    val cs = scala.collection.mutable.ArrayBuffer.empty[Constraint]

    def ref(kind: String, v: JsonNode): Constraint =
      withRef(kind, v.asText(), root, draft, activeRefs)(t => toConstraint(t.node, t.root, t.refs, t.draft))

    // pre-2019 drafts: $ref OVERRIDES its siblings — everything else in
    // this object is discarded (ignore_ref_siblings,
    // PJS:_legacy_keywords.py:9-21)
    if (refOverridesSiblings(draft) && n.has("$ref")) return ref("$ref", n.get("$ref"))

    def sub(v: JsonNode): Constraint = toConstraint(v, root, activeRefs, draft)

    // draft-4 boolean exclusive-bound forms: `exclusiveMinimum: true`
    // modifies the sibling `minimum` (PJS:_legacy_keywords.py:124-149)
    def boolExcl(key: String): Boolean =
      booleanExclusive(draft) && Option(n.get(key)).exists(b => b.isBoolean && b.asBoolean())

    n.properties().asScala.foreach { e =>
      val (k, v) = (e.getKey, e.getValue)
      k match {
        case "type" =>
          val raw = if (v.isArray) v.asScala.toSeq else Seq(v)
          raw.foreach(t => require(t.isTextual, s"type entries must be type names, got $t"))
          // draft-3 admits "any" (PJS:_types.py:26-28 is_any): always-pass
          def mk(t: String): Constraint = if (t == "any" && draft <= 3) Always(true) else TypeIs(t)
          val ts = raw.map(_.asText())
          cs += (if (ts.length == 1) mk(ts.head) else AnyOf(ts.map(mk)))
        case "enum"  => cs += Enum(v.asScala.map(anyVal).toSeq)
        case "const" =>
          requireDraft("const", 6, draft)
          cs += Const(anyVal(v))
        case "minimum" => cs += Minimum(v.asDouble(), exclusive = boolExcl("exclusiveMinimum"))
        case "maximum" => cs += Maximum(v.asDouble(), exclusive = boolExcl("exclusiveMaximum"))
        case "exclusiveMinimum" if v.isBoolean =>
          require(booleanExclusive(draft), "boolean exclusiveMinimum is a draft-3/4 form; later drafts need a number")
        case "exclusiveMaximum" if v.isBoolean =>
          require(booleanExclusive(draft), "boolean exclusiveMaximum is a draft-3/4 form; later drafts need a number")
        case "exclusiveMinimum" =>
          requireDraft("numeric exclusiveMinimum", 6, draft)
          cs += Minimum(v.asDouble(), exclusive = true)
        case "exclusiveMaximum" =>
          requireDraft("numeric exclusiveMaximum", 6, draft)
          cs += Maximum(v.asDouble(), exclusive = true)
        case "multipleOf" =>
          // draft-3 spells this divisibleBy; multipleOf arrived in draft-4
          requireDraft("multipleOf", 4, draft)
          // k ≤ 0: pmod-by-zero is SQL NULL, which the null gate would
          // resolve to an unconditional PASS — a silent weakening; the
          // reference raises (ZeroDivisionError), so the loader does too
          require(v.asDouble() > 0, s"multipleOf must be > 0, got $v")
          cs += MultipleOf(v.asDouble())
        case "minLength" => cs += MinLength(v.asInt())
        case "maxLength" => cs += MaxLength(v.asInt())
        case "pattern" => cs += Pattern(v.asText())
        case "format" => cs += Format(v.asText())
        case "prefixItems" =>
          requireDraft("prefixItems", 2020, draft)
          cs += PrefixItems(v.asScala.map(sub).toSeq)
        case "minItems" => cs += MinItems(v.asInt())
        case "maxItems" => cs += MaxItems(v.asInt())
        case "uniqueItems" => if (v.asBoolean()) cs += UniqueItems()
        case "items" if legacyItems(draft) && v.isArray =>
          // pre-2020-12 positional form: `items: [s0, s1, …]` ≙
          // prefixItems, with sibling `additionalItems` constraining the
          // rest (PJS:_legacy_keywords.py:41-77)
          cs += PrefixItems(v.asScala.map(sub).toSeq)
          Option(n.get("additionalItems")).foreach(ai => cs += ItemsFrom(v.size(), sub(ai)))
        case "items" =>
          // 2020-12: with sibling prefixItems, items starts after the
          // prefix positions (PJS:_keywords.py:59-82)
          val prefixLen = Option(n.get("prefixItems")).map(_.size()).getOrElse(0)
          cs += (if (prefixLen == 0) Items(sub(v)) else ItemsFrom(prefixLen, sub(v)))
        case "additionalItems" =>
          // consumed by the legacy items-array case; the spec IGNORES it
          // when `items` is absent or a single schema
          require(legacyItems(draft), "additionalItems is a pre-2020-12 keyword; use prefixItems+items")
        case "unevaluatedItems" =>
          requireDraft("unevaluatedItems", 2019, draft)
          // Decidable subset of the annotation semantics
          // (PJS:_keywords.py:392-404): the evaluated-index set is
          // computed at COMPILE time by [[evaluatedIndexInfo]] —
          // prefixItems / items(-array) / additionalItems contribute
          // contiguous prefixes (union = max), `items` schema form (or
          // additionalItems after an items array) evaluates everything
          // (unevaluatedItems vacuous), and — r4b — the walk follows
          // `allOf` branches and `$ref` targets recursively, exactly
          // like find_evaluated_item_indexes_by_schema. A `contains`
          // anywhere in the closure marks its MATCHING elements
          // evaluated (both 2019-09 and 2020-12), which is data-
          // dependent per element but pointwise-expressible: an element
          // past the prefix is unevaluated iff it matches NO contains,
          // so `unevaluatedItems: U` becomes "matches any contains OR U"
          // over those positions (exact — minContains/maxContains don't
          // change the per-element annotation). anyOf/oneOf/if arms fold
          // in as per-row GATED contributors (r4 widening); `not` never
          // contributes (the tracker skips it). The only remaining raise
          // is a CYCLIC ref reachable from the walk — compile-time
          // inlining cannot represent cycles (pinned by the boundary
          // fuzz kind, fuzz_boundary_cases.json).
          unevaluatedItemsConstraint(n, root, activeRefs, draft).foreach(cs += _)
        case "contains" =>
          requireDraft("contains", 6, draft)
          // min/maxContains are 2019-09+: under draft-6/7 the reference
          // ignores them and contains means "at least one"
          val mn = if (draft >= 2019)
            Option(n.get("minContains")).map(_.asInt()).getOrElse(1) else 1
          val mx = if (draft >= 2019)
            Option(n.get("maxContains")).map(_.asInt()).getOrElse(Int.MaxValue) else Int.MaxValue
          cs += Contains(sub(v), mn, mx)
        case "allOf" =>
          requireDraft("allOf", 4, draft); cs += AllOf(v.asScala.map(sub).toSeq)
        case "anyOf" =>
          requireDraft("anyOf", 4, draft); cs += AnyOf(v.asScala.map(sub).toSeq)
        case "oneOf" =>
          requireDraft("oneOf", 4, draft); cs += OneOf(v.asScala.map(sub).toSeq)
        case "not" =>
          requireDraft("not", 4, draft); cs += Not(sub(v))
        case "if" =>
          requireDraft("if/then/else", 7, draft)
          cs += IfThenElse(sub(v),
            Option(n.get("then")).map(sub),
            Option(n.get("else")).map(sub))
        case "$ref" => cs += ref(k, v)
        case "$dynamicRef" =>
          requireDraft("$dynamicRef", 2020, draft)
          // full compile-time resolution incl. re-binding (r4) — see
          // resolveDynamicTarget; the statically-known scope chain
          // replaces the reference's runtime walk
          cs += ref(k, v)
        case "$dynamicAnchor" =>
          requireDraft("$dynamicAnchor", 2020, draft)
          // declaration marker only (names this node); the re-binding
          // guard lives at RESOLUTION time in resolveDynamicTarget
          require(v.isTextual, "$dynamicAnchor must be a string")
        case "$recursiveRef" =>
          require2019Only("$recursiveRef", draft)
          // full compile-time resolution incl. the outward dynamic-scope
          // walk (r4) — see resolveRecursiveTarget
          cs += ref(k, v)
        case "$recursiveAnchor" =>
          require2019Only("$recursiveAnchor", draft)
          // declaration marker only; the re-binding guard lives at
          // RESOLUTION time in resolveRecursiveTarget
          require(v.isBoolean, "$recursiveAnchor must be a boolean")
        // ---- draft-3 specific forms (round-2 VERDICT item 8; the
        // dialect map claims draft-03, so its own keywords must load:
        // PJS:_legacy_keywords.py:152-229) ----
        case "divisibleBy" if draft <= 3 => // renamed multipleOf in draft-4
          require(v.asDouble() > 0, s"divisibleBy must be > 0, got $v")
          cs += MultipleOf(v.asDouble())
        case "extends" if draft <= 3 => // became allOf in draft-4
          if (v.isArray) cs += AllOf(v.asScala.map(sub).toSeq) else cs += sub(v)
        case "disallow" if draft <= 3 =>
          // negated type union (draft-3 §5.25: any match ⇒ invalid);
          // the rare schema-valued entries raise like other unsupported
          // applicator forms rather than silently weakening
          val entries = if (v.isArray) v.asScala.toSeq else Seq(v)
          val preds = entries.map { t =>
            require(t.isTextual, s"disallow supports type-name entries, got $t")
            if (t.asText() == "any") Always(true) else TypeIs(t.asText())
          }
          cs += Not(if (preds.length == 1) preds.head else AnyOf(preds))
        case "required" if draft <= 3 =>
          // draft-3 required is a BOOLEAN inside the property subschema
          // (moved to an object-level name list in draft-4)
          require(v.isBoolean, "draft-3 required must be boolean (inside the property subschema)")
          if (v.asBoolean()) cs += Required()
        // engine extension keywords (x- prefix, the JSON Schema custom-
        // keyword convention): cross-field invariants with no pure-JSON-
        // Schema analogue (≙ extend(validator, ...), PJS:validators.py:516)
        case "x-eqSizeOf"   => cs += EqSizeOf(v.asText())
        case "x-eqLengthOf" => cs += EqLengthOf(v.asText())
        // anchored siblings consumed by their anchor keyword above
        case "minContains" | "maxContains" | "then" | "else" => ()
        // annotations are ignored like the reference ignores them …
        case k0 if Annotations.contains(k0) => ()
        // … but an unsupported APPLICATOR must raise, not silently
        // weaken the suite (round-2, VERDICT item 5)
        case k0 if UnsupportedInField.contains(k0) =>
          throw new UnsupportedOperationException(
            s"keyword '$k0' unsupported inside a field subschema (column values are scalars/arrays)")
        case k0 =>
          throw new UnsupportedOperationException(
            s"unknown keyword '$k0' — raising instead of silently dropping a possible applicator " +
              "(custom keywords use the x- prefix + ConstraintCompiler.extensions)")
      }
    }
    cs.toList match {
      case Nil      => Always(true)
      case c :: Nil => c
      case many     => AllOf(many)
    }
  }
}
