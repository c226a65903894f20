package graft.compilex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.suite.{Constraint, FieldConstraint, Suite}
import graft.suite.Constraint._

/** Compiles the Constraint ADT into Catalyst Column expression trees.
  *
  * Mirror of the reference's compile-once keyword dispatch
  * (PJS:validators.py:293-297) — but where the reference then interprets
  * row-at-a-time and descends per array element
  * (PJS:validators.py:396-446, measured ~75x overhead, BASELINE.md), we
  * emit ONE projection containing every constraint as a codegen'd
  * predicate, so the table is scanned exactly once per run regardless of
  * how many constraints the suite holds (SURVEY.md §4.3.2).
  *
  * Each constraint compiles to a (pass: Column, observed: Column) pair;
  * `observed` is only materialized for failing rows (violation stream ≙
  * iter_errors, PJS:validators.py:349-394).
  *
  * Extension registry: like the reference's `extend(validator,
  * {keyword: fn})` (PJS:validators.py:516-598), callers may register
  * custom keyword compilers keyed by constraint class via [[extensions]].
  */
object ConstraintCompiler {

  /** A compiled constraint: named predicate + observed-value extractor. */
  final case class Compiled(id: String, pass: Column, observed: Column)

  type ElementCompiler = PartialFunction[Constraint, Column => Column]

  /** Pluggable keyword compiler extensions (≙ TypeChecker.redefine,
    * PJS:_types.py:122-154), applied to field values and array elements
    * alike. Checked before the built-in table.
    */
  @volatile var extensions: ElementCompiler = PartialFunction.empty

  /** Numeric bound literal: keep the int fast path for integral bounds
    * (identical plans to round-2), but NEVER truncate a fractional
    * bound — `minimum: 2.5` must compare at 2.5, not 2 (round-3
    * review: the int cast silently weakened fractional bounds).
    */
  private def numLit(b: Double): Column =
    if (b.isWhole && math.abs(b) <= Int.MaxValue) lit(b.toInt)
    // an integral bound stays an INTEGER literal up to 2^62 (safely
    // inside Long), so a LONG column compares in exact 64-bit integer
    // arithmetic: with a double literal the column itself is promoted
    // and values adjacent to the bound past 2^53 collapse onto it
    // (e.g. exclusiveMinimum 2^53 vs instance 2^53+1 — the reference
    // compares exact ints and says pass; the double path said fail).
    // Bounds must themselves be binary64-representable — they arrive
    // through the JSON number model (asDouble), the same boundary every
    // float64-parsing engine has. The guard runs to 2^63 EXCLUSIVE
    // (round-4 ADVICE): every whole double strictly below 2^63 converts
    // exactly via toLong (ulp ≤ 1024 there, all values integral), so
    // bounds in (2^62, 2^63) keep the exact-integer path too — the
    // double-literal fallback is only for |b| ≥ 2^63, where Long cannot
    // represent the bound and the column is double-typed anyway.
    else if (b.isWhole && math.abs(b) < 9.223372036854776E18) lit(b.toLong)
    else lit(b)

  /** multipleOf: an INTEGRAL divisor uses `pmod` on the column's own
    * type — exact 64-bit integer remainders for long columns (the
    * double cast collapsed values past 2^53; the reference computes
    * exact int %). A fractional divisor keeps the IEEE double
    * remainder, bit-matching the reference's float `%` for the
    * positive divisors the spec admits (curated-pinned).
    */
  private def multipleOfPred(f: Column, k: Double): Column =
    if (k.isWhole && math.abs(k) < 9.223372036854776E18) // 2^63 excl., same guard as numLit
      pmod(f, numLit(k)) === lit(0)
    else pmod(f.cast("double"), lit(k)) === lit(0.0)

  /** Format-checker registry (≙ FormatChecker.checks, PJS:_format.py:57-168):
    * each format is a Column predicate — `to_date`/`to_timestamp` parse
    * checks or anchored regexes, all codegen'd, UDF-free. Extend via
    * [[formatExtensions]].
    */
  @volatile var formatExtensions: Map[String, Column => Column] = Map.empty

  def formatPred(name: String, f: Column): Column =
    formatExtensions.get(name).map(_(f)).getOrElse(name match {
      // full-date: strict shape + proleptic-calendar validity + the
      // reference's year>=1 floor (PJS is_date = _RE_DATE.fullmatch +
      // date.fromisoformat; Python's date has no year 0) — pinned by
      // the fuzz-format corpus
      case "date" =>
        f.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$") && !f.startsWith("0000") &&
          try_to_timestamp(f, lit("yyyy-MM-dd")).isNotNull
      // RFC 3339 date-time matching the reference's
      // validate_rfc3339(instance.upper()): 'T'/'t' separator only,
      // optional fraction (>=1 digit, '.' only), offset REQUIRED
      // (Z/z or +-(00-23):(00-59)), no leap second, calendar-checked
      // date part, year >= 1 — pinned by the fuzz-format corpus
      case "date-time" =>
        f.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt]([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]" +
          "(\\.[0-9]+)?([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$") &&
          !f.startsWith("0000") &&
          try_to_timestamp(substring(f, 1, 10), lit("yyyy-MM-dd")).isNotNull
      // PJS is_uuid = UUID(instance) + dashes at positions 8/13/18/23:
      // Python's UUID strips ALL dashes before its 32-hex check, so
      // extra dashes are accepted in EVERY span — including the first
      // eight characters (seed-99 sweep find: '51-99E8e-…' is
      // reference-valid) — as long as the mandated positions hold and
      // exactly 32 hex digits remain. Pinned by the fuzz-format corpus
      // (near-miss group widths, in-span dash mutations).
      // EXCLUDED implementation pathology (round-4 ADVICE, same family
      // as the int(,16) whitespace boundary): UUID() also strips
      // '{}'/'urn:'/'uuid:' wrappers BEFORE the hex check, so a
      // brace-shifted form like '{1234567-89ab-cdef-0123-456789abcdef0}'
      // (dash positions 8/13/18/23 hold on the wrapped string, 32 hex
      // after strip) is reference-valid; the engine rejects wrappers.
      // fz_uuid only emits non-compensated wrappers — deliberate.
      case "uuid" =>
        f.rlike("^[0-9a-fA-F-]{8}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]{4}-[0-9a-fA-F-]*$") &&
          length(translate(f, "-", "")) === 32
      case "ipv4" =>
        f.rlike("^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$")
      // EXACT reference semantics (PJS:_format.py is_email, registered
      // for BOTH email and idn-email): the reference's checker is
      // literally `"@" in instance` — deliberate laxity mirrored for
      // parity, pinned by the fuzz-format corpus. A stricter RFC-shape
      // checker belongs in formatExtensions if a deployment wants one.
      case "email" | "idn-email" => f.contains("@")
      // RFC3339 full-time (2020-12 draft-bound checker semantics:
      // offset REQUIRED, Z/z accepted); leap seconds excluded like the
      // reference's own declared skips (PJS:tests/...:73-115)
      case "time" =>
        f.rlike("^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](\\.[0-9]+)?([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])$")
      // EXACT reference semantics (PJS is_ipv6 = ipaddress.IPv6Address
      // + no scope id): the RFC 3986 IPv6address grammar — '::' elides
      // >=1 group (explicit groups <=7 when present, exactly 8
      // otherwise), h16 = 1-4 hex digits, embedded dotted-quad takes
      // the last TWO group slots with Python-strict octets (no leading
      // zeros); no scope id/brackets/whitespace. Pinned by the
      // fuzz-format corpus against the live reference checker.
      case "ipv6" => {
        val h = "[0-9a-fA-F]{1,4}"
        val o = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
        val v4 = s"($o\\.){3}$o"
        val ls32 = s"($h:$h|$v4)"
        f.rlike(
          s"^(($h:){6}$ls32" +
          s"|::($h:){5}$ls32" +
          s"|($h)?::($h:){4}$ls32" +
          s"|(($h:)?$h)?::($h:){3}$ls32" +
          s"|(($h:){0,2}$h)?::($h:){2}$ls32" +
          s"|(($h:){0,3}$h)?::$h:$ls32" +
          s"|(($h:){0,4}$h)?::$ls32" +
          s"|(($h:){0,5}$h)?::$h" +
          s"|(($h:){0,6}$h)?::)$$")
      }
      case "json-pointer" => f.rlike("^(/([^/~]|~[01])*)*$")
      case "hostname" => f.rlike("^(?=.{1,253}$)([a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?\\.)*[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?$")
      case "uri"      => f.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://[^\\s]+$")
      // ---- round-2 registry growth (VERDICT item 7) ----
      // validity-of-a-regex (PJS is_regex = re.compile; Java dialect,
      // documented like the pattern keyword's caveat)
      case "regex" => graft.functions.RegexValid.regex_valid(f)
      // Relative pointer with EXACT reference semantics (PJS _format.py
      // is_relative_json_pointer): the reference's hand-rolled scanner
      // rejects ANY digit that immediately follows a '0' — not just a
      // leading zero — so spec-valid prefixes like '100'/'205'/'1023'
      // are reference-INVALID (verified live against jsonschema 4.26.0;
      // round-4 ADVICE find). Valid prefixes are exactly 0 | [1-9]+0?
      // (a '0' can only be the lone prefix or the final digit), then
      // '#' or a JSON pointer. Pinned by interior-zero curated cases +
      // the widened fz_reljsonptr pool.
      case "relative-json-pointer" =>
        f.rlike("^(0|[1-9]+0?)(#|(/([^/~]|~[01])*)*)$")
      // idn-hostname: documented approximation of the reference's idna
      // encode with UTS-46 remapping (unicode letters/digits in
      // 1-63-char labels, no edge hyphens; uppercase accepted — the
      // remap lowercases, verified against the reference checker); the
      // full bidi/contextual rules are out of regex reach, mirroring
      // the reference's own declared-skip precedent
      case "idn-hostname" =>
        f.rlike("^(?=.{1,253}$)([\\p{L}\\p{N}]([\\p{L}\\p{N}-]{0,61}[\\p{L}\\p{N}])?\\.)*[\\p{L}\\p{N}]([\\p{L}\\p{N}-]{0,61}[\\p{L}\\p{N}])?$")
      // ISO 8601 duration (RFC 3339 appendix A): week form XOR
      // date/time components, integer fields (the reference env lacks
      // the isoduration package, so this checker is spec-derived and
      // spec-tested rather than reference-cross-checked)
      case "duration" =>
        f.rlike("^P(?:\\d+W|(?=\\d|T\\d)(?:\\d+Y)?(?:\\d+M)?(?:\\d+D)?(?:T(?=\\d)(?:\\d+H)?(?:\\d+M)?(?:\\d+S)?)?)$")
      // RFC 3986 URI-reference grammar approximation (pct-encoded
      // triplets, reserved/unreserved classes; rejects spaces, <>,
      // backslash, bare %). The reference env lacks rfc3986-validator,
      // so this too is spec-derived, spec-tested.
      case "uri-reference" =>
        val pct = "%[0-9A-Fa-f]{2}"
        f.rlike(s"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?(?://(?:(?:[A-Za-z0-9\\-._~!$$&'()*+,;=:]|$pct)*@)?(?:\\[[0-9A-Fa-f:.]+\\]|(?:[A-Za-z0-9\\-._~!$$&'()*+,;=]|$pct)*)(?::[0-9]*)?)?(?:[A-Za-z0-9\\-._~!$$&'()*+,;=:@/]|$pct)*(?:\\?(?:[A-Za-z0-9\\-._~!$$&'()*+,;=:@/?]|$pct)*)?(?:#(?:[A-Za-z0-9\\-._~!$$&'()*+,;=:@/?]|$pct)*)?$$")
      // iri / iri-reference (RFC 3987): the URI grammars with the
      // unreserved class widened to unicode (ucschar). The reference
      // env lacks rfc3987, so these are spec-derived + spec-tested,
      // like duration/uri
      case "iri" =>
        f.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://[^\\s]+$")
      case "iri-reference" =>
        val pct = "%[0-9A-Fa-f]{2}"
        val c = s"[\\p{L}\\p{N}\\-._~!$$&'()*+,;=:@/]|$pct"
        f.rlike(s"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?(?://(?:$c|@)*)?(?:$c)*(?:\\?(?:$c|\\?)*)?(?:#(?:$c|\\?)*)?$$")
      // uri-template (RFC 6570): literals interleaved with
      // {op? varname(:maxlen|*)? (, ...)*} expressions; reference env
      // lacks uri-template, spec-derived + spec-tested
      case "uri-template" =>
        val varspec = "[A-Za-z0-9_](?:[A-Za-z0-9_.]|%[0-9A-Fa-f]{2})*(?::[1-9][0-9]{0,3}|\\*)?"
        f.rlike(s"^(?:[^{}]|\\{[+#./;?&=,!@|]?$varspec(?:,$varspec)*\\})*$$")
      // unknown format: annotation-only no-op, like the reference with
      // assertion disabled
      case _ => lit(true)
    })

  /** Name of the hidden pre-projected profile column for a fused field.
    * Fused constraints REFERENCE this column instead of re-embedding the
    * token_stats() tree: boolean AND short-circuits in generated code,
    * which puts all but the first occurrence in conditional branches
    * where codegen subexpression elimination cannot hoist them (measured
    * 0.83x WITHOUT pre-projection, i.e. 6 re-evaluations per row). A
    * separate lower projection evaluates it exactly once per row;
    * CollapseProject keeps it separate because the alias is expensive
    * and multiply-referenced.
    */
  def profCol(field: String): String = s"__prof_$field"

  /** Add the single-pass TokenStats profile columns for the given
    * array<int> fields. Must be applied to the DataFrame before
    * evaluating columns compiled with the same `fusedIntArrays`.
    *
    * A field whose profile column ALREADY EXISTS is left untouched —
    * that is how alternative storage layouts plug in: a layout that
    * pre-materializes `__prof_tokens` from its own encoding has every
    * fused constraint compile against it unchanged, no array column
    * required. (The one such layout measured so far, int32 blobs, lost
    * to array<int> + parquet v2 at 0.35x: BASELINE.md "Packed-binary
    * token layout", packed_probe.json.)
    */
  def withProfiles(df: DataFrame, fusedIntArrays: Set[String]): DataFrame =
    fusedIntArrays.foldLeft(df)((d, f) =>
      if (d.columns.contains(profCol(f))) d
      else d.withColumn(profCol(f), graft.functions.TokenStats.token_stats(col(f))))

  /** Compile one field constraint to (pass, observed). `col(field)` may
    * be any supported type; array-level keywords expect ArrayType.
    *
    * ONE keyword table, `check(c, v, prof)`, serves every value: `v` is
    * either the field column or an array element inside the
    * forall/exists/filter/aggregate lambdas of items, prefixItems,
    * contains and unevaluatedItems — the engine analogue of the
    * reference's per-element `descend` (PJS:validators.py:396-446),
    * minus its 75x interpretive cost. [[extensions]] are consulted
    * before the built-in cases.
    *
    * `fusedIntArrays`: fields known (by the caller's schema) to be
    * array<int> columns. For those, `prof` is the field's pre-projected
    * [[graft.functions.TokenStats]] profile ([[profCol]]) and the
    * `(keyword, Some(p))` cases read it instead of separate
    * forall/array_distinct/size traversals; `prof` is None for every
    * other field and for elements. Combinators pass it through.
    *
    * NULL semantics (critical for reference parity): JSON Schema
    * assertion keywords are TYPE-GATED — each keyword no-ops (passes) on
    * instances outside its type (e.g. `minimum` on a null/string
    * instance passes; PJS:_keywords.py:150-151 `if not
    * validator.is_type(instance, "number"): return`). A relational NULL
    * — a null field or a null array element alike — is the JSON `null`
    * instance, so every gated keyword compiles to `coalesce(pred, TRUE)`
    * (SQL 3VL yields NULL on null input, which we resolve to pass). Only
    * `required`/`type` fail nulls, and `enum`/`const` treat null as a
    * comparable constant. Every pass predicate is therefore a DEFINITE
    * boolean (never SQL NULL): combinators are pure two-valued boolean
    * algebra, and `forall`, `exists` and `size(filter(...))` over
    * elements agree with each other and with the reference.
    */
  def compile(fc: FieldConstraint, fusedIntArrays: Set[String] = Set.empty): Compiled = {
    def shown(x: Column): Column = coalesce(x.cast("string"), lit("null"))
    def gated(pred: Column): Column = coalesce(pred, lit(true))
    def profOf(field: String): Option[Column] =
      if (fusedIntArrays.contains(field)) Some(col(profCol(field))) else None

    def check(c: Constraint, v: Column, prof: Option[Column]): (Column, Column) = {
      def obsSelf: Column = shown(v)
      def pass(x: Constraint): Column = check(x, v, prof)._1
      def elem(x: Constraint): Column => Column = e => check(x, e, None)._1
      // every element passes; observed: the first offending element
      // (try_: null-safe on empty, ANSI mode makes plain element_at throw)
      def allElems(arr: Column, el: Constraint): (Column, Column) =
        (gated(forall(arr, elem(el))),
          shown(try_element_at(filter(arr, e => !elem(el)(e)), lit(1))))

      (c, prof) match {
        case _ if extensions.isDefinedAt(c) => (extensions(c)(v), obsSelf)
        case (Always(b), _) => (lit(b), lit("n/a"))

        // --- presence / type (PJS:_keywords.py:282-309) ---
        case (Required(), _)     => (v.isNotNull, lit("null"))
        case (TypeIs("null"), _) => (v.isNull, obsSelf)
        case (TypeIs(_), _)      => (v.isNotNull, lit("null"))

        // --- scalar bounds (PJS:_keywords.py:127-191); numLit keeps an
        //     integral bound an INT literal so int/long values compare
        //     without a per-row double promotion (and bigint values past
        //     2^53 compare exactly) ---
        case (Minimum(b, false), _) => (gated(v >= numLit(b)), obsSelf)
        case (Minimum(b, true), _)  => (gated(v > numLit(b)), obsSelf)
        case (Maximum(b, false), _) => (gated(v <= numLit(b)), obsSelf)
        case (Maximum(b, true), _)  => (gated(v < numLit(b)), obsSelf)
        case (MultipleOf(k), _)     => (gated(multipleOfPred(v, k)), obsSelf)

        // --- string (PJS:_keywords.py:215-240; Spark length() is
        //     code-point based on strings, matching the spec) ---
        case (Format(name), _) =>
          // explicit null gate: try_to_timestamp(null).isNotNull is a
          // definite FALSE (not NULL), so coalesce-gating can't apply
          (when(v.isNull, lit(true)).otherwise(gated(formatPred(name, v))), obsSelf)
        case (MinLength(n), _) => (gated(length(v) >= lit(n)), shown(length(v)))
        case (MaxLength(n), _) => (gated(length(v) <= lit(n)), shown(length(v)))
        case (Pattern(re), _)  => (gated(v.rlike(re)), obsSelf)

        // --- enum/const: deep structural equality is native in Spark for
        //     arrays/structs (PJS:_utils.py:127-153; SURVEY.md §1.2).
        //     enum/const apply to ALL types including null, so null does
        //     NOT gate: null passes iff null is among the constants. ---
        case (Enum(vs), _) =>
          val nonNull = vs.filter(_ != null)
          val base = if (nonNull.isEmpty) lit(false) else v.isin(nonNull: _*)
          (when(v.isNull, lit(vs.contains(null))).otherwise(coalesce(base, lit(false))), obsSelf)
        case (Const(null), _) => (v.isNull, obsSelf)
        case (Const(x), _)    => (coalesce(v === lit(x), lit(false)), obsSelf)

        // --- array (PJS:_keywords.py:59-124,194-212); a `Some(p)` case
        //     reads the fused single-pass TokenStats profile instead of
        //     traversing the array ---
        case (MinItems(k), Some(p))   => (gated(p("n") >= lit(k)), shown(p("n")))
        case (MinItems(n), _)         => (gated(size(v) >= lit(n)), shown(size(v)))
        case (MaxItems(k), Some(p))   => (gated(p("n") <= lit(k)), shown(p("n")))
        case (MaxItems(n), _)         => (gated(size(v) <= lit(n)), shown(size(v)))
        case (UniqueItems(), Some(p)) => (gated(p("dups") === 0), shown(p("dups")))
        case (UniqueItems(), _) =>
          // pairwise distinctness under structural equality; hash-based
          // O(n) vs the reference's sort fast-path (PJS:_utils.py:156-181)
          (gated(size(array_distinct(v)) === size(v)), shown(size(v) - size(array_distinct(v))))
        case (PrefixItems(cs), _) =>
          // element i checked only when present (PJS:_keywords.py:440-443
          // zips schema list with instance prefix)
          val preds = cs.zipWithIndex.map { case (c0, i) =>
            size(v) <= lit(i) || elem(c0)(element_at(v, i + 1))
          }
          (gated(preds.reduce(_ && _)), obsSelf)
        case (Items(Minimum(b, excl)), Some(p)) =>
          val ok = if (excl) p("tmin") > numLit(b) else p("tmin") >= numLit(b)
          (gated(p("n") === 0 || ok), shown(p("tmin")))
        case (Items(Maximum(b, excl)), Some(p)) =>
          val ok = if (excl) p("tmax") < numLit(b) else p("tmax") <= numLit(b)
          (gated(p("n") === 0 || ok), shown(p("tmax")))
        // THE hot path: codegen'd forall over array<int> — recovers the
        // reference's 75x per-element descent overhead (BASELINE.md)
        case (Items(el), _) => allElems(v, el)
        // items after prefixItems: two-arg filter lambda keeps elements
        // at index >= k without slice's negative-length edge cases
        case (ItemsFrom(k, el), _) => allElems(filter(v, (e, i) => i >= lit(k)), el)
        case (UnevaluatedItems(base, gp, ge, bc, gc, u), _) =>
          // linear encoding: prefix-max / contains-union / everything-OR
          // over the ACTIVE contributors only. Gates are row-level
          // predicates that may themselves be O(n) over this same array
          // (a contains gate is an exists, minItems is a size) — inside a
          // per-element lambda they would re-run once PER ELEMENT, an
          // O(k·n²)-per-row scan. aggregate()'s SEED is evaluated once
          // per row, so every gate result rides the fold as a struct
          // field and each element costs only field reads.
          val effSeed = (lit(base) +: gp.map { case (g, p) =>
            when(pass(g), lit(p)).otherwise(lit(0))
          }) match {
            case Seq(one)  => one
            case prefixes  => greatest(prefixes: _*)
          }
          val skipSeed = ge.map(pass).foldLeft(lit(false))(_ || _)
          val zero = struct(
            Seq(lit(0).as("i"), lit(true).as("ok"),
              lit(null).cast("string").as("bad"),
              effSeed.as("eff"), skipSeed.as("skip")) ++
              gc.zipWithIndex.map { case ((g, _), j) => pass(g).as(s"g$j") }: _*)
          // same truth table as the forall/filter pair it replaces:
          // `&&`-fold ≙ forall (false dominates, then null), `(!ok)===true`
          // ≙ filter-keeps-true for the first offending element
          def elemOk(acc: Column, e: Column): Column =
            (bc.map(c => elem(c)(e)) ++
              gc.zipWithIndex.map { case ((_, c), j) => acc(s"g$j") && elem(c)(e) } :+
              elem(u)(e)).reduce(_ || _)
          val agg = aggregate(v, zero, (acc, e) => {
            val evaluated = acc("i") < acc("eff")
            val ok = elemOk(acc, e)
            struct(
              Seq((acc("i") + 1).as("i"),
                (acc("ok") && (evaluated || ok)).as("ok"),
                coalesce(acc("bad"),
                  when(!evaluated && coalesce(!ok, lit(false)), e.cast("string"))).as("bad"),
                acc("eff").as("eff"), acc("skip").as("skip")) ++
                gc.indices.map(j => acc(s"g$j").as(s"g$j")): _*)
          })
          (gated(agg("skip") || agg("ok")), coalesce(agg("bad"), lit("null")))
        case (Contains(el, 1, Int.MaxValue), _) =>
          // common case (minContains=1, no max): `exists` short-circuits on
          // first match and allocates nothing, vs filter()'s per-row result
          // array (measured 2.8s -> sub-second on 1M x 264-token rows).
          // Mirrors the reference's own early-exit (PJS:_keywords.py:103-110).
          // A failing row by definition contains zero matches.
          (gated(exists(v, elem(el))), lit("0"))
        case (Contains(el, mn, mx), _) =>
          val cnt = size(filter(v, elem(el)))
          val ok =
            if (mx == Int.MaxValue) cnt >= lit(mn)
            else cnt >= lit(mn) && cnt <= lit(mx)
          (gated(ok), shown(cnt))

        // --- combinators (PJS:_keywords.py:332-389); children are already
        //     null-resolved, so plain boolean algebra is exact ---
        case (AllOf(cs), _) => (cs.map(pass).reduce(_ && _), obsSelf)
        case (AnyOf(cs), _) => (cs.map(pass).reduce(_ || _), obsSelf)
        case (OneOf(cs), _) => (cs.map(pass(_).cast("int")).reduce(_ + _) === lit(1), obsSelf)
        case (Not(x), _)    => (!pass(x), obsSelf)
        case (IfThenElse(i, t, e), _) =>
          val tp = t.map(pass).getOrElse(lit(true))
          val ep = e.map(pass).getOrElse(lit(true))
          (when(pass(i), tp).otherwise(ep), obsSelf)

        // --- cross-field / referential (engine keywords, not JSON Schema:
        //     null FAILS — data-quality semantics, `required` not implied) ---
        case (EqSizeOf(arr), _) =>
          val an = profOf(arr).fold(size(col(arr)))(_("n"))
          (coalesce(v === an, lit(false)), concat_ws("!=", obsSelf, an.cast("string")))
        case (EqLengthOf(sf), _) =>
          (coalesce(v === length(col(sf)), lit(false)),
            concat_ws("!=", obsSelf, length(col(sf)).cast("string")))
        case (DependentRequired(fields), _) =>
          (!v.isNotNull || fields.map(col(_).isNotNull).reduce(_ && _), obsSelf)
        case (PresentCount(mn, mx, cols), _) =>
          // min/maxProperties: present keys = non-null columns
          // (PJS:_keywords.py:312-329 over the fixed column universe)
          val cnt = cols.map(col(_).isNotNull.cast("int")).reduce(_ + _)
          val ok =
            if (mx == Int.MaxValue) cnt >= lit(mn)
            else if (mn <= 0) cnt <= lit(mx)
            else cnt >= lit(mn) && cnt <= lit(mx)
          (ok, cnt.cast("string"))
        case (WhenPresent(trigger, inner), _) =>
          // dependentSchemas implication (PJS:_keywords.py:257-266):
          // inner applies to THIS value only when `trigger` is present
          val (p, o) = check(inner, v, prof)
          (!col(trigger).isNotNull || p, o)
        case (FieldPresent(nm), _) =>
          // cross-field presence gate (conditionally-evaluated keys)
          (col(nm).isNotNull, obsSelf)
        case (OnField(nm, inner), _) =>
          // re-anchor: check `inner` against the named field (branch-
          // validity gates for conditionally-evaluated keys)
          (check(inner, col(nm), profOf(nm))._1, obsSelf)
        case (Ref(n), _) =>
          throw new IllegalStateException(s"unresolved $$ref '$n' — call Suite.resolved first")
      }
    }

    val (p, o) = check(fc.constraint, col(fc.field), profOf(fc.field))
    Compiled(fc.id, p, coalesce(o, lit("null")))
  }

  /** Compile a whole suite to a single `checks` column:
    * array<struct<cid,pass,observed>> — ONE projection, one table scan,
    * all constraints (SURVEY.md §4.3.2).
    */
  def checksColumn(suite: Suite, fusedIntArrays: Set[String] = Set.empty): Column = {
    val cs = suite.resolved.constraints.map(compile(_, fusedIntArrays))
    // observed is computed LAZILY (only on failure): codegen evaluates the
    // when-branch conditionally, so passing rows never pay for the
    // observed-value extraction (e.g. Items' filter() re-scan of the
    // token array) — the single-scan violation capture of SURVEY.md §7.
    array(cs.map(c => struct(
      lit(c.id).as("cid"),
      c.pass.as("pass"),
      when(!c.pass, c.observed).as("observed"))): _*)
  }

  /** Per-constraint fail/total counts in ONE aggregation pass with NO
    * row explosion: each constraint contributes one conditional-sum
    * column, and the single result row is stacked to long format
    * (constraint_id, fails, n_rows). The explode-based alternative
    * (checksColumn + explode + groupBy) materializes #constraints
    * structs per row including lazily-built observed strings — measured
    * 7.2s vs sub-second for 9 constraints on 1M rows. Use this whenever
    * only counts are needed; use [[violations]] when the per-row stream
    * is the product.
    */
  def failCounts(df: DataFrame, suite: Suite, fusedIntArrays: Set[String] = Set.empty): DataFrame = {
    val cs = suite.resolved.constraints.map(compile(_, fusedIntArrays))
    // a suite whose keywords ALL discharge at compile time has zero row
    // constraints: zero count rows, not a malformed stack(0) (round-4
    // review; withVerdicts already documents the same vacuous case)
    if (cs.isEmpty)
      return withProfiles(df, fusedIntArrays).agg(count(lit(1)).as("__n"))
        .select(lit(null).cast("string").as("constraint_id"),
          lit(null).cast("long").as("fails"), col("__n").as("n_rows"))
        .filter(lit(false))
    val aggCols = cs.zipWithIndex.map { case (c, i) =>
      sum(when(!c.pass, 1L).otherwise(0L)).as(s"__f$i")
    } :+ count(lit(1)).as("__n")
    val row = withProfiles(df, fusedIntArrays).agg(aggCols.head, aggCols.tail: _*)
    // constraint ids are suite-author-controlled strings (arbitrary JSON
    // property names): escape backslash+quote so a name like
    // "o'brien.minLength" can't break or inject into the stack() SQL
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val stacked = cs.zipWithIndex
      .map { case (c, i) => s"'${esc(c.id)}', __f$i" }.mkString(", ")
    row.selectExpr(s"stack(${cs.length}, $stacked) AS (constraint_id, fails)", "__n AS n_rows")
  }

  /** df + boolean column per constraint (flat, codegen-friendly) plus a
    * `row_valid` conjunction (≙ is_valid short-circuit AND,
    * PJS:validators.py:485-500).
    */
  def withVerdicts(df: DataFrame, suite: Suite, fusedIntArrays: Set[String] = Set.empty): DataFrame = {
    val cs = suite.resolved.constraints.map(compile(_, fusedIntArrays))
    val withCols = cs.foldLeft(withProfiles(df, fusedIntArrays))((d, c) => d.withColumn(c.id, c.pass))
    // constraint ids contain dots — backtick-quote (doubling embedded
    // backticks, which arbitrary suite-author property names may carry)
    // to avoid field-access parsing; a suite whose keywords all
    // discharge at compile time (e.g. propertyNames every column name
    // satisfies) has ZERO row constraints and every row is vacuously valid
    withCols.withColumn("row_valid",
      cs.map(c => col(s"`${c.id.replace("`", "``")}`")).foldLeft(lit(true))(_ && _))
  }

  /** Keyword path of a constraint in the suite document, JSON-pointer
    * style (≙ ValidationError.schema_path, PJS:exceptions.py:153-163's
    * absolute path joined): ids follow `<field>.<kw...>`, so
    * `tokens.items.minimum` → `#/properties/tokens/items/minimum`.
    * Ids not rooted at their field (custom/extension constraints) map
    * under `#/` directly.
    */
  def schemaPathOf(fc: FieldConstraint): String =
    if (fc.id.startsWith(fc.field + "."))
      s"#/properties/${fc.field}/${fc.id.stripPrefix(fc.field + ".").replace('.', '/')}"
    else s"#/${fc.id.replace('.', '/')}"

  /** Violation rows: filter failing rows, explode only their failures —
    * the iter_errors stream (PJS:validators.py:349-394) at table scale.
    * Output: (doc_id, constraint_id, observed, source, json_path,
    * schema_path, message) — the last three mirror ValidationError's
    * debugging fields (PJS:exceptions.py:55-91): `json_path` is the
    * instance path of the offending FIELD (element index intentionally
    * not tracked — `observed` already carries the first offending
    * element), `schema_path` the keyword path, `message` a
    * deterministic human-readable line. The path columns are derived
    * AFTER the explode from constraint_id via a linear coalesce-of-when
    * (constant per cid, so the per-row verdict struct stays small).
    *
    * `observe`: optional [[Observation]] collecting `(rows, viol)` —
    * total input rows and rows with ≥1 failure — as accumulator metrics
    * WHILE the violations stream past, so a caller needing both the
    * stream and the verdict counts pays ONE scan, not two
    * (ValidateJob.validatePartition; round-1 VERDICT item 3).
    */
  def violations(df: DataFrame, suite: Suite, keyField: String = "doc_id", partField: String = "source",
                 fusedIntArrays: Set[String] = Set.empty,
                 observe: org.apache.spark.sql.Observation = null): DataFrame = {
    // a zero-constraint suite still streams rows (the observe() rows
    // metric must count them) but its checks array is a VOID-typed
    // array() that the filter lambda cannot field-extract — substitute
    // a correctly-typed always-empty array (round-4 review)
    val checks =
      if (suite.resolved.constraints.isEmpty)
        array().cast("array<struct<cid:string,pass:boolean,observed:string>>")
      else checksColumn(suite, fusedIntArrays)
    val fails = filter(checks, c => !c("pass"))
    val base = withProfiles(df, fusedIntArrays)
      .select(col(keyField), col(partField), fails.as("_fails"))
    val observed =
      if (observe == null) base
      else base.observe(observe,
        count(lit(1)).as("rows"),
        sum(when(size(col("_fails")) > 0, 1L).otherwise(0L)).as("viol"))
    val fcs = suite.resolved.constraints
    // linear per-cid constant lookup (a when/otherwise FOLD would double
    // the tree per constraint — same codegen blowup as Ann.ivfAssign);
    // a zero-constraint suite explodes an always-empty _fails array, so
    // the lookup is never consulted — but coalesce() with ZERO args is
    // an analysis error, so guard it (round-4 review)
    def byCid(v: FieldConstraint => String): Column =
      if (fcs.isEmpty) lit(null).cast("string")
      else coalesce(fcs.map(fc => when(col("constraint_id") === fc.id, lit(v(fc)))): _*)
    ExactExplode(observed, col(keyField), col(partField))(col("_fails"), "v")
      .select(
        col(keyField).as("doc_id"),
        col("v.cid").as("constraint_id"),
        col("v.observed").as("observed"),
        col(partField).as("source"))
      .withColumn("json_path", byCid(fc => s"$$.${fc.field}"))
      .withColumn("schema_path", byCid(schemaPathOf))
      .withColumn("message",
        concat(col("constraint_id"), lit(" failed at "), col("json_path"),
          lit(": observed "), col("observed")))
  }
}
