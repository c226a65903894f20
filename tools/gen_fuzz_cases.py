#!/usr/bin/env python3
"""Deterministic fuzz-differential corpus generator.

Generates random (schema, instance) pairs inside the engine's supported
single-column subset, labels each with the LIVE reference validator
(jsonschema 4.26.0, draft 2020-12 — the SURVEY.md §0 stand-in), and
writes them in the golden-corpus case format to
src/test/resources/golden/fuzz_cases.json. FuzzSuiteSpec then asserts
the Spark engine row-for-row against these labels, and
check_golden_vs_reference.py re-derives the labels on every run — so
the committed corpus stays a closed loop (engine == corpus ==
reference) even if the generator is never re-run.

Deliberately EXCLUDED from generation (documented engine-model
boundaries, not gaps): `type` other than the column's own JSON type
(the relational model makes a static type mismatch a compile-time
error, SURVEY.md §1.3), `format` (checker registries are pinned
separately by the curated golden groups), non-integral `multipleOf`
(float-remainder semantics differ between IEEE engines and are pinned
by curated cases), mixed-type `enum` (column-typed universe), and
object-level applicators inside field subschemas (the loader raises).

Usage: gen_fuzz_cases.py [n_groups] [seed]
"""
import json
import random
import sys

import jsonschema

N = int(sys.argv[1]) if len(sys.argv) > 1 else 240
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 20260817
rng = random.Random(SEED)

STRINGS = ["", "a", "ab", "abc", "abcd", "doc-42", "web", "books",
           "Zürich", "née", "x" * 20, "0123456789", "b", "aXb"]
PATTERNS = ["^a", "b$", "^[0-9]+$", "^doc-[0-9]+$", "a.b", "^$", "[A-Z]"]
INTS = [-10, -1, 0, 1, 2, 3, 5, 7, 10, 63, 100, 262143, 262144]


def int_leaf():
    k = rng.choice(["minimum", "maximum", "exclusiveMinimum",
                    "exclusiveMaximum", "multipleOf", "enum", "const", "type"])
    if k in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
        return {k: rng.choice(INTS)}
    if k == "multipleOf":
        return {"multipleOf": rng.choice([1, 2, 3, 5, 7])}
    if k == "enum":
        return {"enum": rng.sample(INTS, rng.randint(1, 4))}
    if k == "const":
        return {"const": rng.choice(INTS)}
    return {"type": rng.choice(["integer", "null"])}


def string_leaf():
    k = rng.choice(["minLength", "maxLength", "pattern", "enum", "const", "type"])
    if k == "minLength":
        return {"minLength": rng.randint(0, 8)}
    if k == "maxLength":
        return {"maxLength": rng.randint(0, 8)}
    if k == "pattern":
        return {"pattern": rng.choice(PATTERNS)}
    if k == "enum":
        return {"enum": rng.sample(STRINGS, rng.randint(1, 4))}
    if k == "const":
        return {"const": rng.choice(STRINGS)}
    return {"type": rng.choice(["string", "null"])}


def combine(leaf, depth=0):
    """Wrap leaves in combinators / $ref indirection with bounded depth."""
    if depth >= 2 or rng.random() < 0.40:
        return leaf()
    if rng.random() < 0.22:
        # route through the reference machinery. A JSON-pointer $ref
        # ("#/$defs/x") resolves from the DOCUMENT ROOT, so the pointer
        # form is only generated at depth 0; the $anchor form is
        # document-wide and safe at any nesting level.
        inner = combine(leaf, depth + 1)
        name = f"d{depth}{rng.randint(0, 99)}"
        if depth == 0 and rng.random() < 0.5:
            return {"$defs": {name: inner}, "$ref": f"#/$defs/{name}"}
        anchored = dict(inner)
        anchored["$anchor"] = "a" + name
        return {"$defs": {name: anchored}, "$ref": f"#a{name}"}
    k = rng.choice(["allOf", "anyOf", "oneOf", "not", "if"])
    if k == "not":
        return {"not": combine(leaf, depth + 1)}
    if k == "if":
        s = {"if": combine(leaf, depth + 1)}
        if rng.random() < 0.8:
            s["then"] = combine(leaf, depth + 1)
        if rng.random() < 0.8:
            s["else"] = combine(leaf, depth + 1)
        return s
    n = rng.randint(1, 3)
    return {k: [combine(leaf, depth + 1) for _ in range(n)]}


def merge_leaves(leaf, n):
    """A single schema object carrying several sibling keywords."""
    s = {}
    for _ in range(n):
        for k, v in leaf().items():
            s.setdefault(k, v)
    return s


def array_schema():
    s = {}
    r = rng.random()
    if r < 0.3:
        s["items"] = merge_leaves(int_leaf, rng.randint(1, 2))
    elif r < 0.5:
        s["prefixItems"] = [merge_leaves(int_leaf, 1)
                            for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.5:
            s["items"] = merge_leaves(int_leaf, 1)
    elif r < 0.7:
        s["contains"] = merge_leaves(int_leaf, 1)
        if rng.random() < 0.4:
            s["minContains"] = rng.randint(0, 3)
        if rng.random() < 0.4:
            s["maxContains"] = rng.randint(1, 4)
    for extra in ("minItems", "maxItems", "uniqueItems"):
        if rng.random() < 0.25:
            s[extra] = rng.randint(0, 5) if extra != "uniqueItems" else True
    if rng.random() < 0.35:
        # unevaluatedItems over whatever siblings landed above — all
        # decidable in the engine: schema-form items makes it vacuous,
        # prefixItems sets the unevaluated offset, and contains exempts
        # its matching elements pointwise (r4)
        s["unevaluatedItems"] = (False if rng.random() < 0.5
                                 else merge_leaves(int_leaf, 1))
    return s or {"minItems": rng.randint(0, 3)}


def int_instance():
    return rng.choice(INTS + [None])


def string_instance():
    return rng.choice(STRINGS + [None])


def array_instance(nullable):
    if rng.random() < 0.08:
        return None
    n = rng.randint(0, 6)
    pool = INTS + ([None] * 3 if nullable else [])
    return [rng.choice(pool) for _ in range(n)]


def gen_group(i):
    kind = rng.choice(["int", "string", "array<int>", "array<int?>"])
    if kind == "int":
        schema = combine(int_leaf) if rng.random() < 0.6 else merge_leaves(int_leaf, 2)
        insts = [int_instance() for _ in range(6)]
    elif kind == "string":
        schema = combine(string_leaf) if rng.random() < 0.6 else merge_leaves(string_leaf, 2)
        insts = [string_instance() for _ in range(6)]
    else:
        schema = array_schema()
        insts = [array_instance(kind == "array<int?>") for _ in range(6)]
    v = jsonschema.Draft202012Validator(schema)
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz[{i}] {kind} seed={SEED}",
            "ctype": kind, "schema": schema, "tests": tests}


groups = [gen_group(i) for i in range(N)]
valid = sum(1 for g in groups for t in g["tests"] if t["valid"])
total = sum(len(g["tests"]) for g in groups)
out = "src/test/resources/golden/fuzz_cases.json"
json.dump(groups, open(out, "w"), indent=1)
print(f"wrote {len(groups)} groups / {total} cases ({valid} valid, "
      f"{total - valid} invalid) to {out}")

# ---------------------------------------------------------------------------
# ROW-MODEL fuzz: whole SUITE DOCUMENTS over a fixed column universe with
# object instances. The engine maps an absent key to a NULL column
# (documented reinterpretation), so only NULL-GATED field keywords are
# generated (bounds / lengths / pattern / array keywords — all of which
# vacuously pass an absent key in BOTH models); enum/const/type are
# excluded at the field level (the engine's relational reading treats a
# null column as the JSON null instance, which is stricter than the
# reference's no-descent-on-absent-key for those three). Instances never
# carry an explicit null VALUE for a column (one row cannot distinguish
# present-null from absent).
# ---------------------------------------------------------------------------

COLS = {"doc_id": "string", "n_tok": "int", "source": "string", "tokens": "array<int>"}


def gated_field_schema(ct):
    if ct == "int":
        k = rng.choice(["minimum", "maximum", "exclusiveMinimum", "multipleOf"])
        if k == "multipleOf":
            return {k: rng.choice([2, 3, 5])}
        return {k: rng.choice(INTS)}
    if ct == "string":
        k = rng.choice(["minLength", "maxLength", "pattern"])
        if k == "pattern":
            return {"pattern": rng.choice(PATTERNS)}
        return {k: rng.randint(0, 8)}
    return rng.choice([{"minItems": rng.randint(0, 4)},
                       {"maxItems": rng.randint(0, 5)},
                       {"uniqueItems": True},
                       {"items": {"minimum": rng.choice(INTS)}}])


def row_schema(i):
    s = {}
    cols = list(COLS)
    if rng.random() < 0.55:
        s["required"] = rng.sample(cols, rng.randint(1, 2))
    if rng.random() < 0.35:
        a, b = rng.sample(cols, 2)
        s["dependentRequired"] = {a: [b]}
    if rng.random() < 0.75:
        picked = rng.sample(cols, rng.randint(1, 3))
        s["properties"] = {c: gated_field_schema(COLS[c]) for c in picked}
    if rng.random() < 0.3:
        s["patternProperties"] = {rng.choice(["^doc", "tok", "^n_", "source$"]):
                                  gated_field_schema("string")
                                  if rng.random() < 0.5 else {"minLength": 2}}
        # patternProperties subschema must suit every matched column;
        # string keywords on tokens/n_tok would be a type error → only
        # regexes matching string columns when the subschema is stringy
        if list(s["patternProperties"]) [0] in ("tok", "^n_"):
            s["patternProperties"] = {"^doc": {"minLength": rng.randint(0, 6)}}
    if rng.random() < 0.3:
        s["minProperties"] = rng.randint(0, 4)
    if rng.random() < 0.2:
        s["maxProperties"] = rng.randint(2, 4)
    if rng.random() < 0.25:
        s["propertyNames"] = {"maxLength": rng.choice([4, 5, 6, 7])}
    if rng.random() < 0.3:
        a = rng.choice(cols)
        s["dependentSchemas"] = {a: {"properties": {
            rng.choice(cols): gated_field_schema(COLS[rng.choice(cols)])}}}
        # subschema must type-match its field; regenerate coherently
        f = rng.choice(cols)
        s["dependentSchemas"] = {a: {"properties": {f: gated_field_schema(COLS[f])}}}
    if rng.random() < 0.3:
        f = rng.choice(cols)
        s["allOf"] = [{"properties": {f: gated_field_schema(COLS[f])}}]
    if not s:
        s["required"] = [rng.choice(cols)]
    return s


def row_instance():
    o = {}
    for c, ct in COLS.items():
        if rng.random() < 0.25:
            continue  # absent key ↔ NULL column
        if ct == "int":
            o[c] = rng.choice(INTS)
        elif ct == "string":
            o[c] = rng.choice([x for x in STRINGS if x is not None])
        else:
            o[c] = [rng.choice(INTS) for _ in range(rng.randint(0, 5))]
    return o


NAME_RE = {"doc_id": "^doc", "n_tok": "^n_", "source": "^source$", "tokens": "^tok"}


def row_name_applicator_schema():
    """additionalProperties / unevaluatedProperties over the declared
    column universe. The SCHEMA form's subschema applies to every column
    matched by neither properties nor patternProperties, so the
    generator covers all but ONE column and types the subschema to the
    leftover (a type-mismatched keyword is a compile-time error in the
    engine's static model, vacuous in the reference — a documented
    boundary, not fuzzed). The BOOLEAN form is type-free and gets any
    leftover count. unevaluatedProperties additionally exercises the
    evaluated-key closure through allOf.
    """
    cols = list(COLS)
    rng.shuffle(cols)
    kw = "unevaluatedProperties" if rng.random() < 0.45 else "additionalProperties"
    schema_form = rng.random() < 0.5
    covered = cols[:3] if schema_form else cols[:rng.randint(1, 3)]
    props, pats = {}, {}
    for c in covered:
        if rng.random() < 0.3:
            pats[NAME_RE[c]] = gated_field_schema(COLS[c])
        else:
            props[c] = gated_field_schema(COLS[c])
    s = {}
    if props:
        items = list(props.items())
        if kw == "unevaluatedProperties" and len(items) > 1 and rng.random() < 0.45:
            # split the evaluating applicators across an allOf branch:
            # unevaluatedProperties must still see them as evaluated
            s["properties"] = dict(items[:1])
            s["allOf"] = [{"properties": dict(items[1:])}]
        else:
            s["properties"] = props
    if pats:
        s["patternProperties"] = pats
    leftover = [c for c in cols if c not in covered]
    if kw == "unevaluatedProperties" and leftover and rng.random() < 0.5:
        # conditionally-evaluated keys (r4): dependentSchemas gates a
        # leftover column on the trigger's presence; anyOf/oneOf gate it
        # on branch validity — only uP honors these (the reference's
        # additionalProperties consults properties/patternProperties
        # alone). Subschemas stay type-gated to their column.
        dep = rng.choice(leftover)
        if rng.random() < 0.5:
            trig = rng.choice(cols)
            s["dependentSchemas"] = {trig: {"properties": {dep: gated_field_schema(COLS[dep])}}}
        else:
            comb = rng.choice(["anyOf", "oneOf"])
            s[comb] = [{"properties": {dep: gated_field_schema(COLS[dep])}},
                       {"properties": {dep: gated_field_schema(COLS[dep])}}]
    s[kw] = gated_field_schema(COLS[cols[3]]) if schema_form else False
    if rng.random() < 0.3:
        s["required"] = rng.sample(list(COLS), 1)
    return s


def multi_branch():
    """A combinator / conditional branch touching 1-2 fields (r4 general
    form: branches are no longer single-field). Null-gated keywords only
    (absent key ≙ NULL column is exact), plus `required` so branch
    validity actually depends on the row.
    """
    fields = rng.sample(list(COLS), rng.randint(1, 2))
    b = {"properties": {f: gated_field_schema(COLS[f]) for f in fields}}
    if rng.random() < 0.7:
        b["required"] = rng.sample(fields, rng.randint(1, len(fields)))
    return b


def row_conditional_schema(i):
    """Doc-level if/then/else and MULTI-FIELD anyOf/oneOf/not (r4),
    optionally under unevaluatedProperties: false so the reference's
    conditional evaluated-key tracking (if/then gate on if-validity,
    else on its negation, combinator branches on branch validity) is
    fuzzed against the engine's per-row gates.
    """
    s = {}
    if rng.random() < 0.45:
        s["if"] = multi_branch()
        if rng.random() < 0.85:
            s["then"] = multi_branch() if rng.random() < 0.9 else False
        if rng.random() < 0.6 or ("then" not in s):
            s["else"] = multi_branch()
    else:
        comb = rng.choice(["anyOf", "oneOf", "not"])
        if comb == "not":
            s["not"] = multi_branch()
        else:
            s[comb] = [multi_branch() for _ in range(rng.randint(2, 3))]
    if rng.random() < 0.4:
        f = rng.choice(list(COLS))
        s.setdefault("properties", {})[f] = gated_field_schema(COLS[f])
    if rng.random() < 0.35:
        s["unevaluatedProperties"] = False
    return s


def gen_row_group(i):
    r = rng.random()
    schema = (row_conditional_schema(i) if r < 0.3
              else row_name_applicator_schema() if r < 0.55
              else row_schema(i))
    v = jsonschema.Draft202012Validator(schema)
    insts = [row_instance() for _ in range(6)]
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-row[{i}] seed={SEED}", "ctype": "row",
            "columns": COLS, "schema": schema, "tests": tests}


# ---------------------------------------------------------------------------
# LEGACY-DIALECT fuzz: draft-7 / draft-4 groups exercising the retired
# keyword forms — items ARRAY form + additionalItems, $ref OVERRIDES its
# siblings (via `definitions`), draft-4 boolean exclusive bounds. The
# checker picks each group's own draft validator via $schema
# (validator_for), exactly like the engine's dialect resolution.
# ---------------------------------------------------------------------------

D7 = "http://json-schema.org/draft-07/schema#"
D4 = "http://json-schema.org/draft-04/schema#"
D6 = "http://json-schema.org/draft-06/schema#"


def int_leaf_d4():
    """Draft-4 vocabulary only: no const (draft-6+), no numeric
    exclusive bounds (draft-4's are boolean modifiers of minimum /
    maximum)."""
    k = rng.choice(["minimum", "maximum", "multipleOf", "enum", "type"])
    if k in ("minimum", "maximum"):
        return {k: rng.choice(INTS)}
    if k == "multipleOf":
        return {"multipleOf": rng.choice([1, 2, 3, 5, 7])}
    if k == "enum":
        return {"enum": rng.sample(INTS, rng.randint(1, 4))}
    return {"type": rng.choice(["integer", "null"])}


D3 = "http://json-schema.org/draft-03/schema#"
D2019 = "https://json-schema.org/draft/2019-09/schema"


def legacy_group(i):
    kind = rng.choice(["d7-items-array", "d7-ref-overrides", "d4-bool-exclusive",
                       "d7-scalar", "d4-items-array", "d3-scalar",
                       "d7-row-dependencies", "d3-row-required",
                       "d2019-items-array", "d2019-row-dependent",
                       "d6-scalar", "d6-contains", "d2019-recursiveref"])
    if kind == "d2019-recursiveref":
        # the STATIC (non-rebinding) $recursiveRef subset: '#' inside a
        # registry resource resolves to that resource's root (walks the
        # dynamic scope only through anchored roots — here at most ONE
        # root is anchored, so the walk is a no-op either way)
        from referencing import Registry, Resource
        res = {"$id": f"https://fuzz.example/rec{i}", "$schema": D2019}
        res.update(merge_leaves(int_leaf, rng.randint(1, 2)))
        res.pop("type", None)
        if not any(k not in ("$id", "$schema") for k in res):
            res["minimum"] = rng.choice(INTS)
        res["$defs"] = {"probe": {"$recursiveRef": "#"}}
        if rng.random() < 0.5:
            res["$recursiveAnchor"] = True
        schema = {"$schema": D2019, "$ref": f"https://fuzz.example/rec{i}#/$defs/probe"}
        if rng.random() < 0.3 and not res.get("$recursiveAnchor"):
            schema["$recursiveAnchor"] = True  # irrelevant: target unanchored
        reg = Registry().with_resource(res["$id"], Resource.from_contents(res))
        v = jsonschema.validators.validator_for(schema)(schema, registry=reg)
        insts = [int_instance() for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "int", "schema": schema, "resources": [res], "tests": tests}
    if kind == "d6-contains":
        # draft-6 introduced `contains` but NOT min/maxContains (2019-09):
        # the reference ignores a minContains sibling there — contains
        # stays "at least one" (contains_draft6_draft7,
        # PJS:_legacy_keywords.py:220-231)
        schema = {"$schema": D6, "contains": merge_leaves(int_leaf, 1)}
        if rng.random() < 0.5:
            schema["minContains"] = rng.randint(2, 3)  # must be ignored
        if rng.random() < 0.4:
            schema["minItems"] = rng.randint(0, 3)
        cls = jsonschema.validators.validator_for(schema)
        v = cls(schema)
        insts = [array_instance(False) for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "array<int>", "schema": schema, "tests": tests}
    if kind == "d2019-items-array":
        # 2019-09 keeps the positional items ARRAY form (+additionalItems)
        # but already has minContains etc.
        schema = {"$schema": D2019,
                  "items": [merge_leaves(int_leaf, 1)
                            for _ in range(rng.randint(1, 3))]}
        if rng.random() < 0.6:
            schema["additionalItems"] = (
                merge_leaves(int_leaf, 1) if rng.random() < 0.6
                else rng.random() < 0.5)
        cls = jsonschema.validators.validator_for(schema)
        v = cls(schema)
        insts = [array_instance(False) for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "array<int>", "schema": schema, "tests": tests}
    if kind == "d2019-row-dependent":
        # the dependencies SPLIT: dependentRequired / dependentSchemas
        a, b = rng.sample(list(COLS), 2)
        f = rng.choice(list(COLS))
        schema = {"$schema": D2019}
        if rng.random() < 0.5:
            schema["dependentRequired"] = {a: [b]}
        else:
            schema["dependentSchemas"] = {a: {"properties": {
                f: gated_field_schema(COLS[f])}}}
        if rng.random() < 0.6:
            g = rng.choice(list(COLS))
            schema["properties"] = {g: gated_field_schema(COLS[g])}
        cls = jsonschema.validators.validator_for(schema)
        v = cls(schema)
        insts = [row_instance() for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "row", "columns": COLS, "schema": schema, "tests": tests}
    if kind == "d3-scalar":
        # draft-3 spellings: divisibleBy (→ multipleOf in draft-4),
        # disallow (negated type union), boolean exclusive bounds
        schema = {"$schema": D3}
        r = rng.random()
        if r < 0.4:
            schema["divisibleBy"] = rng.choice([2, 3, 5])
        elif r < 0.7:
            schema["minimum"] = rng.choice(INTS)
            if rng.random() < 0.5:
                schema["exclusiveMinimum"] = True
        else:
            schema["disallow"] = rng.choice(["null", ["null"], "any"])
        cls = jsonschema.validators.validator_for(schema)
        v = cls(schema)
        insts = [int_instance() for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "int", "schema": schema, "tests": tests}
    if kind in ("d7-row-dependencies", "d3-row-required"):
        if kind == "d7-row-dependencies":
            a, b = rng.sample(list(COLS), 2)
            f = rng.choice(list(COLS))
            schema = {"$schema": D7,
                      "dependencies": {a: [b]} if rng.random() < 0.6
                      else {a: {"properties": {f: gated_field_schema(COLS[f])}}},
                      "properties": {f: gated_field_schema(COLS[f])}}
            if rng.random() < 0.5:
                schema["required"] = rng.sample(list(COLS), 1)
        else:
            # draft-3: required is a BOOLEAN inside the property
            # subschema; field keywords restricted to the draft-3
            # vocabulary (no multipleOf — that is draft-4's spelling of
            # divisibleBy — and no numeric exclusive bounds)
            def d3_field(ct):
                if ct == "int":
                    return {rng.choice(["minimum", "maximum"]): rng.choice(INTS)}
                if ct == "string":
                    k = rng.choice(["minLength", "maxLength", "pattern"])
                    return {"pattern": rng.choice(PATTERNS)} if k == "pattern"                         else {k: rng.randint(0, 8)}
                return rng.choice([{"minItems": rng.randint(0, 4)},
                                   {"items": {"minimum": rng.choice(INTS)}}])
            picked = rng.sample(list(COLS), rng.randint(1, 2))
            props = {}
            for c in picked:
                sub = dict(d3_field(COLS[c]))
                if rng.random() < 0.7:
                    sub["required"] = True
                props[c] = sub
            schema = {"$schema": D3, "properties": props}
        cls = jsonschema.validators.validator_for(schema)
        v = cls(schema)
        insts = [row_instance() for _ in range(6)]
        tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
                 for j, d in enumerate(insts)]
        return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
                "ctype": "row", "columns": COLS, "schema": schema, "tests": tests}
    if kind in ("d7-items-array", "d4-items-array"):
        uri = D7 if kind.startswith("d7") else D4
        leaf = int_leaf if kind.startswith("d7") else int_leaf_d4
        schema = {"$schema": uri,
                  "items": [merge_leaves(leaf, 1)
                            for _ in range(rng.randint(1, 3))]}
        if rng.random() < 0.6:
            schema["additionalItems"] = (
                merge_leaves(leaf, 1) if rng.random() < 0.6
                else rng.random() < 0.5)
        ct, insts = "array<int>", [array_instance(False) for _ in range(6)]
    elif kind == "d7-ref-overrides":
        # draft<=7: every sibling of $ref is DISCARDED by the reference
        schema = {"$schema": D7,
                  "definitions": {"d": merge_leaves(int_leaf, 1)},
                  "$ref": "#/definitions/d"}
        for k, v in merge_leaves(int_leaf, 1).items():
            schema.setdefault(k, v)  # sibling the reference must ignore
        ct, insts = "int", [int_instance() for _ in range(6)]
    elif kind == "d4-bool-exclusive":
        schema = {"$schema": D4, "minimum": rng.choice(INTS),
                  "exclusiveMinimum": True}
        if rng.random() < 0.5:
            schema["maximum"] = rng.choice(INTS)
            schema["exclusiveMaximum"] = rng.random() < 0.5
        ct, insts = "int", [int_instance() for _ in range(6)]
    else:  # d7-scalar / d6-scalar: modern-compatible keywords under the
        # legacy dialect (draft-6 already has numeric exclusive bounds
        # and const, so int_leaf is in-vocabulary for both)
        schema = {"$schema": D7 if kind == "d7-scalar" else D6}
        schema.update(merge_leaves(int_leaf, 2))
        schema.pop("type", None)  # draft-7 'integer' vs float quirks stay out
        if not schema or list(schema) == ["$schema"]:
            schema["minimum"] = rng.choice(INTS)
        ct, insts = "int", [int_instance() for _ in range(6)]
    cls = jsonschema.validators.validator_for(schema)
    v = cls(schema)
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-legacy[{i}] {kind} seed={SEED}",
            "ctype": ct, "schema": schema, "tests": tests}


NL = max(40, N // 4)
legacy_groups = [legacy_group(i) for i in range(NL)]
lvalid = sum(1 for g in legacy_groups for t in g["tests"] if t["valid"])
ltotal = sum(len(g["tests"]) for g in legacy_groups)
out3 = "src/test/resources/golden/fuzz_legacy_cases.json"
json.dump(legacy_groups, open(out3, "w"), indent=1)
print(f"wrote {len(legacy_groups)} legacy groups / {ltotal} cases "
      f"({lvalid} valid, {ltotal - lvalid} invalid) to {out3}")

NR = max(60, N // 2)
row_groups = [gen_row_group(i) for i in range(NR)]
rvalid = sum(1 for g in row_groups for t in g["tests"] if t["valid"])
rtotal = sum(len(g["tests"]) for g in row_groups)
out2 = "src/test/resources/golden/fuzz_row_cases.json"
json.dump(row_groups, open(out2, "w"), indent=1)
print(f"wrote {len(row_groups)} row groups / {rtotal} cases ({rvalid} valid, "
      f"{rtotal - rvalid} invalid) to {out2}")

# ---------------------------------------------------------------------------
# DYNAMIC-REF fuzz: $dynamicRef/$dynamicAnchor (2020-12) and
# $recursiveRef/$recursiveAnchor (2019-09) re-binding, randomized over
# which resource declares the winning anchor. The engine resolves the
# entire dynamic-scope walk at COMPILE time (compile-time $ref inlining
# makes the runtime scope statically known); every group here is labeled
# by the live reference validator running the walk at RUNTIME with a
# referencing.Registry — so any divergence between the two resolutions
# is a test failure, not a silent wrong winner. Separate rng stream so
# the three corpora above stay byte-identical under the same seed.
# ---------------------------------------------------------------------------

drng = random.Random(SEED + 1)
from referencing import Registry, Resource
from referencing.jsonschema import DRAFT202012


def _bound(r):
    k = r.choice(["minimum", "maximum", "exclusiveMinimum", "multipleOf"])
    if k == "multipleOf":
        return {k: r.choice([2, 3, 5, 7])}
    return {k: r.choice(INTS)}


def _label(schema, resources, insts):
    regs = [Resource.from_contents(r, default_specification=DRAFT202012)
            for r in resources]
    registry = Registry().with_resources((r.id(), r) for r in regs)
    cls = jsonschema.validators.validator_for(
        schema, default=jsonschema.Draft202012Validator)
    v = cls(schema, registry=registry)
    return [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
            for j, d in enumerate(insts)]


def up_in_ref_group(i):
    """unevaluatedProperties inside a doc-level $ref target (r4 frame
    stack): the target's uP sees only its own subtree's evaluations
    (referrer siblings invisible), the root's uP sees the target's
    (upward flow), and an inner uP's evaluations cascade outward.
    Randomized over coverage split, bool/schema form, root/target uP
    placement, pointer-vs-registry ref, and an optional anyOf gate in
    the target's frame.
    """
    cols = list(COLS)
    drng.shuffle(cols)
    schema_form = drng.random() < 0.4
    k = 3 if schema_form else drng.randint(0, 3)
    covered = cols[:k]
    target = {}
    if covered:
        target["properties"] = {c: gated_field_schema(COLS[c]) for c in covered}
    if drng.random() < 0.3 and k < 4:
        # conditionally evaluate one leftover inside the TARGET's frame
        g = cols[k]
        target["anyOf"] = [
            {"properties": {g: gated_field_schema(COLS[g])}, "required": [g]},
            {"properties": {covered[0] if covered else "doc_id":
                            gated_field_schema(COLS[covered[0] if covered else "doc_id"])}}]
    target["unevaluatedProperties"] = (
        gated_field_schema(COLS[cols[3]]) if schema_form else False)
    schema = {}
    if drng.random() < 0.5:
        f = drng.choice(cols)
        schema["properties"] = {f: gated_field_schema(COLS[f])}
    if drng.random() < 0.4:
        schema["unevaluatedProperties"] = False  # root uP, second frame
    resources = []
    via = drng.random()
    if via < 0.3:
        schema["$defs"] = {"s": target}
        schema["$ref"] = "#/$defs/s"
    elif via < 0.5:
        lib_uri = f"https://fuzz.example/uplib{i}"
        resources = [dict(target, **{"$id": lib_uri})]
        schema["$ref"] = lib_uri
    elif via < 0.65:
        # r4b: an allOf BRANCH is its own annotation scope too
        schema["allOf"] = [target]
    elif via < 0.8:
        # r4b: a dependentSchemas subschema's scope, conditioned on the
        # trigger's presence (the trigger key itself stays unevaluated
        # within the subschema)
        trig = drng.choice(cols)
        schema["dependentSchemas"] = {trig: target}
    elif via < 0.9:
        # r4b: a uP inside an anyOf branch is part of BRANCH validity
        alt = drng.choice(cols)
        schema["anyOf"] = [target,
                           {"properties": {alt: gated_field_schema(COLS[alt])},
                            "required": [alt]}]
    else:
        # r4b: a uP inside a then ARM applies when `if` holds, arm-scoped
        schema["if"] = {"required": [drng.choice(cols)]}
        schema["then"] = target
    insts = [row_instance_with(drng) for _ in range(6)]
    return {"description": f"fuzz-dyn[{i}] up-in-ref seed={SEED}",
            "ctype": "row", "columns": COLS, "schema": schema,
            "resources": resources, "tests": _label(schema, resources, insts)}


def ui_ref_group(i):
    """unevaluatedItems with $ref/allOf siblings (r4b walk): the
    evaluated-index set flows through ref targets and allOf branches —
    prefix lengths union (max), contains matches exempt pointwise,
    schema-form items anywhere makes uI vacuous.
    """
    def elem_apps():
        s = {}
        r = drng.random()
        if r < 0.45:
            s["prefixItems"] = [{"minimum": drng.choice(INTS)}
                                for _ in range(drng.randint(1, 3))]
            if drng.random() < 0.25:
                s["items"] = {"minimum": drng.choice(INTS)}  # vacuous case
        elif r < 0.7:
            s["contains"] = {"minimum": drng.choice(INTS)}
        else:
            s["prefixItems"] = [{}]
            s["contains"] = {"maximum": drng.choice(INTS)}
        return s
    inner = elem_apps()
    schema = {"unevaluatedItems":
              (False if drng.random() < 0.6 else {"maximum": drng.choice(INTS)})}
    via = drng.random()
    resources = []
    if via < 0.25:
        schema["$defs"] = {"a": inner}
        schema["$ref"] = "#/$defs/a"
    elif via < 0.45:
        schema["allOf"] = [inner]
    elif via < 0.6:
        # r4c: a branch contributes iff the row VALIDATES against it
        schema["anyOf"] = [inner, {"minItems": drng.randint(0, 2)}]
    elif via < 0.8:
        # r4c: if/then under if-validity, else under its negation
        schema["if"] = {"minItems": drng.randint(1, 3)}
        schema["then"] = inner
        if drng.random() < 0.5:
            schema["else"] = elem_apps()
    else:
        lib_uri = f"https://fuzz.example/uilib{i}"
        resources = [dict(inner, **{"$id": lib_uri})]
        schema["$ref"] = lib_uri
    if drng.random() < 0.4:  # local applicators compose with the ref'd ones
        schema.update({k: v for k, v in elem_apps().items() if k not in schema})
    insts = [array_instance(False) for _ in range(6)]
    return {"description": f"fuzz-dyn[{i}] ui-ref seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": resources,
            "tests": _label(schema, resources, insts)}


def ui_manygate_group(i):
    """unevaluatedItems under MANY conditionally-valid contributors
    (r4d linear encoding — the old 2^k expansion capped at 3 and
    raised): anyOf/oneOf branches plus if/then/else arms all contribute
    gated prefixes/contains; the engine folds them into ONE linear
    UnevaluatedItems node whose verdicts must match the reference's
    runtime find_evaluated_item_indexes walk.
    """
    def branch():
        s = {}
        r = drng.random()
        if r < 0.6:
            s["prefixItems"] = [{"minimum": drng.choice(INTS)}
                                for _ in range(drng.randint(1, 4))]
        elif r < 0.8:
            s["contains"] = {"minimum": drng.choice(INTS)}
        else:
            s["prefixItems"] = [{}]
            s["contains"] = {"maximum": drng.choice(INTS)}
        if drng.random() < 0.3:
            s["minItems"] = drng.randint(0, 3)  # data-dependent branch validity
        return s
    schema = {"unevaluatedItems":
              (False if drng.random() < 0.6 else {"maximum": drng.choice(INTS)})}
    schema["anyOf"] = [branch() for _ in range(drng.randint(2, 3))]
    if drng.random() < 0.7:
        schema["oneOf"] = [branch() for _ in range(drng.randint(2, 3))]
    if drng.random() < 0.6:
        schema["if"] = {"minItems": drng.randint(1, 3)}
        schema["then"] = branch()
        if drng.random() < 0.5:
            schema["else"] = branch()
    if drng.random() < 0.4:  # unconditional base prefix under the gated ones
        schema["prefixItems"] = [{"minimum": drng.choice(INTS)}]
    insts = [array_instance(False) for _ in range(8)]
    return {"description": f"fuzz-dyn[{i}] ui-manygate seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": [],
            "tests": _label(schema, [], insts)}


def dynamic_group(i):
    kind = drng.choice(["dyn-field-rebind", "dyn-bookend", "dyn-anon-invisible",
                        "dyn-local", "rec-chain", "dyn-doclevel", "up-in-ref",
                        "ui-ref", "ui-manygate"])
    if kind == "ui-manygate":
        return ui_manygate_group(i)
    if kind == "up-in-ref":
        return up_in_ref_group(i)
    if kind == "ui-ref":
        return ui_ref_group(i)
    ent_uri = f"https://fuzz.example/dynent{i}"
    lib_uri = f"https://fuzz.example/dynlib{i}"
    if kind in ("dyn-field-rebind", "dyn-bookend", "dyn-anon-invisible"):
        # entry --$ref--> lib.limited {$dynamicRef: "#L"}; lib also holds
        # the bookend anchor. Randomize: does the ENTRY re-declare the
        # anchor (re-binding it) and is the lib's anchor dynamic (true
        # bookend) or plain (→ $ref semantics, no re-binding)?
        lib_dynamic = kind != "dyn-bookend"
        entry_rebinds = (kind == "dyn-field-rebind" or
                         (kind != "dyn-field-rebind" and drng.random() < 0.7))
        anchor_kw = "$dynamicAnchor" if lib_dynamic else "$anchor"
        limited = {"$dynamicRef": "#L"}
        if drng.random() < 0.4:
            limited.update(_bound(drng))  # sibling rides along
        lib = {"$id": lib_uri,
               "$defs": {"limited": limited,
                         "default": {anchor_kw: "L", **_bound(drng)}}}
        schema = {"$ref": f"{lib_uri}#/$defs/limited"}
        if kind != "dyn-anon-invisible":
            schema["$id"] = ent_uri  # entry resource enters the scope
        if entry_rebinds:
            schema["$defs"] = {"cap": {"$dynamicAnchor": "L", **_bound(drng)}}
        insts = [drng.choice(INTS + [None]) for _ in range(6)]
        return {"description": f"fuzz-dyn[{i}] {kind} seed={SEED}",
                "ctype": "int", "schema": schema, "resources": [lib],
                "tests": _label(schema, [lib], insts)}
    if kind == "dyn-local":
        # $dynamicRef resolving within the entry's own resource (no
        # registry hop): the local $dynamicAnchor is simultaneously the
        # bookend and the outermost (only) scope entry
        schema = {"$id": ent_uri,
                  "$defs": {"n": {"$dynamicAnchor": "M", **_bound(drng)}},
                  "$dynamicRef": "#M"}
        if drng.random() < 0.4:
            schema.update(_bound(drng))  # root keyword alongside the ref
        insts = [drng.choice(INTS + [None]) for _ in range(6)]
        return {"description": f"fuzz-dyn[{i}] {kind} seed={SEED}",
                "ctype": "int", "schema": schema, "resources": [],
                "tests": _label(schema, [], insts)}
    if kind == "rec-chain":
        # 2019-09 outward walk over a 2-resource chain, every
        # $recursiveAnchor flag independently random: leaf's '#' lands on
        # rec-lib's root, then re-binds outward only while roots stay
        # contiguously anchored (entry is anonymous → never in scope)
        a_uri = f"https://fuzz.example/recA{i}"
        b_uri = f"https://fuzz.example/recB{i}"
        a = {"$id": a_uri, "$schema": D2019, **_bound(drng),
             "$defs": {"via": {"$ref": f"{b_uri}#/$defs/leaf"}}}
        b = {"$id": b_uri, "$schema": D2019, **_bound(drng),
             "$defs": {"leaf": {"$recursiveRef": "#"}}}
        if drng.random() < 0.7:
            a["$recursiveAnchor"] = True
        if drng.random() < 0.7:
            b["$recursiveAnchor"] = True
        schema = {"$schema": D2019, "$ref": f"{a_uri}#/$defs/via"}
        insts = [drng.choice(INTS + [None]) for _ in range(6)]
        return {"description": f"fuzz-dyn[{i}] {kind} seed={SEED}",
                "ctype": "int", "schema": schema, "resources": [a, b],
                "tests": _label(schema, [a, b], insts)}
    # dyn-doclevel: the suite DOCUMENT's row schema arrives through a
    # doc-level $dynamicRef; the entry optionally re-binds it
    f1, f2 = drng.sample(list(COLS), 2)
    lax = {"$dynamicAnchor": "ROWS",
           "properties": {f1: gated_field_schema(COLS[f1])}}
    if drng.random() < 0.4:
        lax["required"] = [drng.choice(list(COLS))]
    lib = {"$id": lib_uri, "$defs": {"lax": lax}, "$dynamicRef": "#ROWS"}
    schema = {"$id": ent_uri, "$ref": lib_uri}
    if drng.random() < 0.7:
        strict = {"$dynamicAnchor": "ROWS",
                  "properties": {f2: gated_field_schema(COLS[f2])}}
        if drng.random() < 0.4:
            strict["required"] = [drng.choice(list(COLS))]
        schema["$defs"] = {"strict": strict}
    if drng.random() < 0.4:
        f3 = drng.choice(list(COLS))
        schema["properties"] = {f3: gated_field_schema(COLS[f3])}
    insts = []
    for _ in range(6):
        insts.append(row_instance_with(drng))
    return {"description": f"fuzz-dyn[{i}] {kind} seed={SEED}",
            "ctype": "row", "columns": COLS, "schema": schema,
            "resources": [lib], "tests": _label(schema, [lib], insts)}


def row_instance_with(r):
    o = {}
    for c, ct in COLS.items():
        if r.random() < 0.25:
            continue
        if ct == "int":
            o[c] = r.choice(INTS)
        elif ct == "string":
            o[c] = r.choice([x for x in STRINGS if x is not None])
        else:
            o[c] = [r.choice(INTS) for _ in range(r.randint(0, 5))]
    return o


ND = max(96, N // 4)
dyn_groups = [dynamic_group(i) for i in range(ND)]
dvalid = sum(1 for g in dyn_groups for t in g["tests"] if t["valid"])
dtotal = sum(len(g["tests"]) for g in dyn_groups)
out4 = "src/test/resources/golden/fuzz_dynamic_cases.json"
json.dump(dyn_groups, open(out4, "w"), indent=1)
print(f"wrote {len(dyn_groups)} dynamic-ref groups / {dtotal} cases "
      f"({dvalid} valid, {dtotal - dvalid} invalid) to {out4}")


# ---------------------------------------------------------------------------
# FORMAT fuzz: differential over the format checkers the ENGINE claims
# EXACT reference semantics for AND whose reference checker is importable
# in this container (Draft202012Validator.FORMAT_CHECKER): date,
# date-time, time, uuid, ipv4, json-pointer, relative-json-pointer —
# plus unknown-format annotation no-op groups. Round-4g additions,
# after their checkers were made EXACT: ipv6 (ipaddress.IPv6Address
# grammar, no scope id) and email/idn-email (the reference's checker
# is literally '@' containment). Excluded, each with a reason
# documented at the checker (ConstraintCompiler.formatPred):
# regex (Java-vs-Python dialect caveat, same as `pattern`),
# idn-hostname (real idna.encode with bidi/contextual rules — the
# documented approximation), hostname / uri / duration /
# uri-reference / iri / iri-reference / uri-template (no importable
# reference checker in this env — spec-derived, spec-tested). Pools are
# ASCII throughout: the reference's own isascii()/int() guards would
# otherwise dominate the labels with unicode-digit noise that no real
# corpus column carries.
# ---------------------------------------------------------------------------

frng = random.Random(SEED + 77)


def _pad(v, w, r):
    """Zero-pad to width w, or (sometimes) mis-pad — near-miss widths."""
    if r.random() < 0.85:
        return f"{v:0{w}d}"
    return str(v) if r.random() < 0.7 else f"{v:0{w + 1}d}"


def fz_date(r):
    y = r.choice([0, 1, 999, 2023, 2024, 2026, 9999])
    m = r.choice([0, 1, 2, 4, 9, 11, 12, 13])
    d = r.choice([0, 1, 9, 28, 29, 30, 31, 32])
    s = f"{_pad(y, 4, r)}-{_pad(m, 2, r)}-{_pad(d, 2, r)}"
    if r.random() < 0.15:
        s = s.replace("-", r.choice(["/", "", "."]), r.choice([1, 2]))
    if r.random() < 0.12:
        s += r.choice([" ", "T00:00:00Z", "\n", "x"])
    return s


def fz_timepart(r):
    h = r.choice([0, 1, 9, 12, 23, 24])
    mi = r.choice([0, 5, 59, 60])
    sec = r.choice([0, 30, 59, 60])
    frac = r.choice(["", "", "", ".5", ".123456", ".", ",5", ".123456789"])
    off = r.choice(["Z", "Z", "z", "", "+05:30", "-00:00", "+23:59",
                    "+24:00", "+0:00", "+00:60", "-08:00"])
    return f"{_pad(h, 2, r)}:{_pad(mi, 2, r)}:{_pad(sec, 2, r)}{frac}{off}"


def fz_time(r):
    s = fz_timepart(r)
    return s + " " if r.random() < 0.06 else s


def fz_datetime(r):
    sep = r.choice(["T", "T", "T", "t", " "])
    s = f"{fz_date(r)}{sep}{fz_timepart(r)}"
    return s + " " if r.random() < 0.05 else s


HEX = "0123456789abcdefABCDEF"


def fz_uuid(r):
    widths = [8, 4, 4, 4, 12]
    if r.random() < 0.2:
        widths[r.randrange(5)] += r.choice([-1, 1])
    groups = ["".join(r.choice(HEX) for _ in range(w)) for w in widths]
    if r.random() < 0.1:
        g = r.randrange(5)
        pos = r.randrange(len(groups[g]))
        # no whitespace here: Python's int(x, 16) tolerates TRAILING
        # whitespace, so a trailing-space 31-hex string with the right
        # dash positions is reference-"valid" — an implementation
        # pathology, not uuid semantics; extra '-' is the real edge
        groups[g] = groups[g][:pos] + r.choice("ghz-") + groups[g][pos + 1:]
    s = "-".join(groups)
    if r.random() < 0.08:
        s = s.replace("-", "", 1)
    if r.random() < 0.08:
        # no LEADING whitespace either (seed-sweep find): a leading
        # space plus a dropped hex char keeps the dash positions AND
        # the 32-length check (the space counts), and int(x, 16)
        # strips edge whitespace — reference-"valid". Same int()
        # pathology family as trailing spaces / '+' signs / '_'
        # separators: implementation accidents, not uuid semantics.
        s = r.choice(["urn:uuid:", "{"]) + s + (r.random() < 0.5 and "}" or "")
    return s


def fz_ipv4(r):
    n = r.choice([3, 4, 4, 4, 4, 5])
    octs = [r.choice(["0", "1", "01", "00", "9", "10", "99", "100", "199",
                      "249", "250", "255", "256", "999"]) for _ in range(n)]
    s = ".".join(octs)
    if r.random() < 0.08:
        s = " " + s if r.random() < 0.5 else s + " "
    return s


def fz_jsonptr(r):
    segs = [r.choice(["", "a", "ab", "~0", "~1", "~2", "a~", "~", "a b",
                      "0", "~01", "a~1b"]) for _ in range(r.randint(0, 3))]
    s = "".join("/" + x for x in segs)
    if r.random() < 0.2 and segs:
        s = s[1:]  # drop the leading slash → invalid unless empty
    return s


def fz_reljsonptr(r):
    # interior-zero prefixes ('100', '205', '1023', '109') target the
    # reference's digit-after-'0' scanner quirk (is_relative_json_pointer
    # rejects ANY digit following a '0', not just leading zeros — so
    # spec-valid '100' is reference-invalid while '120'/'90' pass);
    # round-4 ADVICE find — the old pool could never surface it
    pre = r.choice(["0", "1", "10", "01", "00", "-1", "+1", "", "2",
                    "100", "205", "1023", "109", "120", "90", "1230"])
    tail = r.choice(["", "#", "#/a", "/a/~1", "/", "a", "#a", "/~2"])
    return pre + tail


def fz_ipv6(r):
    """h16 groups with near-miss widths, random '::' elision, embedded
    dotted-quads (incl. leading-zero near-misses), scope ids, brackets.
    """
    def h16():
        return "".join(r.choice(HEX) for _ in range(r.choice([1, 1, 2, 4, 4, 5])))
    n = r.randint(0, 8)
    groups = [h16() for _ in range(n)]
    if r.random() < 0.35:
        v4 = ".".join(r.choice(["0", "1", "01", "9", "99", "100", "199",
                                "255", "256"])
                      for _ in range(r.choice([3, 4, 4, 4])))
        groups = groups[:max(0, n - 2)] + [v4]
    if r.random() < 0.6:
        cut = r.randint(0, len(groups))
        s = ":".join(groups[:cut]) + "::" + ":".join(groups[cut:])
    else:
        s = ":".join(groups)
    if r.random() < 0.08:
        s += r.choice(["%eth0", " ", ":"])
    if r.random() < 0.05:
        s = "[" + s + "]"
    return s


def fz_email(r):
    """The reference checker is literally '@' containment (is_email,
    registered for both email and idn-email) — fuzz the containment."""
    pat = r.random()
    if pat < 0.65:
        return (r.choice(["a", "a.b", "", "a b", "user+tag"]) + "@" +
                r.choice(["b", "example.com", "", "ex ample", "@x"]))
    if pat < 0.85:
        return r.choice(["no-at", "example.com", "a.b.c", "", "a b c"])
    return r.choice(["@", "@@", "a@", "@b", "a@b@c"])


FORMAT_POOLS = {
    "date": fz_date, "date-time": fz_datetime, "time": fz_time,
    "uuid": fz_uuid, "ipv4": fz_ipv4, "json-pointer": fz_jsonptr,
    "relative-json-pointer": fz_reljsonptr,
    "ipv6": fz_ipv6, "email": fz_email, "idn-email": fz_email,
}


def format_group(i):
    fmt = frng.choice(list(FORMAT_POOLS) + ["x-unknown-format"])
    gen = FORMAT_POOLS.get(fmt)
    insts = ([gen(frng) for _ in range(8)] if gen
             else [frng.choice(STRINGS) for _ in range(4)])
    if frng.random() < 0.15:
        insts[frng.randrange(len(insts))] = None
    schema = {"format": fmt}
    rr = frng.random()
    if rr < 0.10:
        schema = {"allOf": [schema, {"minLength": frng.randint(0, 10)}]}
    elif rr < 0.18:
        schema = {"anyOf": [schema, {"const": frng.choice(STRINGS)}]}
    elif rr < 0.24:
        schema = {"not": schema}
    v = jsonschema.Draft202012Validator(
        schema, format_checker=jsonschema.Draft202012Validator.FORMAT_CHECKER)
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-format[{i}] {fmt} seed={SEED}",
            "ctype": "string", "schema": schema, "tests": tests}


NF = max(200, N * 5 // 6)
fmt_groups = [format_group(i) for i in range(NF)]
fvalid = sum(1 for g in fmt_groups for t in g["tests"] if t["valid"])
ftotal = sum(len(g["tests"]) for g in fmt_groups)
out5 = "src/test/resources/golden/fuzz_format_cases.json"
json.dump(fmt_groups, open(out5, "w"), indent=1)
print(f"wrote {len(fmt_groups)} format groups / {ftotal} cases "
      f"({fvalid} valid, {ftotal - fvalid} invalid) to {out5}")

# ---------------------------------------------------------------------------
# DOUBLE-COLUMN fuzz: numeric keywords over a double column — mixed
# integral/fractional bounds, enum/const with JSON ints AND floats (the
# cross-type numeric equality 2 == 2.0 both engines must share), -0.0,
# exclusive bounds, the usual combinator/$ref wrappers. Deliberately
# excluded, same documented boundaries as the int kind: multipleOf
# (IEEE float-remainder semantics pinned by curated cases only),
# type names other than the column's own JSON type ("number"/"null"
# here — `integer`-against-float is the engine's static-type model
# boundary), and values outside the float-exact integer range (2^53).
# ---------------------------------------------------------------------------

drng2 = random.Random(SEED + 99)

DOUBLES = [-10.5, -1.0, -0.0, 0.0, 0.5, 1.0, 1.1, 1.5, 2.0, 2.5,
           3.0, 7.0, 100.25, 262144.0]
NUMVALS = DOUBLES + [0, 1, 2, 3, -1, 100]  # JSON ints mix in


def double_leaf():
    k = drng2.choice(["minimum", "maximum", "exclusiveMinimum",
                      "exclusiveMaximum", "enum", "const", "type"])
    if k in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
        return {k: drng2.choice(NUMVALS)}
    if k == "enum":
        return {"enum": drng2.sample(NUMVALS, drng2.randint(1, 4))}
    if k == "const":
        return {"const": drng2.choice(NUMVALS)}
    return {"type": drng2.choice(["number", "null"])}


def combine2(depth=0):
    """combine() twin driven by drng2 so this section never perturbs the
    other corpora's rng streams."""
    if depth >= 2 or drng2.random() < 0.45:
        return double_leaf()
    k = drng2.choice(["allOf", "anyOf", "oneOf", "not", "if"])
    if k == "not":
        return {"not": combine2(depth + 1)}
    if k == "if":
        s = {"if": combine2(depth + 1)}
        if drng2.random() < 0.8:
            s["then"] = combine2(depth + 1)
        if drng2.random() < 0.8:
            s["else"] = combine2(depth + 1)
        return s
    return {k: [combine2(depth + 1) for _ in range(drng2.randint(1, 3))]}


def double_group(i):
    if drng2.random() < 0.6:
        schema = combine2()
    else:
        schema = {}
        for _ in range(2):
            for k, v in double_leaf().items():
                schema.setdefault(k, v)
    v = jsonschema.Draft202012Validator(schema)
    insts = [drng2.choice(NUMVALS + [None]) for _ in range(6)]
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-double[{i}] seed={SEED}",
            "ctype": "double", "schema": schema, "tests": tests}


NDB = max(120, N // 2)
dbl_groups = [double_group(i) for i in range(NDB)]
dbvalid = sum(1 for g in dbl_groups for t in g["tests"] if t["valid"])
dbtotal = sum(len(g["tests"]) for g in dbl_groups)
out6 = "src/test/resources/golden/fuzz_double_cases.json"
json.dump(dbl_groups, open(out6, "w"), indent=1)
print(f"wrote {len(dbl_groups)} double groups / {dbtotal} cases "
      f"({dbvalid} valid, {dbtotal - dbvalid} invalid) to {out6}")

# ---------------------------------------------------------------------------
# STRING-ARRAY fuzz: element-level STRING keywords (minLength/maxLength/
# pattern/enum/const + the exact-semantics formats uuid/ipv4) inside
# items / prefixItems / contains over array<string> and array<string?>
# columns, plus the array-level keywords and unevaluatedItems — the
# element-level string path with in-array null gating. Own RNG stream.
# ---------------------------------------------------------------------------

arng = random.Random(SEED + 111)

FMT_EXACT = ["uuid", "ipv4"]
FMT_SAMPLES = ["c7b8f9a0-1234-4abc-8def-001122334455", "1.2.3.4",
               "256.1.1.1", "01.2.3.4", "c7b8f9a0-1234-4abc-8def-0011"]


def str_elem_leaf():
    k = arng.choice(["minLength", "maxLength", "pattern", "enum", "const",
                     "type", "format"])
    if k == "minLength":
        return {"minLength": arng.randint(0, 8)}
    if k == "maxLength":
        return {"maxLength": arng.randint(0, 8)}
    if k == "pattern":
        return {"pattern": arng.choice(PATTERNS)}
    if k == "enum":
        return {"enum": arng.sample(STRINGS, arng.randint(1, 4))}
    if k == "const":
        return {"const": arng.choice(STRINGS)}
    if k == "format":
        return {"format": arng.choice(FMT_EXACT)}
    return {"type": arng.choice(["string", "null"])}


def merge_str_leaves(n):
    s = {}
    for _ in range(n):
        for k, v in str_elem_leaf().items():
            s.setdefault(k, v)
    return s


def str_array_schema():
    s = {}
    r = arng.random()
    if r < 0.35:
        s["items"] = merge_str_leaves(arng.randint(1, 2))
    elif r < 0.55:
        s["prefixItems"] = [merge_str_leaves(1)
                            for _ in range(arng.randint(1, 3))]
        if arng.random() < 0.5:
            s["items"] = merge_str_leaves(1)
    elif r < 0.75:
        s["contains"] = merge_str_leaves(1)
        if arng.random() < 0.4:
            s["minContains"] = arng.randint(0, 3)
        if arng.random() < 0.4:
            s["maxContains"] = arng.randint(1, 4)
    for extra in ("minItems", "maxItems", "uniqueItems"):
        if arng.random() < 0.25:
            s[extra] = arng.randint(0, 5) if extra != "uniqueItems" else True
    if arng.random() < 0.3:
        s["unevaluatedItems"] = (False if arng.random() < 0.5
                                 else merge_str_leaves(1))
    return s or {"minItems": arng.randint(0, 3)}


def str_array_instance(nullable):
    if arng.random() < 0.08:
        return None
    pool = STRINGS + FMT_SAMPLES + ([None] * 3 if nullable else [])
    return [arng.choice(pool) for _ in range(arng.randint(0, 6))]


def str_array_group(i):
    kind = arng.choice(["array<string>", "array<string?>"])
    schema = str_array_schema()
    v = jsonschema.Draft202012Validator(
        schema, format_checker=jsonschema.Draft202012Validator.FORMAT_CHECKER)
    insts = [str_array_instance(kind == "array<string?>") for _ in range(6)]
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-strarray[{i}] {kind} seed={SEED}",
            "ctype": kind, "schema": schema, "tests": tests}


NSA = max(120, N // 2)
sa_groups = [str_array_group(i) for i in range(NSA)]
savalid = sum(1 for g in sa_groups for t in g["tests"] if t["valid"])
satotal = sum(len(g["tests"]) for g in sa_groups)
out7 = "src/test/resources/golden/fuzz_strarray_cases.json"
json.dump(sa_groups, open(out7, "w"), indent=1)
print(f"wrote {len(sa_groups)} string-array groups / {satotal} cases "
      f"({savalid} valid, {satotal - savalid} invalid) to {out7}")

# ---------------------------------------------------------------------------
# LONG-COLUMN fuzz: 64-bit integer exactness — instances ADJACENT to
# 2^53 (where a double model collapses neighbors onto the bound),
# bounds/divisors up to 2^62, exact integral multipleOf, enum/const
# with big longs. Bounds and divisors are restricted to binary64-
# REPRESENTABLE integers (they ride the JSON-number model through
# asDouble — the boundary every float64-parsing engine shares);
# instances are unrestricted 64-bit (they stay in long arithmetic
# end to end). Own RNG stream.
# ---------------------------------------------------------------------------

lrng = random.Random(SEED + 123)

LONG_INSTS = [0, 1, -1, 2, 3, 10, 2**31, 2**53 - 1, 2**53, 2**53 + 1,
              2**53 + 2, 2**53 + 3, 2**62, -(2**53 + 1), 2**63 - 1,
              2**62 + 1023, 2**62 + 1024, 2**62 + 1025]
LONG_BOUNDS = [0, 1, 100, 2**31, 2**52, 2**53, 2**53 + 2, 2**53 + 4,
               2**62, -(2**53),
               # in (2^62, 2^63): ulp=1024 there, value representable;
               # exercises the widened exact-Long guard (round-4 ADVICE —
               # old guard stopped at 2^62 and let these take the lossy
               # double path, collapsing ulp-adjacent long instances)
               2**62 + 1024]  # all exactly representable in binary64
LONG_DIVS = [1, 2, 3, 5, 7, 2**32]


def long_leaf():
    k = lrng.choice(["minimum", "maximum", "exclusiveMinimum",
                     "exclusiveMaximum", "multipleOf", "enum", "const", "type"])
    if k in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"):
        return {k: lrng.choice(LONG_BOUNDS)}
    if k == "multipleOf":
        return {"multipleOf": lrng.choice(LONG_DIVS)}
    if k == "enum":
        return {"enum": lrng.sample(LONG_INSTS, lrng.randint(1, 4))}
    if k == "const":
        return {"const": lrng.choice(LONG_INSTS)}
    return {"type": lrng.choice(["integer", "null"])}


def combine3(depth=0):
    if depth >= 2 or lrng.random() < 0.45:
        return long_leaf()
    k = lrng.choice(["allOf", "anyOf", "oneOf", "not", "if"])
    if k == "not":
        return {"not": combine3(depth + 1)}
    if k == "if":
        s = {"if": combine3(depth + 1)}
        if lrng.random() < 0.8:
            s["then"] = combine3(depth + 1)
        if lrng.random() < 0.8:
            s["else"] = combine3(depth + 1)
        return s
    return {k: [combine3(depth + 1) for _ in range(lrng.randint(1, 3))]}


def long_group(i):
    if lrng.random() < 0.6:
        schema = combine3()
    else:
        schema = {}
        for _ in range(2):
            for k, v in long_leaf().items():
                schema.setdefault(k, v)
    v = jsonschema.Draft202012Validator(schema)
    insts = [lrng.choice(LONG_INSTS + [None]) for _ in range(6)]
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-long[{i}] seed={SEED}",
            "ctype": "long", "schema": schema, "tests": tests}


NLG = max(120, N // 2)
long_groups = [long_group(i) for i in range(NLG)]
lvalid = sum(1 for g in long_groups for t in g["tests"] if t["valid"])
ltotal = sum(len(g["tests"]) for g in long_groups)
out8 = "src/test/resources/golden/fuzz_long_cases.json"
json.dump(long_groups, open(out8, "w"), indent=1)
print(f"wrote {len(long_groups)} long groups / {ltotal} cases "
      f"({lvalid} valid, {ltotal - lvalid} invalid) to {out8}")

# ---------------------------------------------------------------------------
# BOOL-COLUMN fuzz: the boolean keyword surface is tiny (enum/const/
# type) but completes the ctype matrix; notable reference semantics
# pinned here: JSON true/false are NOT the numbers 1/0 for enum/const
# (Python bool == int, but jsonschema's equal() special-cases bool), and
# type "boolean" vs "null". Own RNG stream.
# ---------------------------------------------------------------------------

brng = random.Random(SEED + 131)


def bool_leaf():
    k = brng.choice(["enum", "const", "type"])
    if k == "enum":
        return {"enum": brng.sample([True, False], brng.randint(1, 2))}
    if k == "const":
        return {"const": brng.choice([True, False])}
    return {"type": brng.choice(["boolean", "null"])}


def bool_group(i):
    if brng.random() < 0.5:
        k = brng.choice(["allOf", "anyOf", "oneOf", "not"])
        schema = ({"not": bool_leaf()} if k == "not"
                  else {k: [bool_leaf() for _ in range(brng.randint(1, 3))]})
    else:
        schema = bool_leaf()
    v = jsonschema.Draft202012Validator(schema)
    insts = [brng.choice([True, False, None]) for _ in range(6)]
    tests = [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
             for j, d in enumerate(insts)]
    return {"description": f"fuzz-bool[{i}] seed={SEED}",
            "ctype": "bool", "schema": schema, "tests": tests}


NB = max(48, N // 5)
bool_groups = [bool_group(i) for i in range(NB)]
bvalid = sum(1 for g in bool_groups for t in g["tests"] if t["valid"])
btotal = sum(len(g["tests"]) for g in bool_groups)
out9 = "src/test/resources/golden/fuzz_bool_cases.json"
json.dump(bool_groups, open(out9, "w"), indent=1)
print(f"wrote {len(bool_groups)} bool groups / {btotal} cases "
      f"({bvalid} valid, {btotal - bvalid} invalid) to {out9}")

# ---------------------------------------------------------------------------
# BOUNDARY fuzz (kind 10, round-5): pins the unevaluated* RAISE BOUNDARY.
# Two outputs:
#   fuzz_boundary_cases.json  — COMPILE side: dense near-boundary shapes
#     that the static model MUST accept (nested branch-uI contributions —
#     the tracker's `for keyword in ["contains","unevaluatedItems"]` loop,
#     PJS:_utils.py:243-247 — boolean combinator branches, uI through ref
#     targets, if-arm uI, dual uP scopes), reference-labeled; a raise on
#     any of these is a red test, which is assertion (b): no compilable
#     shape raises.
#   fuzz_boundary_raises.json — RAISE side: every family the loader
#     rejects, with the REFERENCE'S OWN OUTCOME recorded at generation
#     time, which is assertion (a):
#       cycle-ref     — ref cycles reachable from the uI walk. The
#                       reference's runtime tracker has NO cycle guard
#                       (find_evaluated_item_indexes_by_schema recurses
#                       unconditionally into $ref) and its validation
#                       descends the same cycle: RecursionError, verified
#                       live per group. Engine refuses at compile time —
#                       full parity, earlier and explicit.
#       draft-gate    — unevaluatedItems/Properties under a draft-7
#                       document: the reference silently treats the
#                       unknown keyword as an annotation (all instances
#                       keep their pre-uI verdicts); the engine raises
#                       (raise-don't-silently-weaken, documented policy).
#       field-object  — object applicators inside a FIELD subschema:
#                       column values are scalars/arrays, an object
#                       instance is unrepresentable, so the reference
#                       verdict is vacuously the non-object behavior;
#                       the engine raises on the almost-surely-wrong
#                       schema rather than compiling a vacuous no-op.
# The uP duplicate-scope guard (SuiteLoader "multiple unevaluatedProperties
# in the same annotation scope") is NOT a generatable family: every JSON
# object node opens its own annotation frame (root, allOf/anyOf/oneOf/not
# branches, if/then/else arms, dependentSchemas subschemas, ref targets),
# and one node carries at most one uP key, so the guard is a defensive
# invariant unreachable from JSON input — asserted here by the dual-uP
# COMPILE family.
# ---------------------------------------------------------------------------

xrng = random.Random(SEED + 173)

D7 = "http://json-schema.org/draft-07/schema#"


def x_array_instance():
    if xrng.random() < 0.06:
        return None
    return [xrng.choice(INTS) for _ in range(xrng.randint(0, 5))]


def _xlabel(schema, resources, insts):
    regs = [Resource.from_contents(r, default_specification=DRAFT202012)
            for r in resources]
    registry = Registry().with_resources((r.id(), r) for r in regs)
    cls = jsonschema.validators.validator_for(
        schema, default=jsonschema.Draft202012Validator)
    v = cls(schema, registry=registry) if resources else cls(schema)
    return [{"description": f"case {j}", "data": d, "valid": v.is_valid(d)}
            for j, d in enumerate(insts)]


def x_inner_ui():
    """A subschema carrying its own unevaluatedItems (+ optional prefix/
    contains) — the branch-level annotation contributor."""
    s = {}
    if xrng.random() < 0.7:
        s["prefixItems"] = [{"minimum": xrng.choice(INTS)}
                            for _ in range(xrng.randint(1, 2))]
    if xrng.random() < 0.3:
        s["contains"] = {"minimum": xrng.choice(INTS)}
    s["unevaluatedItems"] = (False if xrng.random() < 0.35
                             else {"maximum": xrng.choice(INTS)})
    return s


def xb_branch_ui(i):
    """COMPILE: a combinator branch carries its OWN unevaluatedItems;
    elements it validates count evaluated for the OUTER uI (the round-5
    walk fix — the tracker's contains/unevaluatedItems loop)."""
    kw = xrng.choice(["anyOf", "oneOf", "allOf"])
    branches = [x_inner_ui()]
    if kw != "allOf" or xrng.random() < 0.5:
        branches.append({"minItems": xrng.randint(2, 4)})
    schema = {kw: branches,
              "unevaluatedItems": (False if xrng.random() < 0.6
                                   else {"maximum": xrng.choice(INTS)})}
    if xrng.random() < 0.4:
        schema["prefixItems"] = [{}]
    insts = [x_array_instance() for _ in range(6)]
    return {"description": f"fuzz-bnd[{i}] branch-ui seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": [],
            "tests": _xlabel(schema, [], insts)}


def xb_bool_branch(i):
    """COMPILE: boolean allOf/anyOf/oneOf branches next to uI — the
    tracker returns [] for boolean schemas (PJS:_utils.py:190-191), so
    they contribute nothing; `false` in allOf rejects every row."""
    kw = xrng.choice(["allOf", "anyOf", "oneOf"])
    branches = [xrng.random() < 0.75]
    if xrng.random() < 0.7:
        branches.append({"prefixItems": [{"minimum": xrng.choice(INTS)}]})
    xrng.shuffle(branches)
    schema = {kw: branches, "unevaluatedItems": False}
    if xrng.random() < 0.5:
        schema["prefixItems"] = [{"type": "integer"}]
    insts = [x_array_instance() for _ in range(6)]
    return {"description": f"fuzz-bnd[{i}] bool-branch seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": [],
            "tests": _xlabel(schema, [], insts)}


def xb_ref_ui(i):
    """COMPILE: the $ref target carries its own uI — the walk follows
    the ref and the target's uI exempts pointwise at the referrer."""
    target = x_inner_ui()
    schema = {"unevaluatedItems": False}
    resources = []
    if xrng.random() < 0.5:
        schema["$defs"] = {"t": target}
        schema["$ref"] = "#/$defs/t"
    else:
        lib_uri = f"https://fuzz.example/bndlib{i}"
        resources = [dict(target, **{"$id": lib_uri})]
        schema["$ref"] = lib_uri
    if xrng.random() < 0.4:
        schema["prefixItems"] = [{}]
    insts = [x_array_instance() for _ in range(6)]
    return {"description": f"fuzz-bnd[{i}] ref-ui seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": resources,
            "tests": _xlabel(schema, resources, insts)}


def xb_ifarm_ui(i):
    """COMPILE: an if/then/else ARM carries its own uI; its pointwise
    exemptions apply under the arm's activation condition."""
    schema = {"if": {"minItems": xrng.randint(1, 3)},
              "then": x_inner_ui(),
              "unevaluatedItems": False}
    if xrng.random() < 0.5:
        schema["else"] = x_inner_ui()
    insts = [x_array_instance() for _ in range(6)]
    return {"description": f"fuzz-bnd[{i}] ifarm-ui seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": [],
            "tests": _xlabel(schema, [], insts)}


def xb_dual_up(i):
    """COMPILE: TWO unevaluatedProperties in DIFFERENT annotation scopes
    (root + combinator branch / dependentSchemas subschema) — each sees
    only its own subtree's evaluations; pins that the duplicate-scope
    guard never fires on real JSON (one frame per object node)."""
    cols = list(COLS)
    xrng.shuffle(cols)
    branch = {"properties": {cols[0]: gated_field_schema(COLS[cols[0]])},
              "unevaluatedProperties": False}
    schema = {"properties": {cols[1]: gated_field_schema(COLS[cols[1]])},
              "unevaluatedProperties": False}
    via = xrng.random()
    if via < 0.4:
        schema["allOf"] = [branch]
    elif via < 0.7:
        schema["anyOf"] = [branch,
                           {"required": [cols[2]],
                            "properties": {cols[2]: gated_field_schema(COLS[cols[2]])}}]
    else:
        schema["dependentSchemas"] = {cols[2]: branch}
    insts = [row_instance_with(xrng) for _ in range(6)]
    return {"description": f"fuzz-bnd[{i}] dual-up seed={SEED}",
            "ctype": "row", "columns": COLS, "schema": schema,
            "resources": [], "tests": _xlabel(schema, [], insts)}


def xr_cycle(i):
    """RAISE: a $ref cycle reachable from the uI sibling walk. The
    reference RecursionErrors on the same shape at runtime (verified
    here, per group); compile-time inlining refuses explicitly."""
    if xrng.random() < 0.5:
        defs = {"n": {"$ref": "#/$defs/n"}}
    else:
        defs = {"n": {"allOf": [{"$ref": "#/$defs/m"}]},
                "m": {"$ref": "#/$defs/n"}}
    schema = {"$defs": defs,
              "allOf": [{"$ref": "#/$defs/n"}],
              "prefixItems": [{"type": "integer"}],
              "unevaluatedItems": False}
    v = jsonschema.Draft202012Validator(schema)
    try:
        v.is_valid([1, 2])
        raise AssertionError("cycle family: reference unexpectedly validated")
    except RecursionError:
        pass
    return {"description": f"fuzz-bnd[{i}] raise-cycle seed={SEED}",
            "ctype": "array<int>", "schema": schema, "resources": [],
            "expect": "raise", "family": "cycle-ref",
            "reference_outcome": "RecursionError",
            "why": "runtime tracker recurses unboundedly on the same shape; "
                   "compile-time inlining cannot represent cycles",
            "tests": []}


def xr_draftgate(i):
    """RAISE: unevaluated* under a draft-7 document — the reference
    IGNORES the post-2019 keyword (annotation semantics, labels recorded
    to prove it); the engine raises rather than silently weakening."""
    if xrng.random() < 0.6:
        schema = {"$schema": D7, "unevaluatedItems": False}
        if xrng.random() < 0.5:
            schema["items"] = [{"type": "integer"}]  # draft-7 array form
        insts = [x_array_instance() for _ in range(4)]
        return {"description": f"fuzz-bnd[{i}] raise-draftgate-ui seed={SEED}",
                "ctype": "array<int>", "schema": schema, "resources": [],
                "expect": "raise", "family": "draft-gate",
                "reference_outcome": "ignored_annotation",
                "why": "draft-7 has no unevaluatedItems; the reference treats "
                       "it as an unknown annotation, the engine refuses",
                "tests": _xlabel(schema, [], insts)}
    cols = list(COLS)
    xrng.shuffle(cols)
    schema = {"$schema": D7, "unevaluatedProperties": False,
              "properties": {cols[0]: gated_field_schema(COLS[cols[0]])}}
    insts = [row_instance_with(xrng) for _ in range(4)]
    return {"description": f"fuzz-bnd[{i}] raise-draftgate-up seed={SEED}",
            "ctype": "row", "columns": COLS, "schema": schema,
            "resources": [], "expect": "raise", "family": "draft-gate",
            "reference_outcome": "ignored_annotation",
            "why": "draft-7 has no unevaluatedProperties; the reference "
                   "treats it as an unknown annotation, the engine refuses",
            "tests": _xlabel(schema, [], insts)}


def xr_field_object(i):
    """RAISE: an object applicator (incl. unevaluatedProperties) inside a
    FIELD subschema — the column model's values are scalars/arrays, so
    the reference verdict is the vacuous non-object behavior (labels
    recorded); the engine raises on the almost-surely-wrong schema."""
    kw = xrng.choice(["unevaluatedProperties", "properties",
                      "minProperties", "required"])
    cols = list(COLS)
    xrng.shuffle(cols)
    field = cols[0]
    subval = {"unevaluatedProperties": False,
              "properties": {"x": {"type": "integer"}},
              "minProperties": 1,
              "required": ["x"]}[kw]
    schema = {"properties": {field: {kw: subval}}}
    insts = [row_instance_with(xrng) for _ in range(4)]
    return {"description": f"fuzz-bnd[{i}] raise-fieldobj seed={SEED}",
            "ctype": "row", "columns": COLS, "schema": schema,
            "resources": [], "expect": "raise", "family": "field-object",
            "reference_outcome": "vacuous_nonobject",
            "why": f"'{kw}' inside a field subschema: column values are "
                   "scalars/arrays, the keyword can only be vacuous — the "
                   "engine raises instead of compiling a silent no-op",
            "tests": _xlabel(schema, [], insts)}


NX = max(60, N // 4)
x_compile_makers = [xb_branch_ui, xb_bool_branch, xb_ref_ui, xb_ifarm_ui,
                    xb_dual_up]
x_compile = [x_compile_makers[i % len(x_compile_makers)](i) for i in range(NX)]
xvalid = sum(1 for g in x_compile for t in g["tests"] if t["valid"])
xtotal = sum(len(g["tests"]) for g in x_compile)
out10 = "src/test/resources/golden/fuzz_boundary_cases.json"
json.dump(x_compile, open(out10, "w"), indent=1)
print(f"wrote {len(x_compile)} boundary COMPILE groups / {xtotal} cases "
      f"({xvalid} valid, {xtotal - xvalid} invalid) to {out10}")

NXR = max(36, N // 6)
x_raise_makers = [xr_cycle, xr_draftgate, xr_field_object]
x_raises = [x_raise_makers[i % len(x_raise_makers)](i) for i in range(NXR)]
xrtotal = sum(len(g["tests"]) for g in x_raises)
out11 = "src/test/resources/golden/fuzz_boundary_raises.json"
json.dump(x_raises, open(out11, "w"), indent=1)
fams = {}
for g in x_raises:
    fams[g["family"]] = fams.get(g["family"], 0) + 1
print(f"wrote {len(x_raises)} boundary RAISE groups ({fams}) / "
      f"{xrtotal} reference-labeled cases to {out11}")
