"""Output checks of the graft benchmark, computed independently of graft
with DuckDB over the same input files.

Validate operations: per-partition rows and violating rows (the verdict
table), per-constraint fail counts (the violation rows), the duplicate
doc_id keys and the referential bad rows per source are recomputed from
the table files the operation saw; the partition plan ValidateJob printed
(full / incremental / skipped) must match what the operation changed.

Curate operations: the ledger must equal graft's DuckDB oracle text for
d_curate_ledger (SparkEntry.oracleSql) run on the permuted documents, and
the curated row count must equal the ledger's n_final total.
"""
import hashlib
import json
import os

import duckdb

ALLOWED = ("web", "books", "code", "wiki", "forums")
VOCAB = 262144

# The north-star suite's constraints, restated as DuckDB predicates that
# are true when the row FAILS the constraint.
FAILS = {
    "doc_id.required": "doc_id IS NULL",
    "doc_id.minLength": "length(doc_id) < 5",
    "tokens.minItems": "len(tokens) < 1",
    "tokens.uniqueItems": "len(tokens) <> list_unique(tokens)",
    "tokens.items.minimum": "coalesce(list_min(tokens) < 0, false)",
    "tokens.items.maximum": f"coalesce(list_max(tokens) > {VOCAB - 1}, false)",
    "n_tok.eq.size": "n_tok <> len(tokens)",
    "source.enum": "source NOT IN (" + ", ".join(f"'{s}'" for s in ALLOWED) + ")",
}


def per_layer_units():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _files(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class ValidateChecker:
    def __init__(self, con):
        self.con = con
        self.per_file = {}  # file -> (source, rows, viol, {cid: fails})

    def _load(self, files):
        todo = [f for f in files if f not in self.per_file]
        if not todo:
            return
        cids = list(FAILS)
        flags = ", ".join(f"({FAILS[c]}) AS f{i}" for i, c in enumerate(cids))
        cols = ", ".join(f"sum(f{i}::INT)" for i in range(len(cids)))
        anyf = " OR ".join(f"f{i}" for i in range(len(cids)))
        q = (f"SELECT filename, source, count(*), sum(({anyf})::INT), {cols} FROM ("
             f"SELECT filename, source, {flags} "
             f"FROM read_parquet({_files(todo)}, hive_partitioning = true, filename = true)) "
             f"GROUP BY filename, source")
        for row in self.con.execute(q).fetchall():
            self.per_file[row[0]] = (row[1], row[2], row[3], dict(zip(cids, row[4:])))
        for f in todo:  # a file with no rows contributes nothing
            self.per_file.setdefault(f, (None, 0, 0, {}))

    def check(self, op):
        c = op["check"]
        files, out = c["table_files"], c["out"]
        self._load(files)
        errs = []
        parts, fails = {}, {}
        for f in files:
            src, rows, viol, by = self.per_file[f]
            if src is None:
                continue
            r, v = parts.get(src, (0, 0))
            parts[src] = (r + rows, v + viol)
            for k, n in by.items():
                fails[k] = fails.get(k, 0) + n

        got = {p: (r, v, ok) for p, r, v, ok in self.con.execute(
            f"SELECT partition, rows, violations, pass FROM read_parquet('{out}/verdicts/*.parquet')"
        ).fetchall()}
        want = {p: (r, v, v == 0) for p, (r, v) in parts.items()}
        if got != want:
            errs.append(f"verdicts {sorted(got.items())} != {sorted(want.items())}")

        got_f = dict(self.con.execute(
            f"SELECT constraint_id, count(*) FROM read_parquet({_files(c['violation_files'])}) "
            f"GROUP BY 1").fetchall()) if c["violation_files"] else {}
        want_f = {k: n for k, n in fails.items() if n}
        if got_f != want_f:
            errs.append(f"fail counts {sorted(got_f.items())} != {sorted(want_f.items())}")

        want_dup = self.con.execute(
            f"SELECT count(*), coalesce(sum(n), 0) FROM (SELECT doc_id, count(*) AS n "
            f"FROM read_parquet({_files(files)}) GROUP BY doc_id HAVING count(*) > 1)").fetchone()
        got_dup = self.con.execute(
            f"SELECT count(*), coalesce(sum(dup_count), 0) FROM read_parquet('{out}/dup_doc_ids/*.parquet')"
        ).fetchone()
        if tuple(got_dup) != tuple(want_dup):
            errs.append(f"duplicate doc_ids {got_dup} != {want_dup}")

        want_ref = {s: r for s, (r, _) in parts.items() if s not in ALLOWED}
        got_ref = dict(self.con.execute(
            f"SELECT source, bad_rows FROM read_parquet('{out}/referential_violations/*.parquet')"
        ).fetchall())
        if got_ref != want_ref:
            errs.append(f"referential {got_ref} != {want_ref}")

        plan = c["plan"]
        if "appended_to" in c:
            touched = set(c["appended_to"])
            want_plan = {"partitions": len(parts), "full": 0, "incremental": len(touched),
                         "skipped": len(parts) - len(touched)}
        else:
            want_plan = {"partitions": len(parts), "full": len(parts), "incremental": 0, "skipped": 0}
        if plan != want_plan:
            errs.append(f"partition plan {plan} != {want_plan}")
        return errs


class CurateChecker:
    def __init__(self, con, res, cache_dir):
        self.con = con
        docs = res["inputs"]["documents_glob"]
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        sql = res["inputs"]["oracle_sql"]
        content = con.execute(
            "SELECT count(*), sum(hash(doc_id, text, lang, source, n_chars)) FROM documents").fetchone()
        key = hashlib.sha256((sql + repr(tuple(content))).encode()).hexdigest()[:32]
        os.makedirs(cache_dir, exist_ok=True)
        path = os.path.join(cache_dir, f"d_curate_ledger-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                rows = json.load(f)
        else:  # the oracle is a pure function of the SQL text and the row multiset
            rel = con.execute(sql)
            names = [d[0] for d in rel.description]
            rows = [dict(zip(names, r)) for r in rel.fetchall()]
            with open(path + ".tmp", "w") as f:
                json.dump(rows, f)
            os.replace(path + ".tmp", path)
        self.want = sorted(tuple(sorted(r.items())) for r in rows)
        self.want_final = sum(r["n_final"] for r in rows)

    def check(self, op):
        c = op["check"]
        errs = []
        got = []
        for p in c["ledger_files"]:
            with open(p) as f:
                got += [json.loads(line) for line in f if line.strip()]
        got = sorted(tuple(sorted(r.items())) for r in got)
        if got != self.want:
            errs.append(f"ledger {got[:3]}... != oracle {self.want[:3]}...")
        n = self.con.execute(
            f"SELECT count(*) FROM read_parquet({_files(c['curated_files'])})").fetchone()[0] \
            if c["curated_files"] else 0
        if n != self.want_final:
            errs.append(f"curated rows {n} != ledger n_final {self.want_final}")
        return errs


def check_run(res, cache_root):
    """Returns [(op_id, message)] for every mismatch."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(cache_root, 'duckdb-tmp')}'")
    ops = res["ops"]
    if not ops:
        return []
    checker = None
    failures = []
    for op in ops:
        try:
            kind = op["check"].get("kind")
            if checker is None:
                checker = (CurateChecker(con, res, os.path.join(cache_root, "oracle"))
                           if kind == "curate" else ValidateChecker(con))
            for e in checker.check(op):
                failures.append((op["id"], e))
        except Exception as e:  # an unreadable output is a failed check
            failures.append((op["id"], f"check error: {e}"))
    return failures
