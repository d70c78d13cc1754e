#!/usr/bin/env python3
"""Answer checks for a benchmark run, made after the JVM has exited so that
no check runs inside a timed region.

- SELECT tasks: the SPARQL-JSON bindings are normalized to sorted rows of
  lexical values and compared with the task's DuckDB oracle over the
  `quads` table built from `TpchRdf.quadsSql`.
- Expected rows (the marker counts after the inserts): compared with the
  totals the generator knows.
- Counts (the triples a load cycle holds): compared exactly.
- Gates: the delivered parquet is compared with the gate's oracle SQL
  using the normalization of tools/selfcheck.py.
- Failures the JVM recorded itself (replay drift) count as well.

Usage: python3 perfbench/check.py <work dir> <data dir>
"""
import glob
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from selfcheck import normalize  # noqa: E402  (the repo's oracle normalization)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PLACEHOLDER_VALUE = "XXX"


def sparql_rows(doc: str):
    """(vars, sorted rows) of a SPARQL-JSON SELECT document."""
    j = json.loads(doc)
    names = j["head"]["vars"]
    rows = [tuple(b[v]["value"] if v in b else None for v in names)
            for b in j["results"]["bindings"]]
    return names, sorted(rows, key=repr)


def is_placeholder(names, rows) -> bool:
    return names == ["xxx"] and rows == [(PLACEHOLDER_VALUE,)]


def connect(data_dir: str, quads_sql: str = None):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    if quads_sql:
        con.execute(f"CREATE TABLE quads AS {quads_sql}")
    return con


def check(work: str, data_dir: str):
    """Returns (attempted, failures, failed operations); each failure is
    (id, reason, text)."""
    records = [json.loads(l) for l in open(Path(work) / "answers.jsonl")]
    quads_file = Path(work) / "quads.sql"
    con = connect(data_dir, quads_file.read_text() if quads_file.exists() else None)
    failures, attempted = [], 0
    for r in records:
        kind, rid = r["kind"], r["id"]
        if kind == "failure":
            failures.append((rid, r["reason"], r["text"]))
            continue
        if kind == "select":
            attempted += 1
            names, got = sparql_rows(r["response"])
            if is_placeholder(names, got):
                failures.append((rid, "failure placeholder returned", r["sparql"]))
                continue
            cur = con.execute(r["oracle"])
            want_names = [d[0] for d in cur.description]
            want = sorted((tuple(None if v is None else str(v) for v in row)
                           for row in cur.fetchall()), key=repr)
            if names != want_names:
                failures.append((rid, f"vars {names} != oracle columns {want_names}", r["sparql"]))
            elif got != want:
                failures.append((rid, f"{len(got)} rows != oracle {len(want)} rows "
                                      f"(first diff: {first_diff(got, want)})", r["sparql"]))
        elif kind == "expected":
            # one row per insert batch: each batch is one operation
            want = sorted(tuple(x) for x in r["rows"])
            attempted += len(want)
            names, got = sparql_rows(r["response"])
            missing = [w for w in want if w not in got]
            for w in missing:
                failures.append((f"{rid}:{w[0]}", f"expected row {w} not in answer", r["sparql"]))
            if not missing and got != want:
                failures.append((rid, f"unexpected rows {sorted(set(got) - set(want))[:3]}", r["sparql"]))
        elif kind == "count":
            attempted += 1
            if r["got"] != r["want"]:
                failures.append((rid, f"count {r['got']} != {r['want']}", ""))
        elif kind == "gate":
            attempted += 1
            reason = check_gate(con, r)
            if reason:
                failures.append((rid, reason, r["oracle"][:200]))
    # an operation that failed twice (wrong answer and replay drift) counts once
    failed_ids = {f[0] for f in failures}
    return attempted, failures, len(failed_ids)


def check_gate(con, r):
    if not r["oracle"]:
        return "no oracle SQL for this gate"
    files = glob.glob(f"{r['path']}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    want = con.execute(r["oracle"]).df()
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not g.equals(w):
        bad = ((g != w) & ~(g.isna() & w.isna())).any(axis=1)
        return f"{int(bad.sum())}/{len(g)} rows differ"
    return None


def first_diff(got, want):
    for a, b in zip(got, want):
        if a != b:
            return f"{a} vs {b}"
    return "length"


if __name__ == "__main__":
    n, fails, n_failed = check(sys.argv[1], sys.argv[2])
    for f in fails:
        print("FAIL", *f, sep="  ")
    print(f"{n} checked, {n_failed} failed")
    sys.exit(1 if fails else 0)
