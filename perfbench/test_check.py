#!/usr/bin/env python3
"""Self-test of the answer checker: a run's answers with wrong answers
injected must be counted as failed, and only those.

Run: python3 perfbench/test_check.py   (exit 0 = pass; no JVM needed)
"""
import json
import sys
import tempfile
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402

QUADS = ("SELECT * FROM (VALUES ('g','cust:1',':nation','nat:3',0,NULL::DOUBLE),"
         "('g','cust:2',':nation','nat:3',0,NULL),('g','cust:1',':name','Ann',2,NULL),"
         "('g','cust:2',':name','Bob',2,NULL)) t(g, s, p, o, okind, onum)")
ORACLE = ("SELECT a.s AS c, n.o AS name FROM quads a JOIN quads n ON n.s=a.s AND n.p=':name' "
          "WHERE a.p=':nation' AND a.o='nat:3'")


def doc(rows):
    b = [{"c": {"type": "uri", "value": c}, "name": {"type": "literal", "value": n}} for c, n in rows]
    return json.dumps({"head": {"vars": ["c", "name"]}, "results": {"bindings": b}})


def select(i, rows):
    return {"kind": "select", "id": i, "template": "bgp_join", "sparql": f"q{i}",
            "oracle": ORACLE, "response": rows if isinstance(rows, str) else doc(rows)}


def main():
    with tempfile.TemporaryDirectory() as tmp:
        work = Path(tmp)
        (work / "quads.sql").write_text(QUADS)
        gate_ok, gate_bad = work / "gate_ok", work / "gate_bad"
        for d, vals in ((gate_ok, [1, 2]), (gate_bad, [1, 3])):
            d.mkdir()
            pd.DataFrame({"id": vals}).to_parquet(d / "part-0.parquet")
        records = [
            select("good", [("cust:2", "Bob"), ("cust:1", "Ann")]),
            select("missing_row", [("cust:1", "Ann")]),
            select("wrong_value", [("cust:1", "Ann"), ("cust:2", "Bo")]),
            select("placeholder", '{"head":{"vars":["xxx"]},"results":{"bindings":'
                                  '[{"xxx":{"type":"literal","value":"XXX"}}]}}'),
            {"kind": "expected", "id": "markers", "sparql": "m",
             "response": json.dumps({"head": {"vars": ["m", "n"]}, "results": {"bindings": [
                 {"m": {"type": "uri", "value": "mark:1"}, "n": {"type": "literal", "value": "25"}}]}}),
             "rows": [["mark:1", "25"], ["mark:2", "25"]]},
            {"kind": "count", "id": "explicit_triples", "got": 4, "want": 4},
            {"kind": "gate", "id": "gate_ok", "path": str(gate_ok), "oracle": "SELECT 1 AS id UNION ALL SELECT 2"},
            {"kind": "gate", "id": "gate_bad", "path": str(gate_bad), "oracle": "SELECT 1 AS id UNION ALL SELECT 2"},
            {"kind": "failure", "id": "good", "reason": "replay bytes differ", "text": "q"},
        ]
        (work / "answers.jsonl").write_text("\n".join(json.dumps(r) for r in records) + "\n")
        attempted, failures, n_failed = check.check(str(work), str(HERE / "data" / "sf0.01"))
    failed = sorted({f[0] for f in failures})
    want = sorted(["good", "missing_row", "wrong_value", "placeholder", "markers:mark:2", "gate_bad"])
    # 4 selects + 2 marker rows (one per insert batch) + 1 count + 2 gates
    assert attempted == 9, attempted
    assert failed == want, (failed, want)
    assert n_failed == len(want), n_failed
    print(f"ok: {n_failed} injected failures of {attempted} operations counted")


if __name__ == "__main__":
    main()
