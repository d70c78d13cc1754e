#!/usr/bin/env python3
"""Compare sets of benchmark runs saved with `run.py --save FILE`.

  compare.py spread RUNS.jsonl
      median, quartiles and quartile spread (IQR / median) of every metric
      per workload, against the metric's bound in BENCHMARK.json.
  compare.py agree A.jsonl B.jsonl
      whether two sets of runs of the same code agree: every spread within
      its bound, and the medians apart by no more than the bound, in
      either direction.
  compare.py paired PARENT.jsonl CHANGE.jsonl
      the paired A/B rule for a change that claims a gain: runs are paired
      by seed; a metric improved only if the change wins at least 9 of 10
      pairs (ties count for neither) and the medians differ by more than
      the parent's quartile spread. Every other metric must stay within
      its bound, or is reported unresolved when the spread is wider. No
      metric counts as improved when the change fails more operations
      than the parent over the same seeds.
  compare.py overhead RUNS.jsonl
      tracing overhead: per workload, the median of each end-to-end metric
      over traced runs minus its median over untraced runs.
  compare.py ab PARENT_DIR CHANGE_DIR --workload W
      makes 10 paired runs itself (seeds 1000-1009, the run length of
      BENCHMARK.json), alternating which checkout runs first, saves them
      next to each checkout's .bench_build, then applies `paired`.

Runs made on a box with foreign JVMs are counted and flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
AB_PAIRS = 10
AB_FIRST_SEED = 1000


def load_spec(root=ROOT):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}, spec


def load_runs(path):
    """{(workload, metric): [(seed, value)]}, {workload: {seed: (failed,
    attempted)}} and the number of flagged runs."""
    runs, outcomes, flagged = defaultdict(list), defaultdict(dict), 0
    for line in open(path):
        r = json.loads(line)
        if r["preflight"]["foreign_jvms"]:
            flagged += 1
        res = r["result"]
        outcomes[r["workload"]][r["seed"]] = (res["failed"], res["attempted"])
        for name, m in res["metrics"].items():
            runs[(r["workload"], name)].append((r["seed"], m["value"]))
    return runs, outcomes, flagged


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(base, new, better):
    """Relative amount by which `new` is worse than `base` (negative = better)."""
    return (new - base) / base if better == "lower" else (base - new) / base


def cmd_spread(args):
    metrics, _ = load_spec()
    runs, _, flagged = load_runs(args.runs)
    print(f"{'workload':14s} {'metric':34s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}  verdict")
    ok = True
    for (w, name), vals in sorted(runs.items()):
        v = [x for _, x in vals]
        q1, med, q3 = quartiles(v)
        s = spread(v)
        bound = metrics.get(name, {}).get("bound")
        verdict = ""
        if bound is not None:
            verdict = "steady" if s < bound / 3 else ("within bound" if s <= bound else "TOO WIDE")
            ok &= s <= bound
        print(f"{w:14s} {name:34s} {len(v):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{s:7.3f} {bound if bound is not None else '-':>6}  {verdict}")
    if flagged:
        print(f"WARNING: {flagged} run(s) were made with foreign JVMs alive")
    return 0 if ok else 1


def cmd_agree(args):
    metrics, _ = load_spec()
    a, _, fa = load_runs(args.a)
    b, _, fb = load_runs(args.b)
    ok = True
    for key in sorted(set(a) & set(b)):
        w, name = key
        m = metrics.get(name)
        if m is None or "bound" not in m:
            continue
        va, vb = [x for _, x in a[key]], [x for _, x in b[key]]
        sa, sb = spread(va), spread(vb)
        gap = worse_by(statistics.median(va), statistics.median(vb), m["better"])
        agree = abs(gap) <= m["bound"] and sa <= m["bound"] and sb <= m["bound"]
        ok &= agree
        print(f"{w:14s} {name:20s} A med={statistics.median(va):.4f} spread={sa:.3f} | "
              f"B med={statistics.median(vb):.4f} spread={sb:.3f} | B worse by {gap:+.3f} "
              f"(bound {m['bound']}) -> {'agree' if agree else 'DISAGREE'}")
    if fa or fb:
        print(f"WARNING: foreign JVMs alive in {fa} + {fb} run(s)")
    return 0 if ok else 1


def cmd_paired(args):
    metrics, _ = load_spec()
    p, po, fp = load_runs(args.parent)
    c, co, fc = load_runs(args.change)
    # a change that fails more operations than the parent gains nothing
    more_failed = {}
    for w in sorted(set(po) & set(co)):
        seeds = sorted(set(po[w]) & set(co[w]))
        if not seeds:
            continue
        pf, pa = (sum(po[w][s][i] for s in seeds) for i in (0, 1))
        cf, ca = (sum(co[w][s][i] for s in seeds) for i in (0, 1))
        more_failed[w] = cf > pf
        print(f"{w:14s} failed operations over {len(seeds)} pairs: parent {pf}/{pa}, change {cf}/{ca}"
              + (" -> MORE FAILED: no metric counts as improved" if more_failed[w] else ""))
    for key in sorted(set(p) & set(c)):
        w, name = key
        m = metrics.get(name, {"better": "lower"})
        ps, cs = dict(p[key]), dict(c[key])
        seeds = sorted(set(ps) & set(cs))
        if not seeds:
            continue
        wins = sum(1 for s in seeds if worse_by(ps[s], cs[s], m["better"]) < 0)
        losses = sum(1 for s in seeds if worse_by(ps[s], cs[s], m["better"]) > 0)
        pv, cv = [ps[s] for s in seeds], [cs[s] for s in seeds]
        q1, pmed, q3 = quartiles(pv)
        cmed = statistics.median(cv)
        gain = wins >= 0.9 * len(seeds) and abs(cmed - pmed) > (q3 - q1) \
            and worse_by(pmed, cmed, m["better"]) < 0
        gap = worse_by(pmed, cmed, m["better"])
        if gain and more_failed.get(w, False):
            verdict = "NOT IMPROVED (the change fails more operations)"
        elif gain:
            verdict = "IMPROVED"
        elif "bound" not in m:
            verdict = "-"
        elif spread(pv) > m["bound"]:
            all_better = all(worse_by(x, y, m["better"]) < 0 for x in pv for y in cv)
            verdict = "better in every run" if all_better else "unresolved (spread wider than bound)"
        else:
            verdict = "no regression" if gap <= m["bound"] else "REGRESSED"
        print(f"{w:14s} {name:34s} pairs={len(seeds):2d} wins={wins:2d} losses={losses:2d} "
              f"parent med={pmed:.4f} [q1 {q1:.4f} q3 {q3:.4f}] change med={cmed:.4f} "
              f"({gap:+.3f} worse) -> {verdict}")
    if fp or fc:
        print(f"WARNING: foreign JVMs alive in {fp} + {fc} run(s)")
    return 0


def cmd_overhead(args):
    _, spec = load_spec()
    vals = defaultdict(list)
    for line in open(args.runs):
        r = json.loads(line)
        for name, v in r["e2e"].items():
            vals[(r["workload"], name, r["trace"])].append(v)
    for m in spec["end_to_end"]:
        for w in sorted({k[0] for k in vals}):
            off, on = vals.get((w, m["name"], 0)), vals.get((w, m["name"], 1))
            if off and on:
                a, b = statistics.median(off), statistics.median(on)
                print(f"tracing overhead {w:14s} {m['name']:20s} untraced={a:.4f} traced={b:.4f} "
                      f"delta={b - a:+.4f} {m['unit']} ({(b - a) / a:+.1%}; n={len(off)}/{len(on)})")
    return 0


def cmd_ab(args):
    parent, change = Path(args.parent).resolve(), Path(args.change).resolve()
    outs = {d: d / ".bench_build" / f"ab-{args.workload}.jsonl" for d in (parent, change)}
    for d, out in outs.items():
        out.parent.mkdir(exist_ok=True)
        out.unlink(missing_ok=True)
    _, spec = load_spec()
    for i in range(AB_PAIRS):
        order = (parent, change) if i % 2 == 0 else (change, parent)
        for d in order:
            cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
                   "--seed", str(AB_FIRST_SEED + i), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0", "--save", str(outs[d])]
            subprocess.run(cmd, cwd=d, check=True, stdout=subprocess.DEVNULL)
    ns = argparse.Namespace(parent=outs[parent], change=outs[change])
    return cmd_paired(ns)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread"); s.add_argument("runs")
    s = sub.add_parser("agree"); s.add_argument("a"); s.add_argument("b")
    s = sub.add_parser("paired"); s.add_argument("parent"); s.add_argument("change")
    s = sub.add_parser("overhead"); s.add_argument("runs")
    s = sub.add_parser("ab"); s.add_argument("parent"); s.add_argument("change")
    s.add_argument("--workload", required=True)
    args = ap.parse_args()
    return {"spread": cmd_spread, "agree": cmd_agree, "paired": cmd_paired,
            "overhead": cmd_overhead, "ab": cmd_ab}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
