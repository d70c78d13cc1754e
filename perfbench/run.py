#!/usr/bin/env python3
"""MOCHA-path benchmark of the graft engine.

    python3 perfbench/run.py --workload mocha|pipeline_ops --seed N \
        --seconds S --trace 0|1 [--save runs.jsonl]

Builds the engine and the harness from source (perfbench/build.py), runs
one workload in a fresh JVM with Spark local[4], checks every answer
outside the timed region (perfbench/check.py), prints the figures with
their units and a summary line, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (spans go to .bench_build/traces/). See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("mocha", "pipeline_ops")
DATA = HERE / "data" / "sf0.01"
HEAP = "3g"
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def foreign_jvms():
    """JVM and sbt processes other than this benchmark's own (none of ours
    is alive when this runs)."""
    found = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == os.getpid():
            continue
        try:
            argv = (p / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        exe = os.path.basename(argv[0].decode(errors="replace")) if argv and argv[0] else ""
        if exe == "java" or exe == "sbt":
            found.append(f"pid={p.name} {b' '.join(argv)[:120].decode(errors='replace')}")
    return found


def loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def run_jvm(args, work: Path) -> Path:
    jvm_opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *jvm_opts, "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-cp", build.classpath(), "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", str(DATA), "--work", str(work),
           "--launch-epoch", repr(time.time())]
    log = work / "jvm.log"
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s; log tail:\n{tail(log)}")
    if code != 0 or not (work / "result.json").exists():
        raise SystemExit(f"run: JVM exited with code {code}; log tail:\n{tail(log)}")
    return work / "result.json"


def tail(path: Path, n: int = 40) -> str:
    return "\n".join(path.read_text(errors="replace").splitlines()[-n:])


def fmt(d: dict) -> str:
    return " ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in d.items())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="append this run's record to a JSON-lines file")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build.build()
    if not DATA.is_dir():
        raise SystemExit(f"run: data directory {DATA} is missing")

    foreign = foreign_jvms()
    load_before = loadavg()
    work = build.BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = json.loads(run_jvm(args, work).read_text())
        import check  # DuckDB and pandas load only once the JVM is done
        attempted, failures, n_failed = check.check(str(work), str(DATA))
        if args.trace:
            traces = build.BUILD / "traces"
            traces.mkdir(exist_ok=True)
            stem = f"{args.workload}-seed{args.seed}"
            shutil.copy(work / "spans.jsonl", traces / f"{stem}-spans.jsonl")
            shutil.copy(work / "result.json", traces / f"{stem}-result.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    preflight = {"foreign_jvms": len(foreign), "loadavg_before": load_before,
                 "loadavg_after": loadavg(), "nproc": os.cpu_count(), "heap": HEAP,
                 "master": res["spark"]["master"]}

    section = "per_layer" if args.trace else "end_to_end"
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in spec[section]:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"run: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"preflight: {fmt(preflight)}")
    for f in foreign:
        print(f"preflight: FOREIGN JVM {f}")
    print(f"sizes: {fmt(res['info'])} op_samples={res['op_samples']}")
    print(f"figures: {fmt(res['summary'])}")
    if args.trace:
        for k, v in res["detail"].items():
            print(f"layer {k} = {v:.6g}")
    for f in failures:
        print(f"FAILED {f[0]}: {f[1]} | {f[2]}")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    label = f" CONTAMINATED({len(foreign)} foreign JVMs)" if foreign else ""
    print(f"summary: {args.workload} seed={args.seed} attempted={attempted} failed={n_failed} "
          f"failed_ratio={n_failed / max(attempted, 1):.4f} wall_s={res['wall_s']:.1f}{label}")
    result = {"correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
              "metrics": metrics}
    if args.save:
        with open(args.save, "a") as out:
            out.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                  "trace": args.trace, "preflight": preflight,
                                  "figures": res["summary"], "info": res["info"],
                                  "e2e": res["e2e"],
                                  "result": result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
