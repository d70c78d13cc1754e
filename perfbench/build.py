#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) into .bench_build/classes with the Scala compiler
that ships among the Spark jars. The compile is skipped when no source
changed since the last build. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """The jar directory the repo's build.sbt compiles against
    (`unmanagedBase`), unless SPARK_HOME names another Spark."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        found += sorted(d.rglob("*.scala"))
    return found


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(quiet: bool = True) -> None:
    files = sources()
    want = stamp(files)
    stamp_file = CLASSES / "STAMP"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return
    jars = spark_jars()
    compiler = [next(jars.glob(f"scala-{n}-2.13*.jar"), None) for n in ("compiler", "library", "reflect")]
    if None in compiler:
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {jars}")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=quiet, text=True)
    if proc.returncode != 0:
        if quiet:
            sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    (tmp / "STAMP").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)


if __name__ == "__main__":
    build(quiet=False)
    print(f"built {CLASSES}")
