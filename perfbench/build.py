#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/perfbench/classes, using
the Scala compiler and the Spark jars that ship with the Spark install, the
same jars build.sbt links against. No dependency is resolved or downloaded.
A digest of every source is stamped next to the classes, so an unchanged
tree is not rebuilt.

    python3 perfbench/build.py            # from the repository root
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"
SCALA = "2.13.17"


def spark_jars():
    """The jar directory build.sbt compiles against (its `unmanagedBase`);
    $SPARK_JARS, else $SPARK_HOME/jars, when build.sbt names none."""
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text()) \
        if (ROOT / "build.sbt").is_file() else None
    if os.environ.get("SPARK_JARS"):
        jars = Path(os.environ["SPARK_JARS"])
    elif found:
        jars = Path(found.group(1))
    elif os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise SystemExit("build: no Spark jars; set SPARK_JARS or SPARK_HOME")
    if not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        raise SystemExit(f"build: {jars} holds no scala-compiler-{SCALA}.jar")
    return jars


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("build: no sources")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{BENCH / 'conf'}:{spark_jars()}/*"


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the source digest."""
    files = sources()
    d = digest(files)
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        # one build at a time per checkout; a waiting run reuses the result
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (STAMP.is_file() and STAMP.read_text() == d and CLASSES.is_dir()):
            compile_all(files, d, log)
    return d


def compile_all(files, d, log):
    jars = spark_jars()
    compiler = ":".join(str(jars / f"{n}-{SCALA}.jar")
                        for n in ("scala-compiler", "scala-library", "scala-reflect"))
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=800)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(d)


if __name__ == "__main__":
    build()
