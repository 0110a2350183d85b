#!/usr/bin/env python3
"""Pipeline benchmark: debezium feed -> transform/route -> upsert sink state.

Run from the repository root:

    python3 perfbench/run.py --workload steady --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload catchup --seed 1 --seconds 15 --cores 1
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM, checks the sink state against the generator's
own expected state, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
The full record (all metrics, notes, provenance) is kept under
.bench_build/perfbench/runs, the traced run's spans under
.bench_build/perfbench/trace.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
JVM_SECONDS = 170
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(args, work, log):
    """Runs the benchmark main in its own process group; kills the group on timeout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args.cores), SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_MASTER", None)
    # local mode only talks to itself: bind to loopback whatever the host name resolves to
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
           + ADD_OPENS + ["-cp", build.classpath(), "perfbench.Main"] + log)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        print(f"run: benchmark JVM exceeded {JVM_SECONDS} s, killed", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["catchup", "steady"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] parallelism (default: the cores this process may use)")
    ap.add_argument("--selftest", action="store_true", help="check the generator and the oracle")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    source_digest = build.build()

    name = "selftest" if args.selftest else f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.cores}c"
    work = OUT / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    record_file = work / "record.json"
    try:
        if args.selftest:
            return 0 if jvm(args, work, ["--selftest"]) == 0 else 1
        code = jvm(args, work, ["--workload", args.workload, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace),
                                "--work", str(work), "--out", str(record_file),
                                "--trace-dir", str(OUT / "trace" / name)])
        if code != 0 or not record_file.is_file():
            print(f"run: benchmark JVM failed (exit {code})", file=sys.stderr)
            return 1
        record = json.loads(record_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["provenance"].update(git_commit=git_commit(), source_sha256=source_digest,
                                cores=args.cores, seconds=args.seconds)
    runs = OUT / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{name}.json").write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = record["layer"] if args.trace else record["e2e"]
    metrics, correct = {}, record["correct"]
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            print(f"run: metric {m['name']} was not measured", file=sys.stderr)
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for n in record["notes"]:
        print(f"note: {n}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": record["attempted"], "failed": record["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
