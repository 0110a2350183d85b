#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Runs one workload once per seed and reports, for each end-to-end metric, the
median and the distance between the first and third quartile as a share of
the median (statistics.quantiles(values, n=4)), next to the metric's bound.

    python3 perfbench/spread.py --workload steady --seeds 1-10
    python3 perfbench/spread.py --workload catchup --seeds 1-5 --trace 1

With --trace 1 it reports the per-layer metrics instead (they have no bound).
Each run's result line is appended to .bench_build/perfbench/spread.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, bad = {}, 0
    log = ROOT / ".bench_build" / "perfbench" / "spread.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    for s in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
               "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        if args.cores:
            cmd += ["--cores", str(args.cores)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(lines[-1])
        with log.open("a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": s, "trace": args.trace, **res}) + "\n")
        if not res["correct"] or res["failed"]:
            bad += 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"{'metric':40} {'n':>3} {'median':>12} {'IQR/median':>11} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        share = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k) if not args.trace else None
        flag = "" if b is None else ("ok" if share < b / 3 else "WIDE")
        print(f"{k:40} {len(vs):3d} {med:12.5g} {share:11.4f} {'' if b is None else b:>6} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
