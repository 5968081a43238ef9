#!/usr/bin/env python3
"""Runs the benchmark on several seeds and summarises each metric.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload select --seeds 1-10
    python3 perfbench/spread.py --workload select --seeds 1 --trace 1 \\
        --untraced perfbench/results/select.json

For each metric it prints the median, the quartiles (Python's
`statistics.quantiles(values, n=4)`) and the spread: the distance between
the quartiles as a share of the median. `--out` writes every run's result
and the summary as JSON. With `--trace 1`, `--untraced` names an earlier
untraced summary of the same workload; the tracing overhead is then the
traced `trace.wall_s` median minus its `wall_s` median. Runs are
sequential; a run that fails or prints no result stops the script.
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
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: exit {done.returncode}\n{done.stderr[-2000:]}")
    return json.loads(lines[-1])


def summarise(results):
    names = list(results[0]["metrics"])
    out = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                     else (values[0],) * 3)
        out[name] = {"unit": results[0]["metrics"][name]["unit"],
                     "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=json.loads(
        (ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--untraced", help="untraced summary, for the overhead")
    ap.add_argument("--out")
    args = ap.parse_args()

    results = []
    for s in seeds(args.seeds):
        r = run(args.workload, s, args.seconds, args.trace)
        r["seed"] = s
        results.append(r)
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']}", file=sys.stderr)
    summary = summarise(results)
    doc = {"workload": args.workload, "trace": args.trace,
           "seconds": args.seconds, "runs": results, "summary": summary}
    if args.untraced:
        base = json.loads(Path(args.untraced).read_text())["summary"]
        doc["overhead_s"] = summary["trace.wall_s"]["median"] - base["wall_s"]["median"]
    width = max(len(n) for n in summary)
    print(f"{'metric':{width}}  {'unit':10} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>8}")
    for name, m in summary.items():
        print(f"{name:{width}}  {m['unit']:10} {m['median']:12.4f} "
              f"{m['q1']:12.4f} {m['q3']:12.4f} {m['spread']:8.4f}")
    if "overhead_s" in doc:
        print(f"tracing overhead: {doc['overhead_s']:.4f} s")
    if not all(r["correct"] for r in results):
        print("some runs failed their output checks", file=sys.stderr)
    if args.out:
        Path(args.out).write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
