"""Steadiness check: run the benchmark on several seeds and report, per
workload and end-to-end metric, the median and the spread (Q3 - Q1) /
median, quartiles as ``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/steady.py --workloads cdc_fanout replica_upsert \
        --seeds 1 2 3 4 5 --seconds 10 --out steady.json

Runs one benchmark process at a time, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cpu0 = _cpu_times()
    t = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t
    cpu1 = _cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    # share of CPU time the hypervisor gave to other guests while this ran
    steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = "\n".join(p.stderr.strip().splitlines()[-15:])
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{tail}")
    notes = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench:")]
    return {"seed": seed, "wall_s": wall, "steal": steal, "notes": notes,
            **json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        entry = {"median": med, "values": xs}
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            entry["spread"] = (q3 - q1) / med
        out[name] = entry
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {}
    for w in args.workloads:
        runs = []
        for s in args.seeds:
            r = run_once(w, s, args.seconds, args.trace)
            runs.append(r)
            vals = {k: round(v["value"], 3) for k, v in r["metrics"].items()}
            print(f"{w} seed {s}: {r['wall_s']:.1f} s wall, steal {r['steal']:.3f}, correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
        report[w] = {"runs": runs, "summary": summarize(runs)}
        for name, e in report[w]["summary"].items():
            print(f"  {w} {name}: median {e['median']:.4g} spread {e.get('spread', 0):.3f}",
                  flush=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
