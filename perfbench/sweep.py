"""Run the benchmark over several seeds and summarise each end-to-end metric.

    python3 perfbench/sweep.py --workload bulk_catchup --seeds 1-10 [--overhead]

Run from the repository root. Prints one line per run, then per metric the
median, the quartiles and the spread (Q3 - Q1) / median next to the metric's
bound from BENCHMARK.json. With --overhead each seed also runs traced, and
the tracing overhead (traced minus untraced median) of events_per_s and
freshness_p50_s is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise RuntimeError(f"seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        r = _run(args.workload, seed, seconds, 0)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        print(f"seed {seed}: {r['wall_s']:.0f}s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
        for k, v in m.items():
            values.setdefault(k, []).append(v)
        if args.overhead:
            t = _run(args.workload, seed, seconds, 1)
            for k in ("events_per_s", "freshness_p50_s"):
                traced.setdefault(k, []).append(t["metrics"][f"trace.{k}"]["value"])
            print(f"seed {seed} traced: {t['wall_s']:.0f}s correct={t['correct']}", flush=True)

    for k, v in values.items():
        med = statistics.median(v)
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
            print(f"{k}: median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={(q3 - q1) / med:.3f} bound={bounds[k]}")
        else:
            print(f"{k}: {med:.4g}")
    for k, v in traced.items():
        delta = statistics.median(v) - statistics.median(values[k])
        print(f"tracing overhead on {k}: traced-untraced median = {delta:+.4g} "
              f"({delta / statistics.median(values[k]):+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
