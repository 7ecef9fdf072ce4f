"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread, the steadiness test a change to
the benchmark has to pass.

    python3 perfbench/spread.py --workloads trend_stream,llm_loops \\
        --seeds 1-10 [--out PATH]

The spread of a metric is the distance between the first and third
quartiles of its per-seed values (``statistics.quantiles(values, n=4)``)
as a share of their median. Each run is a separate process, run one at
a time, exactly as ``BENCHMARK.json``'s command would be run.
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
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """One benchmark process; returns its report plus wall time."""
    report = os.path.join(ROOT, ".perfbench_work", f"spread-{workload}-{seed}-{trace}.json")
    t = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--report", report],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.monotonic() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    with open(report) as f:
        rep = json.load(f)
    os.remove(report)
    rep["last_line"] = json.loads(proc.stdout.strip().splitlines()[-1])
    rep["process_wall_s"] = wall
    return rep


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="trend_stream,llm_loops")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    out = {"run_seconds": spec["run_seconds"], "cores": len(os.sched_getaffinity(0)),
           "workloads": {}}
    for workload in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            rep = run_once(workload, seed, spec["run_seconds"])
            runs.append(rep)
            e2e = rep["end_to_end"]
            print(f"{workload} seed {seed}: {rep['process_wall_s']:.1f}s "
                  f"correct={rep['last_line']['correct']} attempted={rep['attempted']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), flush=True)
        metrics = {}
        for m in spec["end_to_end"]:
            s = summarize([r["end_to_end"][m["name"]] for r in runs])
            s["bound"] = m["bound"]
            metrics[m["name"]] = s
            print(f"  {m['name']:20s} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={m['bound']}", flush=True)
        out["workloads"][workload] = {
            "seeds": _seeds(args.seeds),
            "all_correct": all(r["last_line"]["correct"] for r in runs),
            "attempted": [r["attempted"] for r in runs],
            "process_wall_s": [round(r["process_wall_s"], 2) for r in runs],
            "metrics": metrics,
        }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
