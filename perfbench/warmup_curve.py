"""Record the warm-up curve that fixes the benchmark's warm counts.

    python3 perfbench/warmup_curve.py [--seed N] [--out PATH]

For ``llm_loops`` it runs many passes in one process and records
every pass's wall time and the driver JVM's CPU time; for
``trend_stream`` it records the trigger time of the first batches. The
JVM CPU column tells JIT warm-up apart from ambient load: if both fall
together the process is still warming. Writes
``perfbench/results/warmup_curve.json`` by default.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (workload, warm passes or batches, seconds) for one long run each.
PLAN = (("llm_loops", 5, 1), ("trend_stream", 1, 30))


def _run(workload: str, seed: int, warm: int, seconds: float, report: str) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--warm", str(warm), "--report", report],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
    )
    with open(report) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "warmup_curve.json"))
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    out = {"seed": args.seed, "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    for workload, warm, seconds in PLAN:
        rep = _run(workload, args.seed, warm, seconds, os.path.join(work, "curve.json"))
        detail = rep["detail"]
        if workload == "trend_stream":
            curve = [{"batch": b["batch"], "trigger_ms": b["trigger_ms"]}
                     for b in detail["batches"]]
        else:
            curve = [{"pass": p["pass"], "wall_s": round(p["wall_s"], 3),
                      "jvm_cpu_s": round(p["jvm_cpu_s"], 2)} for p in detail["passes"]]
        out["workloads"][workload] = curve
        print(workload, json.dumps(curve), flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
