"""Traced runs: the per-layer table, the spans, and tracing overhead.

    python3 perfbench/trace_report.py [--seeds 1,2,3] [--outdir perfbench/results]

For each workload and seed it makes an untraced run (``--trace 0``)
and then a traced one (``--trace 1``), back to back so that the host's
speed drifts as little as possible between the two, and writes to
``--outdir``:

- ``spans/<workload>-seed<N>.spans.jsonl.gz``: the spans of the first
  seed's run (workload -> pass -> op -> build/action -> Spark jobs for
  ``llm_loops``; stream -> batch -> progress phases, emit and
  Spark jobs for the stream);
- ``layers.json`` and ``layers.md``: every per-layer metric of
  ``BENCHMARK.json`` per workload (median over the traced runs), with
  the end-to-end metric it should move, and whether each job count
  repeated exactly across the runs;
- ``trace_overhead.json``: traced minus untraced medians of every
  end-to-end metric over the same seeds.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import statistics
import sys

from spread import ROOT, run_once

HERE = os.path.dirname(os.path.abspath(__file__))

#: Per-layer metric (or prefix) -> (end-to-end metrics it should move,
#: the workload where it should move them).
MOVES = [
    (("spark.jobs_per_op", "spark.driver_gap_ms", "query.build_ms"),
     "latency_geomean_ms, throughput_per_s", "llm_loops"),
    (("query.action_ms", "spark.tasks_per_op", "spark.executor_cpu_ms",
      "spark.executor_busy_ratio", "spark.shuffle_read_mb", "spark.shuffle_write_mb"),
     "latency_ms_p50, throughput_per_s", "llm_loops (its SQL ops)"),
    (("stream.trigger_ms", "stream.query_planning_ms", "stream.add_batch_ms",
      "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.emit_ms",
      "stream.jobs_per_batch", "stream.tasks_per_batch", "stream.state_partitions"),
     "latency_ms_p50, throughput_per_s",
     "trend_stream; watch llm_loops when session settings move"),
    (("stream.latest_offset_ms", "source.firehose_rows_per_s"),
     "throughput_per_s", "trend_stream"),
    (("stream.state_rows", "stream.state_memory_mb", "spark.peak_task_mem_mb",
      "spark.spill_mb", "jvm.gc_ms"),
     "memory_mb, latency_geomean_ms", "all"),
    (("session.get_spark_s", "oracle.expected_s", "warmup_s", "op.cold_wall_ms"),
     "setup_s", "all"),
    (("op.",), "latency_geomean_ms", "llm_loops"),
]


def _moves(name: str) -> tuple[str, str]:
    for names, e2e, where in MOVES:
        if any(name == n or (n.endswith(".") and name.startswith(n)) for n in names):
            return e2e, where
    return "", ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--workloads", default="trend_stream,llm_loops")
    ap.add_argument("--outdir", default=os.path.join(HERE, "results"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = args.workloads.split(",")
    os.makedirs(os.path.join(args.outdir, "spans"), exist_ok=True)

    layers, overhead = {}, {}
    for w in workloads:
        plain, reps = [], []
        for s in seeds:
            plain.append(run_once(w, s, spec["run_seconds"], trace=0))
            reps.append(run_once(w, s, spec["run_seconds"], trace=1))
        for r in plain + reps:
            assert r["last_line"]["correct"], (w, r["seed"], r["below_1"])
        src = os.path.join(ROOT, ".perfbench_work", "trace", f"{w}-seed{seeds[0]}.spans.jsonl")
        with open(src, "rb") as fin, gzip.open(
            os.path.join(args.outdir, "spans", f"{w}-seed{seeds[0]}.spans.jsonl.gz"), "wb"
        ) as fout:
            shutil.copyfileobj(fin, fout)

        layers[w] = {}
        for m in spec["per_layer"]:
            vals = [r["per_layer"].get(m["name"], 0.0) for r in reps]
            layers[w][m["name"]] = {
                "median": statistics.median(vals),
                "min": min(vals),
                "max": max(vals),
            }

        overhead[w] = {}
        for m in spec["end_to_end"]:
            off = statistics.median(r["end_to_end"][m["name"]] for r in plain)
            on = statistics.median(r["end_to_end"][m["name"]] for r in reps)
            overhead[w][m["name"]] = {
                "untraced_median": off,
                "traced_median": on,
                "traced_minus_untraced": on - off,
                "relative": (on - off) / off if off else 0.0,
            }
        print(w, json.dumps({k: round(v["relative"], 4) for k, v in overhead[w].items()}),
              flush=True)

    with open(os.path.join(args.outdir, "layers.json"), "w") as f:
        json.dump({"seeds": seeds, "run_seconds": spec["run_seconds"], "layers": layers},
                  f, indent=1)
    with open(os.path.join(args.outdir, "trace_overhead.json"), "w") as f:
        json.dump({"seeds": seeds, "run_seconds": spec["run_seconds"],
                   "overhead": overhead}, f, indent=1)

    lines = [
        f"# Per-layer metrics (traced runs, seeds {args.seeds}, "
        f"median over seeds; {spec['run_seconds']} s window)",
        "",
        "Counts marked `*` differed between seeds. A 0 means the workload does "
        "not exercise that layer.",
        "",
        "| metric | unit | should move | on | " + " | ".join(workloads) + " |",
        "| --- | --- | --- | --- | " + " | ".join("---:" for _ in workloads) + " |",
    ]
    for m in spec["per_layer"]:
        e2e, where = _moves(m["name"])
        cells = []
        for w in workloads:
            v = layers[w][m["name"]]
            mark = "*" if m["unit"] == "count" and v["min"] != v["max"] else ""
            cells.append(f"{v['median']:.4g}{mark}")
        lines.append(f"| `{m['name']}` | {m['unit']} | {e2e} | {where} | " + " | ".join(cells) + " |")
    lines += ["", "## Tracing overhead (traced minus untraced median)", "",
              "| workload | " + " | ".join(m["name"] for m in spec["end_to_end"]) + " |",
              "| --- | " + " | ".join("---:" for _ in spec["end_to_end"]) + " |"]
    for w in workloads:
        lines.append(f"| {w} | " + " | ".join(
            f"{overhead[w][m['name']]['traced_minus_untraced']:+.4g} "
            f"({overhead[w][m['name']]['relative']:+.1%})" for m in spec["end_to_end"]) + " |")
    with open(os.path.join(args.outdir, "layers.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
