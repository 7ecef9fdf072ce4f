"""Self-test of the benchmark itself: a smoke pass of every workload.

    python3 perfbench/selftest.py

Runs each workload at sf0.001 with one warm pass (or batch) and a
one-second window, and checks that:

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every end-to-end metric of ``BENCHMARK.json`` prints with its unit,
  and the results are correct;
- a traced run prints every per-layer metric with its unit;
- a deliberately corrupted expectation drives ``recall`` below 1 and
  ``correct`` to false, on both workloads;
- in a directory holding only ``BENCHMARK.json`` and the benchmark's
  files, the command exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE = ["--seconds", "1", "--warm", "1", "--sf", "0.001"]


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    return res


def _check_units(res: dict, wanted: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in wanted}, sorted(res["metrics"])
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], float), (m["name"], got)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def check(label, fn):
        try:
            fn()
            print(f"ok   {label}", flush=True)
        except Exception as exc:  # report every failed check, then exit 1
            failures.append(label)
            print(f"FAIL {label}: {exc}", flush=True)

    def smoke(workload):
        res = _result(_run(["--workload", workload, "--seed", "7", "--trace", "0", *SMOKE]))
        _check_units(res, spec["end_to_end"])
        assert res["correct"] and res["failed"] == 0, res
        assert res["metrics"]["recall"]["value"] == 1.0, res
        for m in spec["end_to_end"]:
            assert res["metrics"][m["name"]]["value"] > 0, m["name"]

    def traced():
        res = _result(_run(["--workload", "llm_loops", "--seed", "7", "--trace", "1", *SMOKE]))
        _check_units(res, spec["per_layer"])
        assert res["metrics"]["spark.jobs_per_op"]["value"] > 0, res

    def corrupted(workload):
        res = _result(_run(["--workload", workload, "--seed", "7", "--trace", "0",
                            "--corrupt", *SMOKE]))
        assert res["metrics"]["recall"]["value"] < 1.0, res
        assert not res["correct"], res

    def bare_directory():
        bare = os.path.join(ROOT, ".perfbench_work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            proc = _run(["--workload", "llm_loops", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], cwd=bare)
            assert proc.returncode != 0, proc.stdout
            assert '"metrics"' not in proc.stdout, proc.stdout
        finally:
            shutil.rmtree(bare, ignore_errors=True)

    for w in (x["name"] for x in spec["workloads"]):
        check(f"smoke {w}: every end-to-end metric with its unit, correct", lambda w=w: smoke(w))
    check("traced llm_loops: every per-layer metric with its unit", traced)
    check("corrupted expectation drives llm_loops recall below 1",
          lambda: corrupted("llm_loops"))
    check("corrupted expectation drives trend_stream recall below 1",
          lambda: corrupted("trend_stream"))
    check("bare directory: non-zero exit, no result", bare_directory)
    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
