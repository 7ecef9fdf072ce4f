"""The degenerate-input shapes (``testing.SHAPES``) each keep the
invariant they are named for, and ``scripts/check_queries.py --shape``
sweeps one end to end.

Every column a shape does not name must stay equal to the template's,
so a shape cannot silently change what the sweep over it tests.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from jubilant_garbanzo_spark.catalog import TABLES
from jubilant_garbanzo_spark.testing import (
    CONSTANTS,
    EXTREMES,
    SHAPES,
    build_shaped_fixture,
)

REPO = Path(__file__).resolve().parents[1]

#: shape -> {column: constant} for the shapes that fill named columns.
FILLS = {"constant": CONSTANTS, "extremes": EXTREMES}
#: shape -> the (table, column) pairs it rewrites, for the other shapes
#: that keep every row.
REWRITES = {
    "null_text": {("documents", "text"), ("events", "props")},
    "unicode": {("documents", "text")},
}


def _changed_columns(shape, name, table) -> set[str]:
    if shape in FILLS:
        return set(FILLS[shape]) & set(table.column_names)
    return {c for t, c in REWRITES[shape] if t == name}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_shape_keeps_its_invariant(sf_dir, tmp_path, shape):
    build_shaped_fixture(sf_dir, str(tmp_path), shape)
    changed_anywhere = set()
    for name in TABLES:
        tmpl = pq.read_table(f"{sf_dir}/{name}.parquet")
        out = pq.read_table(tmp_path / f"{name}.parquet")
        assert out.schema.equals(tmpl.schema), (name, out.schema)
        if shape == "empty":
            assert out.num_rows == 0, name
            continue
        if shape == "single_row":
            assert out.equals(tmpl.slice(0, 1)), name
            continue
        assert out.num_rows == tmpl.num_rows, name
        changed = _changed_columns(shape, name, tmpl)
        changed_anywhere |= {(name, c) for c in changed}
        for col in tmpl.column_names:
            if col not in changed:
                assert out.column(col).equals(tmpl.column(col)), (name, col)
            elif shape in FILLS:
                assert set(out.column(col).to_pylist()) == {
                    FILLS[shape][col]
                }, (name, col)
            elif shape == "null_text":
                assert out.column(col).null_count == out.num_rows, (name, col)
            else:
                docs = list(
                    zip(out.column("doc_id").to_pylist(),
                        out.column(col).to_pylist())
                )
                assert all(not text.isascii() for _, text in docs), name
                assert len(set(docs)) == len({d for d, _ in docs})  # per doc_id
                assert len({text for _, text in docs}) > 1
    if shape in FILLS:
        assert {c for _, c in changed_anywhere} == set(FILLS[shape])
    elif shape in REWRITES:
        assert changed_anywhere == REWRITES[shape]
    if shape == "unicode":
        again = tmp_path / "again"
        again.mkdir()
        build_shaped_fixture(sf_dir, str(again), shape)
        assert pq.read_table(again / "documents.parquet").equals(
            pq.read_table(tmp_path / "documents.parquet")
        )


def test_check_queries_shape_cli(sf_dir):
    """The sweep's CLI path, in its own process so ``get_spark`` cannot
    reset the shared test session's shuffle width."""
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "scripts" / "check_queries.py"),
            "--sf", sf_dir,
            "--shape", "empty",
            "agg_cube",
            "text_heaps_law",
        ],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
    assert "2/2 passed" in proc.stdout, proc.stdout
