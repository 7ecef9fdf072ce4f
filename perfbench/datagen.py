"""Seeded generator for the ten tables the ``llm_loops`` workload reads.

The tables have the schemas and value distributions of the project's
fixture set (FIXTURES.md): a TPC-H-shaped star schema, an ``events``
table, and the ``documents``/``embeddings`` tables of the LLM-pipeline
operators. Row counts scale with ``sf`` the way the fixtures do
(``lineitem`` is 6,000,000 x sf rows). The same ``(seed, sf)`` always
writes byte-identical parquet, so a run's inputs are a pure function of
its ``--seed``.

Values that queries filter on by literal (``'BUILDING'``, ``'ASIA'``,
``'%red%'``, order status ``'F'``, dates in 1995-2001) are drawn from the
same vocabularies as the fixtures, so every query returns rows. Money
columns are whole cents divided by 100.0, the exact decimals the
queries' integer-cents sums expect.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_COLORS = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
#: Document vocabulary; ``dup`` only ever marks a near-duplicate copy.
WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _epoch_us(day: dt.datetime) -> int:
    return int((day - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, first: dt.datetime, last: dt.datetime) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``[first, last]``."""
    span = (last - first).days
    us = _epoch_us(first) + rng.integers(0, span + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _cents(rng, n: int, lo: int, hi: int) -> np.ndarray:
    """Money values with exactly two decimals, in ``[lo, hi]`` cents."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; about 5% are a base document plus ``dup``
    words, the near-duplicates the MinHash operators must cluster."""
    n_dup = max(1, int(n * NEAR_DUP_SHARE))
    n_base = n - n_dup
    lengths = rng.integers(10, 100, n_base)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    sources = rng.choice(n_base, n_dup, replace=False)
    for src in sources:
        texts.append(texts[src] + " dup" * int(rng.integers(1, 3)))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit-norm float32 vectors around one centre per label."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + 2.0 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = _epoch_us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n) * 100) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, n_cust, -99_999, 999_999)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_cents(rng, n_supp, -99_999, 999_999)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_COLORS[c]} {PART_NOUNS[k]}"
                        for c, k in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    (90_000 + (np.arange(n_part) % 1000) * 10) / 100.0
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_cents(rng, n_ord, 100_000, 50_000_000)),
                "o_orderdate": _days(
                    rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, n_li, 90_000, 10_500_000)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(
                    rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
                ),
            }
        ),
        "events": _events(rng, n_ev, n_cust),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
