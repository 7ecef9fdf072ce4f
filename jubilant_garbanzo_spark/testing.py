"""Local mirror of the driver's differential-correctness gate.

The driver runs each ``queries()[name]`` PySpark callable and its
``oracle_sql()[name]`` DuckDB twin on identical parquet, then compares
row-count + schema + order-insensitive value hash
(``__spark_entry__.py`` contract). This module reimplements that check
strictly (exact values, type-sensitive) so mismatches are caught in
pytest before the driver ever runs.

``SHAPES`` holds the degenerate-input fixtures the same check runs on
(``scripts/check_queries.py --shape``): the sf tables are never empty,
constant, NULL, multi-byte or huge, so divergences on those paths hide
behind a green sweep at every scale factor.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import re
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from jubilant_garbanzo_spark.catalog import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with every driver table under ``sf_dir``
    registered as a view. A table is one parquet file or a Spark-written
    parquet directory; a table absent from ``sf_dir`` is skipped. The
    connection stays bare, with no macros or settings, because the
    driver runs ``oracle_sql()`` on a plain connection."""
    con = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        elif not os.path.exists(path):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{path}')"
        )
    return con


# -- Division operands ----------------------------------------------------
# Under Spark's ANSI default x / 0, x % 0 and x DIV 0 throw, and DuckDB's
# answer for a zero divisor depends on its version, so both the oracle
# rule (tests/test_oracle_differential.py) and the Spark guard check
# (tests/test_ansi_guards.py) read each division's right-hand operand.

#: A numeric literal, possibly parenthesized, signed or scientific.
_LITERAL = re.compile(r"^\s*\(?\s*-?\d+(\.\d+)?(e[+-]?\d+)?\s*\)?\s*$", re.I)


def _balanced(s: str, start: int) -> int:
    """End index (exclusive) of the paren group opening at s[start]."""
    depth = 0
    for i in range(start, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return len(s)


def divisor_token(sql: str, pos: int) -> str:
    """The right-hand operand of a division or modulus at ``pos``: a
    balanced paren group, a function call with its arguments, a numeric
    literal or the first bare token. It never runs into the clause text
    that follows, so a literal divisor like '% 16' reads as literal."""
    s = sql[pos:].lstrip()
    if not s:
        return ""
    if s[0] == "(":
        return s[: _balanced(s, 0)].strip()
    m = re.match(r"[A-Za-z_][\w.]*\s*\(", s)
    if m:
        return s[: _balanced(s, m.end() - 1)].strip()
    m = re.match(r"-?\d[\d.]*e[+-]?\d+|-?[\w.$]+", s, re.I)
    return m.group(0) if m else s[:20]


def _norm_value(v):
    """Canonicalize one cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # STRICT: no tolerance. Queries must produce bit-identical
        # doubles on both engines (exact integer-cents sums, raw IEEE
        # per-row arithmetic, round-to-6 on transcendentals).
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _sort_key(row):
    return tuple(
        (x is None, str(type(x)), str(x)) for x in row
    )


def canonical_rows(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, normalize cells, sort rows — order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return cols, out


def compare_query(
    spark, spec, sf_dir: str, con=None, spark_result=None
) -> list[str]:
    """Run one QuerySpec both ways; return a list of mismatch messages.

    ``spark_result=(columns, rows)`` skips re-executing the Spark side —
    for callers that already collected the frame and want to assert on
    the same rows without paying the heaviest stage twice."""
    problems: list[str] = []
    if spark_result is None:
        sdf = spec.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    else:
        s_cols, s_rows = spark_result
        s_rows = [tuple(r) for r in s_rows]

    if spec.oracle is None:
        if not isinstance(s_rows, list):
            problems.append("spark side did not produce rows")
        return problems

    own_con = con is None
    if own_con:
        con = duckdb_connection(sf_dir)
    try:
        res = con.execute(spec.oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
    finally:
        if own_con:
            con.close()

    sc, sr = canonical_rows(s_cols, s_rows)
    dc, dr = canonical_rows(d_cols, d_rows)
    if sc != dc:
        problems.append(f"schema mismatch: spark={sc} duckdb={dc}")
        return problems
    if len(sr) != len(dr):
        problems.append(f"row-count mismatch: spark={len(sr)} duckdb={len(dr)}")
        return problems
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            problems.append(
                f"value mismatch at sorted row {i}: spark={a!r} duckdb={b!r}"
            )
            if len(problems) >= 5:
                break
    return problems


# -- Degenerate-input shapes ---------------------------------------------
# Each shape rewrites a template fixture (schemas and layout as the
# driver's) table by table; both engines then see the identical rows,
# so an FK orphan or an empty join side is an audit result, not a
# fixture bug.

#: ``constant``: money/measure column -> one value wherever the column
#: exists. Exactly representable doubles, so cents rounding is noise-free.
CONSTANTS: dict[str, float] = {
    "value": 1.25,
    "o_totalprice": 100.0,
    "c_acctbal": 10.5,
    "s_acctbal": 10.5,
    "l_extendedprice": 50.0,
    "l_discount": 0.0,
    "l_tax": 0.0,
    "l_quantity": 1.0,
    "p_retailprice": 20.0,
}

#: ``extremes``: the same columns at the edge of the numeric contract
#: (functions/money.py). Money/measure doubles are exact at 2 (money)
#: or 6 (metric) decimals and |scaled value| x row count stays inside
#: BIGINT: prices to 1e7 dollars, metric values to 2^30, quantities to
#: 1e6 at sf0.001 row counts. Inputs beyond that (1e308, cent sums past
#: 2^63) are out of contract: an ANSI overflow error is then correct,
#: so the shape stops at the edge. Embeddings stay unit-scale, the ANN
#: tier's contract.
EXTREMES: dict[str, float] = {
    # 2^30: x1e6 scaling lands at ~1.07e15/row, a 1000-row sum at
    # ~1.07e18, inside BIGINT with one decade to spare
    "value": 1073741824.0,
    # 1e7 dollars = 1e9 cents; q1's 1e6-scaled charge products reach
    # ~1e13/row, 6000-row sums ~6e16
    "o_totalprice": 10000000.0,
    "l_extendedprice": 10000000.0,
    "p_retailprice": 10000000.0,
    # negative balances: every "acctbal > 0" filter goes empty, the
    # scalar-aggregate-over-zero-rows boundary
    "c_acctbal": -10000000.0,
    "s_acctbal": -10000000.0,
    "l_discount": 0.5,
    "l_tax": 0.5,
    # q1's x100 scale -> 1e8/row
    "l_quantity": 1000000.0,
}

#: ``null_text``: (table, column) pairs set all-NULL.
NULL_COLUMNS: tuple[tuple[str, str], ...] = (
    ("documents", "text"),
    ("events", "props"),
)

#: ``unicode`` word pool: 2-byte (Latin-1 sup / Greek), 3-byte (CJK),
#: 4-byte (emoji), and a combining-mark cluster.
WORDS = (
    "héllo", "wörld", "naïve", "café", "αβγδε", "Ωμέγα",
    "日本語", "中文字", "한국어", "データ", "分散処理",
    "🙂emoji", "🚀🚀launch", "🧪test",
    "e\u0301clair",  # e + combining acute: chars != graphemes != bytes
    "plain", "ascii", "words",
)


def unicode_text(doc_id: int) -> str:
    """8 pool words per doc, varied by ``doc_id`` so distinct-word
    paths and dedup structure stay non-trivial."""
    return " ".join(
        WORDS[(doc_id * 7 + k * 13) % len(WORDS)] for k in range(8)
    )


def _set_column(t: pa.Table, col: str, make) -> pa.Table:
    """``t`` with column ``col``, when present, replaced by
    ``make(num_rows, type)``."""
    if col not in t.column_names:
        return t
    i = t.column_names.index(col)
    field = t.schema.field(i)
    return t.set_column(i, field, make(len(t), field.type))


def _fill(values: dict[str, float]):
    def shape(name: str, t: pa.Table) -> pa.Table:
        for col, v in values.items():
            t = _set_column(t, col, lambda n, typ: pa.array([v] * n, type=typ))
        return t

    return shape


def _null_text(name: str, t: pa.Table) -> pa.Table:
    for table, col in NULL_COLUMNS:
        if name == table:
            t = _set_column(t, col, pa.nulls)
    return t


def _unicode(name: str, t: pa.Table) -> pa.Table:
    if name != "documents":
        return t
    texts = [unicode_text(d) for d in t.column("doc_id").to_pylist()]
    return _set_column(t, "text", lambda n, typ: pa.array(texts, type=pa.string()))


#: shape name -> per-table transform ``(table name, template) -> table``.
SHAPES = {
    # 0 rows: phantom or missing ungrouped-aggregate rows, NULL-vs-0
    # counts, schema inference on empty writes, ln(0) in an oracle
    "empty": lambda name, t: t.schema.remove_metadata().empty_table(),
    # the first row of each table: n = 1 statistics, single-node graphs,
    # one-element windows, self-joins with no second row
    "single_row": lambda name, t: t.slice(0, 1).combine_chunks(),
    # keys and row counts kept, every measure variance ZERO: z-scores,
    # t-statistics, regression denominators, IQR fences of width 0
    "constant": _fill(CONSTANTS),
    # free-text payloads all NULL (a crawler batch of fetch failures):
    # split/shingle/tokenize/JSON-extract of NULL, all-NULL statistics
    "null_text": _null_text,
    # multi-byte text: any oracle counting BYTES where Spark counts
    # CHARACTERS (length, slicing, positions) turns red
    "unicode": _unicode,
    # magnitude paths the small constants cannot reach: BIGINT headroom
    # of the scaled-integer money idiom, filters that go empty
    "extremes": _fill(EXTREMES),
}


def build_shaped_fixture(template: str, dest: str, shape: str) -> None:
    """Write every driver table of ``template`` to ``dest`` through the
    ``SHAPES[shape]`` transform."""
    transform = SHAPES[shape]
    for name in TABLES:
        t = pq.read_table(f"{template}/{name}.parquet")
        pq.write_table(transform(name, t), f"{dest}/{name}.parquet")
