"""Differential regression for the round-11 ANSI crash-vs-NULL guards.

Spark 4 runs with ANSI mode ON: any division whose divisor evaluates
to zero raises ``SparkArithmeticException`` — including double
division, where DuckDB's oracle yields NULL. The round-11 review
empirically confirmed four degenerate inputs that crashed the engine
while the oracle answered:

- ``anomaly_zscore_outliers``: a priority group of size 1 (variance
  divides by n−1 = 0) and a constant-price group (z divides by σ = 0);
- ``quality_benford_digits``: a positive price below half a cent
  rounds to 0 cents, whose leading digit 0 divides Benford's 1/d;
- ``sample_weighted_priority``: a zero-weight row's A-ES priority is
  Exp/0;
- ``sample_bootstrap_means``: a small group whose md5 draws all land
  on weight 0 divides the resampled mean by Σw = 0.

None of the sf fixtures contain these shapes, so this test builds a
throwaway degenerate fixture and runs the full strict Spark-vs-DuckDB
compare on it.

The second check is static: every division site in the Spark body of a
query whose oracle guards a zero divisor must be guarded on the Spark
side too, or carry a per-site reason why its divisor cannot be zero.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import (
    _LITERAL,
    _balanced,
    compare_query,
    divisor_token,
)


def _bootstrap_zero_weight_id() -> int:
    """Smallest event_id with at least one rep in 0..4 drawing w = 0
    (md5 first-8-hex % 1000 < 368) — guarantees an all-zero-weight
    (event_type, rep) group when that event is alone in its group."""
    for eid in range(1, 10_000):
        for rep in range(5):
            h = hashlib.md5(f"{eid}:{rep}".encode()).hexdigest()
            if int(h[:8], 16) % 1000 < 368:
                return eid
    raise AssertionError("unreachable: P(no zero draw in 5 reps) ~ 0.632^5")


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("ansi_sf")
    for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
        shutil.copy(p, dest / os.path.basename(p))

    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    base = orders.slice(0, 5).to_pylist()
    # group P1: n = 1 (no sample variance); group P2: variance 0;
    # group P3: a sub-half-cent price (0 cents) and a zero weight.
    for row, (prio, price) in zip(
        base,
        [("P1", 123.45), ("P2", 50.0), ("P2", 50.0), ("P3", 0.004), ("P3", 0.0)],
    ):
        row["o_orderpriority"] = prio
        row["o_totalprice"] = price
    pq.write_table(
        pa.Table.from_pylist(base, schema=orders.schema),
        dest / "orders.parquet",
    )

    events = pq.read_table(f"{sf_dir}/events.parquet")
    erows = events.slice(0, 1).to_pylist()
    erows[0]["event_id"] = _bootstrap_zero_weight_id()
    erows[0]["event_type"] = "solo_type"
    erows[0]["value"] = 7.25
    pq.write_table(
        pa.Table.from_pylist(erows, schema=events.schema),
        dest / "events.parquet",
    )
    return str(dest)


@pytest.mark.parametrize(
    "name",
    [
        "anomaly_zscore_outliers",
        "quality_benford_digits",
        "sample_weighted_priority",
        "sample_bootstrap_means",
    ],
)
def test_degenerate_input_matches_oracle(spark, degenerate_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], degenerate_sf)
    assert not problems, f"{name} diverges on degenerate input: {problems}"


# -- Spark-side guards ------------------------------------------------------
# An oracle guard is only half a guard: under Spark's ANSI default a plain
# '/' THROWS DIVIDE_BY_ZERO where the oracle yields NULL, so the Spark
# implementation must guard the same divisor. The check is divisor-
# granular: the function body is stripped of its decorator (the oracle
# SQL), comments and docstrings (a guard mentioned in prose does not
# count), every division / modulus site is tokenized, and each site must
# be structurally guarded (inside a ``try_divide(`` argument list, inside
# a ``when(``/``otherwise(`` branch -- CaseWhen branches evaluate lazily
# per row -- or a divisor fed by ``greatest(`` / ``nullif``) or carry a
# per-site entry in SPARK_SITE_ADJUDICATIONS.

GROUP_COUNT = (
    "divisor is a per-group count(*) or group size — a group only "
    "exists with >= 1 row"
)
CONSTANT_DOMAIN = (
    "divisor ranges over a fixed nonzero domain (digits 1-9, ln(10), "
    "1+exp(x) >= 1, band/window constants)"
)

#: Queries whose oracle guards a zero divisor explicitly (CASE WHEN /
#: NULLIF / WHERE); their Spark bodies must guard it too.
GUARDED_QUERIES = (
    "agg_regression_exact_moments",
    "agg_skewness_kurtosis",
    "agg_welch_ttest",
    "anomaly_zscore_outliers",
    "embed_quantize_int8",
    "event_spike_detection",
    "profile_ks_two_sample",
    "sample_bootstrap_means",
    "sample_weighted_priority",
    "text_heaps_law",
    "text_quality_calibration",
    "text_zipf_slope",
)

#: query -> {normalized divisor token -> reason} for division sites in
#: the SPARK implementation that are safe WITHOUT a structural guard.
#: 'site' keys are the tokens the scanner prints; whitespace-collapsed.
SPARK_SITE_ADJUDICATIONS: dict[str, dict[str, str]] = {
    "agg_welch_ttest": {
        'F.col("n1")': GROUP_COUNT + " (cohort row count)",
        'F.col("n2")': GROUP_COUNT + " (cohort row count)",
    },
    "agg_regression_exact_moments": {
        '(F.col("n").cast("double") * F.lit(100.0))': GROUP_COUNT
        + " (n is the per-group row count, scaled by a positive literal)",
    },
    "text_heaps_law": {
        'F.col("k")': "the intercept division is projected over "
        "logs x fit rows — any surviving row implies logs is "
        "non-empty, so the global count k >= 1 on that row",
    },
    "anomaly_zscore_outliers": {
        'F.col("n")': GROUP_COUNT + " (per-type event count)",
    },
    "embed_quantize_int8": {
        'F.col("mx")': "the quantizing transform is referenced ONLY in "
        "the otherwise() branch of the mx == 0 CASE — CaseWhen branches "
        "evaluate lazily, so a zero vector never runs the division",
    },
    "event_spike_detection": {
        "nd": "the sd / nd trailing-mean projection runs on rows the "
        "n >= 12 filter kept (Project sits above Filter in the plan)",
    },
    "text_zipf_slope": {
        '(F.col("n").cast("double") * 1000000000.0)': GROUP_COUNT
        + " (n counts regression points; the nano-unit scale is "
        "a positive literal)",
    },
    "text_quality_calibration": {
        '(F.lit(1000.0) * F.col("n_tokens"))': GROUP_COUNT
        + " (n_tokens is a per-group count(*))",
        "(1.0 + exp(-(beta0 + beta1 * x)))": CONSTANT_DOMAIN
        + " (1 + exp(x) >= 1 — the sigmoid denominator)",
    },
    "sample_weighted_priority": {
        "F.lit(_U_DOMAIN)": "module constant 2^20, a positive literal "
        "behind a name",
        'F.col("o_totalprice")': "upstream .filter(o_totalprice > 0) — "
        "the A-ES divisions run only on filtered rows (quality.py "
        "docstring states the exclusion)",
    },
}

#: Literal-ish Python divisors that cannot be zero: F.lit(<nonzero num>).
_PY_LITERAL = re.compile(
    r"^F\.lit\(\s*-?(?:\d*\.\d*[1-9]\d*|\d*[1-9]\d*(?:\.\d*)?)"
    r"(?:e[+-]?\d+)?\s*\)$",
    re.I,
)

#: Call names whose argument spans count as structural guards.
_GUARD_CALLS = ("try_divide(", "when(", "otherwise(")


def _cut_body(src: str) -> str:
    """Drop the decorator (including the oracle SQL) — keep ``def ...``."""
    m = re.search(r"^def\s", src, re.M)
    return src[m.start():] if m else src


def _strip_comments_docstrings(src: str) -> str:
    src = re.sub(r'"""(?:[^"\\]|\\.|"(?!""))*"""', '""', src, flags=re.S)
    src = re.sub(r"'''(?:[^'\\]|\\.|'(?!''))*'''", "''", src, flags=re.S)
    return re.sub(r"#[^\n]*", "", src)


def _string_spans(src: str) -> list[tuple[int, int, str]]:
    return [
        (m.start(), m.end(), m.group(0))
        for m in re.finditer(
            r"f?(\"(?:[^\"\\\n]|\\.)*\"|'(?:[^'\\\n]|\\.)*')", src
        )
    ]


def _call_spans(src: str, names=_GUARD_CALLS) -> list[tuple[int, int]]:
    """Argument-list spans of calls to ``names`` (balanced parens)."""
    spans = []
    for name in names:
        for m in re.finditer(re.escape(name), src):
            i = m.end() - 1
            spans.append((i, _balanced(src, i)))
    return spans


def _py_divisor_token(s: str) -> str:
    """Python-side analog of :func:`divisor_token`: balanced paren
    group, call with trailing attribute chain, or bare token."""
    s = s.lstrip()
    if not s:
        return ""
    if s[0] == "(":
        return s[: _balanced(s, 0)].strip()
    m = re.match(r"[A-Za-z_][\w.]*\s*\(", s)
    if m:
        out = s[: _balanced(s, m.end() - 1)]
        while True:  # attribute chains: F.col("x").cast("double")
            m2 = re.match(r"\s*\.\s*[A-Za-z_]\w*\s*\(", s[len(out):])
            if not m2:
                break
            out = s[: len(out) + _balanced(s[len(out):], m2.end() - 1)]
        return out.strip()
    m = re.match(r"-?[\w.$]+", s)
    return m.group(0) if m else s[:20]


def _norm_site(tok: str) -> str:
    return re.sub(r"\s+", " ", tok).strip()


def spark_division_sites(fn) -> list[tuple[str, str, str | None]]:
    """Every non-literal division/modulus site in a query's SPARK
    implementation body: ``(kind, divisor_token, guard)`` where kind is
    'py' (a Column operator) or 'sql' (inside an embedded expr string)
    and guard names the structural evidence, or None if unguarded."""
    src = _strip_comments_docstrings(_cut_body(inspect.getsource(fn)))
    spans = _string_spans(src)
    guards = _call_spans(src)

    def guard_at(pos: int) -> str | None:
        for a, b in guards:
            if a <= pos < b:
                call = src[max(0, a - 20): a]
                name = re.search(r"[\w.]+$", call)
                return f"inside {(name.group(0) if name else '?')}(...)"
        return None

    sites: list[tuple[str, str, str | None]] = []
    # Python-level sites: blank out strings whose content carries
    # division characters (paths, formats); keep harmless ones so the
    # divisor tokens stay readable (F.col("n") not F.col(    )).
    blanked = list(src)
    for a, b, lit in spans:
        if "/" in lit or "%" in lit:
            for i in range(a, b):
                if src[i] != "\n":
                    blanked[i] = " "
    blanked_s = "".join(blanked)
    for m in re.finditer(r"/(?!/)|%", blanked_s):
        if blanked_s[m.start() - 1: m.start()] == "/":
            continue  # the '//' floor-div spelled as two tokens
        d = _py_divisor_token(blanked_s[m.end(): m.end() + 300])
        if (
            _LITERAL.match(d)
            or _PY_LITERAL.match(_norm_site(d))
            or not re.search(r"[A-Za-z_]", d)
        ):
            continue
        g = guard_at(m.start())
        if g is None and re.search(
            r"greatest\(|nullif|try_divide", d, re.I
        ):
            g = "divisor fed by greatest/nullif/try_divide"
        sites.append(("py", _norm_site(d)[:70], g))
    # Embedded-string sites (SQL inside F.expr / selectExpr / filters).
    for a, b, lit in spans:
        if "/" not in lit and "%" not in lit:
            continue
        up = lit.upper()
        for m in re.finditer(
            r"/(?![*/])|%|(?<![A-Za-z])DIV(?![A-Za-z])", lit
        ):
            d = divisor_token(lit, m.end())
            if _LITERAL.match(d) or not re.search(r"[A-Za-z_]", d):
                continue
            g = guard_at(a + m.start())
            if g is None and (
                "CASE WHEN" in up[: m.start()] or "IF(" in up[: m.start()]
            ):
                g = "inside a CASE WHEN / IF( branch of the expr string"
            if g is None and re.search(r"greatest\(|nullif", d, re.I):
                g = "divisor fed by greatest/nullif"
            sites.append(("sql", _norm_site(d)[:70], g))
    return sites


@pytest.mark.parametrize("name", GUARDED_QUERIES)
def test_spark_division_sites_are_guarded(name):
    """Each division site of a guarded query's Spark body is structurally
    guarded or site-adjudicated, and no adjudication names a site the
    body no longer has."""
    site_adj = SPARK_SITE_ADJUDICATIONS.get(name, {})
    failures, claimed = [], set()
    for kind, tok, guard in spark_division_sites(load_all()[name].fn):
        if guard is None and tok in site_adj:
            guard = f"site-adjudicated: {site_adj[tok]}"
            claimed.add(tok)
        if guard is None:
            failures.append(
                f"UNGUARDED {kind} division by `{tok}` — "
                "no structural guard and no per-site adjudication"
            )
    for tok in sorted(set(site_adj) - claimed):
        failures.append(
            f"stale site adjudication `{tok}` (no such division site — "
            "the body changed; re-adjudicate)"
        )
    assert not failures, f"{name}: {failures}"
