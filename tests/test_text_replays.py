"""Independent Python replays for the r3 text-pipeline cohort.

These queries previously had ONLY the Spark-vs-DuckDB differential —
blind to a semantic bug both engines share (the class the round-11
tied-start island bug proved real). Each test here recomputes the
query from scratch in plain Python on a crafted fixture (empty text,
repeated spaces, unicode, tie-heavy vocabularies) AND runs the
registered DuckDB oracle on the same fixture, so all three
formulations must agree.
"""

from __future__ import annotations

import hashlib
import math
import re

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import compare_query, duckdb_connection

MOD = 1_000_000_007


def _fixture(spark, tmp_path, texts):
    """Write documents.parquet and return (sf_dir, duckdb con)."""
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(d, src, t) for d, (src, t) in sorted(texts.items())],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    return sf, duckdb_connection(sf)


def _run(spark, tmp_path, texts, name):
    sf, con = _fixture(spark, tmp_path, texts)
    try:
        spec = load_all()[name]
        sdf = spec.fn(spark, sf)
        rows = sdf.collect()
        problems = compare_query(
            spark, spec, sf, con=con, spark_result=(sdf.columns, rows)
        )
        assert not problems, f"{name}: " + "; ".join(problems[:3])
        return rows
    finally:
        con.close()


TEXTS = {
    1: ("web", "café data  data déjà"),  # double space → empty token
    2: ("web", ""),  # empty text → one empty token
    3: ("web", "data data data query join"),
    4: ("books", "reach me at a.b-c%d@ex-ample.co.uk or 12345 now"),
    5: ("books", "123 4567 89012 a@b.co x@y.z not@an@email"),
    6: ("books", "tie tie bee bee cee cee"),  # frequency ties
    7: ("code", "join join query data café"),
}


def test_fingerprints_match_python_rolling_hash(spark, tmp_path):
    """md5 + polynomial rolling hash == the from-scratch Python fold
    (split(' ') keeps empty tokens; per-token int(md5[:15],16) % p;
    acc = (acc*31 + h) % p from 0)."""
    rows = _run(spark, tmp_path, TEXTS, "text_fingerprints")
    got = {r["doc_id"]: (r["md5"], r["rolling"]) for r in rows}
    for d, (_, text) in TEXTS.items():
        acc = 0
        for tok in text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % MOD
            acc = (acc * 31 + h) % MOD
        assert got[d] == (hashlib.md5(text.encode()).hexdigest(), acc), d


def test_pii_scrub_matches_python_re(spark, tmp_path):
    """Email/number redaction == Python re replay: same patterns, same
    order (emails first so their digit runs never count as numbers),
    counts from the ORIGINAL text."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num = r"[0-9]{4,}"
    rows = _run(spark, tmp_path, TEXTS, "text_pii_scrub")
    got = {
        r["doc_id"]: (r["scrubbed_md5"], r["n_emails"], r["n_nums"])
        for r in rows
    }
    for d, (_, text) in TEXTS.items():
        clean = re.sub(num, "<NUM>", re.sub(email, "<EMAIL>", text))
        expect = (
            hashlib.md5(clean.encode()).hexdigest(),
            len(re.findall(email, text)),
            len(re.findall(num, text)),
        )
        assert got[d] == expect, (d, got[d], expect)


def test_robust_scale_matches_python_quantiles(spark, tmp_path):
    """Per-source robust scaling == Python inverted-CDF quantiles
    (index ceil(q*n)-1 over the sorted counts — the definition numpy
    inverted_cdf and DuckDB quantile_disc share) with the IQR-floor
    division replayed in raw IEEE."""
    rows = _run(spark, tmp_path, TEXTS, "text_robust_scale")
    got = {r["doc_id"]: (r["source"], r["n_tokens"], r["scaled"]) for r in rows}

    counts = {d: len(t.split(" ")) for d, (_, t) in TEXTS.items()}
    by_src: dict = {}
    for d, (src, _) in TEXTS.items():
        by_src.setdefault(src, []).append(counts[d])

    def qdisc(vals, q):
        s = sorted(vals)
        return s[max(math.ceil(q * len(s)) - 1, 0)]

    for d, (src, _) in TEXTS.items():
        vals = by_src[src]
        med, q1, q3 = qdisc(vals, 0.5), qdisc(vals, 0.25), qdisc(vals, 0.75)
        scaled = (counts[d] - med) / max(q3 - q1, 1)
        assert got[d] == (src, counts[d], scaled), (d, got[d])


def test_vocab_oov_matches_python_counter(spark, tmp_path):
    """Top-100 vocabulary OOV ratios == Python Counter replay with the
    same (freq DESC, token ASC) total order at the vocabulary cut;
    ratios compared to the engine's round(.,6) within 5e-7."""
    from collections import Counter

    # >100 distinct tokens so the vocabulary cut actually binds, with
    # deliberate frequency ties straddling rank 100.
    texts = dict(TEXTS)
    filler = " ".join(f"w{i:03d}" for i in range(130))
    texts[8] = ("web", filler)
    texts[9] = ("web", filler)  # every wNNN has freq 2 — tie-heavy cut

    rows = _run(spark, tmp_path, texts, "text_vocab_oov")
    got = {r["doc_id"]: (r["n_tokens"], r["oov_ratio"]) for r in rows}

    freq = Counter()
    for _, t in texts.values():
        freq.update(t.split(" "))
    vocab = {
        tok
        for tok, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :100
        ]
    }
    for d, (_, t) in texts.items():
        toks = t.split(" ")
        ratio = sum(1 for x in toks if x not in vocab) / len(toks)
        n, r = got[d]
        assert n == len(toks), d
        assert abs(r - ratio) < 5e-7, (d, r, ratio)


def test_window_ranking_matches_python_definitions(spark, tmp_path):
    """The six ranking functions == their textbook definitions replayed
    in Python on crafted orders: rank/dense_rank over the FULL ordering
    tuple (the o_orderkey tiebreak makes rank == row_number here),
    percent_rank = (rank-1)/(n-1) with the single-row partition
    defined as 0, cume_dist = peers-at-or-before / n, and NTILE's
    balanced buckets with the remainder spread over the FIRST buckets
    (7 rows -> 2,2,2,1). Also differentially checked against the
    registered oracle on the same fixture."""
    orders = [
        # (o_orderkey, o_custkey, status, totalprice, date, priority)
        # status A: 7 rows incl. a totalprice tie (keys 3 and 4)
        (1, 1, "A", 500.0), (2, 1, "A", 400.0), (3, 1, "A", 300.0),
        (4, 1, "A", 300.0), (5, 1, "A", 200.0), (6, 1, "A", 100.0),
        (7, 1, "A", 50.0),
        # status B: single row (percent_rank 0/0 edge)
        (8, 1, "B", 10.0),
        # status C: all tied prices
        (9, 1, "C", 7.0), (10, 1, "C", 7.0), (11, 1, "C", 7.0),
    ]
    import datetime as dt

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [
            (k, c, s, p, dt.datetime(2024, 1, 1), "1-URGENT")
            for (k, c, s, p) in orders
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    con = duckdb_connection(sf)
    try:
        spec = load_all()["window_ranking"]
        sdf = spec.fn(spark, sf)
        rows = sdf.collect()
        problems = compare_query(
            spark, spec, sf, con=con, spark_result=(sdf.columns, rows)
        )
        assert not problems, problems
    finally:
        con.close()

    got = {
        r["o_orderkey"]: (
            r["rn"], r["rnk"], r["drnk"], r["quartile"],
            r["pct_rank"], r["cdist"],
        )
        for r in rows
    }
    by_status: dict = {}
    for k, _, s, p in orders:
        by_status.setdefault(s, []).append((-p, k))
    for s, keys in by_status.items():
        keys.sort()
        n = len(keys)
        base, rem = divmod(n, 4)
        for i, (_, k) in enumerate(keys):
            rank = i + 1  # full tuple is tie-free
            # ntile: first `rem` buckets hold base+1 rows
            acc, tile = 0, 0
            for b in range(4):
                size = base + (1 if b < rem else 0)
                acc += size
                if i < acc:
                    tile = b + 1
                    break
            pct = 0.0 if n == 1 else (rank - 1) / (n - 1)
            cd = rank / n
            assert got[k] == (rank, rank, rank, tile, pct, cd), (k, got[k])


def test_profile_table_stats_nonascii_lengths(spark, tmp_path):
    """String-column min/max LENGTH must be characters on BOTH engines
    (regression: the oracle used DuckDB strlen = BYTES, equal to
    Spark's F.length only on all-ASCII data)."""
    import datetime as dt

    rows = [
        (1, 1, "Ö", 10.0),  # 1 char, 2 bytes
        (2, 1, "ŘŮŽ", 20.0),  # 3 chars, 6 bytes
        (3, 1, "plain", 30.0),
    ]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [
            (k, c, s, p, dt.datetime(2024, 1, 1), "přílíš-1")
            for (k, c, s, p) in rows
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    con = duckdb_connection(sf)
    try:
        spec = load_all()["profile_table_stats"]
        sdf = spec.fn(spark, sf)
        out = sdf.collect()
        problems = compare_query(
            spark, spec, sf, con=con, spark_result=(sdf.columns, out)
        )
        assert not problems, problems
    finally:
        con.close()
    stats = {r["col_name"]: (r["min_val"], r["max_val"]) for r in out}
    assert stats["o_orderstatus"] == (1.0, 5.0)  # chars, not bytes
    assert stats["o_orderpriority"] == (8.0, 8.0)


def test_ks_two_sample_null_values_and_single_type(spark, tmp_path):
    """KS drift edge classes (regression pair): NULL sample values must
    be excluded on BOTH engines (they sort to OPPOSITE ends of the two
    engines' cumulative windows), and a corpus with only one event
    type must yield the NULL-ks_stat row instead of a Spark ANSI
    division-by-zero."""
    import datetime as dt

    def events(rows):
        return [
            (i, dt.datetime(2024, 1, 1, 0, 0, i % 60), 1, et, v, "{}")
            for i, (et, v) in enumerate(rows)
        ]

    def run(rows, sub):
        sf = str(sub / "sf")
        spark.createDataFrame(
            events(rows),
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{sf}/events.parquet")
        con = duckdb_connection(sf)
        try:
            spec = load_all()["profile_ks_two_sample"]
            sdf = spec.fn(spark, sf)
            out = sdf.collect()
            problems = compare_query(
                spark, spec, sf, con=con, spark_result=(sdf.columns, out)
            )
            assert not problems, problems
            return out
        finally:
            con.close()

    mixed = run(
        [
            ("click", 1.0), ("click", None), ("click", 3.0),
            ("view", 2.0), ("view", None), ("view", 4.0),
            ("error", 9.9),
        ],
        tmp_path / "a",
    )
    assert mixed[0]["n_click"] == 2 and mixed[0]["n_view"] == 2
    # D = sup|F_c - F_v| over {1,2,3,4}: F_c=(.5,.5,1,1), F_v=(0,.5,.5,1)
    assert mixed[0]["ks_stat"] == 0.5 and mixed[0]["ks_at_value"] == 1.0

    only_clicks = run(
        [("click", 1.0), ("click", 2.0)], tmp_path / "b"
    )
    assert only_clicks[0]["n_view"] == 0
    assert only_clicks[0]["ks_stat"] is None
