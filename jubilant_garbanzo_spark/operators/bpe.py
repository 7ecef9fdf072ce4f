"""Byte-pair-encoding tokenizer APPLY (GPT-2 greedy merge semantics).

Reference behavior (public literature, not the reference repo —
``/root/reference`` has no tokenizer): Sennrich et al. ACL'16 "Neural
Machine Translation of Rare Words with Subword Units" + the GPT-2
``bpe()`` loop (Radford et al. 2019): given an ordered merge-rank
table, repeatedly (1) find the lowest-rank adjacent token pair present
in the word, (2) merge ALL its occurrences in one left-to-right
non-overlapping pass, until no ranked pair remains.

Spark-first shape — everything stays JVM-side per-row, zero shuffle
until the caller aggregates:

- the merge table ships as a ``map(...)`` PLAN LITERAL (the broadcast
  analog for a table this small: constant-folded, serialized once into
  the task binary). A production 50k-merge vocabulary would swap
  :func:`merge_rank_map_expr` for ``F.create_map`` over a broadcast
  variable or a broadcast pair→rank join — the round pipeline is
  unchanged;
- one merge ROUND = pure higher-order functions (``zip_with`` builds
  adjacent pairs, ``transform``+``try_element_at`` ranks them,
  ``array_min`` picks the merge, ``aggregate`` replays the greedy
  left-to-right pass as a fold whose accumulator is the merged-token
  array);
- rounds are UNROLLED ``N_ROUNDS`` times (loop-free plan; a round with
  no applicable merge is the identity, so any word that converges
  early just coasts). ``N_ROUNDS`` bounds the longest merge chain —
  tests/test_llm_ops.py asserts the corpus reaches the fixpoint.

The greedy fold is exact, not approximate: merging pair (a,b) never
creates a new (a,b) occurrence mid-pass (the merged token ``a||b`` ≠
``a`` since ``b`` is non-empty), so the fold's "merge when
last(acc)=a ∧ current=b" rule reproduces GPT-2's skip-ahead scan —
property-pinned against an independent Python reference in
tests/test_llm_ops.py.

TRAINING (:func:`train_greedy_merges`) is the one greedy merge loop
of the tokenizer family: BPE (:func:`train_merges`) and WordPiece
(operators/wordpiece.py) run it and differ only in how a round picks
its pair.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.catalog import materialize
from jubilant_garbanzo_spark.operators import textops as TX

#: Ordered merge table (rank = list index, lower merges first). A
#: hand-built English-ish vocabulary sized to the fixture corpus: some
#: chains complete ("b a t c h" → "batch"), others are deliberately
#: pre-empted by a lower-rank merge ("d a t a" → ["d","at","a"]
#: because (a,t)=7 outranks (d,a)=9) — exercising the greedy-order
#: semantics, not just happy paths.
MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"), ("a", "n"),
    ("o", "r"), ("s", "t"), ("a", "t"), ("r", "o"), ("d", "a"),
    ("da", "t"), ("dat", "a"), ("j", "o"), ("jo", "in"), ("w", "in"),
    ("s", "c"), ("sc", "an"), ("m", "er"), ("mer", "g"), ("merg", "e"),
    ("b", "at"), ("bat", "c"), ("batc", "h"), ("f", "i"), ("fi", "l"),
    ("s", "or"), ("sor", "t"),
)

#: Unrolled merge rounds. The fixture corpus needs at most 4 (computed
#: by replaying the reference loop over every vocabulary-word prefix —
#: "batch" is the deepest chain); 6 leaves two identity rounds of
#: margin, and tests/test_llm_ops.py asserts the corpus fixpoint at
#: this depth.
N_ROUNDS = 6

#: Pair-key separator inside the rank map. Words come from a
#: whitespace split, so no token ever contains a space — and the GPT-2
#: merges.txt format is literally "a b" per line.
_SEP = " "

#: Char split of a word into its round-0 symbol array (``{}`` = the
#: word expression; splitting '' yields [''], filtered to []).
CHAR_SPLIT = "filter(split({}, ''), c -> c <> '')"

#: The greedy left-to-right merge pass of pair (``pa``, ``pb``) over
#: token array ``t``, as one fold whose accumulator is the merged-token
#: array. Shared by the apply rounds and both trainers.
MERGE_FOLD = (
    "aggregate(slice(t, 2, size(t) - 1), array(element_at(t, 1)),"
    " (acc, x) -> IF(element_at(acc, -1) = pa AND x = pb,"
    "   concat(slice(acc, 1, size(acc) - 1), array(concat(pa, pb))),"
    "   concat(acc, array(x))))"
)


def merge_rank_map_expr(
    merges: tuple[tuple[str, str], ...] = MERGES,
) -> str:
    """SQL ``map('a b', rank, ...)`` literal for a merge table
    (defaults to the static :data:`MERGES`; `text_bpe_roundtrip`
    passes its own LEARNED table through here — the documented
    production swap, with the map literal standing in for a broadcast
    of the 50k-entry vocabulary)."""
    entries = ", ".join(
        "'{}{}{}', {}".format(
            a.replace("'", "''"), _SEP, b.replace("'", "''"), rank
        )
        for rank, (a, b) in enumerate(merges)
    )
    return f"map({entries})"


def _let(value: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate ``value`` ONCE, bind it to lambda
    variable ``var``, use it freely in ``body``.

    Encoded as ``element_at(transform(array(value), var -> body), 1)``.
    This is load-bearing, not a style choice: intermediate withColumn
    columns get INLINED by Catalyst's CollapseProject (each reference
    duplicates the whole subtree, ~7× per round → ~7^rounds nodes; 5+
    unrolled rounds under an explode() was measured to OOM the driver
    during optimization). A lambda variable is a leaf node, so
    repeated references stay O(1) and the full N-round expression is
    LINEAR in N.
    """
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _round_expr(
    src: str, merges: tuple[tuple[str, str], ...] = MERGES
) -> str:
    """One BPE merge round as a single SQL expression over token-array
    expression ``src`` (referenced exactly once — see :func:`_let`)."""
    rank_map = merge_rank_map_expr(merges)
    # try_element_at everywhere a NULL/absent lookup is legitimate
    # (ANSI element_at throws); rm IS NULL == no applicable merge.
    body = _let(
        f"zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
        f" (x, y) -> concat(x, '{_SEP}', y))",
        "ps",
        _let(
            f"transform(ps, p -> try_element_at({rank_map}, p))",
            "rk",
            _let(
                "array_min(rk)",
                "rm",
                _let(
                    "try_element_at(ps,"
                    " CAST(array_position(rk, rm) AS INT))",
                    "bst",
                    _let(
                        f"try_element_at(split(bst, '{_SEP}'), 1)",
                        "pa",
                        _let(
                            f"try_element_at(split(bst, '{_SEP}'), 2)",
                            "pb",
                            f"IF(rm IS NULL, t, {MERGE_FOLD})",
                        ),
                    ),
                ),
            ),
        ),
    )
    return _let(src, "t", body)


def bpe_tokens(
    df: DataFrame, word_col: str = "word", out_col: str = "tokens",
    rounds: int = N_ROUNDS,
    merges: tuple[tuple[str, str], ...] = MERGES,
) -> DataFrame:
    """Append ``out_col``: the BPE token array for ``word_col``.

    Per-row only — safe on any partitioning, no shuffle introduced.
    Empty words yield an empty token array (the char split of '' is
    filtered to [] and every round is the identity on it).
    """
    expr = CHAR_SPLIT.format(word_col)
    for _ in range(rounds):
        expr = _round_expr(expr, merges)
    return df.withColumn(out_col, F.expr(expr))


def mergeable_rank_min(
    tokens_col: str, merges: tuple[tuple[str, str], ...] = MERGES
) -> F.Column:
    """NULL iff no ranked pair remains in ``tokens_col`` — the BPE
    fixpoint probe (used by the N_ROUNDS-sufficiency test)."""
    rank_map = merge_rank_map_expr(merges)
    return F.expr(
        f"array_min(transform("
        f" zip_with(slice({tokens_col}, 1, size({tokens_col}) - 1),"
        f"          slice({tokens_col}, 2, size({tokens_col}) - 1),"
        f"          (x, y) -> concat(x, '{_SEP}', y)),"
        f" p -> try_element_at({rank_map}, p)))"
    )


# -- DuckDB oracle replay -----------------------------------------------------
#
# The oracle is an INDEPENDENT formulation of the same semantics: the
# word is exploded to (wid, pos, sym) rows and each round is pure
# relational algebra — pair ranks via a positional self-join against a
# VALUES merge table, the per-word min rank via a window, and the
# greedy left-to-right non-overlap rule via gaps-and-islands (within a
# maximal run of consecutive mergeable positions, greedy takes the
# odd row offsets; two mergeable positions ≥2 apart never conflict).
# Every CTE is AS MATERIALIZED: rounds reference their predecessor
# 2-3×, and DuckDB would otherwise inline the references
# exponentially across N_ROUNDS.


#: Shared vocabulary CTEs: the distinct-word dict ``wcnt(wid, cnt)`` of
#: ``documents`` keyed by the word string itself, and the
#: character-exploded round-0 symbol table. Every BPE oracle starts
#: here — vocabulary-bound (round-10 sweep-cost fix: tokens depend only
#: on the word, so an instance-keyed replay re-ran the recurrence once
#: per word OCCURRENCE and dominated the sf0.1 closing gate).
_VOCAB_CTES = (
    TX.word_counts_sql(),
    """r0 AS MATERIALIZED (
            SELECT wid, generate_subscripts(cs, 1) AS pos, unnest(cs) AS sym
            FROM (SELECT wid, string_split(wid, '') AS cs FROM wcnt)
        )""",
)


def _merge_and_renumber_ctes(g: str, m: str, nxt: str) -> str:
    """The shared greedy-merge tail of ONE BPE round, from a ``{g}``
    CTE carrying (wid, pos, sym, nsym, mergeable): ``{m}`` picks the
    odd row offsets within each maximal run of consecutive mergeable
    positions (gaps-and-islands — the left-to-right non-overlap rule),
    ``{nxt}`` concatenates each picked pair, drops the absorbed right
    halves, and renumbers. Both the apply and the train recurrences
    end every round with exactly this text."""
    return f"""{m} AS MATERIALIZED (
            SELECT wid, pos
            FROM (SELECT wid, pos,
                         ROW_NUMBER() OVER (PARTITION BY wid, isl
                                            ORDER BY pos) AS rn
                  FROM (SELECT wid, pos,
                               pos - ROW_NUMBER() OVER (PARTITION BY wid
                                                        ORDER BY pos) AS isl
                        FROM {g} WHERE mergeable))
            WHERE rn % 2 = 1
        ), {nxt} AS MATERIALIZED (
            SELECT wid,
                   ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS pos,
                   sym
            FROM (SELECT g.wid, g.pos,
                         CASE WHEN mm.pos IS NOT NULL THEN g.sym || g.nsym
                              ELSE g.sym END AS sym
                  FROM {g} g
                  LEFT JOIN {m} mm ON mm.wid = g.wid AND mm.pos = g.pos
                  LEFT JOIN {m} pr ON pr.wid = g.wid AND pr.pos = g.pos - 1
                  WHERE pr.pos IS NULL)
        )"""


def _apply_round_ctes(i: int, merge_table: str, pfx: str = "") -> str:
    """One APPLY round against a (a, b, rank) merge table: pair each
    position with its successor, flag the per-word MIN-rank pairs
    mergeable, then the shared greedy-merge tail. ``pfx`` namespaces
    the CTE chain (the roundtrip oracle runs apply as ``a*`` beside
    the train chain)."""
    # Round 0 always reads the shared vocab symbol table ``r0`` (the
    # prefixed chain only exists from its own first output onward).
    src = f"{pfx}r{i}" if i > 0 else "r0"
    p, g, m = f"{pfx}p{i}", f"{pfx}g{i}", f"{pfx}m{i}"
    return f"""{p} AS MATERIALIZED (
            SELECT s.wid, s.pos, s.sym, nx.sym AS nsym, m.rank AS rank
            FROM {src} s
            LEFT JOIN {src} nx ON nx.wid = s.wid AND nx.pos = s.pos + 1
            LEFT JOIN {merge_table} m ON m.a = s.sym AND m.b = nx.sym
        ), {g} AS MATERIALIZED (
            SELECT p.wid, p.pos, p.sym, p.nsym,
                   (p.rank IS NOT NULL
                    AND p.rank = min(p.rank) OVER (PARTITION BY p.wid))
                       AS mergeable
            FROM {p} p
        ), {_merge_and_renumber_ctes(g, m, f"{pfx}r{i + 1}")}"""


def _train_round_ctes(i: int, best_ctes: str) -> str:
    """One TRAIN round (Sennrich get_stats/merge): weighted adjacent
    pair counts ``pc{i}(a, b, pcount)``, then the trainer's own
    ``best_ctes`` ending in the single argmax row ``best{i}`` (which
    carries ``a``, ``b``), every occurrence of exactly that pair
    flagged mergeable, then the shared greedy-merge tail."""
    return f"""pc{i} AS MATERIALIZED (
            SELECT s.sym AS a, nx.sym AS b, CAST(sum(w.cnt) AS BIGINT) AS pcount
            FROM r{i} s
            JOIN r{i} nx ON nx.wid = s.wid AND nx.pos = s.pos + 1
            JOIN wcnt w ON w.wid = s.wid
            GROUP BY 1, 2
        ), {best_ctes}, g{i} AS MATERIALIZED (
            SELECT s.wid, s.pos, s.sym, nx.sym AS nsym,
                   (nx.sym IS NOT NULL AND s.sym = bb.a AND nx.sym = bb.b)
                       AS mergeable
            FROM r{i} s
            LEFT JOIN r{i} nx ON nx.wid = s.wid AND nx.pos = s.pos + 1
            CROSS JOIN best{i} bb
        ), {_merge_and_renumber_ctes(f"g{i}", f"m{i}", f"r{i + 1}")}"""


def oracle_replay_ctes(rounds: int = N_ROUNDS) -> str:
    """WITH-clause body (merges → wcnt → r0 → ... → r{rounds}) whose
    final CTE ``r{rounds}`` holds (wid, pos, sym) BPE tokens for every
    DISTINCT word of ``documents``; ``wcnt(wid, cnt)`` carries the
    corpus occurrence count to weight instance-level consumers."""
    # Escape quotes exactly like merge_rank_map_expr does (ADVICE r10:
    # the map literal escaped but these VALUES tuples did not, so a
    # future merge symbol containing an apostrophe would silently break
    # the oracle SQL while the Spark side kept working).
    vals = ", ".join(
        "('{}', '{}', {})".format(
            a.replace("'", "''"), b.replace("'", "''"), rank
        )
        for rank, (a, b) in enumerate(MERGES)
    )
    parts = [
        f"merges(a, b, rank) AS MATERIALIZED (VALUES {vals})",
        *_VOCAB_CTES,
        *(_apply_round_ctes(i, "merges") for i in range(rounds)),
    ]
    return ",\n".join(parts)


# -- BPE merge-loop TRAINING ---------------------------------------------------

#: Learned merges per training run (each round = one distributed
#: pair-count aggregation + one argmax + one merge map-pass).
N_TRAIN_MERGES = 8


def char_tokens(words: DataFrame) -> DataFrame:
    """Round-0 training state ``(t, cnt)`` of a (word, cnt) dict: each
    word's char split with its BIGINT count; empty words dropped."""
    return words.select(
        F.expr(CHAR_SPLIT.format("word")).alias("t"),
        F.col("cnt").cast("bigint").alias("cnt"),
    ).filter(F.size("t") >= 1)


def adjacent_pairs(toks: DataFrame) -> DataFrame:
    """``(cnt, p)``: one row per adjacent token pair ``p = (pa, pb)``
    of every ``t`` in ``toks``, carrying its word's count."""
    return toks.select(
        "cnt",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (x, y) -> struct(x AS pa, y AS pb))"
            )
        ).alias("p"),
    )


def train_greedy_merges(
    words: DataFrame,
    rounds: int,
    pick_best: Callable[[DataFrame, DataFrame, int], DataFrame],
) -> DataFrame:
    """The greedy merge-training loop shared by BPE and WordPiece:
    learn ``rounds`` merges from a (word, cnt) dict, fully distributed.

    Per round: (1) ``pick_best(toks, adjacent_pairs(toks), r)`` returns
    the round's argmax pair as a ONE-ROW frame carrying ``merge_rank``,
    ``a``, ``b`` (the trainers differ only in this score; each uses a
    total tie order, so training is deterministic); (2) that row is
    broadcast-crossJoined onto every word and merged with the same
    greedy left-to-right :data:`MERGE_FOLD` the apply path uses. No
    driver data path at all — the learned state lives in 1-row frames,
    not collects, unioned in merge-rank order at the end.

    Each round's words are eager-localCheckpointed: round r+1's words
    depend on round r's argmax, and Catalyst does not CSE sibling
    subplans, so a lazy chain would re-execute every earlier round once
    per consumer (the same measured pathology duplicate_clusters fixed
    in r5).

    Scale shape at 100 TB: training runs on the DISTINCT-word dict
    (millions of rows, not trillions of tokens) — the per-round shuffles
    carry one row per distinct symbol or pair, i.e. vocabulary-sized,
    not corpus-sized.
    """
    toks = materialize(char_tokens(words))
    bests = []
    for r in range(rounds):
        # LAZY checkpoint (round 15, guide §1.2 job shape): the round's
        # ONE blocking job is the toks fold below — its broadcast build
        # computes this argmax row and the lazy checkpoint materializes
        # it along the way, so the final union still reads a truncated
        # 1-row plan but the loop no longer pays a separate blocking
        # argmax job per round (16 -> 8 blocking checkpoints per BPE
        # training run).
        best = pick_best(toks, adjacent_pairs(toks), r)
        best = materialize(best, eager=False)
        bests.append(best)
        if r < rounds - 1:
            toks = materialize(
                toks.crossJoin(
                    F.broadcast(
                        best.select(F.col("a").alias("pa"), F.col("b").alias("pb"))
                    )
                )
                .select(F.expr(MERGE_FOLD).alias("t"), "cnt")
            )
    return reduce(DataFrame.unionByName, bests).orderBy("merge_rank")


def _weighted_best(toks: DataFrame, pairs: DataFrame, r: int) -> DataFrame:
    """BPE's pick: the pair with the largest occurrence-weighted count
    (count desc, then (a, b) lexicographic)."""
    return (
        pairs.groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.sum("cnt").alias("weighted_count"))
        .orderBy(F.desc("weighted_count"), F.asc("pa"), F.asc("pb"))
        .limit(1)
        .select(
            F.lit(r).alias("merge_rank"),
            F.col("pa").alias("a"),
            F.col("pb").alias("b"),
            F.concat("pa", "pb").alias("merged"),
            F.col("weighted_count").cast("bigint").alias("weighted_count"),
        )
    )


def train_merges(words: DataFrame, rounds: int = N_TRAIN_MERGES) -> DataFrame:
    """Learn the top-``rounds`` BPE merges from a (word, cnt) dict — the
    Sennrich ACL'16 get_stats/merge loop (:func:`train_greedy_merges`)
    picking the weighted-count argmax each round."""
    return train_greedy_merges(words, rounds, _weighted_best)


def _weighted_best_cte(i: int) -> str:
    """DuckDB twin of :func:`_weighted_best` for round ``i``."""
    return f"""best{i} AS MATERIALIZED (
            SELECT {i} AS merge_rank, a, b, a || b AS merged,
                   pcount AS weighted_count
            FROM pc{i} ORDER BY pcount DESC, a ASC, b ASC LIMIT 1
        )"""


def greedy_train_oracle_sql(
    rounds: int, best_ctes: Callable[[int], str]
) -> str:
    """DuckDB replay of :func:`train_greedy_merges` — independent
    positional formulation over the distinct-word dict (the apply
    oracle's gaps-and-islands greedy rule, but the merged pair is the
    round's single argmax ``best_ctes(i)`` instead of a per-word min
    rank). Output: every round's ``best{i}`` row, by merge rank."""
    parts = [
        *_VOCAB_CTES,
        *(_train_round_ctes(i, best_ctes(i)) for i in range(rounds)),
    ]
    union = " UNION ALL ".join(f"SELECT * FROM best{i}" for i in range(rounds))
    return "WITH " + ",\n".join(parts) + f"\n{union}\nORDER BY merge_rank"


def oracle_train_sql(rounds: int = N_TRAIN_MERGES) -> str:
    """DuckDB replay of :func:`train_merges`."""
    return greedy_train_oracle_sql(rounds, _weighted_best_cte)


def oracle_roundtrip_sql(rounds: int = N_TRAIN_MERGES, topk: int = 40) -> str:
    """DuckDB replay of train→apply COMPOSITION: the training half is
    :func:`oracle_train_sql`'s CTE chain (wcnt → r0..r{rounds} with
    per-round argmax bests); the apply half then RE-tokenizes the
    distinct-word dict from scratch against the learned table
    ``lmerges`` using the per-word min-rank gaps-and-islands rule of
    :func:`oracle_replay_ctes` — i.e. application is replayed
    INDEPENDENTLY of the training end-state, so the oracle checks the
    same train→apply consistency property the engine path claims.
    Output: corpus token frequencies under the learned vocabulary."""
    merges_union = " UNION ALL ".join(
        f"SELECT merge_rank, a, b FROM best{i}" for i in range(rounds)
    )
    parts = [
        *_VOCAB_CTES,
        # Training rounds (identical recurrence to oracle_train_sql).
        *(_train_round_ctes(i, _weighted_best_cte(i)) for i in range(rounds)),
        f"lmerges AS MATERIALIZED (SELECT a, b, merge_rank AS rank"
        f" FROM ({merges_union}))",
        # Apply rounds from scratch against the learned table (the
        # oracle_replay_ctes recurrence, namespaced under a*).
        *(_apply_round_ctes(i, "lmerges", pfx="a") for i in range(rounds)),
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT t.sym AS token, CAST(sum(w.cnt) AS BIGINT) AS freq
        FROM ar{rounds} t JOIN wcnt w ON w.wid = t.wid
        GROUP BY t.sym
        ORDER BY freq DESC, token ASC
        LIMIT {topk}"""
    )
