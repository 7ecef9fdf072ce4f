"""WordPiece tokenizer APPLY — greedy longest-match-first.

Reference behavior (public literature, not the reference repo —
``/root/reference`` has no tokenizer): the BERT WordPiece algorithm
(Devlin et al. NAACL'19 §2; Wu et al. 2016 §3.1; the HuggingFace
``tokenizers`` WordPiece model): each word is consumed left to right,
at every position taking the LONGEST vocabulary piece that matches —
continuation pieces carry a ``##`` prefix — and a word with no match
at any position becomes a single ``[UNK]`` token (whole-word
fallback, NOT per-character). This completes the repo's standard
tokenizer-family triple: BPE (greedy merge ranks, operators/bpe.py),
unigram-LM (global Viterbi optimum, operators/unigram.py), WordPiece
(greedy longest match) — three genuinely different segmentations of
the same corpus.

Spark-first shape — identical discipline to the unigram apply:

- the piece vocabulary ships as a ``map(...)`` PLAN LITERAL (broadcast
  analog; a production 30k-piece BERT vocab swaps in a broadcast
  join, the fold text unchanged);
- the greedy loop is ONE ``aggregate`` fold over
  ``sequence(1, length(word))`` whose accumulator is the single
  cursor state ``struct(pos, np, seg, bad)`` — every step consumes at
  least one character (or marks the word bad), so ``length(word)``
  iterations always suffice and surplus iterations are no-ops. All
  candidate references go through lambda variables (the
  operators/bpe._let discipline), so the plan is CONSTANT-SIZE in
  word length;
- greedy is deterministic (longest match, fixed vocabulary): no tie
  order is needed, unlike the Viterbi argmax.

The DuckDB oracle replays the loop as unrolled relational rounds (one
round per position, longest match via a ROW_NUMBER over the k-join,
done-rows carried), an independent formulation; a Python reference
loop with HuggingFace semantics pins both in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jubilant_garbanzo_spark.operators import bpe as BPE
from jubilant_garbanzo_spark.operators import textops as TX
from jubilant_garbanzo_spark.operators.bpe import _let

#: Word-START pieces. Singles a-z give near-totality on the fixture's
#: lowercase vocabulary (words containing digits/punctuation become
#: [UNK] — exercising the whole-word fallback); multi-char pieces are
#: chosen so greedy longest-match genuinely diverges from both BPE
#: merges and the unigram Viterbi optimum on corpus words.
_START_MULTI = (
    "th", "st", "ba", "ta", "ca", "co", "wi", "fi",
    "the", "dat", "que", "gro", "str", "win",
    "data", "scan", "sort", "join", "hash", "part", "grou", "quer",
    "batc", "filt", "tabl", "wind", "stre", "colu",
)

#: CONTINUATION pieces (matched with the '##' prefix at pos > 1).
_CONT_MULTI = (
    "##er", "##ed", "##ry", "##ta", "##an", "##ch", "##le", "##re",
    "##on", "##in", "##at", "##or", "##am", "##um",
    "##ing", "##ery", "##ble", "##umn", "##eam", "##tch", "##ream",
    "##ion", "##her", "##ter",
)

#: Longest piece CONTENT length the matcher considers (chars of the
#: word, excluding the '##' marker) — bounds per-step candidate fan-in.
KMAX = 4

#: Words longer than this are excluded on BOTH engines (the oracle
#: unrolls one relational round per position; fixture max is 8).
MAXLEN = 12

_SINGLES = "abcdefghijklmnopqrstuvwxyz"

# Survives python -O (same rationale as operators/unigram.py).
if len(set(_START_MULTI + _CONT_MULTI)) != len(_START_MULTI + _CONT_MULTI):
    raise ValueError("duplicate piece in the WordPiece vocabulary")
if any(len(p) > KMAX for p in _START_MULTI):
    raise ValueError("start piece longer than KMAX")
if any(len(p) - 2 > KMAX or not p.startswith("##") for p in _CONT_MULTI):
    raise ValueError("continuation piece malformed or longer than KMAX")


def build_vocab() -> tuple[str, ...]:
    """The full piece set: start singles + continuation singles +
    the multi-char start/continuation pieces. Membership is all that
    matters (WordPiece is score-free), so the vocabulary is a set."""
    singles = tuple(_SINGLES) + tuple("##" + c for c in _SINGLES)
    return singles + _START_MULTI + _CONT_MULTI


VOCAB: tuple[str, ...] = build_vocab()


def vocab_map_expr() -> str:
    """SQL ``map('piece', 1, ...)`` membership literal ('#' needs no
    escaping; the alnum guard keeps future pieces quote-free, the
    bpe.py ADVICE)."""
    assert all(
        p.replace("#", "").isalnum() for p in VOCAB
    ), "pieces must stay quote-free"
    entries = ", ".join(f"'{p}', 1" for p in VOCAB)
    return f"map({entries})"


def _candidate(k: int, vmap: str) -> str:
    """Candidate struct for a match of CONTENT length ``k`` at the
    cursor (lambda var ``acc`` from the enclosing fold): the piece
    string (##-prefixed beyond position 1) when it fits the word and
    is in the vocabulary, else NULL."""
    piece = (
        f"concat(IF(acc.pos > 1, '##', ''),"
        f" substring(word, acc.pos, {k}))"
    )
    return _let(
        piece,
        "pc",
        f"IF(acc.pos + {k} - 1 <= length(word)"
        f" AND try_element_at({vmap}, pc) IS NOT NULL,"
        f" named_struct('k', {k}, 'pc', pc), NULL)",
    )


def wordpiece_expr(word_col: str = "word", vmap: str | None = None) -> str:
    """SQL expression: the terminal greedy state
    ``struct(pos, np, seg, bad)`` for ``word_col`` — cursor position,
    piece count, ' '-prefixed segmentation, and the whole-word-UNK
    flag. Callers render ``bad`` as the single ``[UNK]`` token."""
    if vmap is None:
        vmap = vocab_map_expr()
    # longest match first: coalesce tries k = KMAX .. 1 in order
    cands = ", ".join(_candidate(k, vmap) for k in range(KMAX, 0, -1))
    step = _let(
        f"coalesce({cands})",
        "c",
        "IF(c IS NULL,"
        " named_struct('pos', acc.pos, 'np', acc.np,"
        " 'seg', acc.seg, 'bad', true),"
        " named_struct('pos', acc.pos + c.k, 'np', acc.np + 1,"
        " 'seg', concat(acc.seg, ' ', c.pc), 'bad', false))",
    )
    return (
        f"aggregate(sequence(1, length({word_col})),"
        f" named_struct('pos', 1, 'np', 0, 'seg', '', 'bad', false),"
        f" (acc, j) -> IF(acc.bad OR acc.pos > length({word_col}),"
        f" acc, {step}))"
    )


def python_reference(word: str, vocab: set[str] | None = None) -> list[str]:
    """HuggingFace-semantics WordPiece for the parity test: greedy
    longest-match-first with '##' continuations, whole-word [UNK] on
    any failed position."""
    v = set(VOCAB) if vocab is None else vocab
    pieces: list[str] = []
    start = 0
    while start < len(word):
        end = min(len(word), start + KMAX)
        found = None
        while end > start:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in v:
                found = sub
                break
            end -= 1
        if found is None:
            return ["[UNK]"]
        pieces.append(found)
        start = end
    return pieces


# -- DuckDB oracle replay -----------------------------------------------------


def oracle_sql(topcols: str = "") -> str:
    """DuckDB SELECT replaying the greedy loop as unrolled relational
    rounds over the distinct-word dict of ``documents``: state table
    ``g{j}`` per position round, the longest match per word via a
    ROW_NUMBER over the 1..KMAX substr join (k DESC), finished rows
    (cursor past the end, or bad) carried unchanged — an independent
    formulation of the Spark fold."""
    vals = ", ".join(f"('{p}')" for p in VOCAB)
    parts = [
        f"vocab(piece) AS MATERIALIZED (VALUES {vals})",
        TX.word_counts_sql(MAXLEN),
        "g0 AS MATERIALIZED"
        " (SELECT wid, 1 AS pos, 0 AS np, '' AS seg, FALSE AS bad"
        "  FROM wcnt)",
    ]
    for j in range(1, MAXLEN + 1):
        parts.append(f"""m{j} AS MATERIALIZED (
            SELECT wid, pos, np, seg, klen, piece FROM (
                SELECT g.wid, g.pos, g.np, g.seg, k.j AS klen,
                       (CASE WHEN g.pos > 1 THEN '##' ELSE '' END
                        || substr(g.wid, g.pos, CAST(k.j AS INT)))
                           AS piece,
                       ROW_NUMBER() OVER (
                           PARTITION BY g.wid ORDER BY k.j DESC) AS rk
                FROM g{j - 1} g, UNNEST(range(1, {KMAX} + 1)) k(j)
                JOIN vocab v
                  ON v.piece = (CASE WHEN g.pos > 1 THEN '##' ELSE '' END
                                || substr(g.wid, g.pos, CAST(k.j AS INT)))
                WHERE NOT g.bad AND g.pos <= len(g.wid)
                  AND g.pos + k.j - 1 <= len(g.wid)
            ) WHERE rk = 1
        )""")
        parts.append(f"""g{j} AS MATERIALIZED (
            SELECT g.wid,
                   CASE WHEN g.bad OR g.pos > len(g.wid) THEN g.pos
                        WHEN m.wid IS NULL THEN g.pos
                        ELSE g.pos + CAST(m.klen AS INT) END AS pos,
                   CASE WHEN g.bad OR g.pos > len(g.wid) OR m.wid IS NULL
                        THEN g.np ELSE g.np + 1 END AS np,
                   CASE WHEN g.bad OR g.pos > len(g.wid) OR m.wid IS NULL
                        THEN g.seg ELSE g.seg || ' ' || m.piece END AS seg,
                   CASE WHEN g.bad THEN TRUE
                        WHEN g.pos > len(g.wid) THEN FALSE
                        WHEN m.wid IS NULL THEN TRUE
                        ELSE FALSE END AS bad
            FROM g{j - 1} g LEFT JOIN m{j} m ON m.wid = g.wid
        )""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT w.wid AS word, w.cnt,
               CAST(CASE WHEN g.bad THEN 1 ELSE g.np END AS BIGINT)
                   AS n_pieces,
               CASE WHEN g.bad THEN '[UNK]' ELSE substr(g.seg, 2) END
                   AS segmentation,
               g.bad AS is_unk
        FROM g{MAXLEN} g JOIN wcnt w ON w.wid = g.wid{topcols}"""
    )


# -- WordPiece likelihood-scored merge TRAINING --------------------------------
#
# The HuggingFace WordPiece trainer (and the original Schuster &
# Nakajima 2012 formulation) runs the SAME merge loop as BPE
# (``bpe.train_greedy_merges``, which runs both) but picks the pair
# maximizing the likelihood gain score
# count(ab) / (count(a) * count(b)) instead of the raw pair count —
# frequent-but-expected pairs lose to genuinely associated ones. Every
# quantity here is an exact integer: symbol and pair counts are BIGINT
# sums over the distinct-word dict, and the score is nano-quantized by
# a single integral division (pair * 1e9 DIV (cnt_a * cnt_b)) computed
# identically on both engines (Spark DECIMAL(38,0) `div` == DuckDB
# HUGEINT `//`, probed exact), so the per-round argmax is
# bit-deterministic under the total order
# (score DESC, pair count DESC, a ASC, b ASC).

#: Learned merges per training run (BPE's, so the two trainers are
#: directly comparable on the same corpus).
N_TRAIN_MERGES = BPE.N_TRAIN_MERGES

#: Nano quantization of the likelihood score (1e9 — the repo's
#: standard integer-quantization unit for cross-engine argmaxes).
SCORE_SCALE = 1_000_000_000


def likelihood_scores(toks: DataFrame, pairs: DataFrame) -> DataFrame:
    """``(pa, pb, pcount, score_nano)`` for every adjacent pair of a
    training round: symbol counts and weighted pair counts (two
    vocabulary-sized aggregations over the distinct-word dict), the
    symbol counts joined onto both pair sides by broadcast, and the
    nano-quantized likelihood score."""
    # Round 15, measured and KEPT AS IS: (a) an eager per-round
    # checkpoint of this vocab-sized agg read 0.84x (the blocking
    # job costs more than the duplicated tiny agg it saves);
    # (b) folding both broadcast sides into ONE 1-row
    # map_from_entries(collect_list(...)) broadcast read
    # 0.93-1.06x wall (noise) and +8 jobs/run (60 vs 52 — the
    # global 1-row map aggregate adds a barrier per round that
    # costs more than the second broadcast build it removes), so
    # the two-broadcast-side form stays.
    sym = (
        toks.select(F.explode("t").alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").cast("bigint").alias("sc"))
    )
    pc = pairs.groupBy(
        F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb")
    ).agg(F.sum("cnt").cast("bigint").alias("pcount"))
    score = (
        f"CAST(CAST(pcount AS DECIMAL(38,0)) * {SCORE_SCALE}"
        " div (CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0)))"
        " AS BIGINT)"
    )
    return (
        pc.join(
            F.broadcast(
                sym.select(F.col("sym").alias("pa"), F.col("sc").alias("sa"))
            ),
            "pa",
        )
        .join(
            F.broadcast(
                sym.select(F.col("sym").alias("pb"), F.col("sc").alias("sb"))
            ),
            "pb",
        )
        .select("pa", "pb", "pcount", F.expr(score).alias("score_nano"))
    )


def _likelihood_best(toks: DataFrame, pairs: DataFrame, r: int) -> DataFrame:
    """WordPiece's pick: the argmax of :func:`likelihood_scores` under
    (score DESC, pair count DESC, a ASC, b ASC)."""
    return (
        likelihood_scores(toks, pairs)
        .orderBy(
            F.desc("score_nano"),
            F.desc("pcount"),
            F.asc("pa"),
            F.asc("pb"),
        )
        .limit(1)
        .select(
            F.lit(r).alias("merge_rank"),
            F.col("pa").alias("a"),
            F.col("pb").alias("b"),
            F.concat("pa", "pb").alias("merged"),
            F.col("pcount").cast("bigint").alias("pair_count"),
            F.col("score_nano"),
        )
    )


def train_wordpiece_merges(
    words: DataFrame, rounds: int = N_TRAIN_MERGES
) -> DataFrame:
    """Learn the top-``rounds`` WordPiece merges from a (word, cnt)
    dict — the shared greedy loop ``bpe.train_greedy_merges`` picking
    the nano-quantized likelihood argmax each round (total tie order,
    so training is deterministic)."""
    return BPE.train_greedy_merges(words, rounds, _likelihood_best)


def _likelihood_best_ctes(i: int) -> str:
    """DuckDB twin of :func:`_likelihood_best` for round ``i``: symbol
    counts ``sc{i}`` and the argmax row ``best{i}`` over the shared
    round's pair counts ``pc{i}``."""
    return f"""sc{i} AS MATERIALIZED (
            SELECT s.sym, CAST(sum(w.cnt) AS BIGINT) AS sc
            FROM r{i} s JOIN wcnt w ON w.wid = s.wid
            GROUP BY 1
        ), best{i} AS MATERIALIZED (
            SELECT {i} AS merge_rank, p.a, p.b, p.a || p.b AS merged,
                   p.pcount AS pair_count,
                   CAST(CAST(p.pcount AS HUGEINT) * {SCORE_SCALE}
                        // NULLIF((CAST(ca.sc AS HUGEINT) * cb.sc), 0) AS BIGINT)
                       AS score_nano
            FROM pc{i} p
            JOIN sc{i} ca ON ca.sym = p.a
            JOIN sc{i} cb ON cb.sym = p.b
            ORDER BY score_nano DESC, p.pcount DESC, p.a ASC, p.b ASC
            LIMIT 1
        )"""


def train_oracle_sql(rounds: int = N_TRAIN_MERGES) -> str:
    """DuckDB replay of :func:`train_wordpiece_merges` (the shared
    greedy-train oracle with the likelihood argmax)."""
    return BPE.greedy_train_oracle_sql(rounds, _likelihood_best_ctes)
