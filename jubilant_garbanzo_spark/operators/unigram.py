"""Unigram-LM (SentencePiece) tokenizer APPLY — Viterbi segmentation.

Reference behavior (public literature, not the reference repo —
``/root/reference`` has no tokenizer): Kudo, "Subword Regularization"
(ACL'18) §3 / the SentencePiece unigram model: given a piece
vocabulary with log-probabilities, segment each word into the piece
sequence maximizing the summed log-probability — a Viterbi DP over
word positions, the *global-optimal* twin of BPE's greedy merge loop
(operators/bpe.py). Characters outside the vocabulary fall back to a
per-character UNK penalty, so every word is segmentable (SentencePiece
``--byte_fallback`` plays the same totality role).

Spark-first shape — per-row only, zero shuffle until the caller
aggregates:

- the piece table ships as a ``map(...)`` PLAN LITERAL (the broadcast
  analog for a table this small; a production 32k-piece vocabulary
  would swap :func:`vocab_map_expr` for a broadcast join — the DP
  expression is unchanged);
- the DP is ONE ``aggregate`` fold over ``sequence(1, length(word))``
  whose accumulator is the growing array of per-position best states
  ``struct(s, np, seg)`` — score in exact integer milli-nats, negated
  piece count, and the segmentation string. The candidate for each
  piece length k = 1..KMAX references the accumulator via lambda
  variables only (the operators/bpe._let discipline), so the plan is
  CONSTANT-SIZE regardless of word length — the fold loops at
  runtime, nothing unrolls per position;
- the total order ``max(struct(s, np, seg))`` (score, then fewer
  pieces, then lexicographically greatest piece string) makes the
  argmax deterministic on both engines even under score ties.

Exactness: scores are integer milli-nats summed exactly; the DuckDB
oracle replays the SAME recurrence as unrolled relational rounds (one
CTE pair per position, candidates via substr joins against a VALUES
vocab, per-word argmax via a ROW_NUMBER window with the identical tie
order) — an independent formulation, so the differential check proves
the fold. A Python reference loop pins the semantics in
tests/test_llm_ops.py.
"""

from __future__ import annotations

from jubilant_garbanzo_spark.operators import textops as TX
from jubilant_garbanzo_spark.operators.bpe import _let

#: Piece vocabulary: (piece, log-prob in exact integer MILLI-NATS,
#: negative). Single characters cover the corpus alphabet (totality
#: without UNK on the fixtures); multi-char pieces are priced so the
#: DP genuinely chooses (a 4-char piece beats its character split, but
#: adjacent pieces compete — Viterbi's global optimum differs from a
#: greedy longest-match on words like "batch" and "stream").
_SINGLES = "abcdefghijklmnopqrstuvwxyz"
_MULTI = (
    # 2-char pieces
    "th", "he", "in", "er", "an", "at", "da", "ta", "or", "ro",
    "st", "sc", "ha", "sh", "ow", "ry", "ue", "am", "ch", "le",
    # 3-char pieces
    "the", "dat", "ata", "ter", "ind", "row", "ort", "can", "tab",
    "que", "ash", "tch", "eam", "umn",
    # 4-char pieces
    "data", "join", "hash", "scan", "sort", "part", "wind", "ream",
    "tabl", "lumn", "quer", "ilte", "grou", "trea", "batc",
)

#: Longest piece the DP considers (SentencePiece's max_piece_length
#: analog); bounds the per-position candidate fan-in.
KMAX = 4

#: Per-character UNK penalty (milli-nats) for characters outside the
#: vocabulary — guarantees every word segments.
UNK_MILLI = -11500

#: Words longer than this are excluded on BOTH engines (the oracle
#: unrolls one relational round per position; fixture max is 8).
MAXLEN = 12


# Not an assert: pricing below is index-sensitive, so this guard must
# survive python -O / PYTHONOPTIMIZE too.
if len(set(_MULTI)) != len(_MULTI):
    raise ValueError("duplicate piece in _MULTI")


def build_vocab() -> tuple[tuple[str, int], ...]:
    """The (piece, milli-logprob) table. Deterministic arithmetic
    pricing: singles ≈ -3.0 to -4.0 nats, k-char pieces priced to beat
    their character split but stay comparable to rival tilings.
    Pricing is INDEX-SENSITIVE (lp = -(base + 37*i)), so the
    import-time no-duplicates assert above is load-bearing: a repeated
    piece would silently shift every later piece's price."""
    vocab = []
    for i, c in enumerate(_SINGLES):
        vocab.append((c, -(3000 + 40 * i)))
    for i, p in enumerate(_MULTI):
        base = {2: 5200, 3: 6800, 4: 8200}[len(p)]
        vocab.append((p, -(base + 37 * i)))
    return tuple(vocab)


VOCAB: tuple[tuple[str, int], ...] = build_vocab()


def vocab_map_expr() -> str:
    """SQL ``map('piece', lp, ...)`` literal (pieces are ASCII
    alphanumeric by construction; asserted so a future quoted piece
    cannot silently break either engine's SQL — the bpe.py ADVICE)."""
    assert all(p.isalnum() for p, _ in VOCAB), "pieces must stay quote-free"
    entries = ", ".join(f"'{p}', {lp}" for p, lp in VOCAB)
    return f"map({entries})"


def _candidate(k: int, vmap: str) -> str:
    """Candidate DP state for a piece of length ``k`` ending at
    position ``j`` (lambda vars ``acc``/``j`` from the enclosing
    fold): previous state + piece score, or NULL when out of range /
    unpriced. k=1 falls back to UNK_MILLI, so a 1-char candidate
    always exists and the DP is total."""
    lp = f"try_element_at({vmap}, pc)"
    if k == 1:
        lp = f"coalesce({lp}, {UNK_MILLI})"
    # greatest(..., 1): for j < k the state is unused (the IF guard
    # below is false) but the index is still EVALUATED — 0 throws
    # INVALID_INDEX_OF_ZERO and a negative would silently read from
    # the array's end.
    return _let(
        f"try_element_at(acc, greatest(j - {k} + 1, 1))",
        "pv",
        _let(
            f"substring(word, j - {k} + 1, {k})",
            "pc",
            _let(
                lp,
                "lp",
                f"IF(j >= {k} AND pv IS NOT NULL AND lp IS NOT NULL,"
                f" named_struct('s', pv.s + lp, 'np', pv.np - 1,"
                f" 'seg', concat(pv.seg, ' ', pc)), NULL)",
            ),
        ),
    )


def viterbi_expr(word_col: str = "word", vmap: str | None = None) -> str:
    """SQL expression: the final DP state ``struct(s, np, seg)`` for
    ``word_col`` — score in milli-nats, negated piece count, and the
    ' '-prefixed segmentation string.

    ``vmap`` is the piece→milli-logprob map EXPRESSION: the fixed
    apply vocabulary plan literal by default, or a COLUMN NAME when
    the vocabulary is data (the training path crossJoins a broadcast
    1-row ``map_from_entries(collect_list(...))`` frame and passes
    its column here — the DP text is identical either way)."""
    if vmap is None:
        vmap = vocab_map_expr()
    cands = ", ".join(_candidate(k, vmap) for k in range(1, KMAX + 1))
    # the zero score is BIGINT so the accumulator's struct type is
    # identical whether piece scores come from the INT-literal apply
    # map or the BIGINT learned-vocab map (pv.s + lp widens either way)
    fold = (
        f"aggregate(sequence(1, length({word_col})),"
        f" array(named_struct('s', CAST(0 AS BIGINT), 'np', 0, 'seg', '')),"
        f" (acc, j) -> concat(acc, array("
        f"   array_max(filter(array({cands}), x -> x IS NOT NULL)))))"
    )
    return _let(fold, "dp", f"element_at(dp, length({word_col}) + 1)")


# -- DuckDB oracle replay -----------------------------------------------------


def dp_round_ctes(prefix: str, vocab_cte: str) -> list[str]:
    """Unrolled Viterbi DP as relational rounds: one (candidates,
    argmax) CTE pair per position 1..MAXLEN, piece lookups via substr
    joins against ``vocab_cte`` (piece, lp), the per-word argmax via a
    ROW_NUMBER window with the tie order (s DESC, np DESC, seg DESC) —
    exactly the fold's ``max(struct(s, np, seg))``. CTE names are
    ``{prefix}c{j}`` / ``{prefix}d{j}``; the terminal states land in
    ``{prefix}fin``. Parameterizing the vocab table is what lets the
    TRAIN oracle re-run the identical sweep per EM round against a
    vocabulary it just computed."""
    parts = [
        f"{prefix}d0 AS MATERIALIZED"
        " (SELECT wid, 0 AS s, 0 AS np, '' AS seg FROM wcnt)",
    ]
    for j in range(1, MAXLEN + 1):
        branches = []
        for k in range(1, min(KMAX, j) + 1):
            start = j - k + 1
            if k == 1:
                branches.append(f"""
            SELECT d.wid, d.s + coalesce(v.lp, {UNK_MILLI}) AS s,
                   d.np - 1 AS np,
                   d.seg || ' ' || substr(d.wid, {start}, 1) AS seg
            FROM {prefix}d{j - 1} d
            LEFT JOIN {vocab_cte} v ON v.piece = substr(d.wid, {start}, 1)
            WHERE len(d.wid) >= {j}""")
            else:
                branches.append(f"""
            SELECT d.wid, d.s + v.lp AS s, d.np - 1 AS np,
                   d.seg || ' ' || substr(d.wid, {start}, {k}) AS seg
            FROM {prefix}d{j - k} d
            JOIN {vocab_cte} v ON v.piece = substr(d.wid, {start}, {k})
            WHERE len(d.wid) >= {j}""")
        union = " UNION ALL ".join(branches)
        parts.append(f"{prefix}c{j} AS MATERIALIZED ({union})")
        parts.append(f"""{prefix}d{j} AS MATERIALIZED (
            SELECT wid, s, np, seg FROM (
                SELECT c.*, ROW_NUMBER() OVER (
                    PARTITION BY wid
                    ORDER BY s DESC, np DESC, seg DESC) AS rk
                FROM {prefix}c{j} c
            ) WHERE rk = 1
        )""")
    fin = " UNION ALL ".join(
        f"SELECT * FROM {prefix}d{j} WHERE len(wid) = {j}"
        for j in range(1, MAXLEN + 1)
    )
    parts.append(f"{prefix}fin AS ({fin})")
    return parts


def oracle_sql(topcols: str = "") -> str:
    """Full DuckDB SELECT replaying the APPLY Viterbi DP over the
    distinct-word dict of ``documents`` against the fixed VALUES
    vocabulary (see :func:`dp_round_ctes` for the sweep shape)."""
    vals = ", ".join(f"('{p}', {lp})" for p, lp in VOCAB)
    parts = [
        f"vocab(piece, lp) AS MATERIALIZED (VALUES {vals})",
        TX.word_counts_sql(MAXLEN),
        *dp_round_ctes("", "vocab"),
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT w.wid AS word, w.cnt,
               CAST(-f.np AS BIGINT) AS n_pieces,
               substr(f.seg, 2) AS segmentation,
               CAST(f.s AS BIGINT) AS score_milli
        FROM fin f JOIN wcnt w ON w.wid = f.wid{topcols}"""
    )


# -- Viterbi-EM (hard-EM) TRAINING --------------------------------------------
#
# Kudo ACL'18 §3.2 re-estimates piece probabilities with EM over all
# segmentations (forward-backward expectations). The hard-EM /
# Viterbi-EM variant — E-step counts pieces in the single BEST
# segmentation only — is the standard exact-arithmetic-friendly
# approximation (it is also what the SentencePiece pruning loop scores
# with: the Viterbi path is `EncodeAsPieces`). Every quantity below is
# an integer (counts) or a milli-nat quantized log, so the Spark fold
# and the DuckDB relational replay agree bit-for-bit.

#: Multi-char seed pieces must occur at least this often (weighted by
#: word frequency) to enter the seed vocabulary.
SEED_MIN_CNT = 3

#: Seed cap for multi-char pieces (count DESC, piece ASC total order).
SEED_MULTI_MAX = 120

#: Pieces kept per EM round after pruning (multi-char; singles always
#: survive for segmentation totality).
KEEP_MULTI = 60

#: Unrolled EM rounds (each = one Viterbi sweep + re-estimate + prune).
EM_ROUNDS = 2


def lp_milli_sql(cnt: str, tot: str, nv: str, oracle: bool = False) -> str:
    """Add-1-smoothed log-probability in integer milli-nats:
    ``round(ln((cnt+1)/(tot+|V|)) * 1000)``. ONE division then ONE ln
    — a single identical IEEE expression on both engines, quantized
    before anything sums it (the text_bigram_avg_nll rule). The oracle
    spells the divisor ``NULLIF(..., 0)``, the Spark text keeps it bare."""
    den = f"CAST({tot} + {nv} AS DOUBLE)"
    if oracle:
        den = f"NULLIF({den}, 0)"
    return f"CAST(round(ln(CAST({cnt} + 1 AS DOUBLE) / {den}) * 1000) AS BIGINT)"


def train_oracle_sql() -> str:
    """DuckDB replay of the full Viterbi-EM training loop: seed
    substring counts → milli-nat scores → EM_ROUNDS × (Viterbi sweep
    via :func:`dp_round_ctes` → usage counts → prune → re-score) →
    the final vocabulary. Round prefixes are ``emA``, ``emB``, ..."""
    parts = [TX.word_counts_sql(MAXLEN)]
    # Seed: every substring of length 1..KMAX of every distinct word,
    # weighted by word frequency. The k-unnest is uncorrelated
    # (constant 1..KMAX); the in-range correlation lives in WHERE.
    parts.append(f"""sub AS MATERIALIZED (
            SELECT substr(w.wid, s.i, k.j) AS piece, w.cnt
            FROM wcnt w,
                 UNNEST(range(1, len(w.wid) + 1)) AS s(i),
                 UNNEST(range(1, {KMAX} + 1)) AS k(j)
            WHERE s.i + k.j - 1 <= len(w.wid)
        )""")
    parts.append("""seed AS MATERIALIZED (
            SELECT piece, CAST(sum(cnt) AS BIGINT) AS ucnt
            FROM sub GROUP BY piece
        )""")
    parts.append(f"""v0 AS MATERIALIZED (
            SELECT piece, ucnt FROM seed WHERE len(piece) = 1
            UNION ALL
            SELECT piece, ucnt FROM (
                SELECT piece, ucnt FROM seed
                WHERE len(piece) >= 2 AND ucnt >= {SEED_MIN_CNT}
                ORDER BY ucnt DESC, piece ASC LIMIT {SEED_MULTI_MAX}
            )
        )""")
    parts.append("""t0 AS (
            SELECT CAST(sum(ucnt) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS nv
            FROM v0
        )""")
    parts.append(f"""vocab0 AS MATERIALIZED (
            SELECT piece, {lp_milli_sql('ucnt', 'tot', 'nv', oracle=True)} AS lp
            FROM v0, t0
        )""")
    prev = "vocab0"
    prefix = ""
    for r in range(EM_ROUNDS):
        prefix = "em" + chr(ord("A") + r)
        parts.extend(dp_round_ctes(prefix, prev))
        parts.append(f"""{prefix}use AS MATERIALIZED (
            SELECT p.piece, CAST(sum(w.cnt) AS BIGINT) AS ucnt
            FROM (SELECT wid,
                         unnest(string_split(substr(seg, 2), ' ')) AS piece
                  FROM {prefix}fin) p
            JOIN wcnt w ON w.wid = p.wid
            GROUP BY p.piece
        )""")
        # Prune: singles always survive (usage 0 if unused); multi-char
        # pieces keep the top KEEP_MULTI actually-used, total order.
        parts.append(f"""{prefix}v AS MATERIALIZED (
            SELECT v.piece, coalesce(u.ucnt, 0) AS ucnt
            FROM {prev} v LEFT JOIN {prefix}use u USING (piece)
            WHERE len(v.piece) = 1
            UNION ALL
            SELECT piece, ucnt FROM (
                SELECT v.piece, u.ucnt
                FROM {prev} v JOIN {prefix}use u USING (piece)
                WHERE len(v.piece) >= 2 AND u.ucnt > 0
                ORDER BY u.ucnt DESC, v.piece ASC LIMIT {KEEP_MULTI}
            )
        )""")
        parts.append(f"""{prefix}t AS (
            SELECT CAST(sum(ucnt) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS nv
            FROM {prefix}v
        )""")
        parts.append(f"""{prefix}vocab AS MATERIALIZED (
            SELECT v.piece, v.ucnt,
                   {lp_milli_sql('v.ucnt', 't.tot', 't.nv', oracle=True)} AS lp
            FROM {prefix}v v, {prefix}t t
        )""")
        prev = f"{prefix}vocab"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT piece,
               CAST(len(piece) AS BIGINT) AS piece_len,
               ucnt AS usage_count,
               lp AS lp_milli
        FROM {prev}"""
    )
