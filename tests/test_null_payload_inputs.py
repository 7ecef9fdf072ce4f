"""Differential regression for the round-12 NULL-payload audit finds.

The ``null_text`` shape (``testing.SHAPES``; swept by
``scripts/check_queries.py --shape null_text``) NULLs every
``documents.text`` and ``events.props`` — the shape a crawler batch
of fetch failures produces. Its first full sweep found 15 findings,
headlined by a production-grade dedup bug:

- ``operators/dedup.shingles`` fell back to ``array(NULL)`` for NULL
  text, so every NULL doc minhashed to the SAME all-NULL signature
  and an all-NULL-text batch declared every pair a duplicate
  (C(n,2) pairs at jaccard 1.0) — fixed at the root (NULL ⇒ empty
  shingle set ⇒ the doc drops from the signature table);
- the multimodal decode/resize/dhash kernels crashed the Arrow batch
  on ``len(None)`` — now NULL-in/NULL-out like their oracles;
- the trigram UDTF crashed on ``None.split``;
- per-query NULL-semantics divergences in dedup_incremental (double
  divergence: Spark fingerprinted NULL as md5('') while DuckDB's NULL
  fp slipped past NOT EXISTS), gopher rules, array_functions'
  concat_ws-vs-array_to_string, and the blob export fabricating
  0-byte files for fetch-failure rows.

This test pins the headline finds via the strict differential compare
on the NULL-payload fixture; ``test_minhash_all_null_corpus_no_pairs``
pins the all-pairs explosion directly at the operator level.
"""

from __future__ import annotations

import pytest

from jubilant_garbanzo_spark.queries import load_all
from jubilant_garbanzo_spark.testing import build_shaped_fixture, compare_query

AUDIT_FINDINGS = [
    "dedup_minhash_lsh",
    "dedup_cluster_cc",
    "dedup_incremental",
    "text_ngram_novelty",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_phash_dedup",
    "source_binaryfile",
    "udtf_ngram_explode",
    "text_gopher_rules",
    "array_functions",
]


@pytest.fixture(scope="module")
def null_payload_sf(tmp_path_factory, sf_dir):
    dest = tmp_path_factory.mktemp("null_sf")
    build_shaped_fixture(sf_dir, str(dest), "null_text")
    return str(dest)


@pytest.mark.parametrize("name", AUDIT_FINDINGS)
def test_null_payload_input_matches_oracle(spark, null_payload_sf, name):
    specs = load_all()
    problems = compare_query(spark, specs[name], null_payload_sf)
    assert not problems, f"{name} diverges on NULL-payload input: {problems}"


def test_minhash_all_null_corpus_no_pairs(spark):
    """An ALL-NULL-text corpus must produce ZERO candidate pairs — the
    pre-fix shingle fallback gave every doc the identical all-NULL
    signature and emitted all C(n,2) pairs at jaccard 1.0."""
    from pyspark.sql import types as T

    from jubilant_garbanzo_spark.operators import dedup as D

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = spark.createDataFrame([(i, None) for i in range(40)], schema)
    assert D.minhash_lsh_pairs(D.minhash_index(docs)).count() == 0


def test_real_kernels_share_none_payload_contract():
    """ADVICE r12: the real Pillow kernels must honor the same
    None-payload ⇒ None contract as the fake kernels (and the oracles'
    NULL propagation). The None check precedes the Pillow import, so
    this pins the contract even in Pillow-less containers."""
    from jubilant_garbanzo_spark.operators import multimodal as mm

    assert mm._real_decode(None) is None
    assert mm._real_resize(None, 8, 6) is None
    # parity with the fake family (the contract both sides share)
    assert mm._fake_decode(None) is None
    assert mm._fake_resize(None, 8, 6) is None
