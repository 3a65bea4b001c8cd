"""Dual-hash dedup schemes: the production (xxhash64) and oracle
(md5-portable) schemes run the SAME pipeline shape with the same
exact-Jaccard verification, so neither can emit a false positive; LSH
RECALL on borderline pairs is legitimately hash-dependent (with one
(h1,h2) pair per shingle the Kirsch-Mitzenmacher seeds are correlated:
a doc-unique shingle with a tiny h2 can dominate every seed's min), so
the tests pin the guarantees that actually hold — verified-pair
soundness under both schemes, agreement on the unambiguous duplicate
cluster, and ANSI-safe arithmetic — not bitwise recall equality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.operators.dedup import (
    incremental_near_dup_pairs,
    minhash_index,
    minhash_lsh_pairs,
    minhash_sig_array,
    ngram_jaccard,
)

DOCS = [
    # one obvious near-dup cluster (pairwise jaccard ~0.85+)
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2, "the quick brown fox jumps over the lazy dog near a river bank"),
    # a borderline pair — may or may not surface depending on scheme
    (10, "machine learning models require large curated training datasets"),
    (11, "machine learning models require large curated training corpora"),
    (20, "completely unrelated text about cooking pasta with fresh basil"),
    (21, "astronomy observations of distant galaxies and stellar nurseries"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _verified_pairs(docs, scheme):
    cand = minhash_lsh_pairs(docs, "doc_id", "text", scheme=scheme)
    ver = ngram_jaccard(docs, cand, "doc_id", "text", scheme=scheme)
    return {
        (r["id_a"], r["id_b"])
        for r in ver.filter(F.col("jaccard") >= 0.5).collect()
    }


def _true_pairs(docs, scheme):
    """Ground truth: exact Jaccard >= 0.5 over ALL pairs (no LSH)."""
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    allp = docs.sparkSession.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    ver = ngram_jaccard(docs, allp, "doc_id", "text", scheme=scheme)
    return {
        (r["id_a"], r["id_b"])
        for r in ver.filter(F.col("jaccard") >= 0.5).collect()
    }


@pytest.mark.parametrize("scheme", ["fast", "portable"])
def test_no_false_positives_and_cluster_recall(docs, scheme):
    got = _verified_pairs(docs, scheme)
    truth = _true_pairs(docs, scheme)
    # soundness: exact verification means every emitted pair is a true
    # near-dup regardless of which hash family generated the candidate
    assert got <= truth
    # the unambiguous high-similarity cluster must be fully recalled
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert not any(20 in p or 21 in p for p in got)


def test_fast_scheme_incremental_matches_full(docs):
    corpus = docs.filter(F.col("doc_id") != 2)
    batch = docs.filter(F.col("doc_id") == 2)
    idx = minhash_index(corpus, "doc_id", "text", scheme="fast")
    inc = incremental_near_dup_pairs(
        batch, idx, "doc_id", "text", 0.5, scheme="fast"
    )
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    assert got == {(0, 2), (1, 2)}


def test_unknown_scheme_rejected(docs):
    with pytest.raises(ValueError, match="unknown hash scheme"):
        minhash_lsh_pairs(docs, "doc_id", "text", scheme="sha1")


def test_fast_minhash_never_overflows(spark):
    """56-bit folding: h1 + 15*h2 must stay inside int64 under ANSI
    mode even for adversarial shingles (ANSI overflow would raise)."""
    df = spark.createDataFrame(
        [(i, f"token{i} " * 50) for i in range(200)], "doc_id long, text string"
    )
    out = minhash_lsh_pairs(df, "doc_id", "text", scheme="fast")
    out.collect()  # would raise ArithmeticException on overflow


def test_minhash_sig_array_refuses_more_than_127_hashes(spark):
    """The sentinel num_hashes << 56 overflows int64 past 127 seeds:
    refused with a ValueError naming the bound, before any Spark work."""
    hp = F.array(F.struct(F.lit(1).alias("h1"), F.lit(2).alias("h2")))
    minhash_sig_array(hp, 127)  # the bound itself is legal
    with pytest.raises(ValueError, match="127"):
        minhash_sig_array(hp, 128)
