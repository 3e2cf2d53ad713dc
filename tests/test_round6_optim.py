"""Round-6 optimization equivalence tests.

Each test pins an internal rewritten for performance this round to its
pre-rewrite semantics:

- minhash_signatures: the vectorized (batch-concatenated) kernel must
  equal the per-doc reference loop bit-for-bit, including the short-doc
  (n < k) window rule, and the ``with_bands`` column must be a pure
  function of the signature slices (same slice values => same band).
- minhash_lsh_pairs: the groupBy/collect_list bucket-pair plan must
  produce exactly the candidate-derived pair set the old self-join
  formulation produced (cross-checked here against a brute-force
  reconstruction from the signatures).
- pagerank checkpoint interval: the sink-free lazy-round path must
  equal a per-iteration materialization (oracle-grid values).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with no overlap at all here"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "hi"),                                            # n < k
        (5, ""),                                              # empty
        (6, "one two"),                                       # n < k
        (7, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _reference_signatures(texts: dict[int, str], num_hashes=64, k=3):
    """The pre-round-6 per-doc loop, verbatim semantics."""
    GOLD = np.uint64(0x9E3779B97F4A7C15)
    seeds = np.arange(1, num_hashes + 1, dtype=np.uint64)

    def mix(z):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    out = {}
    with np.errstate(over="ignore"):
        for doc_id, text in texts.items():
            words = pd.Series([text]).fillna("").str.strip().str.lower() \
                .str.split(r"\s+", regex=True)[0]
            n = len(words)
            hw = pd.util.hash_array(
                np.asarray(words, dtype=object)).astype(np.uint64)
            m = max(n - k, 0) + 1
            keff = min(k, n)
            acc = np.zeros(m, dtype=np.uint64)
            for j in range(keff):
                acc = acc * GOLD + hw[j:j + m]
            uniq = np.unique(mix(acc))
            mixed = mix(uniq[:, None] + seeds[None, :] * GOLD)
            out[doc_id] = mixed.min(axis=0).astype(np.int64)
    return out


def test_minhash_signatures_match_reference_loop(spark, docs):
    from npm_extraction_server_spark.operators.dedup import minhash_signatures

    got = {r["doc_id"]: np.array(r["sig"], dtype=np.int64)
           for r in minhash_signatures(docs, 64, 3).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    ref = _reference_signatures(texts)
    assert set(got) == set(ref)
    for d in ref:
        assert np.array_equal(got[d], ref[d]), f"doc {d} signature diverged"


def test_minhash_bands_are_function_of_sig_slices(spark, docs):
    """Docs with identical signature slices for a band must share that
    band hash (bucket membership preserved), and differing slices must
    (here) produce differing hashes."""
    from npm_extraction_server_spark.operators.dedup import minhash_signatures

    rows = minhash_signatures(docs, 64, 3, with_bands=32).collect()
    rpb = 64 // 32
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        assert len(r["bands"]) == 32
    # doc 0 and 3 are exact duplicates -> identical sig -> identical bands
    assert by_id[0]["bands"] == by_id[3]["bands"]
    # band equality must track slice equality across all doc pairs
    ids = sorted(by_id)
    for i in ids:
        for j in ids:
            if i >= j:
                continue
            for b in range(32):
                si = by_id[i]["sig"][b * rpb:(b + 1) * rpb]
                sj = by_id[j]["sig"][b * rpb:(b + 1) * rpb]
                bi, bj = by_id[i]["bands"][b], by_id[j]["bands"][b]
                if si == sj:
                    assert bi == bj
                else:
                    assert bi != bj  # 64-bit collision would be ~2^-64


def test_minhash_lsh_pairs_equal_bruteforce_bucket_pairs(spark, docs):
    """The collect_list bucket-pair plan == brute-force pair set derived
    from the same signatures/bands (old self-join semantics)."""
    from npm_extraction_server_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_signatures)

    num_hashes, bands = 64, 32
    sig_rows = minhash_signatures(docs, num_hashes, 3,
                                  with_bands=bands).collect()
    # brute force: bucket by (band, band_hash), cap, pair, est filter
    buckets: dict = {}
    for r in sig_rows:
        for b, h in enumerate(r["bands"]):
            buckets.setdefault((b, h), []).append(r["doc_id"])
    expect = set()
    sigs = {r["doc_id"]: r["sig"] for r in sig_rows}
    for ids in buckets.values():
        if len(ids) < 2 or len(ids) > 64:
            continue
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, c = ids[x], ids[y]
                est = sum(1 for i in range(num_hashes)
                          if sigs[a][i] == sigs[c][i]) / num_hashes
                if round(est, 6) >= 0.3:
                    expect.add((a, c))
    got = {(r["doc_a"], r["doc_b"])
           for r in minhash_lsh_pairs(docs, num_hashes, bands,
                                      threshold=0.3).collect()}
    assert got == expect
    assert (0, 3) in got  # the exact duplicate pair must be found


def test_pagerank_interval_checkpoint_equals_history_path(spark):
    """Sink-free pagerank (lazy rounds, interval checkpoints) must equal
    the per-round-materialized history path's final iteration."""
    from npm_extraction_server_spark.plans.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(7)] +
        [(i, (i + 1) % 7) for i in range(7)], ["src", "dst"])
    fast = {r["node_id"]: r["rank"]
            for r in pagerank(edges, iterations=5).collect()}
    hist = pagerank(edges, iterations=5, return_history=True)
    slow = {r["node_id"]: round(r["rank"], 8)
            for r in hist.filter(F.col("iter") == 5).collect()}
    assert fast == slow


def test_spread_partitions_memo_consistent(spark):
    from npm_extraction_server_spark.operators.dedup import spread_partitions

    df = spark.range(100).select(F.col("id").alias("doc_id")).coalesce(1)
    a = spread_partitions(df, "doc_id")
    b = spread_partitions(df, "doc_id")  # memoized probe, same decision
    assert a.rdd.getNumPartitions() == b.rdd.getNumPartitions()
    assert sorted(r["doc_id"] for r in a.collect()) == list(range(100))
