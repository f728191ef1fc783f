"""Scale-growth pins: double the corpus, candidate work must ~double.

The dedup/similarity family's 100 TB claim rests on candidate generation
being LINEAR in the corpus (inverted-index/LSH/prefix blocking), never the
all-pairs square.  These tests measure the actual growth exponent on
deterministic synthetic corpora where a quadratic regression would show as
a ~4× jump when n doubles.
"""

from __future__ import annotations

import pytest


def _corpus(spark, n):
    # Near-dup pairs (i, i+1) built from PER-DOC-UNIQUE vocabularies, so
    # the ground-truth pair count is exactly n — linear by construction —
    # while a shared boilerplate prefix in every document stresses the
    # hot-shingle path (it must be capped/deprioritized, never joined).
    boiler = "the quick brown fox jumps over lazy dogs again and"
    rows = []
    for i in range(n):
        base = boiler + " " + " ".join(f"u{i}w{k}" for k in range(16))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + f" tail{i}"))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _growth(f, spark, n=60):
    small = f(_corpus(spark, n))
    large = f(_corpus(spark, 2 * n))
    assert small > 0, "vacuous corpus"
    return large / small


def test_setsim_candidates_grow_linearly(spark):
    from lab_etl_spark.operators.dedup import setsim_prefix_pairs

    g = _growth(
        lambda docs: setsim_prefix_pairs(docs, n=3, t_num=4, t_den=5).count(),
        spark,
    )
    assert g <= 2.6, f"setsim pair output grew {g:.2f}x for 2x docs"


def test_minhash_lsh_candidates_grow_linearly(spark):
    from lab_etl_spark.operators.dedup import minhash_lsh_candidates

    g = _growth(
        lambda docs: minhash_lsh_candidates(
            docs, n=3, num_hashes=16, bands=4, threshold=0.5
        ).count(),
        spark,
    )
    assert g <= 2.6, f"LSH verified-pair output grew {g:.2f}x for 2x docs"


def test_capped_inverted_index_pairs_grow_linearly(spark):
    from lab_etl_spark.operators.dedup import shingle_jaccard_pairs

    g = _growth(
        lambda docs: shingle_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_freq=100
        ).count(),
        spark,
    )
    assert g <= 2.6, f"inverted-index pair output grew {g:.2f}x for 2x docs"


@pytest.mark.parametrize("n", [60])
def test_connected_components_rounds_scale_with_diameter_not_size(spark, n):
    # Doubling the corpus doubles the number of 2-doc clusters but leaves
    # the component diameter at 1 — cluster count must double exactly and
    # every cluster must stay a planted pair (no accidental merging).
    from lab_etl_spark.operators.dedup import (
        connected_components_auto,
        shingle_jaccard_pairs,
    )

    def clusters(docs):
        pairs = shingle_jaccard_pairs(
            docs, n=3, threshold=0.5, max_shingle_freq=100
        )
        cc = connected_components_auto(
            docs.select("doc_id"),
            pairs.select("doc_a", "doc_b"),
            id_col="doc_id",
            src="doc_a",
            dst="doc_b",
            working_partitions=4,
        )
        return (
            cc.groupBy("component").count().filter("count >= 2").count()
        )

    c1 = clusters(_corpus(spark, n))
    c2 = clusters(_corpus(spark, 2 * n))
    assert c1 > 0 and c2 >= 2 * c1 * 0.9


def test_simhash_pairs_grow_linearly(spark):
    # Exact-dup pairs over per-doc-unique vocabularies: unrelated docs get
    # uncorrelated 64-bit signatures, so a 16-bit band collision between
    # them is ~2^-16 — the banded join's output must track the planted n
    # pairs, not the n^2 cross product.
    from lab_etl_spark.operators.simhash import simhash_near_pairs

    def corpus(n):
        rows = []
        for i in range(n):
            text = " ".join(f"u{i}w{k}" for k in range(24))
            rows.append((2 * i, text))
            rows.append((2 * i + 1, text))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    small = simhash_near_pairs(corpus(60), max_hamming=3, bands=4).count()
    large = simhash_near_pairs(corpus(120), max_hamming=3, bands=4).count()
    assert small >= 60, f"planted exact dups missed: {small} < 60"
    g = large / small
    assert g <= 2.2, f"simhash pair output grew {g:.2f}x for 2x docs"


def test_embedding_near_pairs_work_is_sum_block_sq(spark):
    # The block join's pair count is Σ|block|², not n²: doubling the BLOCK
    # COUNT at fixed block size must double the emitted pairs, and no pair
    # may cross a block boundary (which is what caps the shuffle at scale).
    from lab_etl_spark.operators.similarity import embedding_near_pairs

    def vectors(blocks):
        rows = []
        for b in range(blocks):
            base = [0.0] * 8
            base[b % 8] = 1.0
            jit = base[:]
            jit[(b + 1) % 8] = 1e-4  # cosine ~ 1 - 5e-9, inside 0.98
            rows.append((2 * b, b, base))
            rows.append((2 * b + 1, b, jit))
        return spark.createDataFrame(
            rows, "vec_id bigint, label bigint, embedding array<double>"
        )

    small = embedding_near_pairs(vectors(40), threshold=0.98).count()
    large = embedding_near_pairs(vectors(80), threshold=0.98).count()
    assert small == 40, f"expected one pair per block, got {small}"
    assert large == 80, f"expected one pair per block, got {large}"


def test_degree_oriented_wedges_immune_to_hubs(spark):
    # A degree-d hub centers ~d^2/2 wedges under naive id orientation but
    # ~0 under degree orientation (all its edges point INTO it).  Doubling
    # the hub size must leave the wedge count unchanged while the planted
    # triangles keep producing exactly one wedge each.
    from lab_etl_spark.operators.graph import degree_oriented_wedges

    def graph(hub_n, tri_m):
        rows = [(0, i) for i in range(10_000, 10_000 + hub_n)]  # star
        for t in range(tri_m):  # disjoint planted triangles
            a = 3 * t + 1
            rows += [(a, a + 1), (a + 1, a + 2), (a, a + 2)]
        return spark.createDataFrame(rows, "p1 bigint, p2 bigint")

    tri_m = 40
    w_small = degree_oriented_wedges(graph(200, tri_m)).count()
    w_big = degree_oriented_wedges(graph(400, tri_m)).count()
    # one wedge per triangle, zero from the hub, at either hub size
    assert w_small == tri_m, w_small
    assert w_big == tri_m, w_big
