"""dedup_soft_weights invariants: each cluster contributes exactly one
unit of expected mass; singletons keep weight 1; the cluster structure
agrees with dedup_components. Also the Hamming-banded near-dup join
behind simhash_hamming_neardup: completeness against brute force and
its degenerate-banding guards."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from osmart_etl_spark.ops.dedup import hamming_neardup_pairs
from osmart_etl_spark.queries.base import REGISTRY
from tests.conftest import SF_SMALL


def test_soft_weights_unit_mass_per_cluster(spark):
    rows = REGISTRY["dedup_soft_weights"].fn(spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(SF_SMALL + "/documents.parquet").count()
    assert len(rows) == n_docs  # nothing dropped — that's the point

    by_cluster = Counter()
    for r in rows:
        assert r.sample_weight == 1.0 / r.cluster_size
        by_cluster[r.canonical_id] += 1
    for r in rows:
        assert r.cluster_size == by_cluster[r.canonical_id]
    # Σ weights = number of clusters (each cluster sums to exactly 1
    # in rational arithmetic; 1/n * n is exact in binary for these n)
    total = sum(r.sample_weight for r in rows)
    assert abs(total - len(by_cluster)) < 1e-9

    comp = {
        r.doc_id: r.canonical_id
        for r in REGISTRY["dedup_components"].fn(spark, SF_SMALL).collect()
    }
    for r in rows:
        if r.doc_id in comp:
            assert r.canonical_id == comp[r.doc_id]
        else:
            assert r.canonical_id == r.doc_id and r.cluster_size == 1


def test_banding_completeness_vs_brute_force(spark):
    """Pigeonhole banding must find EVERY pair within max_dist — seeded
    random 64-bit hashes plus planted near-dup clusters, compared
    against the O(n²) definition."""
    rng = random.Random(42)
    rows = []
    base_hashes = [rng.getrandbits(64) for _ in range(60)]
    hid = 0
    for h in base_hashes:
        rows.append((hid, h - (1 << 64) if h >= 1 << 63 else h))
        hid += 1
        if rng.random() < 0.4:  # planted near-dup: flip <=3 bits
            flipped = h
            for _ in range(rng.randint(0, 3)):
                flipped ^= 1 << rng.randrange(64)
            rows.append(
                (hid, flipped - (1 << 64) if flipped >= 1 << 63 else flipped)
            )
            hid += 1
    df = spark.createDataFrame(rows, "id bigint, h bigint")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_neardup_pairs(df, "id", "h", max_dist=3).collect()
    }
    want = set()
    for i, (ia, ha) in enumerate(rows):
        for ib, hb in rows[i + 1 :]:
            d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((min(ia, ib), max(ia, ib), d))
    assert got == want and len(want) > 0


def test_hamming_neardup_rejects_degenerate_banding(spark):
    """max_dist+1 > bits would make width 0 (all-zero masks → one bucket
    per band → silent O(n²) cross join); must raise at entry, as must
    bits outside 1..64 and negative max_dist (round-11 ADVICE)."""
    df = spark.createDataFrame([(1, 0), (2, 1)], "id bigint, h bigint")
    with pytest.raises(ValueError, match="bands cannot partition"):
        hamming_neardup_pairs(df, "id", "h", max_dist=8, bits=4)
    with pytest.raises(ValueError, match="bits"):
        hamming_neardup_pairs(df, "id", "h", max_dist=3, bits=65)
    with pytest.raises(ValueError, match="max_dist"):
        hamming_neardup_pairs(df, "id", "h", max_dist=-1)
