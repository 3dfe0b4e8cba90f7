"""Bottom-k (KMV) mergeable sample shards (sketch_bottomk_sample_shards):
merge-equals-global (the bottom-K of unioned shard samples IS the
bottom-K of the raw key space), shard-count invariance, and determinism
with state reuse. Unlike the other sketches this one's OUTPUT is fully
exact-gated by the oracle; these tests pin the merge algebra on shapes
the one registry dataset doesn't produce.
"""

import hashlib
import os

from kiji_scoring_spark.operators.sketches import K as _KMV_K
from kiji_scoring_spark.operators.sketches import kmv_build, kmv_merge
from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.state import state_path


def _py_bottomk(keys, k):
    hashed = sorted((hashlib.md5(str(x).encode()).hexdigest(), x) for x in set(keys))
    return hashed[:k]


def _shard_samples(spark, keys, n_shards):
    """Per-shard samples from the shipped build, keys dealt round-robin."""
    df = spark.createDataFrame(
        [(int(x), int(i % n_shards)) for i, x in enumerate(keys)],
        "key long, shard long",
    )
    return kmv_build(df)


def _merge(samples):
    return kmv_merge(samples).collect()


def test_merged_bottomk_equals_global_bottomk(spark):
    # the mergeability proof, checked concretely: any hash in the global
    # bottom-K is in its shard's bottom-K, so merging shard samples loses
    # nothing — the merged sample must equal the single-pass bottom-K
    keys = [x * 7919 % 5000 for x in range(20000)]  # dupes + spread
    want = _py_bottomk(keys, _KMV_K)
    got = _merge(_shard_samples(spark, keys, 8))
    assert [(r.h, r.key) for r in sorted(got, key=lambda r: r.h)] == want


def test_merge_is_shard_count_invariant(spark):
    # sharding is an ingest accident; 3-way, 8-way, and 1-way shardings
    # must all merge to the identical sample (same hashes, same keys)
    keys = list(range(1, 3000))
    merged = []
    for n in (1, 3, 8):
        got = _merge(_shard_samples(spark, keys, n))
        merged.append(sorted((r.h, r.key) for r in got))
    assert merged[0] == merged[1] == merged[2]
    assert len(merged[0]) == _KMV_K


def test_small_domain_sample_is_exhaustive(spark):
    # fewer distinct keys than K: the sample IS the key space and the
    # estimate degenerates to the exact count (the query's CASE arm)
    keys = [1, 2, 3, 2, 1]
    got = _merge(_shard_samples(spark, keys, 4))
    assert sorted(r.key for r in got) == [1, 2, 3]


def test_query_deterministic_and_state_reused(spark, sf_dir):
    fn = QUERIES["sketch_bottomk_sample_shards"].fn
    r1 = fn(spark, sf_dir).collect()
    state = state_path(sf_dir, "kmv_partkey_shards.parquet")
    assert os.path.exists(os.path.join(state, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(state, "_SUCCESS"))
    r2 = fn(spark, sf_dir).collect()
    assert r1 == r2
    assert os.path.getmtime(os.path.join(state, "_SUCCESS")) == mtime
    row = r1[0]
    assert row.n_rows > 0 and row.sample_size <= _KMV_K
    if row.sample_size == _KMV_K:
        # the estimate is within KMV's typical error envelope on real
        # data (~1/sqrt(K-2) ≈ 13%; generous 3x band — this is a sanity
        # rail; exactness is the oracle's job)
        assert abs(row.est_distinct - row.n_distinct_exact) <= (
            0.4 * row.n_distinct_exact
        )
