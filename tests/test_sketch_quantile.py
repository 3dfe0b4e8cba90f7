"""DDSketch-style mergeable quantile shards (sketch_quantile_shard_merge):
determinism, merge associativity, and the relative-error guarantee the
contract oracle's `*_ok` flags rely on. The driver's hash gate pins the
exact side; these tests pin the sketch side the oracle cannot state.
"""

import math

import pytest

from kiji_scoring_spark.operators.sketches import ALPHA as _DDSKETCH_ALPHA
from kiji_scoring_spark.operators.sketches import GAMMA as _DDSKETCH_GAMMA
from kiji_scoring_spark.operators.sketches import dd_build, dd_merge
from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.state import state_path


def _bucket_counts(spark, values, shard_of=None):
    """(shard, bkt, cnt) rows from the shipped build."""
    rows = [(shard_of(v) if shard_of else "s", float(v)) for v in values]
    return dd_build(spark.createDataFrame(rows, "shard string, v double"), "v")


def test_estimate_within_alpha_on_known_distribution(spark):
    # uniform 1..5000: every decile's sketch answer must sit within the
    # DDSketch guarantee of the true rank element
    values = list(range(1, 5001))
    sk = dd_merge(_bucket_counts(spark, values))
    hist = sorted((r.bkt, r.cnt) for r in sk.collect())
    n = sum(c for _, c in hist)
    assert n == len(values)
    g = _DDSKETCH_GAMMA
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        rank = math.ceil(q * n)
        exact = sorted(values)[rank - 1]
        cum = 0
        for b, c in hist:
            cum += c
            if cum >= rank:
                est = (g**b) * 2.0 / (g + 1.0)
                break
        assert abs(est - exact) <= 2.5 * _DDSKETCH_ALPHA * exact, (q, est, exact)


def test_merge_is_shard_invariant(spark):
    # the merged histogram must not depend on HOW the data was sharded:
    # per-mod-7 shards and one global shard reduce to identical buckets
    values = [v * 1.37 + 3.0 for v in range(1, 4001)]
    a = dd_merge(
        _bucket_counts(spark, values, shard_of=lambda v: f"s{int(v) % 7}")
    )
    b = dd_merge(_bucket_counts(spark, values))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_query_deterministic_and_state_reused(spark, sf_dir):
    import os

    fn = QUERIES["sketch_quantile_shard_merge"].fn
    r1 = fn(spark, sf_dir).collect()
    state = state_path(sf_dir, "ddsketch_totalprice_shards.parquet")
    assert os.path.exists(os.path.join(state, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(state, "_SUCCESS"))
    r2 = fn(spark, sf_dir).collect()
    # second run answered from the persisted shards (no rebuild) and is
    # bit-identical — the sketch walk has no nondeterminism to hide
    assert os.path.getmtime(os.path.join(state, "_SUCCESS")) == mtime
    assert r1 == r2
    row = r1[0]
    assert row.p50_ok and row.p90_ok and row.p99_ok
    assert row.n_shards == 5


def test_bucket_representative_error_bound_algebra():
    # the pure math the guarantee stands on: any v in bucket
    # b = ceil(log_g v) satisfies |rep(b) - v| <= alpha * v
    g = _DDSKETCH_GAMMA
    for v in (1.0, 1013.7, 4999.99, 123456.78, 1e12):
        b = math.ceil(math.log(v) / math.log(g))
        rep = (g**b) * 2.0 / (g + 1.0)
        assert abs(rep - v) <= _DDSKETCH_ALPHA * v * (1 + 1e-12), v
