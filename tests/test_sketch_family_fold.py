"""Streaming maintenance of the HLL / DDSketch / Misra-Gries family
(streaming_sketch_family_fold): the fold laws behind the registry query,
pinned through the shipped sketches (operators/sketches.py) on
hypothesis-drawn splits the one registry dataset doesn't produce (the
fixed splits kept as examples).

- HLL: fold(fold(s,b1),b2) == sketch(b1∪b2) EXACTLY — the union is a
  register-wise max, so the folded sketch's estimate must equal the
  one-shot estimate bit-for-bit, for any split and any fold order.
- DDSketch: bucket counts fold by integer SUM — the folded histogram is
  row-identical to the one-shot histogram, for any split.
- Misra-Gries: the fold is NOT one-shot-equal (the decrement depends on
  batching), but the PODS-2012 merge guarantee must hold at every
  split: weights never overestimate, every heavy item (cnt > 2n/(K+1))
  survives with weight within 2n/(K+1), and the summary stays <= K rows.
"""

import random
from collections import Counter

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from kiji_scoring_spark.operators.sketches import (
    K,
    dd_build,
    dd_merge,
    hll_build,
    hll_merge,
    mg_build,
    mg_merge,
)


def _fold(build, merge, batches):
    """The registry fold step, merge(prev ∪ build(batch)), over batches."""
    state = None
    for batch in batches:
        bs = build(batch)
        state = bs if state is None else merge(state.unionByName(bs))
    return state


def _cuts(n, splits):
    cuts = [0] + sorted(splits) + [n]
    return list(zip(cuts, cuts[1:]))


def _hll_sketch(spark, keys):
    df = spark.createDataFrame([(int(x),) for x in keys] or [(None,)], "key long")
    return hll_build(df, "key")


def _hll_fold(spark, batches):
    state = _fold(lambda keys: _hll_sketch(spark, keys), hll_merge, batches)
    return state.select(F.hll_sketch_estimate("sk").alias("est")).collect()[0].est


_HLL_RNG = random.Random(7)
_HLL_KEYS = [_HLL_RNG.randrange(0, 3000) for _ in range(9000)]


@pytest.fixture(scope="module")
def hll_one_shot(spark):
    return _hll_fold(spark, [_HLL_KEYS])


@settings(max_examples=8, deadline=None)
@given(splits=st.lists(st.integers(0, len(_HLL_KEYS)), max_size=3))
@example(splits=[3000, 6000])
@example(splits=[5, 8000])
@example(splits=[1, 2, 3])
def test_hll_fold_equals_one_shot(spark, hll_one_shot, splits):
    keys = _HLL_KEYS
    want = hll_one_shot
    batches = [keys[c:d] for c, d in _cuts(len(keys), splits)]
    assert _hll_fold(spark, batches) == want, f"splits {splits}"


def test_hll_fold_is_order_invariant(spark, hll_one_shot):
    keys = _HLL_KEYS
    want = hll_one_shot
    # fold order cannot matter either (register max is commutative)
    b = [keys[:100], keys[100:5000], keys[5000:]]
    assert _hll_fold(spark, list(reversed(b))) == want


def _dd_hist(spark, vals):
    df = spark.createDataFrame([(float(v),) for v in vals] or [(None,)], "v double")
    return dd_build(df.filter(F.col("v").isNotNull() & (F.col("v") > 0)), "v")


def _dd_fold(spark, batches):
    state = _fold(lambda vals: _dd_hist(spark, vals), dd_merge, batches)
    return sorted((r.bkt, r.cnt) for r in state.collect())


_DD_RNG = random.Random(11)
_DD_VALS = [_DD_RNG.uniform(0.01, 5000.0) for _ in range(6000)]


@pytest.fixture(scope="module")
def dd_one_shot(spark):
    return _dd_fold(spark, [_DD_VALS])


@settings(max_examples=8, deadline=None)
@given(splits=st.lists(st.integers(0, len(_DD_VALS)), max_size=3))
@example(splits=[2000, 4000])
@example(splits=[3, 5999])
def test_ddsketch_fold_equals_one_shot(spark, dd_one_shot, splits):
    vals = _DD_VALS
    want = dd_one_shot
    batches = [vals[c:d] for c, d in _cuts(len(vals), splits)]
    assert _dd_fold(spark, batches) == want, f"splits {splits}"


def _mg_batch(spark, items):
    df = spark.createDataFrame([(int(i),) for i in items] or [(None,)], "item long")
    return mg_build(df.filter(F.col("item").isNotNull()))


def _mg_fold(spark, batches):
    state = _fold(lambda items: _mg_batch(spark, items), mg_merge, batches)
    return {r.item: r.weight for r in state.collect()}


def _zipfish_items(rng, n):
    # 7-item heavy head over ~60% of draws, 2000-item tail for the rest
    return [
        rng.randrange(0, 7) if rng.random() < 0.6 else 100 + rng.randrange(0, 2000)
        for _ in range(n)
    ]


_MG_ITEMS = _zipfish_items(random.Random(13), 8000)


@settings(max_examples=8, deadline=None)
@given(splits=st.lists(st.integers(0, len(_MG_ITEMS)), max_size=3))
@example(splits=[4000])
@example(splits=[100, 5000])
@example(splits=[1, 2, 7999])
def test_mg_fold_guarantee_holds_at_every_split(spark, splits):
    items = _MG_ITEMS
    exact = Counter(items)
    n = len(items)
    band = 2.0 * n / (K + 1)
    heavy = {i for i, c in exact.items() if c > band}
    assert heavy, "test corpus must contain heavy items"
    folded = _mg_fold(spark, [items[c:d] for c, d in _cuts(n, splits)])
    assert len(folded) <= K, f"splits {splits}: summary exceeded K"
    assert all(w <= exact[i] for i, w in folded.items()), (
        f"splits {splits}: a weight overestimates"
    )
    missing = heavy - set(folded)
    assert not missing, f"splits {splits}: heavy items lost {missing}"
    assert all(exact[i] - folded[i] <= band for i in heavy), (
        f"splits {splits}: a heavy weight fell outside 2n/(K+1)"
    )


def test_mg_single_batch_fold_is_exact_mg(spark):
    # one batch == the static Misra-Gries summary: weights are the exact
    # counts minus the (K+1)-th count, like the batch shard build
    items = [i % 5 for i in range(1000)]  # 5 distinct < K: no decrement
    folded = _mg_fold(spark, [items])
    assert folded == {i: Counter(items)[i] for i in range(5)}
