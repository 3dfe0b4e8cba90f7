"""Incremental (streaming-fold) KMV maintenance
(streaming_sketch_incremental_merge): the fold new = bottomK(prev ∪
bottomK(batch)) applied batch-by-batch must equal the one-shot bottom-K
over the union of all batches — fold(fold(s,b1),b2) == sketch(b1∪b2),
the PODS-2012 mergeability property the registry query proves under the
driver's exact hash gate. These tests pin the fold algebra, through
the shipped sketch (operators/sketches.py), on splits the one registry
dataset doesn't produce: hypothesis-drawn split points (the fixed
splits kept as examples), skewed batch sizes, duplicate keys recurring
across batches, empty batches, and fold-order permutations.
"""

import hashlib
import random

from hypothesis import example, given, settings, strategies as st

from kiji_scoring_spark.operators.sketches import K, kmv_build, kmv_merge


def _py_bottomk(keys, k=K):
    hashed = sorted((hashlib.md5(str(x).encode()).hexdigest(), x) for x in set(keys))
    return hashed[:k]


def _batch_sketch(spark, keys):
    return kmv_build(spark.createDataFrame([(int(x),) for x in keys], "key long"))


def _fold(spark, batches):
    """The registry query's fold, through the shipped build and merge:
    state starts empty; each batch contributes its own bottom-K; the
    union is cut back to K."""
    state = None
    for keys in batches:
        if not keys:
            # an empty micro-batch folds an empty sketch — state unchanged
            continue
        bs = _batch_sketch(spark, keys)
        state = bs if state is None else kmv_merge(state.unionByName(bs))
    if state is None:
        return []
    return sorted(((r.h, r.key) for r in state.collect()))


_RNG = random.Random(42)
_KEYS = [_RNG.randrange(0, 4000) for _ in range(12000)]  # dupes + spread


@settings(max_examples=10, deadline=None)
@given(splits=st.lists(st.integers(0, len(_KEYS)), max_size=3))
# fixed split shapes, including a tiny first batch
@example(splits=[4000, 8000])
@example(splits=[10, 11000])
@example(splits=[1, 2, 3])
def test_fold_equals_one_shot_random_splits(spark, splits):
    keys = _KEYS
    want = _py_bottomk(keys)
    cuts = [0] + sorted(splits) + [len(keys)]
    batches = [keys[cuts[i] : cuts[i + 1]] for i in range(len(cuts) - 1)]
    assert _fold(spark, batches) == want, f"splits {splits}"


def test_fold_is_order_invariant(spark):
    keys = list(range(1, 2500))
    batches = [keys[:500], keys[500:600], keys[600:]]
    want = _fold(spark, batches)
    assert _fold(spark, list(reversed(batches))) == want
    assert _fold(spark, [batches[1], batches[2], batches[0]]) == want


def test_fold_absorbs_duplicates_across_batches(spark):
    # the same keys re-sent in a later batch must not change the sample
    keys = [x * 31 % 1000 for x in range(5000)]
    base = _fold(spark, [keys[:2500], keys[2500:]])
    resent = _fold(spark, [keys[:2500], keys[2500:], keys[:500]])
    assert resent == base


def test_fold_with_empty_batches(spark):
    keys = list(range(100, 400))
    want = _py_bottomk(keys)
    assert _fold(spark, [[], keys[:150], [], keys[150:], []]) == want
    assert _fold(spark, [[], [], []]) == []


def test_fold_under_k_holds_every_distinct_key(spark):
    # under K distinct the state IS the exact distinct set — the
    # registry query's exact-count arm (sample_size < K ⇒ est == exact)
    keys = [1, 2, 3, 2, 1, 5, 8, 13, 8]
    got = _fold(spark, [keys[:4], keys[4:]])
    assert len(got) == len(set(keys))
    assert sorted(k for _, k in got) == sorted(set(keys))
