"""Misra-Gries mergeable frequent-items shards (sketch_topk_shard_merge):
the error guarantee, shard-invariance of the CONTRACT (summaries may
differ across shardings; the guarantee may not), determinism, and state
reuse. The driver's hash gate pins the exact side; these tests pin the
sketch side the oracle cannot state.
"""

import os

from kiji_scoring_spark.operators.sketches import K, mg_build, mg_merge
from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.state import state_path


def _py_mg_summary(counts: dict, k: int) -> dict:
    """Python reference of the static Misra-Gries prune: subtract the
    (k+1)-th largest count from every count, keep the positive ones."""
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    ck1 = ordered[k][1] if len(ordered) > k else 0
    return {i: c - ck1 for i, c in ordered[:k] if c - ck1 > 0}


def _zipfish_items(n: int) -> list:
    """Deterministic heavy-tailed item stream: item j gets ~n/(j+2)
    occurrences — a handful of true heavy hitters over a long tail."""
    items = []
    j = 0
    while len(items) < n:
        c = max(1, n // (j + 2) // 4)
        items.extend([j] * min(c, n - len(items)))
        j += 1
    return items


def _exact_counts(items: list) -> dict:
    out: dict = {}
    for i in items:
        out[i] = out.get(i, 0) + 1
    return out


def _assert_contract(exact: dict, summary: dict, n: int, k: int) -> None:
    band = 2.0 * n / (k + 1)
    for item, est in summary.items():
        assert est <= exact[item], (item, est, exact[item])
    for item, cnt in exact.items():
        if cnt > band:
            assert item in summary, (item, cnt, band)
            assert cnt - summary[item] <= band, (item, cnt, summary[item])
    assert len(summary) <= k


def test_mg_guarantee_on_known_distribution():
    # pure-python round-trip of the static construction: shard, build,
    # merge by summing, re-prune — every guarantee the query's contract
    # flags assert must hold by algebra alone
    items = _zipfish_items(20000)
    exact = _exact_counts(items)
    n = len(items)
    for k in (8, 16, 64):
        shards: dict = {}
        for idx, it in enumerate(items):
            shards.setdefault(idx % 6, []).append(it)
        merged: dict = {}
        for sh_items in shards.values():
            for it, w in _py_mg_summary(_exact_counts(sh_items), k).items():
                merged[it] = merged.get(it, 0) + w
        final = _py_mg_summary(merged, k)
        _assert_contract(exact, final, n, k)


def _shipped_mg(df):
    """Per-shard summaries from an (item, shard) DataFrame, merged — the
    shipped build and merge; returns {item: weight}."""
    return {r.item: r.weight for r in mg_merge(mg_build(df)).collect()}


def test_contract_is_shard_invariant(spark):
    # different shardings produce different summaries (MG is order/
    # partition sensitive by nature) but the SAME guarantee: both keep
    # every heavy item within the band, and agree on the heavy set
    items = _zipfish_items(8000)
    exact = _exact_counts(items)
    n = len(items)
    k = K
    band = 2.0 * n / (k + 1)
    heavy = {i for i, c in exact.items() if c > band}
    assert heavy  # the fixture must actually exercise the heavy path
    summaries = []
    for mod in (4, 9):
        df = spark.createDataFrame(
            [(int(it), int(idx % mod)) for idx, it in enumerate(items)],
            "item long, shard long",
        )
        s = _shipped_mg(df)
        _assert_contract(exact, s, n, k)
        summaries.append(s)
    for s in summaries:
        assert heavy <= set(s)


def test_query_deterministic_and_state_reused(spark, sf_dir):
    fn = QUERIES["sketch_topk_shard_merge"].fn
    r1 = fn(spark, sf_dir).collect()
    state = state_path(sf_dir, "mg_topk_lineitem_shards.parquet")
    assert os.path.exists(os.path.join(state, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(state, "_SUCCESS"))
    r2 = fn(spark, sf_dir).collect()
    # second run answered from the persisted shards (no rebuild) and is
    # bit-identical — the merge walk has no nondeterminism to hide
    assert r1 == r2
    assert os.path.getmtime(os.path.join(state, "_SUCCESS")) == mtime
    row = r1[0]
    assert row.n_rows > 0 and row.n_shards >= 1
    # the derived Zipf map guarantees true heavy hitters at every sf
    assert row.n_heavy >= 1
    assert row.no_overestimate and row.recovered_all_heavy
    assert row.heavy_within_band and row.summary_within_k
