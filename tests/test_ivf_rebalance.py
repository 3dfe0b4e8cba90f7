"""IVF cell-health gate (r14 verdict #6): a skewed ingest bloats one
inverted list past the hot threshold; _ivf_rebalance_hot_cells splits it
as a copy-on-write partition rewrite; a probe ROUTED INTO the hot region
gets its probed fraction restored without losing any true neighbor."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import kiji_scoring_spark.queries  # noqa: F401 — loads the registry chain first
from kiji_scoring_spark.operators.pq import (
    CODES_SCHEMA as _IVFPQ_CODES_SCHEMA,
    EMBED_DIM as _EMBED_DIM,
    cell_seeds as _ivfpq_seeds,
    codebook as _ivfpq_cb,
    corpus as _ivfpq_quantize,
    encode as _ivfpq_encode,
    sqdist as _ivfpq_fulldist,
)
from kiji_scoring_spark.operators.snapshots import (
    commit_snapshot,
    latest_version,
    read_snapshot,
)
from kiji_scoring_spark.queries_pipeline import (
    _IVF_CLONE_OFFSET,
    _ivf_cell_stats,
    _ivf_rebalance_hot_cells,
)
from kiji_scoring_spark.sources import load_table


def _route_two_cells(probe_row, seeds_df):
    """The probe's 2 nearest cells by exact BIGINT distance (tie: smaller
    seed id) against an arbitrary seed set — the routing the query phase
    performs, test-local so it can run against the UPDATED seed set."""
    d = _ivfpq_fulldist("sq{}", "pq{}")
    return [
        int(r.cell)
        for r in seeds_df.crossJoin(F.broadcast(probe_row))
        .select(F.col("seed_id").alias("cell"), d.alias("sd"))
        .orderBy("sd", "cell")
        .limit(2)
        .collect()
    ]


def test_skewed_ingest_rebalance_restores_probe(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMBED_DIM)
    )
    q = _ivfpq_quantize(e)
    cb = _ivfpq_cb(q)
    seeds = _ivfpq_seeds(q)
    seed0 = (
        seeds.withColumn("__sh", F.md5(F.col("seed_id").cast("string")))
        .orderBy("__sh", "seed_id")
        .limit(1)
        .drop("__sh")
    )
    clone_q = (
        q.filter(F.pmod(F.col("vec_id"), F.lit(4)) == 1)
        .select("vec_id")
        .crossJoin(F.broadcast(seed0))
        .selectExpr(
            f"vec_id + {_IVF_CLONE_OFFSET}L AS vec_id",
            "sq0 + pmod(vec_id, 5) AS q0",
            *[f"sq{i} AS q{i}" for i in range(1, _EMBED_DIM)],
        )
    )
    allv = q.unionByName(clone_q).localCheckpoint(eager=False)

    base = tempfile.mkdtemp(prefix="kss_ivf_rebal_")
    path = f"{base}/codes"
    try:
        enc = _ivfpq_encode(allv, cb, seeds).localCheckpoint(eager=False)
        commit_snapshot(
            enc.filter(F.col("vec_id") < _IVF_CLONE_OFFSET),
            path,
            mode="append",
            partition_by=["cell"],
        )
        commit_snapshot(
            enc.filter(F.col("vec_id") >= _IVF_CLONE_OFFSET),
            path,
            mode="append",
            partition_by=["cell"],
        )

        codes_pre = read_snapshot(spark, path, schema=_IVFPQ_CODES_SCHEMA)
        stats_pre = {
            int(r.cell): (int(r.n_rows), bool(r.is_hot))
            for r in _ivf_cell_stats(codes_pre).collect()
        }
        hot_pre = {c for c, (_, h) in stats_pre.items() if h}
        assert hot_pre, "the skew tranche must bloat at least one list"

        # the probe is a CLONE — routed straight into the hot region,
        # the worst case the rebalance exists for
        probe = (
            clone_q.orderBy("vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("probe_id"),
                *[F.col(f"q{i}").alias(f"pq{i}") for i in range(_EMBED_DIM)],
            )
            .localCheckpoint(eager=False)
        )
        total = codes_pre.count()
        pcells_pre = _route_two_cells(probe, seeds)
        assert set(pcells_pre) & hot_pre, "clone probe must route to a hot cell"
        probed_pre = codes_pre.filter(F.col("cell").isin(pcells_pre)).count()

        # exact top-10 neighbors (full BIGINT distance, tie: vec_id)
        dist = _ivfpq_fulldist("q{}", "pq{}")
        exact_top = {
            int(r.vec_id)
            for r in allv.crossJoin(F.broadcast(probe))
            .filter(F.col("vec_id") != F.col("probe_id"))
            .select("vec_id", dist.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        }
        cand_pre = {
            int(r.vec_id)
            for r in codes_pre.filter(F.col("cell").isin(pcells_pre))
            .select("vec_id")
            .collect()
        }
        recall_pre = len(exact_top & cand_pre) / len(exact_top)

        # --- the maintenance pass under test ---
        replaced = _ivf_rebalance_hot_cells(spark, path, allv, seeds)
        assert sorted(replaced) == sorted(hot_pre)
        assert latest_version(path) == 3

        codes_post = read_snapshot(spark, path, schema=_IVFPQ_CODES_SCHEMA)
        stats_post = {
            int(r.cell): (int(r.n_rows), bool(r.is_hot))
            for r in _ivf_cell_stats(codes_post).collect()
        }
        # no list exceeds 2x median anymore, no rows were lost, and the
        # replaced cells are gone from the live version
        assert not any(h for _, h in stats_post.values())
        assert sum(n for n, _ in stats_post.values()) == total
        assert not (set(stats_post) & hot_pre)

        # the caller-side routing update: (seeds - hot) + sub-seed vectors
        new_cells = sorted(set(stats_post) - set(stats_pre))
        assert new_cells, "the split must introduce new cells"
        sub_vec = allv.filter(F.col("vec_id").isin(new_cells)).select(
            F.col("vec_id").alias("seed_id"),
            *[F.col(f"q{i}").alias(f"sq{i}") for i in range(_EMBED_DIM)],
        )
        seeds_post = seeds.filter(~F.col("seed_id").isin(replaced)).unionByName(
            sub_vec
        )

        pcells_post = _route_two_cells(probe, seeds_post)
        probed_post = codes_post.filter(F.col("cell").isin(pcells_post)).count()
        cand_post = {
            int(r.vec_id)
            for r in codes_post.filter(F.col("cell").isin(pcells_post))
            .select("vec_id")
            .collect()
        }
        recall_post = len(exact_top & cand_post) / len(exact_top)

        # the probe's cost is RESTORED: a real fraction of the bloated
        # list is no longer read...
        assert probed_post < probed_pre, (probed_post, probed_pre)
        assert probed_post / total < 0.75 * probed_pre / total
        # ...and no true neighbor was lost to the split
        assert recall_post >= recall_pre
        assert recall_post == 1.0

        # time travel: the pre-rebalance skewed state is still readable
        assert (
            read_snapshot(spark, path, 2, schema=_IVFPQ_CODES_SCHEMA).count()
            == total
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_rebalance_member_scan_prunes_to_hot_cells(spark, sf_dir):
    """Plan gate: the rebalance's member read must reach the codes scan
    as PARTITION pruning — "rewrite the hot lists" == "read the hot
    directories", never scan-and-drop over the whole index. Uses the
    registry query's persisted lineage (v2 = the skewed state the
    rebalance read)."""
    from kiji_scoring_spark.queries import QUERIES
    from kiji_scoring_spark.state import state_path
    from kiji_scoring_spark.queries_pipeline import _ivf_cell_stats

    # ensure the lineage exists (idempotent: the version guard re-serves)
    QUERIES["ann_ivf_cell_rebalance_stats"].fn(spark, sf_dir).count()
    path = state_path(sf_dir, "ivfpq_codes_rebalance")
    codes = read_snapshot(spark, path, 2, schema=_IVFPQ_CODES_SCHEMA)
    hot = [
        int(r.cell)
        for r in _ivf_cell_stats(codes).filter("is_hot").select("cell").collect()
    ]
    assert hot
    members = codes.filter(F.col("cell").isin(hot))
    plan = members._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, "no parquet scan in the member-read plan"
    import re

    for ln in scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", ln)
        assert m and "cell#" in m.group(1), (
            "a codes scan reads without a cell partition filter — the "
            "member read would open every inverted list's files"
        )
