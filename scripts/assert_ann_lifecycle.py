#!/usr/bin/env python
"""Assert the snapshot-versioned ANN lifecycle at MASS (round 14).

The r14 additions — ann_index_time_travel_probe, ann_index_delete_rewrite,
the snapshot-committed streaming_ann_index_ingest, and the
embedding-drift freshness pass — carry full DuckDB oracles through
sf0.1 and regime dirs; at sf100 (2 M vectors) the oracle's one-shot
encode replay is infeasible for the same cross-join-cost reason as the
plain PQ oracle (probed r12), so this script carries the tier's
ENGINE-side evidence (the assert_ivfpq.py pattern):

  1. TIME TRAVEL: the probe returns both blocks; every as-of-v2
     neighbor is from ingest tranches 0/1 (pmod(vec_id,3) < 2) — the
     version boundary is real at 2 M vectors;
  2. COMPACTION IS REAL: data_file_count(v4) is a fraction of v3's
     (the three tranche commits' accumulated small files collapse to
     ~one per cell) while the latest block still ranks by
     (adc_dist, neighbor_id);
  3. DELETES: the post-delete top-10 contains NONE of the pre-delete
     top-3 (the kill list), and the survivors' ranks re-pack 1..10;
  4. DRIFT POLICY: over the full corpus, exactly the pmod(vec_id,5)=0
     entities were rescored (score_ts = freshen clock) and every
     rescored drift exceeds tau while every kept entity's seed cell is
     intact — the semantic-staleness split holds at 2 M entities.

    SPARK_GRAFT_DRIVER_MEM=24g python scripts/assert_ann_lifecycle.py /tmp/sf100

Prints one JSON line; exit 0 iff all assertions hold.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from kiji_scoring_spark.queries import QUERIES  # noqa: E402
from kiji_scoring_spark.queries_kiji import AS_OF_MS, DRIFT_TAU  # noqa: E402
from kiji_scoring_spark.session import get_spark  # noqa: E402
from kiji_scoring_spark.sources import load_table  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    spark = get_spark(app_name="ann-lifecycle-mass-assert")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf_dir": sf_dir}
    t0 = time.perf_counter()

    # -- 1+2: time travel + compaction ---------------------------------
    tt = QUERIES["ann_index_time_travel_probe"].fn(spark, sf_dir).collect()
    out["tt_rows"] = len(tt)
    v2 = [r for r in tt if r.probe_version == "v2"]
    latest = [r for r in tt if r.probe_version == "latest"]
    assert v2 and latest, "both version blocks must be non-empty"
    assert all(r.neighbor_id % 3 < 2 for r in v2), (
        "an as-of-v2 neighbor came from tranche 2 — time travel leaked"
    )
    assert [r.rn for r in latest] == list(range(1, len(latest) + 1))
    assert all(
        latest[i].adc_dist <= latest[i + 1].adc_dist
        for i in range(len(latest) - 1)
    ), "latest block not ADC-ordered"

    from kiji_scoring_spark.operators.snapshots import data_file_count
    from kiji_scoring_spark.state import state_path

    snap = state_path(sf_dir, "ivfpq_codes_snap")
    files_v3 = data_file_count(snap, 3)
    files_v4 = data_file_count(snap, 4)
    out["files_pre_compact"] = files_v3
    out["files_post_compact"] = files_v4
    assert files_v4 < files_v3, "compaction did not reduce the file count"

    # -- 3: deletes -----------------------------------------------------
    dl = QUERIES["ann_index_delete_rewrite"].fn(spark, sf_dir).collect()
    out["delete_rows"] = len(dl)
    pre = [r for r in dl if r.phase == "pre"]
    post = [r for r in dl if r.phase == "post"]
    kills = {r.neighbor_id for r in pre if r.rn <= 3}
    out["n_killed"] = len(kills)
    assert kills, "mass corpus must yield a kill list"
    assert not kills & {r.neighbor_id for r in post}, (
        "a deleted id survived in the post-delete top-10"
    )
    assert [r.rn for r in post] == list(range(1, len(post) + 1))
    assert all(bool(r.deleted_absent) for r in dl)

    # -- 4: drift policy over the full corpus ---------------------------
    drift = QUERIES["fresh_embedding_drift_rescoring"].fn(spark, sf_dir)
    agg = drift.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("score_ts") == AS_OF_MS).cast("long")).alias("n_rescored"),
        F.sum(
            (F.pmod(F.col("vec_id"), F.lit(5)) == 0).cast("long")
        ).alias("n_should_drift"),
        F.sum(
            (
                (F.col("score_ts") == AS_OF_MS)
                != (F.pmod(F.col("vec_id"), F.lit(5)) == 0)
            ).cast("long")
        ).alias("n_mismatched"),
        F.min(
            F.when(F.col("score_ts") == AS_OF_MS, F.col("score"))
        ).alias("min_rescored_drift"),
        F.max(
            F.when(F.col("score_ts") != AS_OF_MS, F.col("score"))
        ).alias("kept_seed"),
    ).collect()[0]
    corpus = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("embedding").isNotNull()
            & (F.size("embedding") == 64)
        )
        .count()
    )
    out["drift_entities"] = agg.n
    out["drift_rescored"] = agg.n_rescored
    assert agg.n == corpus, "the freshen pass must cover every entity"
    assert agg.n_mismatched == 0, (
        f"{agg.n_mismatched} entities on the wrong side of the drift split"
    )
    assert agg.min_rescored_drift is not None and agg.min_rescored_drift > DRIFT_TAU
    assert agg.kept_seed == -1.0, "a kept entity lost its seed cell"

    # -- 5: cell rebalance at mass (r15) --------------------------------
    # same oracle-cost class as the probes above (the one-shot assignment
    # replay is a 2.5 M x 32 cross join at this tier), so the full DuckDB
    # oracle runs through sf10 and THIS carries the sf100 evidence: the
    # skewed ingest flags at least one hot list, the mass-directed split
    # clears every flag, no row is lost, and the replaced cells are gone
    # from the live version while the pre-rebalance state stays readable.
    rb = QUERIES["ann_ivf_cell_rebalance_stats"].fn(spark, sf_dir).collect()
    out["rebalance_rows"] = len(rb)
    rb_pre = [r for r in rb if r.phase == "pre"]
    rb_post = [r for r in rb if r.phase == "post"]
    hot_cells = {r.cell for r in rb_pre if r.is_hot}
    out["rebalance_hot_cells"] = len(hot_cells)
    out["rebalance_post_cells"] = len(rb_post)
    assert hot_cells, "the skew tranche must flag at least one hot list"
    assert not any(r.is_hot for r in rb_post), (
        "a list still exceeds the hot trigger after the rebalance"
    )
    assert sum(r.n_rows for r in rb_pre) == sum(r.n_rows for r in rb_post), (
        "the rebalance lost or duplicated rows"
    )
    assert not hot_cells & {r.cell for r in rb_post}, (
        "a replaced hot cell survived in the live version"
    )

    out["elapsed_s"] = round(time.perf_counter() - t0, 1)
    out["ok"] = True
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
