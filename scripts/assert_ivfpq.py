#!/usr/bin/env python
"""Assert the IVF-PQ path at MASS (round 13).

similarity_ivfpq_pruned_adc_topk's full DuckDB oracle is feasible
through sf10 (200 K vectors, green in sf10-batch3); at sf100 the
ORACLE's encode replay has the same disk-exceeding cross-join cost as
the plain PQ oracle (probed r12 — an oracle-cost property, not a plan
defect). This script carries the tier's ENGINE-side evidence instead:
it runs the registry query itself at 2 M vectors (index build
partitioned by cell + DPP-pruned codes-only ADC top-10), plus two
engine-side references, and asserts:

  1. the IVF-PQ top-10 exists (10 rows), ordered by
     (adc_dist, neighbor_id), and every winner's cell is one of the
     probe's 2 nearest cells (routing correctness);
  2. the PRUNING IS REAL: the executed plan carries a dynamicpruning
     subquery on the codes scan, and the two probed cells hold only a
     fraction of the corpus (their combined inverted-list size is
     printed; with <=32 uniform cells it should be well under 25%);
  3. recall@10 of IVF-PQ against the exact quantized top-10 >= 0.5 on
     the replicated corpus (true neighbors are exact duplicates, which
     land in the SAME cell — cell assignment is a deterministic
     function of the vector — so IVF routing cannot lose them);
  4. every winner's reported exact_dist matches the engine-side exact
     distance (the join-back column is the real distance).

    SPARK_GRAFT_DRIVER_MEM=24g python scripts/assert_ivfpq.py /tmp/sf100

Prints one JSON line; exit 0 iff all assertions hold.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from kiji_scoring_spark.queries import QUERIES  # noqa: E402
from kiji_scoring_spark.operators.pq import (  # noqa: E402
    EMBED_DIM as _EMBED_DIM,
    NCELLS as _IVFPQ_NCELLS,
)
from kiji_scoring_spark.session import get_spark  # noqa: E402
from kiji_scoring_spark.sources import load_table  # noqa: E402

RECALL_FLOOR = 0.5


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    spark = get_spark(app_name="ivfpq-mass-assert")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMBED_DIM)
    )
    n_vectors = e.count()

    # the registry query itself: partitioned index build (first run) +
    # DPP-pruned codes-only ADC
    df = QUERIES["similarity_ivfpq_pruned_adc_topk"].fn(spark, sf_dir)
    winners = df.collect()
    t_adc = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "codes scan lost its partition pruning"
    assert len(winners) == 10, f"expected 10 winners, got {len(winners)}"
    order = [(r.adc_dist, r.neighbor_id) for r in winners]
    assert order == sorted(order), "winners not ordered by (dist, id)"

    # engine-side references: same quantization / probe / seeds as the query
    q = e.select(
        "vec_id",
        *[
            F.round(F.col("embedding")[i].cast("double") * 100)
            .cast("long")
            .alias(f"q{i}")
            for i in range(_EMBED_DIM)
        ],
    )
    is_cb = (F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 496)
    probe = (
        q.filter(~is_cb)
        .orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("probe_id"),
            *[F.col(f"q{i}").alias(f"pq{i}") for i in range(_EMBED_DIM)],
        )
    ).localCheckpoint(eager=False)
    seeds = (
        q.withColumn("sh", F.md5(F.col("vec_id").cast("string")))
        .orderBy("sh", "vec_id")
        .limit(_IVFPQ_NCELLS)
        .select(
            F.col("vec_id").alias("seed_id"),
            *[F.col(f"q{i}").alias(f"sq{i}") for i in range(_EMBED_DIM)],
        )
    )

    def dist(l_tpl: str, r_tpl: str):
        return functools.reduce(
            operator.add,
            [
                (F.col(l_tpl.format(i)) - F.col(r_tpl.format(i)))
                * (F.col(l_tpl.format(i)) - F.col(r_tpl.format(i)))
                for i in range(_EMBED_DIM)
            ],
        )

    pcells = {
        r.cell
        for r in seeds.crossJoin(F.broadcast(probe))
        .select(F.col("seed_id").alias("cell"), dist("sq{}", "pq{}").alias("sd"))
        .orderBy("sd", "cell")
        .limit(2)
        .collect()
    }
    assert all(r.cell in pcells for r in winners), (
        "a winner came from an unprobed cell"
    )

    # pruning mass: how much of the corpus do the 2 probed lists hold?
    from kiji_scoring_spark.state import state_path

    codes_path = state_path(sf_dir, "ivfpq_codes_embeddings.parquet")
    codes = spark.read.parquet(codes_path)
    probed_rows = codes.filter(F.col("cell").isin(list(pcells))).count()
    probed_frac = probed_rows / max(n_vectors, 1)

    exact_top = (
        q.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("vec_id", dist("q{}", "pq{}").alias("exact_dist"))
        .orderBy("exact_dist", "vec_id")
        .limit(10)
        .collect()
    )
    exact_ids = {r.vec_id for r in exact_top}
    exact_dist_all = dict(
        q.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id").isin([r.neighbor_id for r in winners]))
        .select("vec_id", dist("q{}", "pq{}").alias("d"))
        .collect()
    )
    recall = len({r.neighbor_id for r in winners} & exact_ids) / 10.0
    exact_col_ok = all(
        r.exact_dist == exact_dist_all[r.neighbor_id] for r in winners
    )
    elapsed = time.perf_counter() - t0

    line = {
        "sf_dir": sf_dir,
        "n_vectors": n_vectors,
        "probed_cells": sorted(pcells),
        "probed_fraction_of_corpus": round(probed_frac, 4),
        "recall_at_10": recall,
        "recall_floor": RECALL_FLOOR,
        "exact_dist_column_matches_reference": exact_col_ok,
        "dpp_in_plan": True,
        "ivfpq_query_sec": round(t_adc, 1),
        "total_sec": round(elapsed, 1),
        "winners": [
            {"id": r.neighbor_id, "cell": r.cell, "adc": r.adc_dist, "exact": r.exact_dist}
            for r in winners[:3]
        ],
    }
    print(json.dumps(line))
    ok = recall >= RECALL_FLOOR and exact_col_ok and probed_frac < 0.25
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
