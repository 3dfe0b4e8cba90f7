#!/usr/bin/env python
"""Assert the PQ ADC path at MASS (round 12).

similarity_pq_adc_topk's full DuckDB oracle is feasible through sf10
(200 K vectors, green in sf10-batch3); at sf100 the ORACLE's encode
replay is a 2 M x 16 x 8 cross join whose spill exceeds the rig's disk
(probed r12 — an oracle-cost property, not a plan defect, the same
class as batch6's absent pair-materializing minhash queries). This
script carries the tier's ENGINE-side evidence instead: it runs the
registry query itself at 2 M vectors (index build + codes-only ADC
top-10), plus an exact quantized-distance brute-force reference
computed IN SPARK (one narrow codegen pass + TakeOrdered — never
all-pairs), and asserts:

  1. the ADC top-10 exists (10 rows) and is ordered by
     (adc_dist, neighbor_id);
  2. recall@10 of ADC against the exact quantized top-10 >= 0.5 — the
     quality bar a 16-entry-per-subspace codebook should clear easily
     on a replicated corpus where true neighbors are exact duplicates;
  3. every winner's reported exact_dist matches the reference's exact
     distance (the join-back column is the real distance, not a
     decoration).

    SPARK_GRAFT_DRIVER_MEM=24g python scripts/assert_pq_adc.py /tmp/sf100

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
from kiji_scoring_spark.operators.pq import EMBED_DIM as _EMBED_DIM  # noqa: E402
from kiji_scoring_spark.session import get_spark  # noqa: E402
from kiji_scoring_spark.sources import load_table  # noqa: E402

RECALL_FLOOR = 0.5


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    spark = get_spark(app_name="pq-adc-mass-assert")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == _EMBED_DIM)
    )
    n_vectors = e.count()

    # the registry query itself: index build (first run) + codes-only ADC
    adc = QUERIES["similarity_pq_adc_topk"].fn(spark, sf_dir).collect()
    t_adc = time.perf_counter() - t0
    assert len(adc) == 10, f"expected 10 winners, got {len(adc)}"
    order = [(r.adc_dist, r.neighbor_id) for r in adc]
    assert order == sorted(order), "ADC winners not ordered by (dist, id)"

    # exact quantized reference, engine-side: same quantization and probe
    # selection as the query, one narrow pass + TakeOrdered(10)
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
    )
    exact_expr = functools.reduce(
        operator.add,
        [
            (F.col(f"q{i}") - F.col(f"pq{i}")) * (F.col(f"q{i}") - F.col(f"pq{i}"))
            for i in range(_EMBED_DIM)
        ],
    )
    exact_top = (
        q.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("vec_id", exact_expr.alias("exact_dist"))
        .orderBy("exact_dist", "vec_id")
        .limit(10)
        .collect()
    )
    exact_ids = {r.vec_id for r in exact_top}
    exact_dist_all = dict(
        q.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id").isin([r.neighbor_id for r in adc]))
        .select("vec_id", exact_expr.alias("d"))
        .collect()
    )

    recall = len({r.neighbor_id for r in adc} & exact_ids) / 10.0
    exact_col_ok = all(r.exact_dist == exact_dist_all[r.neighbor_id] for r in adc)
    elapsed = time.perf_counter() - t0

    line = {
        "sf_dir": sf_dir,
        "n_vectors": n_vectors,
        "recall_at_10": recall,
        "recall_floor": RECALL_FLOOR,
        "exact_dist_column_matches_reference": exact_col_ok,
        "adc_query_sec": round(t_adc, 1),
        "total_sec": round(elapsed, 1),
        "winners": [
            {"id": r.neighbor_id, "adc": r.adc_dist, "exact": r.exact_dist}
            for r in adc[:3]
        ],
    }
    print(json.dumps(line))
    ok = recall >= RECALL_FLOOR and exact_col_ok
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
