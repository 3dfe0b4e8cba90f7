"""Measure the streaming replays' FIXED (scheduler) vs DATA cost.

The 7 ``streaming_*`` headline queries are real StreamingQueries replayed
from mtime-ordered parquet micro-batches (``maxFilesPerTrigger=1`` +
``trigger(availableNow=True)``). Their bench wall-clock (~13 s = ~24% of
the sf0.1 headline total) is claimed to be micro-batch scheduler
machinery, invariant to data volume — this script turns that claim into
a number by timing each replay at TWO scale factors and solving the
two-point linear model::

    t(sf) = F + c * D(sf)        with D(sf1) = 10 * D(sf0.1)
    F               = (10 * t01 - t1) / 9     (fixed: trigger/batch
                                               scheduler + state-store
                                               setup + memory-sink commit)
    data@sf0.1      = (t1 - t01) / 9          (the data-proportional part)

A replay whose cost is flat in data shows F ≈ t01 and data@sf0.1 ≈ 0;
a replay that secretly scales with input shows the opposite. Timing
follows bench.py's protocol exactly: warm once, median of 3, count() to
force execution. As of r11 replay-file materialization is amortized to
session lifetime (streaming.replay._REPLAY_BUILT), matching bench.py's
protocol: the warm run pays the one-time write, the timed medians
measure pure replay machinery — exactly what the bench medians see.

Usage::

    SPARK_GRAFT_CPUS=32 python scripts/measure_replay_overhead.py \
        [sf01_dir] [sf1_dir]    # defaults /root/testdata/sf0.1 /tmp/sf1

Prints a REGIMES.md-ready markdown table plus one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiji_scoring_spark.queries import QUERIES  # noqa: E402
from kiji_scoring_spark.session import get_spark  # noqa: E402

REPLAYS = [n for n in QUERIES if n.startswith("streaming_")]


def _timed(spark, name: str, sf_dir: str) -> float:
    QUERIES[name].fn(spark, sf_dir).count()  # warm codegen/scan cache
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        QUERIES[name].fn(spark, sf_dir).count()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def main() -> None:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    spark = get_spark(
        app_name="kss-replay-overhead",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in REPLAYS:
        t01 = _timed(spark, name, sf01)
        t1 = _timed(spark, name, sf1)
        fixed = (10 * t01 - t1) / 9
        data01 = (t1 - t01) / 9
        rows.append(
            {
                "query": name,
                "t_sf0.1_sec": round(t01, 3),
                "t_sf1_sec": round(t1, 3),
                "fixed_sec": round(fixed, 3),
                "data_at_sf0.1_sec": round(data01, 3),
                "fixed_pct_of_sf0.1": round(100 * fixed / t01, 1) if t01 else 0.0,
            }
        )
        print(f"# done {name}: sf0.1={t01:.3f}s sf1={t1:.3f}s", file=sys.stderr)

    print("| replay | t @sf0.1 | t @sf1 (10x data) | fixed F | data part @sf0.1 | fixed % |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| `{r['query']}` | {r['t_sf0.1_sec']:.2f} s | {r['t_sf1_sec']:.2f} s "
            f"| {r['fixed_sec']:.2f} s | {r['data_at_sf0.1_sec']:.2f} s "
            f"| {r['fixed_pct_of_sf0.1']:.0f}% |"
        )
    tot01 = sum(r["t_sf0.1_sec"] for r in rows)
    totf = sum(r["fixed_sec"] for r in rows)
    print(
        f"| **total** | **{tot01:.2f} s** | "
        f"**{sum(r['t_sf1_sec'] for r in rows):.2f} s** | **{totf:.2f} s** | "
        f"**{sum(r['data_at_sf0.1_sec'] for r in rows):.2f} s** | "
        f"**{100 * totf / tot01:.0f}%** |"
    )
    print(json.dumps({"replays": rows, "sf01": sf01, "sf1": sf1}))


if __name__ == "__main__":
    main()
