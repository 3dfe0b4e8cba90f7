"""grouped_top_k (operators/sketches.py) — the r13 scale-safe per-group
top-K rank that replaced the single-window sketch state builds (theta /
bottom-k / Misra-Gries).

The helper must be byte-identical to the naive
``row_number().over(Window.partitionBy(group).orderBy(order))`` rank it
replaced, for ANY physical partitioning of the input — that is the
mergeability lemma (a row in the global top-K is necessarily in its own
partition-slice's top-K) made executable. The plan-side property (no
single-task full-population sort) is pinned in tests/test_plans.py.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from kiji_scoring_spark.operators.sketches import (
    K,
    grouped_top_k,
    kmv_build,
    theta_build,
)


def _naive(df, group_cols, order_cols, k, rn_col):
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rn_col, F.row_number().over(w)).filter(
        F.col(rn_col) <= k
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _skewed(spark):
    # 2 giant groups + 1 tiny one; unique (grp, v) pairs so the order is
    # tie-free, like every production caller (md5 hashes / post-groupBy
    # (cnt, item) pairs)
    rows = [("a", i * 7919 % 100003) for i in range(4000)]
    rows += [("b", i * 104729 % 99991) for i in range(4000)]
    rows += [("c", i) for i in range(5)]
    return spark.createDataFrame(rows, "grp string, v long").distinct()


def test_identical_to_single_window_rank(spark):
    df = _skewed(spark)
    want = _rows(_naive(df, ["grp"], [F.col("v")], 64, "rn"))
    got = _rows(grouped_top_k(df, ["grp"], [F.col("v")], 64, "rn"))
    assert got == want
    # groups smaller than K survive whole (the exact-mode arm)
    assert len([r for r in got if r[0] == "c"]) == 5


def test_partitioning_invariance(spark):
    # the physical slicing (spark_partition_id) must never show through:
    # 1, 3, and 17 input partitions all rank identically
    df = _skewed(spark)
    baseline = None
    for n in (1, 3, 17):
        got = _rows(
            grouped_top_k(df.repartition(n), ["grp"], [F.col("v")], 64, "rn")
        )
        baseline = baseline or got
        assert got == baseline
    assert len(baseline) == 64 + 64 + 5


def test_descending_compound_order(spark):
    # the Misra-Gries caller ranks by (cnt DESC, item ASC) at K+1
    df = _skewed(spark)
    order = [F.col("v").desc(), F.col("grp").asc()]
    want = _rows(_naive(df, ["grp"], order, 65, "rn"))
    got = _rows(grouped_top_k(df, ["grp"], order, 65, "rn"))
    assert got == want


def test_build_fragments_match_naive(spark):
    # the three production builds, checked against their pre-r13 naive
    # single-window formulations on a synthetic corpus
    src = spark.createDataFrame(
        [(i * 31 % 997, i % 8) for i in range(6000)], "key long, shard long"
    )
    naive = _naive(
        src.distinct().withColumn("h", F.md5(F.col("key").cast("string"))),
        ["shard"],
        [F.col("h")],
        K,
        "rn",
    ).select("shard", "key", "h")
    assert _rows(kmv_build(src)) == _rows(naive)

    tsrc = spark.createDataFrame(
        [(i * 17 % 1499, int(i % 3 < 2), int(i % 3 > 0)) for i in range(5000)],
        "key long, in_a int, in_b int",
    )
    pops = tsrc.groupBy("key").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    hashed = pops.withColumn("h", F.md5(F.col("key").cast("string")))
    both = hashed.filter(F.col("in_a") == 1).select(
        F.lit("a").alias("pop"), "key", "h"
    ).unionByName(
        hashed.filter(F.col("in_b") == 1).select(
            F.lit("b").alias("pop"), "key", "h"
        )
    )
    naive_theta = _naive(both, ["pop"], [F.col("h")], K, "rn").select(
        "pop", "key", "h"
    )
    assert _rows(theta_build(tsrc)) == _rows(naive_theta)
