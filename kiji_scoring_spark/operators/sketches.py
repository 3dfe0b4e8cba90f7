"""Mergeable sketches, each defined once: how it is built, merged and read.

Every sketch here is a monoid over its state rows (Summingbird, VLDB 2014;
"Mergeable Summaries", Agarwal et al., PODS 2012), so the batch shard
stores and the streaming folds share one definition:

- ``*_build(rows, …)`` sketches one column of ``rows`` (``item`` for
  Misra-Gries), one state per group, where the group is every other
  column of ``rows``;
- ``*_merge(rows)`` takes the rows of one or more states (a union of
  shards, or ``prev ∪ batch`` in a streaming fold) and returns ONE state,
  so a shard merge and a fold step are the same call;
- a finalizer reads the answer off a state, or checks the sketch's
  contract against an exact reference the caller computes.

Members: HLL (distinct count), DDSketch (quantiles), Misra-Gries
(frequent items), bottom-K/KMV (distinct sample), theta (set operations
over two bottom-K samples), and the row/batch meta counter the streaming
folds carry. State column names are the persisted schema: renaming one
changes what a stored state file means.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Misra-Gries counters and bottom-K/theta sample size. A Misra-Gries
#: weight underestimates its item's count by at most n/(K+1) per prune,
#: so a build plus one merge stays within 2n/(K+1); the KMV distinct
#: estimate is (K-1)/h_K (Bar-Yossef et al. 2002).
K = 64

#: DDSketch relative-error target ALPHA and the derived log base
#: GAMMA = (1+a)/(1-a): a value in bucket b = ceil(log_g v) is within ALPHA
#: of the bucket's representative 2*g^b/(g+1) (Masson/Rim/Lee, VLDB 2019).
ALPHA = 0.01
GAMMA = (1 + ALPHA) / (1 - ALPHA)

#: the quantiles a DDSketch reader answers, as (column suffix, q)
QUANTILES = (("50", 0.5), ("90", 0.9), ("99", 0.99))


def grouped_top_k(df, group_cols, order_cols, k: int, rn_col: str):
    """Scale-safe per-group top-K rank: never sorts a full population in
    one task.

    A single ``row_number().over(Window.partitionBy(<low-card key>))``
    ranks each group in ONE window task — at a 100 TB key space that is
    a single-task sort of n/groups rows. This applies the mergeability
    lemma every bottom-K sketch rests on (top-K of per-slice top-Ks ==
    global top-K, because a row in the global top-K is necessarily in its
    own slice's top-K):

    - stage 1 ranks within every (group, ``spark_partition_id()``)
      slice — as many parallel window tasks as there are Spark
      partitions, each sorting only its own partition's rows — and
      keeps K per slice;
    - stage 2 ranks the <= partitions*K survivors per group.

    HARD PRECONDITION: ``order_cols`` must be a TIE-FREE total order
    within every group (md5 hashes; (count, item) pairs unique
    post-groupBy). Only then is the per-group top-K SET unique and the
    output byte-identical to the single-window rank no matter how the
    rows were physically partitioned — with ties, which duplicate ranks
    K-th is partitioning-dependent and the equivalence lemma does not
    hold. Callers own this guarantee (it is not checkable without a
    second full pass); every in-repo call site appends a unique column
    to the ordering. Catalyst additionally inserts
    ``WindowGroupLimit(Partial)`` below both exchanges (Spark 3.5+
    InferWindowGroupLimit), so neither shuffle ever carries more than K
    rows per group per upstream partition; tests/test_plans.py pins both
    the parallel stage-1 keys and the partial limits on the executed
    plan."""
    # collision-safe internals: a user column named `_slice`/`_srn` must
    # not be silently clobbered by the helper's scratch columns
    slice_col, srn_col = "__gtk_slice", "__gtk_srn"
    for c in (slice_col, srn_col):
        if c in df.columns:
            raise ValueError(f"grouped_top_k scratch column {c!r} collides")
    w1 = Window.partitionBy(*group_cols, slice_col).orderBy(*order_cols)
    survivors = (
        df.withColumn(slice_col, F.spark_partition_id())
        .withColumn(srn_col, F.row_number().over(w1))
        .filter(F.col(srn_col) <= k)
        .drop(slice_col, srn_col)
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return survivors.withColumn(rn_col, F.row_number().over(w2)).filter(
        F.col(rn_col) <= k
    )


def _groups(rows: DataFrame, *sketched: str) -> list[str]:
    return [c for c in rows.columns if c not in sketched]


def _over_hash_fraction(n: Column, hex_col: str) -> Column:
    """``n`` divided by an md5 hash read as a fraction of 2^60 (its
    15-hex-digit prefix). The 2^60 multiply is exact, so both engines
    compute the same IEEE double."""
    prefix = F.conv(F.substring(F.col(hex_col), 1, 15), 16, 10)
    return n * F.lit(float(16**15)) / prefix.cast("long").cast("double")


# -- HLL: distinct count ---------------------------------------------------


def hll_build(rows: DataFrame, key: str) -> DataFrame:
    """One HLL sketch ``sk`` of ``key`` per group (lgConfigK=12, ~2.5 KB)."""
    return rows.groupBy(*_groups(rows, key)).agg(F.hll_sketch_agg(key).alias("sk"))


def hll_merge(rows: DataFrame) -> DataFrame:
    """Register-wise max of every ``sk``: associative, commutative and
    idempotent, so shard order and re-merges cannot change the estimate."""
    return rows.agg(F.hll_union_agg("sk").alias("sk"))


def hll_ok(exact: str) -> Column:
    """The estimate of ``sk`` is within 5 % of ``exact`` (the sketch's rsd
    is ~1.6 %); TRUE when there is no state to judge."""
    return F.coalesce(
        F.abs(F.hll_sketch_estimate("sk") - F.col(exact)) <= 0.05 * F.col(exact),
        F.lit(True),
    )


# -- DDSketch: quantiles ---------------------------------------------------


def dd_build(rows: DataFrame, value: str) -> DataFrame:
    """Log-bucket histogram of a positive ``value`` per group, as
    (bkt, cnt) rows: integer counts, so merges are exact and
    deterministic (unlike t-digest centroids)."""
    groups = _groups(rows, value)
    bkt = F.ceil(F.log(value) / F.lit(math.log(GAMMA)))
    return (
        rows.select(*groups, bkt.alias("bkt"))
        .groupBy(*groups, "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dd_merge(rows: DataFrame) -> DataFrame:
    return rows.groupBy("bkt").agg(F.sum("cnt").alias("cnt"))


def quantile_ranks() -> list[Column]:
    """r50/r90/r99: the rank ceil(q * n_rows) of each answered quantile —
    the same IEEE product and ceil in both engines."""
    return [F.ceil(F.lit(q) * F.col("n_rows")).alias(f"r{s}") for s, q in QUANTILES]


def dd_quantiles(hist: DataFrame, ranks: DataFrame) -> DataFrame:
    """One row p50_est/p90_est/p99_est from a merged histogram and a
    one-row ``ranks`` frame (``quantile_ranks``): the representative of
    the bucket where the cumulative count reaches each rank. The walk
    lands in exactly the bucket holding the rank-q element (counts are
    exact), so each estimate is within ALPHA of it; the histogram is
    O(buckets) rows, so the single-partition window is tiny."""
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    found = cum.crossJoin(F.broadcast(ranks)).agg(
        *[
            F.min(F.when(F.col("cum") >= F.col(f"r{s}"), F.col("bkt"))).alias(f"b{s}")
            for s, _ in QUANTILES
        ]
    )
    return found.select(
        *[
            (F.pow(F.lit(GAMMA), F.col(f"b{s}")) * (2.0 / (GAMMA + 1.0))).alias(
                f"p{s}_est"
            )
            for s, _ in QUANTILES
        ]
    )


def dd_ok() -> list[Column]:
    """p50_ok/p90_ok/p99_ok: each ``p*_est`` within 2.5 * ALPHA of its
    ``p*_exact`` (headroom for a representative at a bucket edge); TRUE
    over an empty corpus, where there is no rank element."""
    band = 2.5 * ALPHA
    return [
        F.coalesce(
            F.abs(F.col(f"p{s}_est") - F.col(f"p{s}_exact"))
            <= band * F.col(f"p{s}_exact"),
            F.lit(True),
        ).alias(f"p{s}_ok")
        for s, _ in QUANTILES
    ]


# -- Misra-Gries: frequent items -------------------------------------------


def _mg_prune(weights: DataFrame, group_cols=()) -> DataFrame:
    """One Misra-Gries prune per group: the top K weights ``w`` minus the
    (K+1)-th, positive ones only, as (item, weight). The rank is the
    scale-safe ``grouped_top_k`` (a build ranks a group's whole item
    space); the (K+1)-th weight is a window over the <= K+1 survivors,
    so the ranked subtree is evaluated once."""
    ranked = grouped_top_k(
        weights, group_cols, [F.col("w").desc(), F.col("item").asc()], K + 1, "rn"
    )
    wk1 = F.coalesce(
        F.max(F.when(F.col("rn") == K + 1, F.col("w"))).over(
            Window.partitionBy(*group_cols)
        ),
        F.lit(0),
    )
    return (
        ranked.withColumn("wk1", wk1)
        .filter(F.col("rn") <= K)
        .select(*group_cols, "item", (F.col("w") - F.col("wk1")).alias("weight"))
        .filter(F.col("weight") > 0)
    )


def mg_build(rows: DataFrame) -> DataFrame:
    """Misra-Gries summary of ``item`` per group, from exact in-group
    counts: the static-batch form of streaming Misra-Gries, with the same
    n/(K+1) bound but deterministic (weights depend only on counts)."""
    groups = _groups(rows, "item")
    counts = rows.groupBy(*groups, "item").agg(F.count(F.lit(1)).alias("w"))
    return _mg_prune(counts, groups)


def mg_merge(rows: DataFrame) -> DataFrame:
    """Sum the weights per item, then one re-prune: <= K rows out."""
    return _mg_prune(rows.groupBy("item").agg(F.sum("weight").alias("w")))


def mg_contract(counts: DataFrame, summary: DataFrame, n_rows: DataFrame) -> DataFrame:
    """One row checking a merged summary (item, weight) against the exact
    counts (item, cnt) of ``n_rows`` (a one-row frame) items: n_heavy,
    the number of items with cnt > 2n/(K+1), and the contract flags —
    no weight overestimates, every heavy item is recovered with a weight
    within 2n/(K+1), and the summary holds <= K items.

    The heavy threshold is the oracle's double ``2.0 * n / 65.0``; the
    band check is integer-exact. Every join builds on the <= K-row
    summary, never on the counts, which grow with the data; the
    overestimate check is an inner join because a broadcast hint on the
    preserved side of an outer join is ignored (an item missing from the
    counts would only feed a NULL that min() skips)."""
    heavy = counts.crossJoin(F.broadcast(n_rows.select("n_rows"))).filter(
        F.col("cnt") > 2.0 * F.col("n_rows") / (K + 1.0)
    )
    heavy_flags = heavy.join(F.broadcast(summary), "item", "left").agg(
        F.count(F.lit(1)).alias("n_heavy"),
        F.coalesce(F.min(F.col("weight").isNotNull()), F.lit(True)).alias(
            "recovered_all_heavy"
        ),
        F.coalesce(
            F.min(
                (F.col("cnt") - F.coalesce(F.col("weight"), F.lit(0))) * F.lit(K + 1)
                <= 2 * F.col("n_rows")
            ),
            F.lit(True),
        ).alias("heavy_within_band"),
    )
    no_over = counts.join(F.broadcast(summary), "item").agg(
        F.coalesce(F.min(F.col("weight") <= F.col("cnt")), F.lit(True)).alias(
            "no_overestimate"
        )
    )
    size = summary.agg((F.count(F.lit(1)) <= K).alias("summary_within_k"))
    return heavy_flags.crossJoin(F.broadcast(no_over)).crossJoin(F.broadcast(size))


# -- bottom-K (KMV) and theta: md5 samples ---------------------------------


def _bottom_k(hashed: DataFrame, key: str) -> DataFrame:
    groups = _groups(hashed, key, "h")
    return grouped_top_k(hashed, groups, [F.col("h")], K, "rn").select(
        *groups, key, "h"
    )


def _md5(key: str) -> Column:
    return F.md5(F.col(key).cast("string"))


def kmv_build(rows: DataFrame, key: str = "key") -> DataFrame:
    """Bottom-K sample of md5(``key``) per group, as (key, h) rows: the K
    smallest hashes over the distinct keys. Hex order is numeric order
    and md5 makes the order total, so the sample is deterministic."""
    return _bottom_k(rows.distinct().withColumn("h", _md5(key)), key)


def kmv_merge(rows: DataFrame) -> DataFrame:
    """Bottom-K of the union of samples: a key in several samples carries
    one hash, so dedupe, then a TakeOrdered over the <= states*K rows.
    Equal to the bottom-K of the raw key space, because a hash in the
    global bottom-K is in its own sample's bottom-K."""
    return rows.select("key", "h").distinct().orderBy("h").limit(K)


def kmv_summary(sample: DataFrame) -> DataFrame:
    """One row read off a merged sample: sample_size, min_hash, min_key,
    kth_hash and est_distinct — the exact count when fewer than K
    distinct keys exist (the sample IS the key set), else (K-1)/h_K."""
    ranked = sample.withColumn("rn", F.row_number().over(Window.orderBy("h")))
    est = F.when(
        F.col("sample_size") < K, F.col("sample_size").cast("double")
    ).otherwise(_over_hash_fraction(F.lit(K - 1.0), "kth_hash"))
    return ranked.agg(
        F.count(F.lit(1)).alias("sample_size"),
        F.min("h").alias("min_hash"),
        F.max(F.when(F.col("rn") == 1, F.col("key"))).alias("min_key"),
        F.max(F.when(F.col("rn") == K, F.col("h"))).alias("kth_hash"),
    ).select("*", est.alias("est_distinct"))


def theta_build(src: DataFrame) -> DataFrame:
    """Bottom-K samples of two key populations, as (pop, key, h) rows
    with pop 'a' or 'b'; ``src`` holds ``key`` and 0/1 membership flags
    ``in_a``/``in_b``."""
    pops = src.groupBy("key").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    hashed = pops.withColumn("h", _md5("key"))
    both = hashed.filter(F.col("in_a") == 1).select(
        F.lit("a").alias("pop"), "key", "h"
    ).unionByName(
        hashed.filter(F.col("in_b") == 1).select(F.lit("b").alias("pop"), "key", "h")
    )
    return _bottom_k(both, "key")


def theta_stats(sampa: DataFrame, sampb: DataFrame) -> DataFrame:
    """One row: sample_a, kth_a, sample_b, kth_b and theta_hex, the
    smaller K-th hash of the full samples — NULL (θ = 1, exact mode)
    when neither population fills its sample."""
    stats = sampa.agg(
        F.count(F.lit(1)).alias("sample_a"), F.max("h").alias("kth_a")
    ).crossJoin(
        F.broadcast(
            sampb.agg(F.count(F.lit(1)).alias("sample_b"), F.max("h").alias("kth_b"))
        )
    )
    return stats.select(
        "*",
        F.when(
            (F.col("sample_a") >= K) & (F.col("sample_b") >= K),
            F.least("kth_a", "kth_b"),
        )
        .when(F.col("sample_a") >= K, F.col("kth_a"))
        .when(F.col("sample_b") >= K, F.col("kth_b"))
        .alias("theta_hex"),
    )


def theta_below(rows: DataFrame, theta: DataFrame) -> DataFrame:
    """The sample ``rows`` whose hash lies below θ: a uniform sample of
    their population below θ."""
    return rows.crossJoin(F.broadcast(theta.select("theta_hex"))).filter(
        F.col("theta_hex").isNull() | (F.col("h") < F.col("theta_hex"))
    )


def theta_estimate(n_below: str) -> Column:
    """Cardinality estimate n_below/θ (n_below itself in exact mode)."""
    n = F.col(n_below).cast("double")
    return F.when(F.col("theta_hex").isNull(), n).otherwise(
        _over_hash_fraction(n, "theta_hex")
    )


# -- row/batch meta: the counters a streaming fold carries -----------------


def meta_build(batch: DataFrame) -> DataFrame:
    return batch.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) > 0).cast("long").alias("n_nonempty_batches"),
    )


def meta_merge(rows: DataFrame) -> DataFrame:
    return rows.agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_nonempty_batches").alias("n_nonempty_batches"),
    )
