"""The r16 parsed-string rebuilds of the dedup signature / pair-expansion
builders must be PLAN-IDENTICAL to the historical Column formulations —
the signature values are oracle-hash-pinned, so only the driver-side
build mechanism may change. Each test reconstructs the pre-r16 Column
build inline and compares canonicalized analyzed plans plus rows."""

import pytest
from pyspark.sql import functions as F

from kiji_scoring_spark.operators.dedup import (
    MERSENNE,
    MINHASH_PARAMS,
    _shingles_of_words,
    bucket_pairs,
    cross_bucket_pairs,
    minhash_signature_df,
)


def _canon(df):
    return df._jdf.queryExecution().analyzed().canonicalized().toString()


def _docs(spark):
    return spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the lazy dog"),
            ("d2", "the quick brown fox leaps over the lazy dog"),
            ("d3", "to be"),  # under n words — dropped by the guard
            ("d4", "completely different text with other words here"),
        ],
        ["doc_id", "text"],
    )


def _legacy_signature(docs, id_col, text_col, n=3):
    w = docs.select(id_col, F.split(F.col(text_col), " ").alias("__w__"))
    w = w.filter(F.size("__w__") >= n)
    sh = w.select(id_col, _shingles_of_words(F.col("__w__"), n).alias("__sh__"))
    hashes = sh.select(
        id_col,
        F.transform(
            "__sh__",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
        ).alias("__h__"),
    )
    mins = [
        F.array_min(
            F.transform("__h__", lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE)
        ).alias(f"m{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return hashes.select(id_col, *mins)


def test_signature_plan_and_rows_unchanged(spark):
    docs = _docs(spark)
    new = minhash_signature_df(docs, "doc_id", "text")
    old = _legacy_signature(docs, "doc_id", "text")
    assert _canon(new) == _canon(old)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def _legacy_in_pairs(arr):
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _legacy_cross_pairs(a, b):
    return F.flatten(
        F.transform(
            a,
            lambda x: F.transform(
                b, lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
            ),
        )
    )


def _buckets(spark, n_ids):
    # one bucket over the hot threshold so BOTH paths appear in the plan
    return spark.range(1).select(
        F.expr(f"transform(sequence(1, {n_ids}), i -> CAST(i AS string))").alias(
            "ids"
        )
    )


def _legacy_bucket_pairs(buckets, ids_col="ids", max_bucket=256, chunk=128):
    n = F.size(ids_col)
    small = buckets.filter(n <= max_bucket)
    big = buckets.filter(n > max_bucket)
    small_pairs = small.select(
        F.explode(_legacy_in_pairs(F.col(ids_col))).alias("p")
    ).select("p.doc_a", "p.doc_b")
    m = F.ceil(n / F.lit(chunk)).cast("int")
    block_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda ci: F.transform(
                F.sequence(ci, m - 1),
                lambda cj: F.struct(ci.alias("ci"), cj.alias("cj")),
            ),
        )
    )
    blocks = big.select(
        F.col(ids_col).alias("__ids__"), F.explode(block_pairs).alias("cp")
    )
    blocks = blocks.repartition(F.xxhash64("__ids__"), F.col("cp"))
    ab = blocks.select(
        F.slice("__ids__", F.col("cp.ci") * chunk + 1, chunk).alias("A"),
        F.slice("__ids__", F.col("cp.cj") * chunk + 1, chunk).alias("B"),
        (F.col("cp.ci") == F.col("cp.cj")).alias("diag"),
    )
    big_pairs = ab.select(
        F.explode(
            F.when(F.col("diag"), _legacy_in_pairs(F.col("A"))).otherwise(
                _legacy_cross_pairs(F.col("A"), F.col("B"))
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return small_pairs.unionAll(big_pairs)


def test_bucket_pairs_plan_and_rows_unchanged(spark):
    buckets = _buckets(spark, 300)  # > MAX_BUCKET: exercises the block path
    new = bucket_pairs(buckets)
    old = _legacy_bucket_pairs(buckets)
    assert _canon(new) == _canon(old)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def _legacy_cross_bucket_pairs(
    buckets, a_col, b_col, max_bucket=256, chunk=128
):
    hot = (F.size(a_col) > max_bucket) | (F.size(b_col) > max_bucket)
    small = buckets.filter(~hot)
    big = buckets.filter(hot)
    small_pairs = small.select(
        F.explode(_legacy_cross_pairs(F.col(a_col), F.col(b_col))).alias("p")
    ).select("p.doc_a", "p.doc_b")
    ma = F.ceil(F.size(a_col) / F.lit(chunk)).cast("int")
    mb = F.ceil(F.size(b_col) / F.lit(chunk)).cast("int")
    block_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), ma - 1),
            lambda ci: F.transform(
                F.sequence(F.lit(0), mb - 1),
                lambda cj: F.struct(ci.alias("ci"), cj.alias("cj")),
            ),
        )
    )
    blocks = big.select(
        F.col(a_col).alias("__a__"),
        F.col(b_col).alias("__b__"),
        F.explode(block_pairs).alias("cp"),
    ).repartition(F.xxhash64("__a__"), F.xxhash64("__b__"), F.col("cp"))
    ab = blocks.select(
        F.slice("__a__", F.col("cp.ci") * chunk + 1, chunk).alias("A"),
        F.slice("__b__", F.col("cp.cj") * chunk + 1, chunk).alias("B"),
    )
    big_pairs = ab.select(
        F.explode(_legacy_cross_pairs(F.col("A"), F.col("B"))).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return small_pairs.unionAll(big_pairs)


def test_cross_bucket_pairs_plan_and_rows_unchanged(spark):
    buckets = spark.range(1).select(
        F.expr("transform(sequence(1, 300), i -> CAST(i AS string))").alias("a"),
        F.expr(
            "transform(sequence(301, 400), i -> CAST(i AS string))"
        ).alias("b"),
    )
    new = cross_bucket_pairs(buckets, "a", "b")
    old = _legacy_cross_bucket_pairs(buckets, "a", "b")
    assert _canon(new) == _canon(old)
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


# The builders splice names into SQL text between backticks, so a name that
# is not a plain identifier must fail before any plan is built.
BAD_NAMES = ["doc`id", "doc.id", "doc id", "doc-id", ""]


@pytest.mark.parametrize("bad", BAD_NAMES)
def test_signature_rejects_bad_names(spark, bad):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="not a plain identifier"):
        minhash_signature_df(docs, bad, "text")
    with pytest.raises(ValueError, match="not a plain identifier"):
        minhash_signature_df(docs, "doc_id", bad)


@pytest.mark.parametrize("bad", BAD_NAMES)
def test_bucket_pairs_rejects_bad_names(spark, bad):
    with pytest.raises(ValueError, match="not a plain identifier"):
        bucket_pairs(_buckets(spark, 3), bad)


@pytest.mark.parametrize("bad", BAD_NAMES)
def test_cross_bucket_pairs_rejects_bad_names(spark, bad):
    buckets = _buckets(spark, 3).select(F.col("ids").alias("a"), F.col("ids").alias("b"))
    with pytest.raises(ValueError, match="not a plain identifier"):
        cross_bucket_pairs(buckets, bad, "b")
    with pytest.raises(ValueError, match="not a plain identifier"):
        cross_bucket_pairs(buckets, "a", bad)
