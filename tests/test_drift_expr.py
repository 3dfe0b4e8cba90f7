"""The PQ drift distance (operators/pq.drift) is built one way: one parsed
expression over quoted column names. These pins check that build against
a hand-written Column tree, over awkward column names, and the loud
failure of a map-family codes request."""

from __future__ import annotations

import functools
import operator

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from kiji_scoring_spark import model
from kiji_scoring_spark.fresh import FreshTableReader
from kiji_scoring_spark.operators import pq
from kiji_scoring_spark.policies import EmbeddingDrift
from kiji_scoring_spark.registry import FreshenerRegistry, TableLayout


def _canon(df):
    return df._jdf.queryExecution().analyzed().canonicalized().toString()


def _drift_fixture(spark):
    cb = F.expr(
        "map(1L, array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))"
    )  # tiny LUT; drift still builds its full 64-term sum
    return (
        spark.range(3)
        .select(
            F.expr(
                "transform(sequence(1, 64), i -> CAST(i + id AS LONG))"
            ).alias("emb_q"),
            F.expr("transform(sequence(1, 8), i -> 1L)").alias("codes"),
            cb.alias("cb_map"),
        )
    )


def _full_lut(df):
    """The fixture with a 64-wide codebook entry (entry 1 = 1..64), so
    every term is non-NULL: row ``id`` drifts by 64 * id²."""
    return df.withColumn(
        "cb_map", F.expr("map(1L, transform(sequence(1, 64), i -> CAST(i AS LONG)))")
    )


def _reference(emb, codes, cbm):
    """The drift sum written out as a Column tree, term by term."""
    terms = []
    for s in range(8):
        cq = F.try_element_at(cbm, F.try_element_at(codes, F.lit(s + 1)))
        for i in range(s * 8 + 1, s * 8 + 9):
            d = F.try_element_at(emb, F.lit(i)) - F.try_element_at(cq, F.lit(i))
            terms.append(d * d)
    return functools.reduce(operator.add, terms)


def test_drift_plan_equals_hand_written_reference(spark):
    for df in (_drift_fixture(spark), _full_lut(_drift_fixture(spark))):
        built = df.select(pq.drift("emb_q", "codes", "cb_map").alias("d"))
        ref = df.select(
            _reference(F.col("emb_q"), F.col("codes"), F.col("cb_map")).alias("d")
        )
        assert _canon(built) == _canon(ref)
        assert built.collect() == ref.collect()


def test_versioned_drift_reads_the_newest_codes(spark):
    df = _full_lut(_drift_fixture(spark)).withColumn(
        "codes_versions",
        F.expr(
            "array(struct(2L AS ts, codes AS value), struct(1L AS ts, NULL AS value))"
        ),
    )
    built = df.select(
        pq.drift("emb_q", "codes_versions", "cb_map", versioned=True).alias("d")
    )
    ref = df.select(
        _reference(
            F.col("emb_q"),
            model.most_recent_value("codes_versions"),
            F.col("cb_map"),
        ).alias("d")
    )
    assert _canon(built) == _canon(ref)
    assert built.collect() == ref.collect()


def test_drift_quotes_any_column_name(spark):
    # hyphens, spaces and dots would misparse unquoted, reserved words
    # depend on parser mode, and a backtick must be escaped
    df = _full_lut(_drift_fixture(spark))
    plain = df.select(pq.drift("emb_q", "codes", "cb_map").alias("d")).collect()
    assert [r.d for r in plain] == [0, 64, 256]
    for name in ("emb-q", "emb q", "emb.q", "select", "emb`q"):
        odd = df.withColumnRenamed("emb_q", name).withColumnRenamed("codes", f"{name}!")
        got = odd.select(pq.drift(name, f"{name}!", "cb_map").alias("d")).collect()
        assert got == plain, name


def test_map_family_codes_request_raises(spark):
    """Codes kept in a map-type family have no flat column, so the drift
    policy and producer fail at analysis instead of reading another cell."""
    dim = 64
    vt = spark.createDataFrame(
        [
            (
                1,
                [0] * dim,
                {"versions": [(1_000, [0] * 8)]},
                [(1_000, -1.0)],
                {0: [0] * dim},
            )
        ],
        "vec_id long, emb_q array<long>, "
        "codes map<string, array<struct<ts: long, value: array<long>>>>, "
        "score_versions array<struct<ts: long, value: double>>, "
        "cb_map map<long, array<long>>",
    )
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "emb_map_t",
        "score:versions",
        "kiji_scoring_spark.lib.DriftRescoreProducer",
        "kiji_scoring_spark.policies.EmbeddingDrift",
        EmbeddingDrift(tau=1_000_000).serialize(),
    )
    reader = FreshTableReader(spark, "emb_map_t", vt, reg, key_col="vec_id")
    with pytest.raises(AnalysisException, match="codes_versions"):
        reader.scan(1_000_000_000).collect()


def test_streaming_drift_batches_compile_without_fallback(spark, sf_dir):
    """Every micro-batch of streaming_drift_rescoring_ingest runs under
    whole-stage codegen. With the interpreted fallback off, a generated
    method past the JVM's 64 KB limit fails the query instead of only
    logging an ERROR; the query still rescores exactly the drifted
    entities (pmod(vec_id, 5) = 0)."""
    from kiji_scoring_spark.queries_kiji import (
        AS_OF_MS,
        streaming_drift_rescoring_ingest,
    )

    key = "spark.sql.codegen.fallback"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = streaming_drift_rescoring_ingest(spark, sf_dir).collect()
    finally:
        spark.conf.set(key, prior)
    rescored = {r.vec_id for r in rows if r.score_ts == AS_OF_MS}
    assert rescored
    assert rescored == {r.vec_id for r in rows if r.vec_id % 5 == 0}
