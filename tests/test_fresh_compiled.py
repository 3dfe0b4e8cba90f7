"""Compiled capsules: a capsule's Columns are built once per capsule
generation, against the reserved ``__as_of__`` column, and never outlive
the capsule they were built for.

- policy and producer run once per generation, whatever the reads and
  their ``as_of``;
- a reread (or a direct ``_capsules`` reassignment) serves the new
  policy on the next read;
- a reread keeps each capsule whose registry record is unchanged and
  rebuilds only added or changed ones (``rereadPolicies``,
  ``InternalFreshKijiTableReader.java:271-309``); a directly assigned
  capsule is never reused by a registry resolve;
- the clock column folds away: the optimized plan has no ``__as_of__``,
  the shelf-life bound is a constant, and the key filter still reaches
  the scan;
- a table with its own ``__as_of__`` column is rejected.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from kiji_scoring_spark.fresh import AS_OF_COL, Freshener, FreshTableReader
from kiji_scoring_spark.policies import (
    AlwaysFreshen,
    FresherThanColumn,
    NeverFreshen,
    ShelfLife,
)
from kiji_scoring_spark.producers import ExpressionProducer
from kiji_scoring_spark.registry import FreshenerRegistry, TableLayout
from test_fresh import DAY_MS, NOW_MS, IncrementVisitsProducer, user_counter_df

#: calls per policy / producer entry point, reset by each test
CALLS: Counter = Counter()


class CountingShelfLife(ShelfLife):
    def is_fresh(self, versions, as_of_ms):
        CALLS["is_fresh"] += 1
        return super().is_fresh(versions, as_of_ms)


class CountingFresherThan(FresherThanColumn):
    def is_fresh_over(self, requested, as_of_ms):
        CALLS["is_fresh_over"] += 1
        return super().is_fresh_over(requested, as_of_ms)


class CountingIncrement(IncrementVisitsProducer):
    def score(self, df):
        CALLS["score_visits"] += 1
        return super().score(df)


class CountingNameTag(ExpressionProducer):
    def __init__(self):
        super().__init__(
            lambda df: F.lit("tagged"),
            data_request=["info:name"],
            output_column="info:name",
        )

    def score(self, df):
        CALLS["score_name"] += 1
        return super().score(df)


def newest(rows, col):
    return {r["entity_id"]: (r[col][0]["ts"], r[col][0]["value"]) for r in rows if r[col]}


def test_policy_and_producer_run_once_per_generation(spark, tmp_path):
    CALLS.clear()
    df = user_counter_df(spark)
    layout = TableLayout(df.schema)
    reg = FreshenerRegistry()
    reg.store(
        layout, "uc", "info:visits", f"{__name__}.CountingIncrement",
        f"{__name__}.CountingShelfLife", ShelfLife(DAY_MS).serialize(),
    )
    reg.store(
        layout, "uc", "info:name", f"{__name__}.CountingNameTag",
        f"{__name__}.CountingFresherThan",
        FresherThanColumn("info:name", "info:visits").serialize(),
    )
    reader = FreshTableReader(spark, "uc", df, reg, scored_path=str(tmp_path))
    later = NOW_MS + 10 * DAY_MS
    once = {"is_fresh": 1, "is_fresh_over": 1, "score_visits": 1, "score_name": 1}

    for as_of in (NOW_MS, later, NOW_MS + 1):
        # bar's visits are fresh at NOW_MS and stale ten days later: the
        # compiled predicate must see each call's own clock
        got = newest(reader.get("bar", as_of).collect(), "info_visits")
        assert got == ({"bar": (later, 101)} if as_of == later
                       else {"bar": (NOW_MS - 100, 100)})
        bulk = newest(reader.bulk_get(["foo", "bar"], as_of).collect(), "info_visits")
        assert bulk["foo"] == (as_of, 11)
        assert newest(reader.freshen(as_of).collect(), "info_name")["bar"] == (
            as_of, "tagged"
        )
    out, fully = reader.freshen_with_timeout(later, timeout_ms=120_000)
    assert fully is True
    assert newest(out.collect(), "info_visits")["bar"] == (later, 101)
    assert CALLS == once
    first = dict(reader._capsules)

    def kept(column):
        cap = reader._capsules[column]
        return cap is first[column] and cap.compiled is first[column].compiled

    # unchanged records keep their capsules, compiled Columns included
    reader.reread_policies()
    reader.get("foo", NOW_MS).collect()
    reader.bulk_get(["foo"], later).collect()
    assert CALLS == once
    assert kept("info:visits") and kept("info:name")

    reader.reread_policies(preload=True)
    assert CALLS == once
    assert kept("info:visits") and kept("info:name")
    reader.freshen(later).collect()
    assert CALLS == once

    # a changed policy state rebuilds that capsule only: 10 ms makes bar stale
    reg.remove("uc", "info:visits")
    reg.store(
        layout, "uc", "info:visits", f"{__name__}.CountingIncrement",
        f"{__name__}.CountingShelfLife", ShelfLife(10).serialize(),
    )
    reader.reread_policies()
    assert newest(reader.get("bar", NOW_MS).collect(), "info_visits") == {
        "bar": (NOW_MS, 101)
    }
    assert CALLS == {**once, "is_fresh": 2, "score_visits": 2}
    assert not kept("info:visits") and kept("info:name")
    visits = reader._capsules["info:visits"]

    # a removed record drops its capsule; an added one is built anew
    reg.remove("uc", "info:name")
    reader.reread_policies(preload=True)
    assert set(reader._capsules) == {"info:visits"}
    assert reader._capsules["info:visits"] is visits
    reg.store(
        layout, "uc", "info:name", f"{__name__}.CountingNameTag",
        f"{__name__}.CountingFresherThan",
        FresherThanColumn("info:name", "info:visits").serialize(),
    )
    reader.reread_policies(preload=True)
    assert set(reader._capsules) == {"info:visits", "info:name"}
    assert not kept("info:name")
    assert CALLS == {k: 2 * v for k, v in once.items()}

    # a capsule dict assigned directly is never reused by a registry resolve
    direct = Freshener("info:visits", NeverFreshen(), IncrementVisitsProducer())
    reader._capsules = {"info:visits": direct}
    assert newest(reader.get("foo", NOW_MS).collect(), "info_visits") == {"foo": (1, 10)}
    reader.reread_policies(preload=True)
    assert reader._capsules["info:visits"] is visits
    assert CALLS == {k: 2 * v for k, v in once.items()}


def test_reread_and_reassignment_never_serve_stale_capsules(spark):
    df = user_counter_df(spark)
    layout = TableLayout(df.schema)
    reg = FreshenerRegistry()
    reg.store(
        layout, "uc", "info:visits", f"{__name__}.CountingIncrement",
        "kiji_scoring_spark.policies.ShelfLife", ShelfLife(DAY_MS).serialize(),
    )
    reader = FreshTableReader(spark, "uc", df, reg)

    def bar(as_of=NOW_MS):
        return newest(reader.get("bar", as_of).collect(), "info_visits")["bar"]

    assert bar() == (NOW_MS - 100, 100)  # within a day: fresh
    # a new ShelfLife state in the registry: 10 ms makes bar stale
    reg.remove("uc", "info:visits")
    reg.store(
        layout, "uc", "info:visits", f"{__name__}.CountingIncrement",
        "kiji_scoring_spark.policies.ShelfLife", ShelfLife(10).serialize(),
    )
    assert bar() == (NOW_MS - 100, 100)  # the cache holds until a reread
    reader.reread_policies()
    assert bar() == (NOW_MS, 101)

    # direct reassignment: each new dict is compiled before it is used
    reader._capsules = {
        "info:visits": Freshener("info:visits", NeverFreshen(), IncrementVisitsProducer())
    }
    assert bar(NOW_MS + 10 * DAY_MS) == (NOW_MS - 100, 100)
    reader._capsules = {
        "info:visits": Freshener("info:visits", AlwaysFreshen(), IncrementVisitsProducer())
    }
    assert bar() == (NOW_MS, 101)
    # a capsule compiled for another table is recompiled for this one
    other = FreshTableReader(spark, "uc", df.filter(F.lit(True)), FreshenerRegistry())
    other._capsules = dict(reader._capsules)
    assert newest(other.get("bar", NOW_MS).collect(), "info_visits")["bar"] == (
        NOW_MS, 101
    )
    assert other._capsules["info:visits"].compiled.table is other.df


def test_clock_column_folds_out_of_the_get_plan(spark, tmp_path):
    path = str(tmp_path / "uc.parquet")
    user_counter_df(spark).write.parquet(path)
    df = spark.read.parquet(path)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(df.schema), "uc", "info:visits",
        "test_fresh.IncrementVisitsProducer",
        "kiji_scoring_spark.policies.ShelfLife", ShelfLife(DAY_MS).serialize(),
    )
    reader = FreshTableReader(spark, "uc", df, reg)
    got = reader.get("foo", NOW_MS)
    qe = got._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert AS_OF_COL not in optimized
    # ShelfLife's bound as_of - shelf_life is one folded constant
    assert f">= {NOW_MS - DAY_MS})" in optimized
    assert "EqualTo(entity_id,foo)" in qe.executedPlan().toString()
    assert got.columns == df.columns
    assert newest(got.collect(), "info_visits") == {"foo": (NOW_MS, 11)}


def test_table_with_clock_column_is_rejected(spark):
    df = user_counter_df(spark).withColumn(AS_OF_COL, F.lit(7).cast("long"))
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(df.schema), "uc", "info:visits",
        "test_fresh.IncrementVisitsProducer",
        "kiji_scoring_spark.policies.ShelfLife", ShelfLife(DAY_MS).serialize(),
    )
    reader = FreshTableReader(spark, "uc", df, reg)
    with pytest.raises(ValueError, match=AS_OF_COL):
        reader.get("foo", NOW_MS)
    with pytest.raises(ValueError, match=AS_OF_COL):
        reader.preload()
    # with nothing attached there is nothing to shadow
    plain = FreshTableReader(spark, "uc", df, FreshenerRegistry())
    assert plain.get("foo", NOW_MS).select(AS_OF_COL).collect()[0][0] == 7
