"""End-to-end freshening tests — the reference's golden-value scenarios:

- the demo slice (TestFreshnessDemo.java:62-104 via FIXTURES.md §3):
  ShelfLife + increment producer on info:visits → 10 becomes 11, second
  read unchanged;
- AlwaysFreshen rewrite (TestInternalFreshKijiTableReader.java:428-431);
- NeverFreshen no-op;
- map-family producer write (:524-525);
- KV-store masking (TestKVStores.java);
- timeout stale-fallback (A10, batch semantics).
"""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kiji_scoring_spark import model
from kiji_scoring_spark.fresh import FreshTableReader
from kiji_scoring_spark.policies import AlwaysFreshen, FreshnessPolicy, NeverFreshen, ShelfLife
from kiji_scoring_spark.producers import ExpressionProducer, MLlibProducer, PandasProducer
from kiji_scoring_spark.registry import FreshenerRegistry, TableLayout

DAY_MS = 86_400_000
NOW_MS = 1_000_000_000  # injected clock — no wall time in assertions


class IncrementVisitsProducer(ExpressionProducer):
    """The demo's counter producer: newest visits + 1."""

    def __init__(self):
        super().__init__(
            lambda df: model.most_recent_value("info_visits") + 1,
            data_request=["info:visits"],
            output_column="info:visits",
        )


class SetNewValProducer(ExpressionProducer):
    """TestProducer analog: writes the constant 'new-val' (:428-431)."""

    def __init__(self):
        super().__init__(lambda df: F.lit("new-val"), data_request=["family:qual0"],
                         output_column="family:qual0")


def user_counter_df(spark):
    """FIXTURES.md §3 user_counter, with foo seeded [(1, 10)] per the demo."""
    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("info_name", model.versions_type(StringType())),
            StructField("info_visits", model.versions_type(LongType())),
        ]
    )
    rows = [
        ("foo", [(5, "foo-val")], [(1, 10)]),
        ("bar", [(1, "bar-val")], [(NOW_MS - 100, 100)]),  # recently fresh
        ("felix", [(0, "Felis")], None),
    ]
    return spark.createDataFrame(rows, schema)


def make_reader(spark, df, column, policy, policy_state, producer_cls_path):
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(df.schema), "user_counter", column,
        producer_cls_path, f"{policy.__class__.__module__}.{policy.__class__.__name__}",
        policy.serialize(),
    )
    return FreshTableReader(spark, "user_counter", df, reg)


def visits(df):
    return {
        r["entity_id"]: r["v"]
        for r in df.select("entity_id", model.most_recent_value("info_visits").alias("v")).collect()
    }


def test_demo_slice_shelf_life_increment(spark):
    """SURVEY §7.1 minimum slice: stale foo (ts=1) gets freshened 10→11;
    fresh bar (within shelf life) is untouched; a second pass over the
    freshened table changes nothing."""
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", ShelfLife(DAY_MS), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    got = reader.get("foo", NOW_MS)
    row = got.select(
        model.most_recent_value("info_visits").alias("v"),
        model.most_recent_ts("info_visits").alias("ts"),
        F.size("info_visits").alias("n"),
    ).collect()[0]
    assert row["v"] == 11  # TestFreshnessDemo.java:95-97 golden value
    assert row["ts"] == NOW_MS
    assert row["n"] == 2  # history preserved: [(NOW,11),(1,10)]

    # writeback + second read: now fresh, unchanged (demo step 2)
    fresh_df = reader.freshen(NOW_MS)
    reader2 = FreshTableReader(spark, "user_counter", fresh_df, reader.registry)
    again = visits(reader2.get("foo", NOW_MS))
    assert again == {"foo": 11}

    # bar was fresh — untouched by the pass
    assert visits(reader.scan(NOW_MS))["bar"] == 100


def test_never_freshen_is_noop(spark):
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", NeverFreshen(), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    assert visits(reader.scan(NOW_MS)) == {"foo": 10, "bar": 100, "felix": None}


def test_always_freshen_rescores_everyone(spark):
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", AlwaysFreshen(), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    got = visits(reader.scan(NOW_MS))
    # felix has no visits → producer yields NULL → keeps old (partial inv.)
    assert got == {"foo": 11, "bar": 101, "felix": None}


class StringRewriteProducer(ExpressionProducer):
    def __init__(self):
        super().__init__(lambda df: F.lit("new-val"),
                         data_request=["family:qual0"], output_column="family:qual0")


def test_always_freshen_string_rewrite(spark):
    """TestInternalFreshKijiTableReader.java:428-431: AlwaysFreshen +
    TestProducer rewrites family:qual0 most-recent to 'new-val'."""
    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("family_qual0", model.versions_type(StringType())),
        ]
    )
    df = spark.createDataFrame([("foo", [(5, "foo-val")]), ("bar", [(5, "bar-val")])], schema)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(df.schema), "row_data_test", "family:qual0",
        f"{__name__}.StringRewriteProducer",
        "kiji_scoring_spark.policies.AlwaysFreshen", "",
    )
    reader = FreshTableReader(spark, "row_data_test", df, reg)
    out = reader.get("foo", NOW_MS).select(
        model.most_recent_value("family_qual0").alias("v")
    ).collect()
    assert out[0]["v"] == "new-val"


class SlowPandasProducer(PandasProducer):
    def __init__(self):
        # closure (not a module-level function) so cloudpickle ships it by
        # value — Spark workers don't have the tests dir on their path
        def slow_score(pdf):
            import time as _time

            _time.sleep(30)
            return pdf["info_visits"].map(lambda v: 1.0)

        super().__init__(
            batch_fn=slow_score,
            data_request=["info:visits"],
            output_column="info:visits",
        )


def test_timeout_returns_stale(spark, monkeypatch):
    """A10 batch redefinition: budget expires → original (stale) table
    comes back, like InternalFreshKijiTableReader.java:686-724."""
    from kiji_scoring_spark import fresh as fresh_mod

    drains = []
    drain = fresh_mod._drain_job_group

    def timed_drain(*args, **kwargs):
        start = time.monotonic()
        try:
            return drain(*args, **kwargs)
        finally:
            drains.append(time.monotonic() - start)

    monkeypatch.setattr(fresh_mod, "_drain_job_group", timed_drain)
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", AlwaysFreshen(), "",
        f"{__name__}.SlowPandasProducer",
    )
    t0 = time.monotonic()
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=3000)
    elapsed = time.monotonic() - t0
    # the cancelled group is drained once, within the drain's own 15 s
    # deadline (plus one status poll)
    assert len(drains) == 1
    assert drains[0] < 16
    # promptness outside the drain: budget 3 s + at most 5 s joining the
    # cancelled thread, with 4 s for capsule compile and the cancel call
    assert elapsed - drains[0] < 12
    assert fresh is False
    assert visits(out) == {"foo": 10, "bar": 100, "felix": None}  # stale values


def test_freshen_with_timeout_success(spark):
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", ShelfLife(DAY_MS), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=60_000)
    assert fresh is True
    assert visits(out)["foo"] == 11


class DoubleVisitsProducer(ExpressionProducer):
    """Recompute score = newest visits * 2 (writes to the attached col)."""

    def __init__(self):
        super().__init__(
            lambda df: (model.most_recent_value("info_visits") * 2).cast("double"),
            data_request=["info:visits"],
            output_column="info:score",
        )


def scored_df(spark):
    """Table with a data column (visits) and a derived score column whose
    freshness depends on the DATA column's recency — the A6 scenario."""
    from pyspark.sql.types import DoubleType

    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("info_visits", model.versions_type(LongType())),
            StructField("info_score", model.versions_type(DoubleType())),
        ]
    )
    rows = [
        ("stale_score", [(10, 7)], [(5, 1.0)]),    # score older than data → rescore
        ("fresh_score", [(100, 3)], [(200, 6.0)]),  # score newer than data → keep
        ("never_scored", [(50, 4)], None),          # no score yet → rescore
    ]
    return spark.createDataFrame(rows, schema)


def test_a6_policy_own_data_request(spark):
    """A6: FresherThanColumn judges staleness over its OWN projection
    (attached score vs source visits), not the client-requested column —
    the reference's shouldUseClientDataRequest=false branch
    (InternalFreshKijiTableReader.java:526-536, :588-596)."""
    from kiji_scoring_spark.policies import FresherThanColumn

    df = scored_df(spark)
    policy = FresherThanColumn("info:score", "info:visits")
    reader = make_reader(
        spark, df, "info:score", policy, "", f"{__name__}.DoubleVisitsProducer"
    )
    got = {
        r["entity_id"]: (r["v"], r["ts"])
        for r in reader.scan(NOW_MS)
        .select(
            "entity_id",
            model.most_recent_value("info_score").alias("v"),
            model.most_recent_ts("info_score").alias("ts"),
        )
        .collect()
    }
    assert got["stale_score"] == (14.0, NOW_MS)   # rescored: 7 * 2 @ now
    assert got["fresh_score"] == (6.0, 200)       # untouched
    assert got["never_scored"] == (8.0, NOW_MS)   # first score: 4 * 2


def test_a6_policy_state_roundtrip():
    from kiji_scoring_spark.policies import FresherThanColumn

    p = FresherThanColumn("info:score", "info:visits")
    q = FresherThanColumn()
    q.deserialize(p.serialize())
    assert (q.attached_column, q.source_column) == ("info:score", "info:visits")


def two_column_reader(spark, allow_partial):
    """Two attached columns: info:name freshens instantly (expression),
    info:visits is a slow pandas producer — the partial-freshening matrix
    of TestInternalFreshKijiTableReader.java:482-506."""
    df = user_counter_df(spark)
    reg = FreshenerRegistry()
    layout = TableLayout(df.schema)
    reg.store(
        layout, "user_counter", "info:name",
        f"{__name__}.NameTagProducer",
        "kiji_scoring_spark.policies.AlwaysFreshen", "",
    )
    reg.store(
        layout, "user_counter", "info:visits",
        f"{__name__}.SlowPandasProducer",
        "kiji_scoring_spark.policies.AlwaysFreshen", "",
    )
    return FreshTableReader(
        spark, "user_counter", df, reg, allow_partial=allow_partial
    )


class NameTagProducer(ExpressionProducer):
    def __init__(self):
        super().__init__(
            lambda df: F.lit("tagged"),
            data_request=["info:name"],
            output_column="info:name",
        )


def names(df):
    return {
        r["entity_id"]: r["v"]
        for r in df.select(
            "entity_id", model.most_recent_value("info_name").alias("v")
        ).collect()
    }


def test_timeout_partial_returns_finished_columns(spark):
    """allow_partial=True: columns that finished inside the budget are
    returned freshened, the in-flight one falls back to stale — the
    reference's partially-fresh branch (InternalFreshKijiTableReader.java:
    703-708, builder flag FreshKijiTableReaderBuilder.java:63-67)."""
    reader = two_column_reader(spark, allow_partial=True)
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=8000)
    assert fresh is False
    assert set(names(out).values()) == {"tagged"}            # finished column
    assert visits(out) == {"foo": 10, "bar": 100, "felix": None}  # stale column


def test_timeout_no_partial_returns_original(spark):
    """allow_partial=False (reference default): whole-table stale fallback
    even though one column had finished."""
    reader = two_column_reader(spark, allow_partial=False)
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=8000)
    assert fresh is False
    assert names(out)["foo"] == "foo-val"  # original values, no partials
    assert visits(out) == {"foo": 10, "bar": 100, "felix": None}


def test_timeout_storm_then_arrow_stage(spark):
    """Pool-health stress (r16, VERDICT item 6): N consecutive cancelled
    freshens under spark.python.worker.reuse=true, then an Arrow stage on
    the SHARED session. Before the drain barrier in freshen_with_timeout
    this reproduced java.nio.channels.CancelledKeyException — the cancelled
    group's monitor thread destroys Python workers asynchronously, and a
    job submitted during the drain window gets handed a dying worker."""
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", AlwaysFreshen(), "",
        f"{__name__}.SlowPandasProducer",
    )
    for _ in range(3):
        out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=1000)
        assert fresh is False
        # the cancelled group must leave no running tasks behind
        tracker = spark.sparkContext.statusTracker()
        for sid in tracker.getActiveStageIds():
            info = tracker.getStageInfo(sid)
            assert info is None or info.numActiveTasks == 0, (
                f"stage {sid} still has {info.numActiveTasks} active tasks "
                f"after the timeout drain"
            )
        # an Arrow/pandas stage right after the cancel must not inherit a
        # poisoned pooled worker (several partitions → several workers)
        probe = spark.range(0, 64, 1, 8).toDF("id")

        def bump(it):
            for pdf in it:
                pdf["id"] = pdf["id"] + 1
                yield pdf

        got = probe.mapInPandas(bump, schema="id long").agg(F.sum("id")).collect()
        assert got[0][0] == sum(range(1, 65))


def test_auto_reread_drops_capsule_cache(spark):
    """Scheduled reread (RereadTask, InternalFreshKijiTableReader.java:
    211-221): the capsule cache is invalidated every period without a
    manual reread_policies call; stop cancels; period must be positive."""
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", ShelfLife(DAY_MS), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    with pytest.raises(ValueError):
        reader.start_auto_reread(0)
    reader.preload()
    assert reader._capsules is not None
    reader.start_auto_reread(100)
    deadline = time.monotonic() + 5.0
    while reader._capsules is not None and time.monotonic() < deadline:
        time.sleep(0.02)
    assert reader._capsules is None  # timer fired and invalidated
    reader.stop_auto_reread()
    reader.preload()
    time.sleep(0.3)  # stopped timer must NOT invalidate again
    assert reader._capsules is not None


def test_auto_reread_with_preload_eagerly_reresolves(spark):
    """withPreloadOnAutomaticReread (FreshKijiTableReaderBuilder.java:
    171-179, applied in rereadPolicies(boolean) at
    InternalFreshKijiTableReader.java:301-308): each scheduled reread
    immediately re-resolves capsules instead of leaving the first
    post-tick read to resolve lazily. Observable contract: after a tick,
    the cache is POPULATED (not None, unlike the plain auto-reread above)
    with a FRESH capsule dict — proof the tick both dropped and eagerly
    re-resolved. Like rereadPolicies (:271-309), a tick keeps a capsule
    whose record is unchanged and rebuilds one whose record changed."""
    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", ShelfLife(DAY_MS), "",
        f"{__name__}.IncrementVisitsProducer",
    )
    reader.preload()
    before = reader._capsules
    assert before is not None

    def tick_until(done):
        reader.start_auto_reread(100, preload=True)
        deadline = time.monotonic() + 5.0
        # a tick transiently leaves the cache None between drop and eager
        # re-resolve, so poll for the re-resolved state, not the gap
        while time.monotonic() < deadline:
            now = reader._capsules
            if now is not None and done(now):
                break
            time.sleep(0.02)
        reader.stop_auto_reread()
        now = reader._capsules
        assert now is not None and done(now)
        return now

    now = tick_until(lambda now: now is not before)
    # the record did not change: the tick kept the capsule, its compiled
    # Columns included
    assert set(now) == set(before)
    assert all(
        cap.compiled is not None
        and cap is before[col]
        and cap.compiled is before[col].compiled
        for col, cap in now.items()
    )

    # a new policy state in the registry: the next tick rebuilds the capsule
    reader.registry.remove("user_counter", "info:visits")
    reader.registry.store(
        TableLayout(df.schema), "user_counter", "info:visits",
        f"{__name__}.IncrementVisitsProducer",
        "kiji_scoring_spark.policies.ShelfLife", ShelfLife(10).serialize(),
    )
    now = tick_until(lambda now: now["info:visits"] is not before["info:visits"])
    rebuilt = now["info:visits"]
    assert rebuilt.policy.shelf_life_ms == 10
    assert rebuilt.compiled is not None
    assert rebuilt.compiled is not before["info:visits"].compiled


def test_auto_reread_start_stop_stress(spark):
    """Stress the RereadTask analog's re-arm race (round-4, VERDICT r3 #8):
    hammer start/stop from several threads with a 1ms period so ticks fire
    continuously mid-transition. The generation guard must ensure that
    after the FINAL stop no orphan timer ever invalidates the cache again
    — a tick that lost the race dies instead of re-arming."""
    import threading

    df = user_counter_df(spark)
    reader = make_reader(
        spark, df, "info:visits", ShelfLife(DAY_MS), "",
        f"{__name__}.IncrementVisitsProducer",
    )

    def hammer():
        for _ in range(50):
            reader.start_auto_reread(1)
            reader.stop_auto_reread()

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    reader.stop_auto_reread()
    # a tick already executing at stop time may invalidate once more (it
    # invalidates, then sees the stale generation and dies) — drain it
    time.sleep(0.2)
    reader.preload()
    assert reader._capsules is not None
    time.sleep(0.5)  # many would-be 1ms periods
    assert reader._capsules is not None  # no orphan timer survived


CATS = [("Jennyanydots", "Old Gumbie Cat"), ("Skimbleshanks", "Railway Cat")]


class CatLookupProducer(ExpressionProducer):
    """TestKVStores analog: score = KV lookup of the row's name."""

    def __init__(self):
        super().__init__(
            lambda df: F.col("__cat_value__"),
            data_request=["info:name"],
            output_column="info:name",
        )

    # stores get bound at test time (need a SparkSession); see test below


def test_kv_store_lookup_and_masking(spark):
    """A9: producer reads a KV store; a policy store with the
    same name masks the producer's (package-info.java:62-64)."""
    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("info_name", model.versions_type(StringType())),
        ]
    )
    df = spark.createDataFrame([("felix", [(0, "Jennyanydots")])], schema)
    cats = spark.sql(
        "SELECT * FROM VALUES ('Jennyanydots','Old Gumbie Cat'),"
        "('Skimbleshanks','Railway Cat') AS t(key, __cat_value__)"
    )
    masked = spark.sql(
        "SELECT * FROM VALUES ('Jennyanydots','MASKED') AS t(key, __cat_value__)"
    )
    producer = ExpressionProducer(
        lambda df_: F.col("__cat_value__"),
        data_request=["info:name"],
        output_column="info:name",
        required_stores={
            "cats": {"df": cats, "on": (model.most_recent_value("info_name"), "key")}
        },
    )
    from kiji_scoring_spark.fresh import Freshener
    from kiji_scoring_spark.policies import AlwaysFreshen as AF
    from kiji_scoring_spark.producers import merge_stores

    # direct capsule (store objects aren't name-serializable)
    reader = FreshTableReader(spark, "t", df, FreshenerRegistry())
    reader._capsules = {
        "info:name": Freshener("info:name", AF(), producer)
    }
    out = reader.scan(NOW_MS).select(model.most_recent_value("info_name").alias("v")).collect()
    assert out[0]["v"] == "Old Gumbie Cat"

    # masking: policy-level store with same name wins
    policy = AF()
    policy_store = {"cats": {"df": masked, "on": (model.most_recent_value("info_name"), "key")}}
    merged = merge_stores(producer.required_stores, policy_store)
    assert merged["cats"]["df"] is masked


def test_policy_store_drives_pandas_producer_with_masking(spark):
    """A9 on the Python producer path: a policy may consult its
    getRequiredStores() stores inside isFresh regardless of producer type
    (KijiFreshnessPolicy.java:86-88, exercised by TestKVStores.java:126-131)
    — previously stores were only attached on the ExpressionProducer
    branch. The producer here declares a DECOY store under the same name
    whose flags say everything is fresh; the policy's store must mask it
    (InternalFreshKijiTableReader.java:374-379), so 'foo' still rescores.
    """
    from pyspark.sql.types import DoubleType

    from kiji_scoring_spark.fresh import Freshener

    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField("info_visits", model.versions_type(DoubleType())),
        ]
    )
    df = spark.createDataFrame([("foo", [(1, 10.0)]), ("bar", [(1, 7.0)])], schema)
    flags = spark.sql(
        "SELECT * FROM VALUES ('foo','stale'),('bar','fresh') AS t(key, __flag__)"
    )
    decoy = spark.sql(
        "SELECT * FROM VALUES ('foo','fresh'),('bar','fresh') AS t(key, __flag__)"
    )

    class StoreFlagPolicy(FreshnessPolicy):
        """Fresh iff the side-input KV store says so."""

        def __init__(self, store_df):
            self._store_df = store_df

        def is_fresh(self, versions, as_of_ms):
            return F.coalesce(F.col("__flag__") == "fresh", F.lit(False))

        @property
        def required_stores(self):
            return {
                "flags": {
                    "df": self._store_df,
                    "on": ("entity_id", "key"),
                }
            }

    def double_visits(pdf):
        return pdf["info_visits"].map(lambda v: float(v[0]["value"]) * 2)

    producer = PandasProducer(
        batch_fn=double_visits,
        data_request=["info:visits"],
        output_column="info:visits",
        required_stores={
            "flags": {"df": decoy, "on": ("entity_id", "key")}
        },
    )
    reader = FreshTableReader(spark, "t", df, FreshenerRegistry())
    reader._capsules = {
        "info:visits": Freshener("info:visits", StoreFlagPolicy(flags), producer)
    }
    out = {
        r["entity_id"]: (r["v"], r["ts"])
        for r in reader.scan(NOW_MS)
        .select(
            "entity_id",
            model.most_recent_value("info_visits").alias("v"),
            model.most_recent_ts("info_visits").alias("ts"),
        )
        .collect()
    }
    # policy store flags foo stale → pandas-rescored at NOW_MS (decoy store
    # would have said fresh: masking holds on the Python path)
    assert out["foo"] == (20.0, NOW_MS)
    # bar flagged fresh → untouched
    assert out["bar"] == (7.0, 1)
    # store columns (__flag__, key) never leak into the result schema
    assert set(reader.scan(NOW_MS).columns) == {"entity_id", "info_visits"}


def _segment_reader(spark, store_df):
    """Two rows in segments 0 and 1, rescored on every read to newest
    visits x the ``mult`` store's ``m`` for the row's segment."""
    from kiji_scoring_spark.fresh import Freshener

    schema = StructType(
        [
            StructField("entity_id", LongType(), False),
            StructField("seg", LongType(), False),
            StructField("info_visits", model.versions_type(LongType())),
        ]
    )
    df = spark.createDataFrame([(1, 0, [(1, 10)]), (2, 1, [(1, 20)])], schema)
    producer = ExpressionProducer(
        lambda df_: model.most_recent_value("info_visits") * F.col("m"),
        data_request=["info:visits"],
        required_stores={"mult": {"df": store_df, "on": "seg"}},
    )
    reader = FreshTableReader(spark, "t", df, FreshenerRegistry())
    reader._capsules = {"info:visits": Freshener("info:visits", AlwaysFreshen(), producer)}
    return reader


def test_kv_store_key_must_be_unique(spark):
    """A store is a key lookup, so a key held twice is an error, not a
    fan-out of table rows; NULL keys never match and may repeat."""
    ok = spark.sql(
        "SELECT * FROM VALUES (0, 1.5D), (1, 3.0D), (NULL, 4.0D), (NULL, 5.0D) AS t(seg, m)"
    )
    reader = _segment_reader(spark, ok)
    assert visits(reader.scan(NOW_MS)) == {1: 15.0, 2: 60.0}
    assert visits(reader.get(1, NOW_MS)) == {1: 15.0}

    dup = spark.sql("SELECT * FROM VALUES (0, 1.0D), (0, 2.0D), (1, 3.0D) AS t(seg, m)")
    reader = _segment_reader(spark, dup)
    with pytest.raises(ValueError, match="'mult' holds key 0 more than once"):
        reader.get(1, NOW_MS).collect()
    with pytest.raises(ValueError, match="'mult' holds key 0 more than once"):
        reader.scan(NOW_MS).collect()


def test_kv_store_over_the_row_bound_raises(spark, monkeypatch):
    """A store past ``MAX_STORE_ROWS`` rows fails loudly: it is never
    folded, and no join stands in for the lookup."""
    from kiji_scoring_spark import producers

    monkeypatch.setattr(producers, "MAX_STORE_ROWS", 2)
    at_bound = spark.sql("SELECT * FROM VALUES (0, 1.0D), (1, 2.0D) AS t(seg, m)")
    assert visits(_segment_reader(spark, at_bound).scan(NOW_MS)) == {1: 10.0, 2: 40.0}
    over = spark.sql("SELECT * FROM VALUES (0, 1.0D), (1, 2.0D), (2, 3.0D) AS t(seg, m)")
    with pytest.raises(ValueError, match="'mult' holds more than MAX_STORE_ROWS = 2 rows"):
        _segment_reader(spark, over).scan(NOW_MS)


def test_cancelled_store_read_is_read_again(spark, tmp_path):
    """A freshen timeout that cancels a capsule's first store read leaves
    the capsule unfolded: the stale table comes back, and the next call
    reads the store again."""
    gate = tmp_path / "slow"
    gate.touch()
    gate_path = str(gate)

    def slow_store(batches):
        import os
        import time as _time

        for pdf in batches:
            if os.path.exists(gate_path):
                _time.sleep(30)
            yield pdf.assign(m=pdf["seg"] + 2.0)

    store = spark.range(2).toDF("seg").mapInPandas(slow_store, "seg long, m double")
    reader = _segment_reader(spark, store)
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=1000)
    assert fresh is False and out is reader.df
    assert reader._capsules["info:visits"].compiled.lookups is None
    gate.unlink()
    out, fresh = reader.freshen_with_timeout(NOW_MS, timeout_ms=120_000)
    assert fresh is True
    assert visits(out) == {1: 20.0, 2: 60.0}


class MapScoreFromRawProducer(ExpressionProducer):
    """Family-wide producer: writes 10 * newest metrics['raw'] into
    metrics['score'] (map_qualifier chooses the write cell,
    impl/KijiFreshProducerContext.java:115-131)."""

    map_qualifier = "score"

    def __init__(self):
        super().__init__(
            lambda df: (model.map_most_recent_value("metrics", "raw") * 10).cast("double"),
            data_request=["metrics:raw"],
            output_column="metrics",
        )


def test_a6_policy_request_map_family_other_qualifier(spark):
    """A policy data request may name a map-family cell by qualifier
    ('metrics:raw') DIFFERENT from the producer's write cell
    ('metrics:score') — each request column resolves to its own map cell,
    not the producer's (ADVICE r2: previously every map-family request
    silently read the producer's map_qualifier)."""
    from pyspark.sql.types import DoubleType, MapType

    from kiji_scoring_spark.policies import FresherThanColumn

    schema = StructType(
        [
            StructField("entity_id", StringType(), False),
            StructField(
                "metrics", MapType(StringType(), model.versions_type(DoubleType()))
            ),
        ]
    )
    rows = [
        ("a", {"raw": [(10, 7.0)], "score": [(5, 1.0)]}),    # score older than raw
        ("b", {"raw": [(100, 3.0)], "score": [(200, 6.0)]}),  # score newer than raw
        ("c", {"raw": [(50, 4.0)]}),                          # never scored
    ]
    df = spark.createDataFrame(rows, schema)
    policy = FresherThanColumn("metrics:score", "metrics:raw")
    reader = make_reader(
        spark, df, "metrics", policy, "", f"{__name__}.MapScoreFromRawProducer"
    )
    got = {
        r["entity_id"]: (r["v"], r["ts"])
        for r in reader.scan(NOW_MS)
        .select(
            "entity_id",
            model.map_most_recent_value("metrics", "score").alias("v"),
            model.most_recent_ts(model.map_get_versions("metrics", "score")).alias("ts"),
        )
        .collect()
    }
    assert got["a"] == (70.0, NOW_MS)  # rescored from raw=7.0
    assert got["b"] == (6.0, 200)      # untouched
    assert got["c"] == (40.0, NOW_MS)  # first score from raw=4.0


def test_embedding_drift_policy_rescores_only_drifted(spark):
    """EmbeddingDrift + DriftRescoreProducer (r14): entity 1's current
    embedding matches its stored codes (fresh — seed kept), entity 2
    drifted far past tau (stale — rescored to the measured drift at the
    clock), entity 3 has NO stored codes (stale by the no-version rule,
    but the producer's NULL drift keeps the old cell — A10)."""
    from pyspark.sql.types import ArrayType, DoubleType, MapType

    from kiji_scoring_spark.lib import DriftRescoreProducer  # noqa: F401
    from kiji_scoring_spark.policies import EmbeddingDrift

    dim, nsub = 64, 8
    # 2-entry codebook: entry 0 = all zeros, entry 7 = all hundreds
    cbm = {0: [0] * dim, 7: [100] * dim}
    base = [0] * dim            # quantized embedding matching entry 0
    drifted = [500] * dim       # far from every codebook entry
    t0 = 1_000
    rows = [
        # (vec_id, emb_q, codes cell, seed score cell)
        (1, base, [([0] * nsub, t0)], t0),
        (2, drifted, [([0] * nsub, t0)], t0),
        (3, base, None, t0),
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("emb_q", ArrayType(LongType())),
            StructField(
                "codes_versions",
                ArrayType(
                    StructType(
                        [
                            StructField("ts", LongType()),
                            StructField("value", ArrayType(LongType())),
                        ]
                    )
                ),
            ),
            StructField(
                "score_versions",
                ArrayType(
                    StructType(
                        [
                            StructField("ts", LongType()),
                            StructField("value", DoubleType()),
                        ]
                    )
                ),
            ),
            StructField("cb_map", MapType(LongType(), ArrayType(LongType()))),
        ]
    )
    data = [
        (
            vid,
            emb,
            None if codes is None else [(t0, codes[0][0])],
            [(seed_ts, -1.0)],
            cbm,
        )
        for vid, emb, codes, seed_ts in rows
    ]
    vt = spark.createDataFrame(data, schema)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "emb_t",
        "score:versions",
        "kiji_scoring_spark.lib.DriftRescoreProducer",
        "kiji_scoring_spark.policies.EmbeddingDrift",
        EmbeddingDrift(tau=1_000_000).serialize(),
    )
    reader = FreshTableReader(spark, "emb_t", vt, reg, key_col="vec_id")
    out = {
        r.vec_id: (
            r.score_versions[0].ts,
            r.score_versions[0].value,
            len(r.score_versions),
        )
        for r in reader.scan(NOW_MS).collect()
    }
    # entity 1: reconstruction drift 0 <= tau -> fresh, seed untouched
    assert out[1] == (1_000, -1.0, 1)
    # entity 2: drift = 64 * 400^2 (nearest entry is 7 at 100s? no — the
    # stored CODE names entry 0, so recon = zeros; drift = 64 * 500^2)
    assert out[2] == (NOW_MS, float(64 * 500 * 500), 2)
    # entity 3: stale (no codes) but NULL score -> old cell kept (A10)
    assert out[3] == (1_000, -1.0, 1)


def test_registry_attach_mid_stream_applies_next_batch(spark, tmp_path):
    """Registry-driven policy SCHEDULING under a live stream (r14 verdict
    stretch): a streaming freshen starts with NOTHING attached, and
    EmbeddingDrift is attached via the registry WHILE the stream runs —
    between micro-batches, the way the reference's RereadTask picks up
    storePolicy writes on a timer (InternalFreshKijiTableReader.java:
    211-221). The same entity is visited twice by the same reader in the
    same StreamingQuery: before the attach it keeps its seed score, after
    the attach (one reread later) it is rescored — no restart anywhere.
    Also pins the capsule-CACHE semantics: the batch that performed the
    attach still sees the pre-attach capsules until reread_policies()."""
    import os
    import shutil

    from pyspark.sql.types import ArrayType, DoubleType, MapType

    from kiji_scoring_spark.lib import DriftRescoreProducer  # noqa: F401
    from kiji_scoring_spark.policies import EmbeddingDrift

    dim, nsub = 64, 8
    cbm = {0: [0] * dim}
    t0 = 1_000
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("emb_q", ArrayType(LongType())),
            StructField(
                "codes_versions",
                ArrayType(
                    StructType(
                        [
                            StructField("ts", LongType()),
                            StructField("value", ArrayType(LongType())),
                        ]
                    )
                ),
            ),
            StructField(
                "score_versions",
                ArrayType(
                    StructType(
                        [
                            StructField("ts", LongType()),
                            StructField("value", DoubleType()),
                        ]
                    )
                ),
            ),
            StructField("cb_map", MapType(LongType(), ArrayType(LongType()))),
        ]
    )
    # entity 1 matches its stored codes (fresh forever); 2 and 3 drifted
    data = [
        (1, [0] * dim, [(t0, [0] * nsub)], [(t0, -1.0)], cbm),
        (2, [500] * dim, [(t0, [0] * nsub)], [(t0, -1.0)], cbm),
        (3, [500] * dim, [(t0, [0] * nsub)], [(t0, -1.0)], cbm),
    ]
    vt = spark.createDataFrame(data, schema)
    reg = FreshenerRegistry()  # EMPTY: the stream starts with no policy
    reader = FreshTableReader(spark, "emb_t", vt, reg, key_col="vec_id")
    drift = float(64 * 500 * 500)

    # three deterministic micro-batches of entity keys: the drifted
    # entity 2 is visited BEFORE and AFTER the mid-stream attach
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    for i, ids in enumerate([[2], [3], [2, 1]]):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            [(v,) for v in ids], "vec_id long"
        ).coalesce(1).write.parquet(staging)
        src = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(stream_dir, f"batch{i}.parquet")
        shutil.copy(os.path.join(staging, src), dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    results: dict[int, dict] = {}
    cache_probe: dict[str, object] = {}

    def freshen_batch(batch_df, batch_id):
        if batch_id == 1:
            # an external writer attaches the drift policy while the
            # stream is live (the reference's concurrent storePolicy)
            reg.store(
                TableLayout(vt.schema),
                "emb_t",
                "score:versions",
                "kiji_scoring_spark.lib.DriftRescoreProducer",
                "kiji_scoring_spark.policies.EmbeddingDrift",
                EmbeddingDrift(tau=1_000_000).serialize(),
            )
            # the capsule CACHE still serves the pre-attach (empty) set
            # until a reread — the reference's exact semantics
            cache_probe["pre_reread"] = dict(reader._resolve_capsules())
        reader.reread_policies()  # the per-batch RereadTask analog
        keys = [r.vec_id for r in batch_df.collect()]
        out = reader.scan(NOW_MS).filter(F.col("vec_id").isin(keys))
        results[batch_id] = {
            r.vec_id: (r.score_versions[0].ts, r.score_versions[0].value)
            for r in out.collect()
        }

    sq = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .writeStream.foreachBatch(freshen_batch)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    # batch 0 (nothing attached): the DRIFTED entity keeps its seed
    assert results[0] == {2: (t0, -1.0)}
    # the attach alone did not take effect — the cache held until reread
    assert cache_probe["pre_reread"] == {}
    # batch 1 (attached + reread, same reader, same running query): the
    # next micro-batch applies the policy
    assert results[1] == {3: (NOW_MS, drift)}
    # batch 2: the SAME entity that kept its seed in batch 0 is now
    # rescored; the genuinely fresh entity still keeps its seed
    assert results[2] == {2: (NOW_MS, drift), 1: (t0, -1.0)}


class NullUnlessThirty(FreshnessPolicy):
    """Fresh when the newest visits value is 30; otherwise no verdict
    (NULL), which every producer kind must treat as stale."""

    def is_fresh(self, versions, as_of_ms):
        return F.when(model.most_recent_value(versions) == 30, F.lit(True))


def plus_one_producer(kind):
    """An "add 1 to the newest visits" producer of the given kind."""
    from pyspark.ml.feature import SQLTransformer

    if kind == "expression":
        return ExpressionProducer(
            lambda df: model.most_recent_value("info_visits") + 1,
            data_request=["info:visits"],
        )
    if kind == "pandas":
        return PandasProducer(
            batch_fn=lambda pdf: pdf["info_visits"].map(lambda v: v[0]["value"] + 1),
            data_request=["info:visits"],
        )
    return MLlibProducer(
        SQLTransformer(
            statement="SELECT *, try_element_at(info_visits, 1).value + 1 "
            "AS prediction FROM __THIS__"
        )
    )


@pytest.mark.parametrize("kind", ["expression", "pandas", "mllib"])
@pytest.mark.parametrize(
    "policy, kept",
    [(AlwaysFreshen(), set()), (NullUnlessThirty(), {30.0})],
    ids=["always", "null-verdict"],
)
def test_every_producer_kind_freshens_each_row_in_place(spark, kind, policy, kept):
    """Each row is scored on its own, whatever the producer kind: a NULL
    key is rescored, a duplicated key is neither cross-scored nor fanned
    out, and a NULL policy verdict counts as stale. The reference's
    producer writes into the row it was handed
    (impl/KijiFreshProducerContext.java:102-106)."""
    from pyspark.sql.types import DoubleType

    from kiji_scoring_spark.fresh import Freshener

    schema = StructType(
        [
            StructField("entity_id", StringType(), True),
            StructField("info_visits", model.versions_type(DoubleType())),
        ]
    )
    rows = [("foo", 10.0), ("dup", 20.0), ("dup", 30.0), (None, 40.0)]
    df = spark.createDataFrame([(k, [(1, v)]) for k, v in rows], schema)
    reader = FreshTableReader(spark, "t", df, FreshenerRegistry())
    reader._capsules = {
        "info:visits": Freshener("info:visits", policy, plus_one_producer(kind))
    }
    got = reader.scan(NOW_MS).select(
        "entity_id",
        model.most_recent_value("info_visits").alias("v"),
        model.most_recent_ts("info_visits").alias("ts"),
    ).collect()
    want = [(k, v, 1) if v in kept else (k, v + 1, NOW_MS) for k, v in rows]
    assert sorted(map(tuple, got), key=repr) == sorted(want, key=repr)


def stale_every_other_partition(spark):
    """40 rows in 4 partitions of 10 contiguous ids. At NOW_MS under a
    one-day ShelfLife, ids 10-19 are stale, ids 20-29 are stale when even,
    and ids 0-9 and 30-39 are fresh."""
    from pyspark.sql.types import DoubleType

    ts = (
        F.when((F.col("id") >= 10) & (F.col("id") < 20), F.lit(1))
        .when((F.col("id") >= 20) & (F.col("id") < 30) & (F.col("id") % 2 == 0), F.lit(1))
        .otherwise(F.lit(NOW_MS))
        .cast("long")
    )
    cell = F.struct(ts.alias("ts"), F.col("id").cast(DoubleType()).alias("value"))
    return spark.range(0, 40, 1, 4).select(
        F.col("id").alias("entity_id"),
        F.array(cell).cast(model.versions_type(DoubleType())).alias("info_visits"),
    )


STALE_IDS = set(range(10, 20)) | set(range(20, 30, 2))


def test_pandas_batch_fn_sees_only_stale_rows(spark, tmp_path):
    """``batch_fn`` is handed the stale rows of each Arrow batch and
    nothing else: a partition with no stale row never calls it, and
    ``setup``/``cleanup`` still run once per partition. Each Python call
    leaves a file behind, so the calls can be counted on the driver."""
    import json
    import os
    import uuid

    from kiji_scoring_spark.fresh import Freshener

    log = str(tmp_path)

    def record(kind, payload):
        with open(os.path.join(log, f"{kind}-{uuid.uuid4().hex}"), "w") as f:
            json.dump(payload, f)

    def batch_fn(pdf):
        record("batch", [int(k) for k in pdf["entity_id"]])
        return pdf["info_visits"].map(lambda v: v[0]["value"] + 100)

    def setup():
        token = uuid.uuid4().hex
        record("setup", token)
        return token

    producer = PandasProducer(
        batch_fn=batch_fn, data_request=["info:visits"], setup=setup,
        cleanup=lambda token: record("cleanup", token),
    )
    reader = FreshTableReader(
        spark, "t", stale_every_other_partition(spark), FreshenerRegistry()
    )
    reader._capsules = {"info:visits": Freshener("info:visits", ShelfLife(DAY_MS), producer)}
    got = {
        r["entity_id"]: r["v"]
        for r in reader.scan(NOW_MS)
        .select("entity_id", model.most_recent_value("info_visits").alias("v"))
        .collect()
    }
    assert got == {k: k + 100.0 if k in STALE_IDS else float(k) for k in range(40)}

    calls = {}
    for name in os.listdir(log):
        with open(os.path.join(log, name)) as f:
            calls.setdefault(name.split("-")[0], []).append(json.load(f))
    # one call for the all-stale partition and one for the mixed one
    assert sorted(calls["batch"]) == [list(range(10, 20)), list(range(20, 30, 2))]
    assert len(calls["setup"]) == 4
    assert sorted(calls["cleanup"]) == sorted(calls["setup"])


def three_kind_reader(spark, allow_partial):
    """An expression, a pandas and an MLlib capsule on three columns of a
    table whose cells are all stale."""
    from pyspark.ml.feature import SQLTransformer
    from pyspark.sql.types import DoubleType

    from kiji_scoring_spark.fresh import Freshener

    cols = ("a_versions", "b_versions", "c_versions")
    df = spark.range(0, 30, 1, 3).select(
        F.col("id").alias("entity_id"),
        *[
            F.array(F.struct(F.lit(1).cast("long").alias("ts"),
                             F.col("id").cast(DoubleType()).alias("value")))
            .cast(model.versions_type(DoubleType())).alias(c)
            for c in cols
        ],
    )
    reader = FreshTableReader(spark, "three_kinds", df, FreshenerRegistry(),
                              allow_partial=allow_partial)
    reader._capsules = {
        "a:versions": Freshener("a:versions", AlwaysFreshen(), ExpressionProducer(
            lambda df: model.most_recent_value("a_versions") + 1, data_request=["a:versions"],
        )),
        "b:versions": Freshener("b:versions", AlwaysFreshen(), PandasProducer(
            batch_fn=lambda pdf: pdf["b_versions"].map(lambda v: v[0]["value"] + 2),
            data_request=["b:versions"],
        )),
        "c:versions": Freshener("c:versions", AlwaysFreshen(), MLlibProducer(SQLTransformer(
            statement="SELECT *, try_element_at(c_versions, 1).value + 3 "
            "AS prediction FROM __THIS__"
        ))),
    }
    return reader


@pytest.mark.parametrize("allow_partial, jobs", [(False, [1, 0, 0]), (True, [1, 1, 1])],
                         ids=["whole", "partial"])
def test_freshen_with_timeout_writes_once_unless_partial(spark, allow_partial, jobs):
    """Without ``allow_partial`` every capsule is one plan and one write
    job, under one job group; with it each capsule is its own write job,
    so a finished capsule can be returned on its own. The rows are the
    same either way."""
    reader = three_kind_reader(spark, allow_partial)
    as_of = NOW_MS + (7 if allow_partial else 3)
    out, fresh = reader.freshen_with_timeout(as_of, timeout_ms=120_000)
    assert fresh is True
    tracker = spark.sparkContext.statusTracker()
    assert [
        len(tracker.getJobIdsForGroup(f"freshen-three_kinds-{as_of}-{i}")) for i in range(3)
    ] == jobs
    got = out.select(
        "entity_id",
        *[model.most_recent_value(f"{c}_versions").alias(c) for c in "abc"],
        *[model.most_recent_ts(f"{c}_versions").alias(f"{c}_ts") for c in "abc"],
    ).collect()
    assert sorted(map(tuple, got)) == [
        (k, k + 1.0, k + 2.0, k + 3.0, as_of, as_of, as_of) for k in range(30)
    ]
