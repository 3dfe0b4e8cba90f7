"""Kiji-semantics queries — the reference's core operators exercised over
the driver testdata AND hash-checked against SQL oracles (SURVEY §2.A).

The events table plays the role of the Kiji table's version history:
``user_id`` is the EntityId, each event a timestamped cell version of the
``value`` column. Queries build the versioned-cell encoding (§1.2) with
one shuffle (collect_list per key), then run the REAL engine code paths
(model helpers, policies, the freshen pass) on it. The oracle recomputes
the same semantics with plain windows — so the engine's versioned model
and scoring operators are oracle-verified, not just unit-tested.

Scale: collect_list per entity is the standard versioned-table compaction
shape; state per key is bounded by versions-per-entity, and AQE handles
skewed entities. The freshen pass itself adds no shuffle on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import model
from .fresh import FreshTableReader
from .policies import FresherThanColumn, NewerThan, ShelfLife
from .registry import FreshenerRegistry, TableLayout
from .queries import query
from .sources import load_table

#: injected clock: 2024-01-30 00:00:00 UTC in ms (events span Jan 2024)
AS_OF_MS = 1_706_572_800_000
DAY_MS = 86_400_000

_EPOCH_MS = "CAST(epoch_ms(ts) AS BIGINT)"


def versioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → versioned-cell table: (user_id, value_versions) with the
    version array sorted ts-desc, ts in epoch ms (§1.2 encoding)."""
    ev = load_table(spark, sf_dir, "events")
    # sort key carries event_id: two events can share a millisecond, and
    # the bare (ts, value) struct order would tie-break by VALUE — a
    # nondeterminism the oracles (which order by ts, event_id) don't share
    # and that surfaces the moment payloads can be NULL. The id is
    # stripped after sorting so the cell shape stays (ts, value).
    cell = F.struct(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long").alias("ts"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("value"),
    )
    arr = F.reverse(F.array_sort(F.collect_list(cell)))
    return ev.groupBy("user_id").agg(
        F.transform(
            arr, lambda x: F.struct(x["ts"].alias("ts"), x["value"].alias("value"))
        ).alias("value_versions")
    )


@query(
    "versioned_most_recent_read",
    f"""
    SELECT user_id, newest_ts, newest_value, n_versions FROM (
      SELECT user_id,
        {_EPOCH_MS} AS newest_ts, value AS newest_value,
        -- the cell model's newest-cell contract EXACTLY: millisecond-
        -- truncated ts, event_id as the tie-break (versioned_events sorts
        -- cells by (ms, eid)). Bare "ORDER BY ts DESC" is ambiguous the
        -- moment two events share a timestamp — the ts-edge regime's
        -- epoch-0 sentinel rows made every such user nondeterministic (r6)
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY {_EPOCH_MS} DESC, event_id DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events) t
    WHERE rn = 1 ORDER BY user_id
    """,
    "kiji", "versioned",
)
def versioned_most_recent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 maxVersions=1 read through the REAL versioned-cell model
    (model.most_recent_*), oracle-checked against a window query."""
    vt = versioned_events(spark, sf_dir)
    return vt.select(
        "user_id",
        model.most_recent_ts("value_versions").alias("newest_ts"),
        model.most_recent_value("value_versions").alias("newest_value"),
        F.size("value_versions").cast("long").alias("n_versions"),
    ).orderBy("user_id")


@query(
    "versioned_time_range_read",
    f"""
    SELECT user_id,
      COUNT(*) AS n_in_range,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_in_range
    FROM events
    WHERE {_EPOCH_MS} >= 1704672000000 AND {_EPOCH_MS} < 1705536000000
    GROUP BY user_id ORDER BY user_id
    """,
    "kiji", "versioned",
)
def versioned_time_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KijiDataRequest.withTimeRange [lo, hi) over the versions array
    (model.versions_in_range), vs a plain predicate oracle.
    Range: 2024-01-08 .. 2024-01-18 UTC."""
    vt = versioned_events(spark, sf_dir)
    in_range = model.versions_in_range("value_versions", 1_704_672_000_000, 1_705_536_000_000)
    return (
        vt.select("user_id", in_range.alias("vr"))
        .filter(F.size("vr") > 0)
        .select(
            "user_id",
            F.size("vr").cast("long").alias("n_in_range"),
            # full SUM semantics over the cell array: NULL payloads are
            # SKIPPED by the fold (coalesce — acc + NULL would poison it),
            # but a row whose every cell is NULL must yield NULL, not the
            # fold seed 0 (round-6 fix: the key-level null regime built a
            # user with all-NULL values and SQL SUM returned NULL where
            # the fold returned 0.0)
            F.when(
                F.exists(F.col("vr"), lambda x: x["value"].isNotNull()),
                F.aggregate(
                    F.col("vr"),
                    F.lit(0).cast("decimal(18,2)"),
                    lambda acc, x: (
                        acc + F.coalesce(x["value"].cast("decimal(18,2)"), F.lit(0))
                    ).cast("decimal(18,2)"),
                ).cast("double"),
            ).alias("sum_in_range"),
        )
        .orderBy("user_id")
    )


@query(
    "freshness_shelf_life_partition",
    f"""
    SELECT user_id, newest_ts,
      CASE WHEN {AS_OF_MS} - newest_ts <= {7 * DAY_MS} THEN 1 ELSE 0 END AS is_fresh
    FROM (
      SELECT user_id, max({_EPOCH_MS}) AS newest_ts FROM events GROUP BY user_id
    ) t ORDER BY user_id
    """,
    "kiji", "freshness",
)
def freshness_shelf_life_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5c ShelfLife(7 days) evaluated through the REAL policy class at the
    injected clock — the stale/fresh partition the freshen pass filters on."""
    vt = versioned_events(spark, sf_dir)
    policy = ShelfLife(7 * DAY_MS)
    return vt.select(
        "user_id",
        model.most_recent_ts("value_versions").alias("newest_ts"),
        policy.is_fresh(F.col("value_versions"), AS_OF_MS).cast("int").alias("is_fresh"),
    ).orderBy("user_id")


@query(
    "freshness_newer_than_partition",
    f"""
    SELECT user_id, newest_ts,
      CASE WHEN newest_ts >= 1706054400000 THEN 1 ELSE 0 END AS is_fresh
    FROM (
      SELECT user_id, max({_EPOCH_MS}) AS newest_ts FROM events GROUP BY user_id
    ) t ORDER BY user_id
    """,
    "kiji", "freshness",
)
def freshness_newer_than_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5d NewerThan(2024-01-24 00:00 UTC) through the real policy class."""
    vt = versioned_events(spark, sf_dir)
    policy = NewerThan(1_706_054_400_000)
    return vt.select(
        "user_id",
        model.most_recent_ts("value_versions").alias("newest_ts"),
        policy.is_fresh(F.col("value_versions"), AS_OF_MS).cast("int").alias("is_fresh"),
    ).orderBy("user_id")


@query(
    "fresh_batch_scoring",
    # ORACLE NULL CONVENTION: max_by skips NULL values, but the engine's
    # newest-cell read returns the newest cell even when its payload is
    # NULL (a put of a null value is still the newest version). Wrapping
    # in a struct -- max_by(struct(value), ord).v -- makes max_by
    # null-preserving, aligning the oracles with versioned-cell reads.
    # (Braces doubled below: the oracle is an f-string.)
    f"""
    SELECT user_id, score_ts, score FROM (
      SELECT user_id,
        CASE WHEN {AS_OF_MS} - max({_EPOCH_MS}) <= {5 * DAY_MS}
             THEN max({_EPOCH_MS})
             ELSE {AS_OF_MS} END AS score_ts,
        CASE WHEN {AS_OF_MS} - max({_EPOCH_MS}) <= {5 * DAY_MS}
             THEN max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v
             ELSE max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v * 2 END AS score
      FROM events GROUP BY user_id
    ) t ORDER BY user_id
    """,
    "kiji", "freshness", "scoring",
)
def fresh_batch_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE core operator (A7): conditional score-and-writeback through the
    full engine stack — registry record → policy (ShelfLife 5d) → producer
    (DoubleLatestValueProducer) → freshen pass → versioned write — then a
    most-recent read of the result. The oracle recomputes the same with a
    window+CASE. (InternalFreshKijiTableReader.java:504-619 semantics.)"""
    vt = versioned_events(spark, sf_dir)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "events_versioned",
        "value:versions",
        "kiji_scoring_spark.lib.DoubleLatestValueProducer",
        "kiji_scoring_spark.policies.ShelfLife",
        ShelfLife(5 * DAY_MS).serialize(),
    )
    reader = FreshTableReader(
        spark, "events_versioned", vt, reg, key_col="user_id"
    )
    fresh_df = reader.scan(AS_OF_MS)
    return fresh_df.select(
        "user_id",
        model.most_recent_ts("value_versions").alias("score_ts"),
        model.most_recent_value("value_versions").alias("score"),
    ).orderBy("user_id")


#: A6 clock: 2024-02-01 00:00 UTC — past every event ts (events end Jan 30),
#: so a producer write at the clock is always the newest version.
A6_AS_OF_MS = 1_706_745_600_000

@query(
    "fresh_a6_policy_own_request",
    f"""
    SELECT user_id, score_ts, score FROM (
      SELECT user_id,
        -- three outcomes: fresh (seed kept), stale-with-null-source
        -- (producer emits NULL -> the A10 stale fallback keeps the OLD
        -- score cell, i.e. the seed), stale (rescored at the clock)
        CASE WHEN user_id % 3 = 0 THEN newest_ts + 1000
             WHEN newest_value IS NULL THEN newest_ts - 1000
             ELSE {A6_AS_OF_MS} END AS score_ts,
        CASE WHEN user_id % 3 = 0 THEN CAST(user_id AS DOUBLE)
             WHEN newest_value IS NULL THEN CAST(user_id AS DOUBLE)
             ELSE newest_value * 2 END AS score
      FROM (
        SELECT user_id, max({_EPOCH_MS}) AS newest_ts,
               max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v AS newest_value
        FROM events GROUP BY user_id) t
    ) ORDER BY user_id
    """,
    "kiji", "freshness", "scoring",
)
def fresh_a6_policy_own_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — the policy's OWN data request: FresherThanColumn judges the
    derived ``score:versions`` column stale iff the SOURCE
    ``value:versions`` column has a newer version (the reference's
    shouldUseClientDataRequest=false branch,
    ``InternalFreshKijiTableReader.java:526-536``, second read
    ``:588-596``). Seed: users with ``user_id % 3 == 0`` were scored just
    AFTER their newest event (fresh → kept), everyone else just BEFORE
    (stale → rescored to 2 × newest value at the injected clock)."""
    vt = versioned_events(spark, sf_dir)
    newest = model.most_recent_ts("value_versions")
    score_cell = F.struct(
        F.when(F.col("user_id") % 3 == 0, newest + 1000)
        .otherwise(newest - 1000)
        .cast("long")
        .alias("ts"),
        F.col("user_id").cast("double").alias("value"),
    )
    vt = vt.withColumn("score_versions", F.array(score_cell))
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "events_versioned",
        "score:versions",
        "kiji_scoring_spark.lib.DoubleLatestValueProducer",
        "kiji_scoring_spark.policies.FresherThanColumn",
        FresherThanColumn("score:versions", "value:versions").serialize(),
    )
    reader = FreshTableReader(spark, "events_versioned", vt, reg, key_col="user_id")
    fresh_df = reader.scan(A6_AS_OF_MS)
    return fresh_df.select(
        "user_id",
        model.most_recent_ts("score_versions").alias("score_ts"),
        model.most_recent_value("score_versions").alias("score"),
    ).orderBy("user_id")


@query(
    "fresh_a9_kv_masked_scoring",
    f"""
    SELECT user_id, score FROM (
      SELECT user_id,
        CASE WHEN {AS_OF_MS} - max({_EPOCH_MS}) <= {5 * DAY_MS}
             THEN max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v
             ELSE max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v
                  * (2 + user_id % 5) END AS score
      FROM events GROUP BY user_id
    ) t ORDER BY user_id
    """,
    "kiji", "freshness", "scoring", "kv",
)
def fresh_a9_kv_masked_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — KV side-inputs with POLICY-MASKS-PRODUCER semantics, under
    the oracle gate (was local-test-only): the producer declares a
    required store ``mult`` (a constant 100.0 — a poison value), the
    policy declares a store with the SAME name mapping segment →
    2 + seg, and the reference contract says the policy's store wins
    (``impl/InternalFreshKijiTableReader.java:374-379``, exercised by
    ``TestKVStores.java:126-131``). Stale users are rescored to
    newest_value × mult from the store that SURVIVED masking, so if
    masking ever regressed the scores would be 100× and the hash check
    fails — masking is verified by VALUES, not by inspection.

    Scale: stores attach as broadcast left joins before the freshness
    predicate (every producer branch sees them); the store is 5 rows —
    the classic dimension-broadcast shape. The freshen pass itself adds
    no shuffle beyond the versioned compaction."""
    from .fresh import Freshener
    from .producers import ExpressionProducer

    class ShelfLifeWithStore(ShelfLife):
        """ShelfLife overriding the required_stores extension point
        (``KijiFreshnessPolicy.java:86-88`` getRequiredStores)."""

        def __init__(self, shelf_life_ms: int, stores: dict):
            super().__init__(shelf_life_ms)
            self._stores = stores

        @property
        def required_stores(self) -> dict:
            return self._stores

    vt = versioned_events(spark, sf_dir).withColumn(
        "seg", (F.col("user_id") % 5).cast("long")
    )
    seg = spark.range(5).select(F.col("id").alias("seg"))
    policy_store = {
        "df": seg.withColumn("m", (F.col("seg") + 2).cast("double")),
        "on": "seg",
        "select": {"mult": "m"},
    }
    producer_store = {
        "df": seg.withColumn("m", F.lit(100.0)),
        "on": "seg",
        "select": {"mult": "m"},
    }
    producer = ExpressionProducer(
        lambda df: model.most_recent_value("value_versions") * F.col("mult"),
        data_request=["value:versions"],
        required_stores={"mult": producer_store},
    )
    policy = ShelfLifeWithStore(5 * DAY_MS, {"mult": policy_store})
    reader = FreshTableReader(
        spark, "events_versioned", vt, FreshenerRegistry(), key_col="user_id"
    )
    # bind the capsule directly (the reference's makeCapsule product,
    # InternalFreshKijiTableReader.java:356-386) — instance producers with
    # DataFrame-backed stores have no class-path registry form
    reader._capsules = {
        "value:versions": Freshener("value:versions", policy, producer)
    }
    fresh_df = reader.scan(AS_OF_MS)
    return fresh_df.select(
        "user_id", model.most_recent_value("value_versions").alias("score")
    ).orderBy("user_id")


@query(
    "fresh_bulk_get_scored",
    f"""
    SELECT user_id, score FROM (
      SELECT user_id,
        CASE WHEN {AS_OF_MS} - max({_EPOCH_MS}) <= {5 * DAY_MS}
             THEN max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v
             ELSE max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v * 2 END AS score
      FROM events GROUP BY user_id
    ) t WHERE user_id IN (1, 2, 3, 5, 8, 13, 21, 34)
    ORDER BY user_id
    """,
    "kiji", "freshness", "scoring",
)
def fresh_bulk_get_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 through the fresh reader: bulkGet of 8 entities with freshening
    (InternalFreshKijiTableReader.java:767-806 → semi-join + freshen)."""
    vt = versioned_events(spark, sf_dir)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "events_versioned",
        "value:versions",
        "kiji_scoring_spark.lib.DoubleLatestValueProducer",
        "kiji_scoring_spark.policies.ShelfLife",
        ShelfLife(5 * DAY_MS).serialize(),
    )
    reader = FreshTableReader(spark, "events_versioned", vt, reg, key_col="user_id")
    got = reader.bulk_get([1, 2, 3, 5, 8, 13, 21, 34], AS_OF_MS)
    return got.select(
        "user_id", model.most_recent_value("value_versions").alias("score")
    ).orderBy("user_id")


#: second scoring cycle, one day after the first — users whose newest
#: event falls in the (AS_OF-5d, AS_OF-4d] band cross the shelf-life
#: boundary between the two cycles.
AS_OF2_MS = AS_OF_MS + DAY_MS


@query(
    "fresh_scoring_snapshot_pipeline",
    f"""
    WITH s AS (
      SELECT user_id, max({_EPOCH_MS}) AS newest_ts,
        max_by({{'v': value}}, CAST(epoch_ms(ts) AS BIGINT) * 1000000 + event_id).v
          AS newest_value
      FROM events GROUP BY user_id
    ), v1 AS (
      SELECT user_id,
        CASE WHEN {AS_OF_MS} - newest_ts <= {5 * DAY_MS}
             THEN newest_ts ELSE {AS_OF_MS} END AS score_ts,
        CASE WHEN {AS_OF_MS} - newest_ts <= {5 * DAY_MS}
             THEN newest_value ELSE newest_value * 2 END AS score
      FROM s
    ), v2 AS (
      SELECT user_id,
        CASE WHEN {AS_OF2_MS} - newest_ts <= {5 * DAY_MS}
             THEN newest_ts ELSE {AS_OF2_MS} END AS score_ts,
        CASE WHEN {AS_OF2_MS} - newest_ts <= {5 * DAY_MS}
             THEN newest_value ELSE newest_value * 2 END AS score
      FROM s
    )
    SELECT v1.user_id, 'U' AS change,
      v1.score AS old_score, v2.score AS new_score,
      v1.score_ts AS old_ts, v2.score_ts AS new_ts
    FROM v1 JOIN v2 ON v1.user_id = v2.user_id
    WHERE v1.score <> v2.score OR v1.score_ts <> v2.score_ts
    ORDER BY v1.user_id
    """,
    "kiji", "freshness", "scoring", "snapshot", "diff",
)
def fresh_scoring_snapshot_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 200th registry query, and the round-5 capstone: the
    reference's core operator (A7 conditional score-and-writeback)
    composed with the round-5 lakehouse machinery, end to end —

    1. the FULL engine stack (registry record → ShelfLife(5d) policy →
       DoubleLatestValueProducer → freshen scan) scores every user at
       clock T, and the scored table is committed as snapshot v1;
    2. the SAME stack re-runs at clock T+1d — users whose newest event
       crossed the shelf-life boundary in between flip from fresh to
       stale and get rescored — and is committed as snapshot v2;
    3. the two PUBLISHED versions are compared with the
       checksum-bucketed diff, reporting exactly which users the second
       cycle changed (still-fresh users are bit-identical across
       versions and never appear).

    This is what the engine is FOR at 100 TB: periodic freshening runs
    that each touch only their stale slice, versioned so any cycle can
    be audited or rolled back, with reconciliation that reads a few
    buckets instead of the table. The oracle restates both cycles as
    window SQL and diffs them directly."""
    from .operators.maintenance import checksum_diff
    from .operators.snapshots import commit_snapshot, latest_version, read_snapshot
    from .queries_graph import _state_path

    vt = versioned_events(spark, sf_dir)
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "events_versioned",
        "value:versions",
        "kiji_scoring_spark.lib.DoubleLatestValueProducer",
        "kiji_scoring_spark.policies.ShelfLife",
        ShelfLife(5 * DAY_MS).serialize(),
    )
    reader = FreshTableReader(spark, "events_versioned", vt, reg, key_col="user_id")

    path = _state_path(sf_dir, "fresh_score_snapshots")
    if latest_version(path) is None:
        for as_of in (AS_OF_MS, AS_OF2_MS):
            scored = reader.scan(as_of).select(
                "user_id",
                model.most_recent_ts("value_versions").alias("score_ts"),
                model.most_recent_value("value_versions").alias("score"),
            )
            commit_snapshot(scored, path, mode="overwrite")

    def view(version: int) -> DataFrame:
        return read_snapshot(spark, path, version)

    d = checksum_diff(
        view(1), view(2), key="user_id", canon_cols=["score", "score_ts"]
    )
    return d.select(
        "user_id",
        "change",
        F.col("old_score").alias("old_score"),
        F.col("new_score").alias("new_score"),
        F.col("old_score_ts").alias("old_ts"),
        F.col("new_score_ts").alias("new_ts"),
    ).orderBy("user_id")


def _meta_layout() -> TableLayout:
    from pyspark.sql.types import MapType, StringType, StructField, StructType

    return TableLayout(
        StructType(
            [
                StructField("entity_id", StringType()),
                StructField("info_name", model.versions_type(StringType())),
                StructField("info_email", model.versions_type(StringType())),
                StructField(
                    "networks",
                    MapType(StringType(), model.versions_type(StringType())),
                ),
            ]
        )
    )


_META_POLICY = "kiji_scoring_spark.policies.ShelfLife"
_META_PRODUCER = "kiji_scoring_spark.producers.Producer"


@query(
    "registry_metadata_crud_roundtrip",
    """
    SELECT * FROM (VALUES
      ('user', 'info:name', 'kiji_scoring_spark.policies.NewerThan',
       'kiji_scoring_spark.producers.Producer', '{"target": 42}'),
      ('user', 'networks:home', 'kiji_scoring_spark.policies.ShelfLife',
       'kiji_scoring_spark.producers.Producer', '{"shelf_ms": 1000}')
    ) AS t(tbl, col, policy_class, producer_class, policy_state)
    ORDER BY col
    """,
    "kiji", "metadata",
)
def registry_metadata_crud_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 metadata CRUD as a driver-checked query (was local-golden
    only): a scripted store → store → store → remove → UPDATE sequence
    runs through the REAL registry — every store passes the full A15
    validation matrix, the update is remove-then-store exactly like
    the reference's ``storePolicyWithStrings`` overwrite path
    (``KijiFreshnessManager.java:235-295``) — and the surviving records
    are emitted as rows. The oracle states the expected final registry
    verbatim; any CRUD bug (phantom record, failed delete, stale state
    after update) shifts the rows and fails the hash.
    """
    reg = FreshenerRegistry()
    layout = _meta_layout()
    reg.store(layout, "user", "info:name", _META_PRODUCER, _META_POLICY, '{"shelf_ms": 5}')
    reg.store(layout, "user", "info:email", _META_PRODUCER, _META_POLICY, "{}")
    reg.store(
        layout, "user", "networks:home", _META_PRODUCER, _META_POLICY, '{"shelf_ms": 1000}'
    )
    reg.remove("user", "info:email")
    # update = remove + store (the overwrite path)
    reg.remove("user", "info:name")
    reg.store(
        layout,
        "user",
        "info:name",
        _META_PRODUCER,
        "kiji_scoring_spark.policies.NewerThan",
        '{"target": 42}',
    )
    rows = [
        (t, c, r.freshness_policy_class, r.producer_class, r.freshness_policy_state)
        for (t, c), r in sorted(reg._records.items())
    ]
    return spark.createDataFrame(
        rows, "tbl string, col string, policy_class string, "
        "producer_class string, policy_state string"
    ).orderBy("col")


@query(
    "registry_attachment_validation_matrix",
    """
    SELECT * FROM (VALUES
      ('1_ok_qualified', 'OK'),
      ('2_bad_policy_name', 'BAD_POLICY_NAME'),
      ('3_bad_producer_name', 'BAD_PRODUCER_NAME'),
      ('4_no_family', 'NO_FAMILY_IN_TABLE'),
      ('5_no_qualified_column', 'NO_QUALIFIED_COLUMN_IN_TABLE'),
      ('6_group_family_attachment', 'GROUP_TYPE_FAMILY_ATTACHMENT'),
      ('7_already_attached', 'FRESHENER_ALREADY_ATTACHED'),
      ('8_map_family_conflict', 'FRESHENER_ALREADY_ATTACHED')
    ) AS t(mode, failures)
    ORDER BY mode
    """,
    "kiji", "metadata",
)
def registry_attachment_validation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15's 8-mode attachment validation as a driver-checked query
    (``validateAttachment``, ``KijiFreshnessManager.java:546-641``):
    each mode exercises the REAL validator against a layout with both
    group- and map-type families — valid attachment, malformed class
    names (policy and producer), unknown family, unknown qualified
    column, family-level attachment to a GROUP family, double
    attachment, and the map-family-vs-qualified mutual exclusion. The
    emitted (mode, failure-set) rows must match the oracle's statement
    of the contract exactly."""
    layout = _meta_layout()
    reg = FreshenerRegistry()
    reg.store(layout, "user", "info:name", _META_PRODUCER, _META_POLICY, "{}")
    reg.store(layout, "user", "networks:home", _META_PRODUCER, _META_POLICY, "{}")

    cases = [
        ("1_ok_qualified", "info:email", _META_POLICY, _META_PRODUCER),
        ("2_bad_policy_name", "info:email", "not a class!", _META_PRODUCER),
        ("3_bad_producer_name", "info:email", _META_POLICY, "99bad..name"),
        ("4_no_family", "absent:col", _META_POLICY, _META_PRODUCER),
        ("5_no_qualified_column", "info:phone", _META_POLICY, _META_PRODUCER),
        ("6_group_family_attachment", "info", _META_POLICY, _META_PRODUCER),
        ("7_already_attached", "info:name", _META_POLICY, _META_PRODUCER),
        ("8_map_family_conflict", "networks", _META_POLICY, _META_PRODUCER),
    ]
    rows = []
    for mode, column, policy, producer in cases:
        failures = reg.validate_attachment(layout, "user", column, producer, policy)
        label = ",".join(sorted(f.value for f in failures)) or "OK"
        rows.append((mode, label))
    return spark.createDataFrame(rows, "mode string, failures string").orderBy("mode")


@query(
    "cli_freshtool_six_modes",
    """
    SELECT * FROM (VALUES
      (1, 'register', 0,
       'Freshness policy: kiji_scoring_spark.policies.ShelfLife and producer: kiji_scoring_spark.producers.Producer attached to column: event:type in table: events'),
      (2, 'retrieve', 0,
       'Column: event:type / Freshness policy class: kiji_scoring_spark.policies.ShelfLife / Freshness policy state: {"shelf_life_ms": 5} / Producer class: kiji_scoring_spark.producers.Producer'),
      (3, 'retrieve-all', 0,
       'Column: event:type / Freshness policy class: kiji_scoring_spark.policies.ShelfLife / Freshness policy state: {"shelf_life_ms": 5} / Producer class: kiji_scoring_spark.producers.Producer'),
      (4, 'validate', 0, 'Column: event:type valid'),
      (5, 'validate-all', 0, 'Column: event:type valid'),
      (6, 'unregister', 0,
       'Freshness policy removed from column: event:type in table: events'),
      (7, 'retrieve-missing', 1,
       'There is no freshness policy attached to column: event:type in table: events')
    ) AS t(step, mode, exit_code, output)
    ORDER BY step
    """,
    "kiji", "metadata", "cli",
)
def cli_freshtool_six_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — the FreshTool CLI's six modes (register | retrieve |
    retrieve-all | validate | validate-all | unregister, dispatch
    ``tools/FreshTool.java:405-502``) as a driver-checked query: the
    REAL argparse entrypoint runs a register→inspect→validate→
    unregister lifecycle against the events parquet footer (layout read
    without a SparkSession, matching the reference's metadata-only
    behavior), stdout and exit codes captured per step — including the
    exit-1 retrieve-after-unregister. Every byte of CLI output and
    every exit code is stated verbatim by the oracle (newlines folded
    to ' / ' for VALUES portability)."""
    import contextlib
    import io
    import os as _os
    import tempfile as _tf

    from .cli import main as cli_main

    reg_path = _os.path.join(_tf.mkdtemp(prefix="kss_cli_"), "reg.json")
    tbl = f"{sf_dir}/events.parquet"
    common = ["--registry", reg_path]
    steps = [
        (
            1,
            "register",
            common
            + [
                "register", "--table", "events", "--table-path", tbl,
                "--column", "event:type",
                "--policy", "kiji_scoring_spark.policies.ShelfLife",
                "--producer", "kiji_scoring_spark.producers.Producer",
                "--state", '{"shelf_life_ms": 5}',
            ],
        ),
        (2, "retrieve", common + ["retrieve", "--table", "events", "--column", "event:type"]),
        (3, "retrieve-all", common + ["retrieve-all", "--table", "events"]),
        (
            4,
            "validate",
            common
            + ["validate", "--table", "events", "--table-path", tbl, "--column", "event:type"],
        ),
        (
            5,
            "validate-all",
            common + ["validate-all", "--table", "events", "--table-path", tbl],
        ),
        (6, "unregister", common + ["unregister", "--table", "events", "--column", "event:type"]),
        (7, "retrieve-missing", common + ["retrieve", "--table", "events", "--column", "event:type"]),
    ]
    rows = []
    for step, mode, argv in steps:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            try:
                code = cli_main(argv)
            except SystemExit as e:  # argparse-style exits
                code = int(e.code or 0)
        out = " / ".join(
            line.strip() for line in buf.getvalue().splitlines() if line.strip()
        )
        rows.append((step, mode, code, out))
    return spark.createDataFrame(
        rows, "step int, mode string, exit_code int, output string"
    ).orderBy("step")


@query(
    "plugin_instantiation_by_name",
    """
    SELECT * FROM (VALUES
      ('kiji_scoring_spark.policies.AlwaysFreshen', '', '', TRUE),
      ('kiji_scoring_spark.policies.NeverFreshen', '', '', TRUE),
      ('kiji_scoring_spark.policies.NewerThan',
       '{"newerThanTimeMillis": -1}', '{"newerThanTimeMillis": 1706054400000}', TRUE),
      ('kiji_scoring_spark.policies.ShelfLife',
       '{"shelfLife": -1}', '{"shelfLife": 432000000}', TRUE)
    ) AS t(class_name, default_state, hydrated_state, roundtrip_stable)
    ORDER BY class_name
    """,
    "kiji", "metadata",
)
def plugin_instantiation_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — plugin instantiation by dotted class name, driver-checked
    (was local-test only): each stock policy is loaded via the
    registry's importlib path (the reference's
    ``ReflectionUtils.newInstance`` analog, ``KijiFreshnessManager.java``
    record → class hydration), instantiated with its DEFAULT state,
    hydrated from a serialized state string, and round-tripped
    serialize→deserialize→serialize into a fresh instance. The oracle
    states every serialized form verbatim (the reference's camelCase
    state keys, ``ShelfLife.java:118-134``) plus the round-trip
    stability bit — a drift in state schema, key naming, or defaults
    fails the hash."""
    from .registry import load_class

    cases = [
        ("kiji_scoring_spark.policies.AlwaysFreshen", None),
        ("kiji_scoring_spark.policies.NeverFreshen", None),
        (
            "kiji_scoring_spark.policies.NewerThan",
            '{"newerThanTimeMillis": 1706054400000}',
        ),
        ("kiji_scoring_spark.policies.ShelfLife", '{"shelfLife": 432000000}'),
    ]
    rows = []
    for name, state in cases:
        cls = load_class(name)
        default_state = cls().serialize()
        inst = cls()
        if state is not None:
            inst.deserialize(state)
        hydrated = inst.serialize()
        fresh = cls()
        fresh.deserialize(hydrated)
        rows.append((name, default_state, hydrated, fresh.serialize() == hydrated))
    return spark.createDataFrame(
        rows,
        "class_name string, default_state string, hydrated_state string, "
        "roundtrip_stable boolean",
    ).orderBy("class_name")


#: embedding-drift policy constants: tau separates PQ quantization error
#: (<= ~64 * 800^2 ≈ 4e7 at |q| <= ~200 per dim) from the injected drift
#: (>= 64 * 9200^2 ≈ 5.4e9) by two orders of magnitude either side
DRIFT_TAU = 1_000_000_000
#: the scored-time clock: 10 days before the freshen clock
DRIFT_T0 = AS_OF_MS - 10 * DAY_MS


def _drift_oracle() -> str:
    from .pq_common import _PQ_Q_SQL, _pq_subdist_sql

    return f"""
    -- The drift policy, stated one-shot: re-derive each entity's stored
    -- PQ codes (argmin per subspace over the deterministic 16-entry
    -- codebook, computed from the ORIGINAL embedding), measure the
    -- reconstruction distance against the CURRENT embedding (entities
    -- with pmod(vec_id,5)=0 drifted: every dim shifted +10000), and
    -- CASE on tau: fresh keeps the seed score cell, stale is rescored
    -- to the drift at the freshen clock.
    WITH src AS (
      SELECT vec_id, {_PQ_Q_SQL} AS q
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) = 64
    ),
    cb AS (
      SELECT vec_id AS cb_id, q FROM src
      WHERE vec_id % 31 = 0 AND vec_id < 496
    ),
    sub AS (SELECT unnest(range(0, 8)) AS ss),
    codes AS (
      SELECT vec_id, ss, cb_id FROM (
        SELECT s.vec_id, sub.ss, c.cb_id,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, sub.ss
            ORDER BY {_pq_subdist_sql("s.q", "c.q")}, c.cb_id) AS rn
        FROM src s CROSS JOIN cb c CROSS JOIN sub
      ) t WHERE rn = 1
    ),
    cur AS (
      SELECT vec_id,
        CASE WHEN ((vec_id % 5) + 5) % 5 = 0
             THEN list_transform(q, x -> x + 10000) ELSE q END AS cq
      FROM src
    ),
    drift AS (
      SELECT codes.vec_id,
        CAST(SUM({_pq_subdist_sql("u.cq", "c.q")}) AS BIGINT) AS d
      FROM codes
      JOIN cb c ON c.cb_id = codes.cb_id
      JOIN cur u ON u.vec_id = codes.vec_id
      JOIN sub ON sub.ss = codes.ss
      GROUP BY codes.vec_id
    )
    SELECT vec_id,
      CASE WHEN d <= {DRIFT_TAU} THEN {DRIFT_T0} ELSE {AS_OF_MS} END AS score_ts,
      CASE WHEN d <= {DRIFT_TAU} THEN -1.0 ELSE CAST(d AS DOUBLE) END AS score
    FROM drift ORDER BY vec_id
    """


@query(
    "fresh_embedding_drift_rescoring",
    _drift_oracle(),
    "kiji", "freshness", "scoring", "similarity",
)
def fresh_embedding_drift_rescoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.G composed into A5+A7 (r13 verdict #4): the freshness policy's
    staleness predicate is EMBEDDING DRIFT, not time — an entity's score
    is stale iff its current embedding sits more than tau (squared
    quantized distance) from the embedding it was scored against, where
    "scored against" is the entity's PERSISTED PQ codes (the same
    cell-partitioned codes table similarity_ivfpq_pruned_adc_topk
    serves from) reconstructed through a broadcast codebook LUT. The
    stale set then drives the ordinary A7 freshen pass: the producer
    rescores exactly those entities (score = measured drift) and the
    versioned write keeps everyone else's seed cell — the first
    composition that uses the LLM-ops surface to decide WHAT to
    rescore, which is what the reference's policy/producer split is for
    (KijiFreshnessPolicy.java:56-66 deciding,
    InternalFreshKijiTableReader.java:504-619 rescoring).

    Drift injection is deterministic: entities with pmod(vec_id,5)=0
    have every quantized dim shifted +10000 (drift >= 64*9200^2 ≈
    5.4e9), everyone else carries pure quantization error (<= ~4e7);
    tau = 1e9 splits them by two orders of magnitude either side, so
    the oracle states the whole pass exactly.

    Scale: the predicate and producer are pure Column expressions over
    one row each (no UDF, no shuffle beyond the entity⨝codes join that
    any score-store read pays); the LUT is 16 rows broadcast once;
    the codes table is read partition-pruned exactly as the ANN probe
    reads it."""
    from . import pq_common
    from .lib import DriftRescoreProducer  # noqa: F401 — registry loads by name
    from .policies import EmbeddingDrift
    from .queries_pipeline import (
        _ivfpq_cb,
        _ivfpq_codes_table,
        _ivfpq_quantize,
        _ivfpq_seeds,
    )

    dim = pq_common._EMBED_DIM
    nsub = pq_common._PQ_SUB

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == dim)
    )
    q = _ivfpq_quantize(e)
    cb = _ivfpq_cb(q)
    seeds = _ivfpq_seeds(q)
    codes = _ivfpq_codes_table(spark, sf_dir, q, cb, seeds)

    # parsed-string array build (r15 — one py4j call instead of ~130)
    qarr = F.expr("array(" + ",".join(f"q{i}" for i in range(dim)) + ")")
    cur = q.select(
        "vec_id",
        F.when(
            F.pmod(F.col("vec_id"), F.lit(5)) == 0,
            F.transform(qarr, lambda x: x + 10000),
        )
        .otherwise(qarr)
        .alias("emb_q"),
    )
    codes_cell = F.struct(
        F.lit(DRIFT_T0).alias("ts"),
        F.array(*[F.col(f"c{s}") for s in range(nsub)]).alias("value"),
    )
    codes_v = codes.select("vec_id", F.array(codes_cell).alias("codes_versions"))
    seed_cell = F.struct(F.lit(DRIFT_T0).alias("ts"), F.lit(-1.0).alias("value"))
    cb_map_row = cb.groupBy().agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("cb_id"),
                    F.expr("array(" + ",".join(f"cq{i}" for i in range(dim)) + ")"),
                )
            )
        ).alias("cb_map")
    )
    vt = (
        cur.join(codes_v, "vec_id")
        .withColumn("score_versions", F.array(seed_cell))
        .crossJoin(F.broadcast(cb_map_row))
    )
    reg = FreshenerRegistry()
    reg.store(
        TableLayout(vt.schema),
        "embeddings_versioned",
        "score:versions",
        "kiji_scoring_spark.lib.DriftRescoreProducer",
        "kiji_scoring_spark.policies.EmbeddingDrift",
        EmbeddingDrift(tau=DRIFT_TAU).serialize(),
    )
    reader = FreshTableReader(spark, "embeddings_versioned", vt, reg, key_col="vec_id")
    fresh_df = reader.scan(AS_OF_MS)
    return fresh_df.select(
        "vec_id",
        model.most_recent_ts("score_versions").alias("score_ts"),
        model.most_recent_value("score_versions").alias("score"),
    ).orderBy("vec_id")


@query(
    "streaming_drift_rescoring_ingest",
    _drift_oracle(),
    "streaming", "kiji", "freshness", "similarity", "incremental",
)
def streaming_drift_rescoring_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING embedding-drift freshening (r14 verdict #4) — the §2.F
    composition of fresh_embedding_drift_rescoring: updated embeddings
    arrive in micro-batches, each batch is drift-checked against the
    entities' PERSISTED PQ codes (the same cell-partitioned codes table
    the ANN probes serve from, reconstructed through the broadcast
    codebook LUT via pq_common.pq_drift_expr), and ONLY the drifted
    entities are rescored and committed — each micro-batch an atomic
    snapshot commit with a txn watermark, through the OPTIMISTIC
    (retries) commit path so a scheduled compaction could legitimately
    share the table. This is the Spark analog of the reference's online
    freshening loop (InternalFreshKijiTableReader.java:663-725: a read
    triggers policy.isFresh and an inline rescore), with the micro-batch
    standing in for the read and the policy's staleness predicate being
    semantic (embedding drift), not temporal.

    Because the drift predicate is a pure per-entity function of
    (current embedding, stored codes), freshening batch-by-batch folds
    to exactly the one-shot batch pass — so this query shares
    fresh_embedding_drift_rescoring's oracle verbatim, and the hash
    gate proves fold == one-shot.

    Scale: per batch, the codes lookup joins the BROADCAST micro-batch
    against the codes table (no shuffle of the standing index; the same
    entity⨝codes cost any score-store read pays), the LUT is one
    broadcast row, the drift predicate is a 64-term integer codegen
    expression (no UDF), and the commit appends O(drifted) rows. State
    across batches lives entirely in the snapshot table's manifests —
    the streaming query itself is stateless, so executor state is O(1)
    however long the stream runs. Exactly-once: an at-least-once replay
    of a committed batch_id no-ops on the txn watermark, and that check
    composes with the optimistic retry loop (pinned by
    tests/test_snapshots.py::test_optimistic_txn_replay_noop_composes_with_retry)."""
    import os

    from . import pq_common
    from .operators.snapshots import (
        commit_snapshot,
        last_txn_id,
        read_snapshot,
    )
    from .queries_pipeline import (
        _ivfpq_cb,
        _ivfpq_codes_table,
        _ivfpq_quantize,
        _ivfpq_seeds,
    )
    from .streaming.replay import replay_stream, run_available_now, run_scratch

    dim = pq_common._EMBED_DIM
    nsub = pq_common._PQ_SUB

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == dim)
    )
    q = _ivfpq_quantize(e)
    cb = _ivfpq_cb(q)
    seeds = _ivfpq_seeds(q)
    # what each entity was SCORED AGAINST: the persisted codes index
    codes = _ivfpq_codes_table(spark, sf_dir, q, cb, seeds)
    codes_arr = codes.select(
        "vec_id",
        F.array(*[F.col(f"c{s}") for s in range(nsub)]).alias("codes"),
    )
    # one-row broadcast LUT: code id -> that codebook entry's quantized
    # vector; localCheckpoint so the 16-row derivation runs once, not
    # once per micro-batch
    cb_map_row = (
        cb.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("cb_id"),
                        F.expr("array(" + ",".join(f"cq{i}" for i in range(dim)) + ")"),
                    )
                )
            ).alias("cb_map")
        )
        .localCheckpoint(eager=False)
    )

    # the updated CURRENT embeddings, arriving in three deterministic
    # micro-batches by key residue: entities with pmod(vec_id,5)=0 have
    # drifted (every quantized dim shifted +10000), everyone else
    # carries pure quantization error — same injection as the batch pass
    # parsed-string array build (r15 — one py4j call instead of ~130)
    qarr = F.expr("array(" + ",".join(f"q{i}" for i in range(dim)) + ")")
    cur = q.select(
        "vec_id",
        F.when(
            F.pmod(F.col("vec_id"), F.lit(5)) == 0,
            F.transform(qarr, lambda x: x + 10000),
        )
        .otherwise(qarr)
        .alias("emb_q"),
    )
    parts = tuple(
        cur.filter(F.pmod(F.col("vec_id"), F.lit(3)) == r) for r in range(3)
    )
    stream = replay_stream(
        spark, "kss_driftfresh", sf_dir, parts, "vec_id long, emb_q array<long>"
    )
    run_base = run_scratch("kss_driftfresh", sf_dir)
    rescored_dir = os.path.join(run_base, "rescored")

    def freshen(batch_df: DataFrame, batch_id: int) -> None:
        done = last_txn_id(rescored_dir, "drift_freshen")
        if done is not None and batch_id <= done:
            return  # at-least-once replay of a committed batch: no-op
        drifted = (
            codes_arr.join(F.broadcast(batch_df), "vec_id")
            .crossJoin(F.broadcast(cb_map_row))
            .withColumn(
                "d", pq_common.pq_drift_expr("emb_q", "codes", "cb_map")
            )
            .filter(F.col("d") > F.lit(DRIFT_TAU))
            .select(
                "vec_id",
                F.lit(AS_OF_MS).alias("score_ts"),
                F.col("d").cast("double").alias("score"),
            )
        )
        commit_snapshot(
            drifted,
            rescored_dir,
            mode="append",
            txn=("drift_freshen", batch_id),
            retries=2,
        )

    run_available_now(
        stream, 2, foreach_batch=freshen, checkpoint=os.path.join(run_base, "cp")
    )

    rescored = read_snapshot(
        spark, rescored_dir, schema="vec_id long, score_ts long, score double"
    )
    # the freshened view: rescored entities carry (freshen clock, drift),
    # everyone else keeps the seed score cell — identical to the one-shot
    # batch pass, which is what the shared oracle certifies
    return (
        q.select("vec_id")
        .join(rescored, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("score_ts"), F.lit(DRIFT_T0)).alias("score_ts"),
            F.coalesce(F.col("score"), F.lit(-1.0)).alias("score"),
        )
        .orderBy("vec_id")
    )
