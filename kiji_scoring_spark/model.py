"""Versioned-cell data model — Spark translation of the Kiji wide-column
model (SURVEY §1).

Reference semantics being reproduced (citations into /root/reference):

- Each (row, family, qualifier) holds multiple timestamped values; reads
  specify maxVersions and a half-open time range [lo, hi)
  (``FreshKijiTableReader.java:59-75``).
- "Most recent value" is the first element of the timestamp-descending
  version set (``lib/ShelfLife.java:91-96``, ``lib/NewerThan.java:79-83``).
- Writes happen at an explicit timestamp; writing at an existing timestamp
  overwrites that cell (``impl/KijiFreshProducerContext.java:92-106``).
- Map-type families hold dynamic qualifiers — string keys — each with its
  own version history (``KijiFreshnessManager.java:608-637``).

Spark encoding (SURVEY §1.2):

- qualified column  -> ``ARRAY<STRUCT<ts: BIGINT, value: T>>`` sorted ts-desc
- map-type family   -> ``MAP<STRING, ARRAY<STRUCT<ts: BIGINT, value: T>>>``

All helpers below are pure Catalyst column expressions (higher-order
functions) — no Python UDFs — so they inherit whole-stage codegen, prune,
and push down like any built-in expression, and cost nothing extra at
100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, LongType, StructField, StructType


def version_struct_type(value_type: DataType) -> StructType:
    """StructType of a single versioned cell: (ts BIGINT, value T)."""
    return StructType(
        [StructField("ts", LongType(), False), StructField("value", value_type, True)]
    )


def versions_type(value_type: DataType) -> ArrayType:
    """Column type of a versioned qualified column."""
    return ArrayType(version_struct_type(value_type), True)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def empty_versions(value_type_ddl: str) -> Column:
    """Typed empty version array, e.g. ``empty_versions('string')``."""
    return F.expr(f"CAST(array() AS ARRAY<STRUCT<ts: BIGINT, value: {value_type_ddl}>>)")


# ---------------------------------------------------------------------------
# Read-side accessors (KijiRowData analogs, SURVEY §1.1 "KijiRowData")
# ---------------------------------------------------------------------------

def most_recent_value(versions: Column | str) -> Column:
    """``getMostRecentValue`` — value of the newest version, NULL if none."""
    return F.try_element_at(_col(versions), F.lit(1))["value"]


def most_recent_ts(versions: Column | str) -> Column:
    """Timestamp of the newest version (``getTimestamps().first()``,
    ``lib/ShelfLife.java:91-96``)."""
    v = _col(versions)
    return F.try_element_at(v, F.lit(1))["ts"]


def contains_column(versions: Column | str) -> Column:
    """``containsColumn`` — row has at least one version of this column."""
    v = _col(versions)
    return v.isNotNull() & (F.size(v) > 0)


def versions_in_range(versions: Column | str, lo, hi) -> Column:
    """KijiDataRequest ``withTimeRange(lo, hi)`` — half-open [lo, hi),
    order preserved (still ts-desc)."""
    v = _col(versions)
    lo_c, hi_c = F.lit(lo), F.lit(hi)
    return F.filter(v, lambda x: (x["ts"] >= lo_c) & (x["ts"] < hi_c))


def latest_versions(versions: Column | str, max_versions: int) -> Column:
    """KijiDataRequest ``withMaxVersions(k)`` — newest k versions."""
    return F.slice(_col(versions), 1, max_versions)


def value_at(versions: Column | str, ts) -> Column:
    """As-of read: value of the newest version with ts <= given ts."""
    v = _col(versions)
    ts_c = F.lit(ts)
    return F.try_element_at(F.filter(v, lambda x: x["ts"] <= ts_c), F.lit(1))["value"]


# ---------------------------------------------------------------------------
# Write-side (ProducerContext.put analogs, SURVEY §2.A row A8)
# ---------------------------------------------------------------------------

def with_put(versions: Column | str, ts, value) -> Column:
    """Insert (ts, value) maintaining ts-desc order; overwrite on equal ts
    (HBase put semantics, ``impl/KijiFreshProducerContext.java:102-106``).

    ``ts`` must be explicit — the reference's LATEST_TIMESTAMP default
    (``KijiFreshProducerContext.java:92``) becomes a caller-supplied clock
    for determinism (SURVEY §5.2).
    """
    v = _col(versions)
    ts_c = F.lit(ts)
    val_c = value if isinstance(value, Column) else F.lit(value)
    cell = F.array(F.struct(ts_c.cast("long").alias("ts"), val_c.alias("value")))
    # NULL column behaves as the empty version set (typed like `cell`):
    v = F.coalesce(v, F.slice(cell, 1, 0))
    newer = F.filter(v, lambda x: x["ts"] > ts_c)
    older = F.filter(v, lambda x: x["ts"] < ts_c)
    return F.concat(newer, cell, older)


def map_get_versions(family: Column | str, qualifier) -> Column:
    """Version array of one qualifier inside a map-type family."""
    return F.try_element_at(_col(family), F.lit(qualifier))


def map_most_recent_value(family: Column | str, qualifier) -> Column:
    """Most-recent value of ``family[qualifier]``."""
    return most_recent_value(map_get_versions(family, qualifier))


def map_with_put(family: Column | str, qualifier, ts, value) -> Column:
    """Upsert a version into ``family[qualifier]`` (family-wide producer
    write, ``impl/KijiFreshProducerContext.java:115-131``). Requires
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by session.py)."""
    fam = _col(family)
    q = F.lit(qualifier)
    new_versions = with_put(map_get_versions(fam, qualifier), ts, value)
    fam = F.coalesce(fam, F.map_from_arrays(F.array(q), F.array(new_versions)))
    return F.map_concat(fam, F.create_map(q, new_versions))
