"""Driver-style correctness gate, run locally: every registry query executes
on Spark and its oracle SQL on DuckDB over the same parquet; results must
match row-for-row (order-insensitive), like CORRECTNESS_r{N}.json does."""

import os

import duckdb
import pandas as pd
import pytest

from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.sources import TABLES


def duck_con(sf_dir):
    con = duckdb.connect()
    # Pin the session TimeZone: Spark runs with spark.sql.session.timeZone=
    # UTC, and an unpinned DuckDB session resolves TIMESTAMPTZ casts in the
    # host zone — every wall-clock column would shift on non-UTC machines.
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        # a table may be a single file OR a directory of part files (the
        # fragmented regime — Spark reads both natively, DuckDB needs the
        # glob form for directories). union_by_name mirrors Spark's
        # mergeSchema: parts may carry schema evolution (columns present
        # only in later files — the schemadrift regime); for homogeneous
        # directories it is the identity. A directory of key=value
        # subdirectories is the hive regime: the partition column lives
        # in the PATH only, so the glob recurses one level and
        # hive_partitioning synthesizes the column (mirroring Spark's
        # partition discovery).
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            hive = any(
                "=" in c and os.path.isdir(os.path.join(p, c))
                for c in os.listdir(p)
            )
            if hive:
                # recursive glob: key=value trees may nest arbitrarily
                # deep (cli._layout_from_parquet walks them recursively —
                # a one-level glob would silently read ZERO files on the
                # DuckDB side for a multi-level layout). hive_types off:
                # all three layers (Spark with partition type inference
                # disabled in session.py, the CLI's footer validator, and
                # this oracle) agree partition columns are strings.
                src = (
                    f"'{p}/**/*.parquet', hive_partitioning=true, "
                    f"union_by_name=true, hive_types_autocast=false"
                )
            else:
                src = f"'{p}/*.parquet', union_by_name=true"
        else:
            src = f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import datetime

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        # duckdb count() comes back as int64; spark may give int32 for some
        if str(df[c].dtype) in ("int8", "int16", "int32", "uint8", "uint16", "uint32"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
        # Spark DATE -> python date objects; duckdb DATE -> datetime64
        if str(df[c].dtype) == "object":
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


oracle_items = sorted((n, s) for n, s in QUERIES.items() if s.oracle)


@pytest.mark.parametrize("name", [n for n, _ in oracle_items])
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    got = normalize(spec.fn(spark, sf_dir).toPandas())
    want = normalize(duck_con(sf_dir).execute(spec.oracle).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # check_dtype=True (modulo the integer/float widening in normalize): the
    # driver's value-hash is type-sensitive, so a BIGINT-vs-DOUBLE drift that
    # check_dtype=False would forgive fails the real gate (round-1 lesson:
    # scalar_math_battery floor/ceil/sign).
    # Exception: with ZERO rows on both sides (adversarial empty regime)
    # pandas dtypes are inference artifacts, not engine output — both
    # engines' declared schemas are checked by the column-name assert and
    # there are no values to hash, so dtype noise on empty frames is not
    # a divergence.
    if len(got) == 0:
        return
    pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)


@pytest.mark.parametrize("name", [n for n, s in sorted(QUERIES.items()) if not s.oracle])
def test_rows_only_query_runs(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_snapshot_pipeline_diff_has_rows(spark, sf_dir):
    """The two scoring cycles of ``fresh_scoring_snapshot_pipeline`` must
    differ on some user; an empty diff on both engines would make its
    parity test compare nothing."""
    assert QUERIES["fresh_scoring_snapshot_pipeline"].fn(spark, sf_dir).count() >= 1
