"""``fresh`` CLI — register / inspect / validate freshener attachments.

The Spark analog of the reference's FreshTool
(``tools/FreshTool.java:74-520``): one subcommand per ``--do`` mode
(``FreshTool.java:113-115`` lists register|unregister|retrieve|
retrieve-all|validate|validate-all; dispatch at ``:405-502``). The
reference persists Avro records to the Kiji metatable; here the registry
is a JSON file (SURVEY §3.3) and the table layout comes from the parquet
footer — no Spark session is started, so the tool answers in
milliseconds, matching the reference's metadata-only behavior.

Usage::

    python -m kiji_scoring_spark.cli --registry /tmp/reg.json \
        register --table user --table-path /data/user.parquet \
        --column info:score \
        --policy kiji_scoring_spark.policies.ShelfLife \
        --producer mymod.ScoreProducer --state '{"shelf_life_ms": 86400000}'
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import asdict

from .registry import (
    FreshenerRegistry,
    FreshnessValidationError,
    TableLayout,
)


def _layout_from_parquet(path: str) -> TableLayout:
    """Table layout from the parquet footer only (no SparkSession). A
    table may be one file or a DIRECTORY of part files (the fragmented /
    real-lake layout); a directory's schema is the NAME-UNION of
    every part's footer, because a lake table carries schema evolution:
    a column added after the first parts were written exists only in
    later footers, and a first-part-only read would hide it from the
    attachment validator (footer reads only — no data scan, same
    contract as sources.load_table's mergeSchema).

    Hive-partitioned directories (``col=value`` subdirectories — the
    partitioned-lake layout) nest their part files arbitrarily deep,
    and the partition columns live in the PATH, not in any footer: the
    walk recurses, and every distinct ``key=`` component on the way to a
    part file is appended as a STRING column — exactly the column set
    AND types Spark's partition discovery adds at read time, because the
    engine session disables partitionColumnTypeInference (session.py):
    a numeric-looking path value stays a string in all three layers
    (this validator, the Spark runtime schema, the DuckDB oracle)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        merged = pq.read_schema(parts[0])
        for p in parts[1:]:
            for field in pq.read_schema(p):
                if merged.get_field_index(field.name) == -1:
                    merged = merged.append(field)
        for p in parts:
            rel = os.path.relpath(os.path.dirname(p), path)
            for comp in () if rel == "." else rel.split(os.sep):
                key = comp.split("=", 1)[0] if "=" in comp else None
                if key and merged.get_field_index(key) == -1:
                    merged = merged.append(pa.field(key, pa.string()))
        return TableLayout(from_arrow_schema(merged))
    return TableLayout(from_arrow_schema(pq.read_schema(path)))


def _print_record(column: str, rec) -> None:
    # field-per-line, like FreshTool's retrieve output (FreshTool.java:405-502)
    print(f"Column: {column}")
    print(f"  Freshness policy class: {rec.freshness_policy_class}")
    print(f"  Freshness policy state: {rec.freshness_policy_state}")
    print(f"  Producer class: {rec.producer_class}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="fresh", description="Freshener attachment management."
    )
    parser.add_argument("--registry", required=True, help="registry JSON path")
    sub = parser.add_subparsers(dest="mode", required=True)

    def add(mode: str, *, column: bool, layout: bool, classes: bool = False):
        p = sub.add_parser(mode)
        p.add_argument("--table", required=True)
        if column:
            p.add_argument("--column", required=True, help="'family:qualifier' or map family")
        if layout:
            p.add_argument("--table-path", required=True, help="parquet file/dir for schema")
        if classes:
            p.add_argument("--policy", required=True, help="dotted policy class path")
            p.add_argument("--producer", required=True, help="dotted producer class path")
            p.add_argument("--state", default="", help="serialized policy state (JSON)")
        return p

    add("register", column=True, layout=True, classes=True)
    add("unregister", column=True, layout=False)
    sub.add_parser("unregister-all").add_argument("--table", required=True)
    add("retrieve", column=True, layout=False)
    add("retrieve-all", column=False, layout=False)
    add("validate", column=True, layout=True)
    add("validate-all", column=False, layout=True)

    args = parser.parse_args(argv)
    reg = FreshenerRegistry(args.registry)

    if args.mode == "register":
        layout = _layout_from_parquet(args.table_path)
        try:
            reg.store(
                layout, args.table, args.column, args.producer, args.policy, args.state
            )
        except FreshnessValidationError as e:
            for failure, msg in sorted(e.failures.items(), key=lambda kv: kv[0].value):
                print(f"{failure.value}: {msg}")
            return 1
        print(
            f"Freshness policy: {args.policy} and producer: {args.producer} "
            f"attached to column: {args.column} in table: {args.table}"
        )
        return 0

    if args.mode == "unregister":
        if reg.remove(args.table, args.column):
            print(f"Freshness policy removed from column: {args.column} in table: {args.table}")
            return 0
        print(f"There is no freshness policy attached to column: {args.column} in table: {args.table}")
        return 1

    if args.mode == "unregister-all":
        removed = reg.remove_all(args.table)
        print(f"Removed {len(removed)} freshness policies from table: {args.table}")
        for c in removed:
            print(f"  {c}")
        return 0

    if args.mode == "retrieve":
        rec = reg.retrieve(args.table, args.column)
        if rec is None:
            print(f"There is no freshness policy attached to column: {args.column} in table: {args.table}")
            return 1
        _print_record(args.column, rec)
        return 0

    if args.mode == "retrieve-all":
        records = reg.retrieve_all(args.table)
        if not records:
            print(f"There are no freshness policies attached to columns in table: {args.table}")
            return 0
        for column, rec in records.items():
            _print_record(column, rec)
        return 0

    if args.mode in ("validate", "validate-all"):
        layout = _layout_from_parquet(args.table_path)
        columns = (
            [args.column]
            if args.mode == "validate"
            else sorted(reg.retrieve_all(args.table))
        )
        rc = 0
        for column in columns:
            try:
                failures = reg.validate_stored(layout, args.table, column)
            except KeyError:
                print(f"There is no freshness policy attached to column: {column} in table: {args.table}")
                rc = 1
                continue
            if failures:
                rc = 1
                print(f"Column: {column} INVALID")
                for failure, msg in sorted(failures.items(), key=lambda kv: kv[0].value):
                    print(f"  {failure.value}: {msg}")
            else:
                print(f"Column: {column} valid")
        return rc

    raise AssertionError(f"unhandled mode {args.mode}")


if __name__ == "__main__":
    sys.exit(main())
