"""Source-format and dataset-statistics queries (SURVEY §2.B scans,
§2.G quality/stats).

The CSV/JSON queries prove the non-parquet scan path end to end: the
table is materialized once per (sf, format) into a local cache dir by
Spark's own writer, re-read through ``read_csv``/``read_json`` with an
explicit schema (schema inference is a full extra pass — never at
100 TB), and aggregated; the oracle runs the same aggregation on the
parquet view, so any loss in the format round-trip (types, quoting,
nulls) fails the hash match.

Scale notes: CSV/JSON scans split by ``spark.sql.files.maxPartitionBytes``
like parquet but carry no column pruning or predicate pushdown — the
engine treats them as ingest formats; queries beyond ingest should land
data in parquet first.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query
from .sources import load_table, read_csv, read_json, read_orc, read_xml
from .state import derived, state_tag


def _materialized(spark: SparkSession, sf_dir: str, name: str, fmt: str) -> DataFrame:
    """Write-once copy of a testdata table in ``fmt``, read back with the
    parquet schema (so column types survive the text round-trip)."""
    src = load_table(spark, sf_dir, name)
    if fmt == "csv":
        write = src.write.option("header", "true").csv
    elif fmt == "xml":
        write = src.write.format("xml").options(rootTag="rows", rowTag="row").save
    else:
        write = getattr(src.write, fmt)
    path = derived(sf_dir, f"{name}.{fmt}", write)
    if fmt == "csv":
        return read_csv(spark, path, src.schema, header="true")
    if fmt == "orc":
        return read_orc(spark, path)
    if fmt == "xml":
        return read_xml(spark, path, src.schema, row_tag="row")
    return read_json(spark, path, src.schema)


@query(
    "csv_scan_nation_counts",
    """
    SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    "source", "csv",
)
def csv_scan_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan (§2.B): nation round-trips through Spark's CSV writer and
    ``read_csv`` with explicit schema; the group-count matching the parquet
    oracle proves header handling, quoting, and type restoration."""
    n = _materialized(spark, sf_dir, "nation", "csv")
    return (
        n.groupBy("n_regionkey")
        .agg(F.count("*").alias("n_nations"), F.min("n_name").alias("first_name"))
        .orderBy("n_regionkey")
    )


@query(
    "json_scan_supplier_acctbal",
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
      CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    "source", "json",
)
def json_scan_supplier_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan (§2.B): supplier round-trips through Spark's JSON
    writer and ``read_json`` with explicit schema. Money sums in exact
    DECIMAL then cast to DOUBLE so parallel vs serial order can't differ."""
    s = _materialized(spark, sf_dir, "supplier", "json")
    return (
        s.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "orc_scan_part_brand_stats",
    """
    SELECT p_brand, count(*) AS n_parts,
      CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    "source", "orc",
)
def orc_scan_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (§2.B): part round-trips through Spark's ORC writer and
    reader. ORC is self-describing, so unlike the CSV/JSON round-trips no
    schema is supplied on read — the group-agg matching the parquet
    oracle proves types survive natively; column pruning and predicate
    pushdown work as for parquet (same DataSource V2 scan machinery)."""
    p = _materialized(spark, sf_dir, "part", "orc")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_retail"),
        )
        .orderBy("p_brand")
    )


@query(
    "stats_quantiles_price",
    """
    SELECT l_returnflag,
      round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
      round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
      round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
      round(quantile_disc(l_extendedprice, 0.90), 6) AS p90_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "stats", "agg", "pipeline",
)
def stats_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality/stats (§2.G): exact interpolated + discrete quantiles per
    group. Spark's `percentile` is exact (sort-based within group) and
    matches DuckDB's quantile_cont/disc; rounded to 6 dp so the two
    engines' float interpolation cannot differ in the last ulp.
    Scale: per-group exact percentile shuffles once on the group key; for
    100 TB interactive profiling use approx_percentile instead (see
    stats_summary_profile's approx note)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(l_extendedprice, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias("p75"),
            F.round(
                F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY l_extendedprice)"),
                6,
            ).alias("p90_disc"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "stats_corr_covar_quantity_price",
    """
    SELECT
      round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
      round(covar_pop(l_quantity, l_discount), 8) AS covar_qty_disc
    FROM lineitem
    """,
    "stats", "agg", "pipeline",
)
def stats_corr_covar_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality/stats (§2.G): correlation and covariance across the fact
    table — single partial+final aggregation, no shuffle of raw rows.
    Rounded so engine-internal accumulation order cannot flip a bit."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 8).alias("covar_qty_disc"),
    )


@query(
    "stats_summary_profile",
    """
    SELECT 'l_quantity' AS column_name,
      count(l_quantity) AS n,
      round(CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
            / NULLIF(count(l_quantity), 0), 6) AS mean,
      round(min(l_quantity), 6) AS min_v,
      round(max(l_quantity), 6) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount),
      round(CAST(SUM(CAST(l_discount AS DECIMAL(24,6))) AS DOUBLE)
            / NULLIF(count(l_discount), 0), 6),
      round(min(l_discount), 6), round(max(l_discount), 6)
    FROM lineitem
    ORDER BY column_name
    """,
    "stats", "agg", "pipeline",
)
def stats_summary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (§2.G quality/stats): the df.summary() shape as an
    explicit, oracle-checkable query (summary() itself emits strings and
    approx medians — fine for humans, wrong for a correctness gate). One
    scan computes all columns' stats via partial aggregation; stack-style
    UNION keeps the output long-form like summary().
    At 100 TB this is the pattern for data-quality sweeps: a single pass,
    no shuffle of raw rows, optionally approx_percentile for medians."""
    li = load_table(spark, sf_dir, "lineitem")

    def profile(col: str) -> DataFrame:
        # mean via EXACT decimal sum + one double division, not avg():
        # a raw double avg sums in scan order, and the sf0.01-sourced
        # FRAGMENTED regime caught l_discount's true mean sitting on a
        # round(_, 6) boundary — the two engines' different file splits
        # flipped the last ulp and the rounded values diverged. The
        # decimal sum is order-independent at any layout; values are
        # exact at source precision so the cast loses nothing.
        return li.agg(
            F.lit(col).alias("column_name"),
            F.count(col).alias("n"),
            F.round(
                F.sum(F.col(col).cast("decimal(24,6)")).cast("double")
                / F.nullif(F.count(col), F.lit(0)),
                6,
            ).alias("mean"),
            F.round(F.min(col), 6).alias("min_v"),
            F.round(F.max(col), 6).alias("max_v"),
        )

    return profile("l_quantity").unionAll(profile("l_discount")).orderBy("column_name")


@query(
    "parquet_sink_roundtrip",
    """
    SELECT l_returnflag,
      count(*) AS n_rows,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "source", "sink",
)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink (§2.B, the A8 writeback target): a filtered slice of
    lineitem is written partitioned by l_returnflag — the layout a scored
    table would use so later reads partition-prune — then re-read and
    aggregated. The oracle aggregates the ORIGINAL table; matching hashes
    prove the write→read cycle loses nothing (types, partition-column
    restoration, row coverage)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    sink = li.select("l_returnflag", "l_extendedprice", "l_shipdate")
    path = derived(
        sf_dir, "lineitem_sink.parquet", sink.write.partitionBy("l_returnflag").parquet
    )
    # the declared schema reads an empty source's write, a dir holding no
    # data files, as an empty scan
    back = spark.read.schema(sink.schema).parquet(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "dpp_partitioned_orders_join",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders WHERE o_orderpriority LIKE '1%'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "source", "join", "dpp",
)
def dpp_partitioned_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (§2.B + §4): orders materialized once as
    a priority-partitioned table (the layout a 100 TB fact table uses for
    its hottest filter key), then joined with a dimension that is only
    known after a filter runs. Catalyst injects a
    `dynamicpruningexpression` into the fact scan's PartitionFilters —
    the broadcast dim's keys prune fact partitions AT RUNTIME, so the
    scan never reads the ~60% of files outside the dim's priorities
    (gated in tests/test_plans.py). This is the single biggest scan
    saver for partitioned fact tables; without it the join reads every
    partition and filters after the fact.
    The oracle is the equivalent static filter — value parity proves
    pruning lost no rows."""
    o = load_table(spark, sf_dir, "orders")
    path = derived(
        sf_dir, "orders_by_priority.parquet", o.write.partitionBy("o_orderpriority").parquet
    )
    # declared schema: an empty source's write holds no data files
    fact = spark.read.schema(o.schema).parquet(path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .filter(F.col("o_orderpriority").startswith("1"))
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "stats_linear_regression_price_qty",
    """
    SELECT l_returnflag,
      CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
      round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
      round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
      round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "stats", "agg", "pipeline",
)
def stats_linear_regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality/stats (§2.G): per-group ordinary-least-squares fit with the
    SQL-standard regression aggregates (slope, intercept, R², group
    means) — the one-pass drift/trend profile a feature store computes
    per segment. Both engines implement the identical standard
    definitions; results are rounded so accumulation order cannot flip a
    last bit.

    Scale: single partial+final aggregation on a 3-key group — each
    regr_* is a handful of running moments, so the shuffle carries six
    doubles per group, never raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("bigint").alias("n"),
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 6).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.regr_avgx(y, x), 6).alias("avg_qty"),
            F.round(F.regr_avgy(y, x), 6).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "xml_scan_customer_segments",
    """
    SELECT c_mktsegment, count(*) AS n_customers,
      CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "source", "xml",
)
def xml_scan_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (§2.B): customer round-trips through Spark 4's built-in
    XML source (the former spark-xml package, merged upstream) and
    ``read_xml`` with explicit schema; the group-agg matching the parquet
    oracle proves tag escaping and type restoration. XML splits by FILE,
    not byte range, so the write side keeps many moderate files — the
    ingest layout that stays parallel at 100 TB."""
    c = _materialized(spark, sf_dir, "customer", "xml")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "avro_cell_roundtrip_nation_stats",
    """
    SELECT c_nationkey AS nationkey,
      COUNT(*) AS n_customers,
      CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      MAX(c_name) AS max_name
    FROM customer
    GROUP BY c_nationkey
    ORDER BY nationkey
    """,
    "sources", "avro", "multimodal",
)
def avro_cell_roundtrip_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro-record cell values (SURVEY §1.2): pack (name, cents) into a
    binary Avro record cell per customer — the reference stores every
    cell Avro-encoded (``KijiFreshnessManager.java:31-38``) — then decode
    the cells back and aggregate the DECODED values per nation. The
    oracle computes the same stats straight from the parquet columns, so
    any asymmetry or value loss in the encode/decode path fails the hash
    match (spec compliance itself is pinned by golden bytes in
    tests/test_avro.py). All aggregates are integers/strings — no float
    accumulation to flip.

    Scale: both codec stages are Arrow-batched mapInPandas (per-batch
    Python, never per-row) and fuse with the scan — no shuffle until the
    final 25-group aggregation. On a cluster with the spark-avro
    connector loaded the codec runs JVM-side via from_avro/to_avro
    (decode_avro_cells auto-probes), dropping Python entirely."""
    from .operators.avro import decode_avro_cells, encode_avro_cells

    # cents is a nullable union: a missing balance must round-trip as the
    # Avro null branch (the encode path writes branch 0), not crash the
    # codec on a non-nullable long
    fields = [("name", "string"), ("cents", ["null", "long"])]
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    # spread the Python codec stages (single-split local file otherwise);
    # see avro_nested_cell_roundtrip_orders for the task-count rationale
    cust = cust.repartition(max(8, spark.sparkContext.defaultParallelism // 4))
    cells = encode_avro_cells(cust, fields, "cell")
    decoded = decode_avro_cells(cells, "cell", fields)
    return (
        decoded.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("sum_cents"),
            F.max("name").alias("max_name"),
        )
        .orderBy("nationkey")
    )


@query(
    "bucketed_join_colocated_revenue",
    """
    SELECT o_orderstatus,
      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    "sources", "bucketing", "join",
)
def bucketed_join_colocated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed saveAsTable round-trip + co-located join (§2.B): write
    BOTH join sides bucketed by the join key (same bucket count), read
    them back through the catalog, and join — the layout that makes
    repeated fact-to-fact joins shuffle-free at warehouse scale (neither
    side exchanges; the sort-merge join consumes bucket-local sorted
    runs directly). The zero-Exchange property itself is pinned by
    ``tests/test_plans.py::test_bucketed_join_is_colocated_no_shuffle``;
    this query drives the full write→catalog→read→join path against the
    oracle so metadata or bucket-pruning corruption fails the hash.

    Scale: the bucketed write is the one-time shuffle you pay to never
    shuffle this join again — the classic amortization for a fact table
    joined every night. Bucket count 8 here; at 100 TB size buckets to
    ~1 GB of post-compression data each.

    The amortization is real within a session: the write runs only if
    the table is not already in the session catalog, so repeated
    executions — a nightly job rejoining the same bucketed fact tables,
    or the bench's warm+timed runs — pay the one-time shuffle once and
    then measure the shuffle-free join. Gated on the CATALOG (in-memory,
    dies with the session), deliberately not on an on-disk completion
    marker (``state.derived``): a fresh session always rewrites, so a
    dataset rebuilt under the same path (the regime-rebuild stale-state
    class, REGIMES.md) can never be served stale buckets."""
    # Tag by the FULL path like every other per-dataset cache (state_tag),
    # not the basename: with the session-lifetime catalog gate, two
    # dataset dirs sharing a basename within one session must not serve
    # each other's bucketed tables. Dots must be stripped for the catalog
    # identifier, which re-narrows the key space ('/x/sf0.1' vs
    # '/x/sf0_1' would collide) — so a short stable hash of the RAW tag
    # is appended to keep the identifier collision-free.
    raw_tag = state_tag(sf_dir)
    tag = "{}_{}".format(
        raw_tag.replace(".", "_"),
        hashlib.sha256(raw_tag.encode()).hexdigest()[:8],
    )
    base = os.path.join(tempfile.gettempdir(), f"kss_bucketed_{state_tag(sf_dir)}")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    specs = [("orders", o, "o_orderkey"), ("lineitem", li, "l_orderkey")]
    for name, df, key in specs:
        tbl = f"bkt_{name}_{tag}"
        if spark.catalog.tableExists(tbl):
            continue  # written earlier this session — the amortized path
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, tbl))
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    j = spark.table(f"bkt_orders_{tag}").join(
        spark.table(f"bkt_lineitem_{tag}"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "avro_nested_cell_roundtrip_orders",
    """
    SELECT o_orderpriority AS priority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_open,
      strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_placed,
      CAST(SUM(length(o_orderpriority) + o_custkey) AS BIGINT) AS sum_props
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY priority
    ORDER BY priority
    """,
    "sources", "avro", "nested",
)
def avro_nested_cell_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED Avro-record cell round-trip: the reference stores
    arbitrary Avro records per cell (``KijiFreshnessPolicy.avdl:29-41`` —
    nested records, collections, logical types), not just flat
    primitives. Pack each order into a cell with a nested record (decimal
    total + boolean + nullable-string note), a string array, a
    string->long map, and a timestamp-millis — encode, decode, and
    aggregate the DECODED values per priority. The oracle computes the
    same stats straight from the parquet columns, so any loss anywhere in
    the nested codec (union branch, block framing, unscaled-decimal
    bytes, epoch-millis conversion) fails the hash match. Spec compliance
    is pinned byte-for-byte in tests/test_avro.py.

    Scale: identical to the flat-cell query — Arrow-batched mapInPandas
    both ways, fused with the scan, one final shuffle for the 5-group
    aggregate; the JVM from_avro/to_avro path takes over when the
    spark-avro connector is loaded."""
    from .operators.avro import decode_avro_cells, encode_avro_cells

    fields = [
        ("okey", "long"),
        (
            "stats",
            {
                "type": "record",
                "name": "stats",
                "fields": [
                    {
                        # nullable union: a missing price round-trips as
                        # the Avro null branch instead of crashing the
                        # codec on a non-nullable decimal
                        "name": "total",
                        "type": [
                            "null",
                            {
                                "type": "bytes",
                                "logicalType": "decimal",
                                "precision": 18,
                                "scale": 2,
                            },
                        ],
                    },
                    {"name": "flag", "type": "boolean"},
                    {"name": "note", "type": ["null", "string"]},
                ],
            },
        ),
        ("tags", {"type": "array", "items": "string"}),
        ("props", {"type": "map", "values": "long"}),
        ("placed_at", {"type": "long", "logicalType": "timestamp-millis"}),
    ]
    # deterministic ~14% probe slice: the query certifies the CODEC
    # (every nested shape, every priority/status class survives the
    # modulus), not scan throughput — same bounding style as the
    # doc_id < N probe sets elsewhere in the registry
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    cells_in = o.select(
        F.col("o_orderkey").alias("okey"),
        F.struct(
            (F.round(F.col("o_totalprice") * 100).cast("decimal(20,0)") / 100)
            .cast("decimal(18,2)")
            .alias("total"),
            (F.col("o_orderpriority") == "1-URGENT").alias("flag"),
            # NULL note for open orders exercises the union null branch
            F.when(F.col("o_orderstatus") != "O", F.col("o_orderstatus")).alias(
                "note"
            ),
        ).alias("stats"),
        F.array("o_orderstatus", "o_orderpriority").alias("tags"),
        F.create_map(
            F.lit("pri"),
            F.length("o_orderpriority").cast("long"),
            F.lit("cust"),
            F.col("o_custkey"),
        ).alias("props"),
        F.col("o_orderdate").alias("placed_at"),
    )
    # the small local file reads as ONE split, which would serialize both
    # pandas codec stages into a single Python worker. parallelism//4 (not
    # full parallelism): each pandas task forks a fresh Python worker when
    # reuse is off, so task count is a fork-cost multiplier — measured
    # fastest at 4-8 tasks locally; scales with the cluster either way
    n_codec_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    cells_in = cells_in.repartition(n_codec_parts)
    enc = encode_avro_cells(cells_in, fields, "cell")
    dec = decode_avro_cells(enc, "cell", fields)
    return (
        dec.select(
            F.try_element_at("tags", F.lit(2)).alias("priority"),
            (F.col("stats.total") * 100).cast("long").alias("cents"),
            F.col("stats.note").isNull().cast("long").alias("is_open"),
            "placed_at",
            (
                F.try_element_at("props", F.lit("pri"))
                + F.try_element_at("props", F.lit("cust"))
            ).alias("propsum"),
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.sum("is_open").alias("n_open"),
            F.date_format(F.max("placed_at"), "yyyy-MM-dd HH:mm:ss").alias(
                "max_placed"
            ),
            F.sum("propsum").alias("sum_props"),
        )
        .orderBy("priority")
    )


@query(
    "pyds_synthetic_events_stats",
    """
    WITH e AS (
      SELECT event_id,
        (event_id * 2654435761) % 10000 AS user_id,
        CASE event_id % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                          WHEN 2 THEN 'purchase' ELSE 'refund' END AS event_type,
        (event_id * 31) % 9700 AS value_cents
      FROM range(0, 40000) t(event_id)
    )
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e GROUP BY event_type ORDER BY event_type
    """,
    "source", "datasource", "python-ds",
)
def pyds_synthetic_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (§2.B extension, Spark 4): read 40k
    synthetic events from ``SyntheticEventsDataSource`` — 8 planned
    InputPartitions, each generated executor-side — and aggregate. The
    rows are pure integer functions of event_id, so the oracle re-derives
    the identical relation from ``range()``: the custom-source path is
    hash-checked end to end, not just smoke-run.

    Scale: the source IS the partition plan — volume scales by adding
    partitions (tasks), rows never touch the driver or any storage; the
    aggregation behind it is ordinary partial+final codegen. This is the
    wrap-anything pattern for systems without a JVM connector (REST
    cursors, bespoke binary stores): plan splits in ``partitions()``,
    stream each split in ``read()``."""
    from .sources.synthetic import SyntheticEventsDataSource

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    ev = (
        spark.read.format("synthetic_events")
        .option("rows_per_partition", 5000)
        .option("num_partitions", 8)
        .load()
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_cents"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_mad_robust_outliers",
    """
    WITH med AS (
      SELECT l_returnflag, median(l_extendedprice) AS med_price
      FROM lineitem GROUP BY l_returnflag
    ), mad AS (
      SELECT l.l_returnflag,
        ANY_VALUE(m.med_price) AS med_price,
        median(abs(l.l_extendedprice - m.med_price)) AS mad_price
      FROM lineitem l JOIN med m USING (l_returnflag)
      GROUP BY l.l_returnflag
    )
    SELECT l.l_returnflag,
      ROUND(ANY_VALUE(d.med_price), 6) AS med_price,
      ROUND(ANY_VALUE(d.mad_price), 6) AS mad_price,
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN abs(l.l_extendedprice - d.med_price)
                         > 3 * 1.4826 * d.mad_price THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers
    FROM lineitem l JOIN mad d USING (l_returnflag)
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    "stats", "agg", "pipeline",
)
def stats_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen (§2.G quality/stats): the
    robust complement to the IQR fences — median and MAD are immune to
    the very outliers being hunted, where mean/stddev fences are dragged
    toward them. Flags rows beyond 3 scaled MADs (×1.4826 ≈ σ under
    normality).

    Scale: two grouped exact medians + one counting pass, all on the
    same group key so every shuffle reuses the (returnflag) hash
    partitioning; the tiny per-group (median, MAD) table broadcasts back
    into the scan-side counting join. Exact median buffers per-group
    values — at uncountable group sizes swap approx_percentile into the
    same shape."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("med_price")
    )
    mad = (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("med_price").alias("med_price"),
            F.median(F.abs(F.col("l_extendedprice") - F.col("med_price"))).alias(
                "mad_price"
            ),
        )
    )
    out = (
        li.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("med_price"), 6).alias("med_price"),
            F.round(F.any_value("mad_price"), 6).alias("mad_price"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.abs(F.col("l_extendedprice") - F.col("med_price"))
                    > 3 * 1.4826 * F.col("mad_price"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("l_returnflag")
    )
    return out
