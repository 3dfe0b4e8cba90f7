"""The scan layer's convenience surface (sources.load_all /
register_views) had no executing test: pin that every driver table loads
with oracle-compatible types and that the registered SQL views answer
spark.sql queries — the entry point a SQL-only user of the engine takes."""

from pyspark.sql import functions as F

from kiji_scoring_spark.sources import TABLES, load_all, register_views


def test_load_all_covers_every_table_with_converted_types(spark, sf_dir):
    dfs = load_all(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    # the nanos quirk is converted at the scan layer, not left to queries
    assert dict(dfs["events"].dtypes)["ts"] == "timestamp_ntz"
    for t, df in dfs.items():
        assert len(df.schema.fields) > 0, t


def test_register_views_serves_sql_surface(spark, sf_dir):
    register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"]
    assert n == 25
    # views compose: a join through the SQL surface over two views
    rows = spark.sql(
        """
        SELECT r.r_name, count(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    ).collect()
    assert sum(r["n_nations"] for r in rows) == 25 and len(rows) == 5


def test_schema_cache_misses_table_rewritten_in_place(spark, tmp_path):
    """A table rewritten in place without purge_derived_state must not be
    served its old cached schema: the rewrite's extra column shows up."""
    from kiji_scoring_spark import sources

    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert sources.load_table(spark, str(tmp_path), "t").columns == ["id"]
    assert any(k[2] == "t" for k in sources._SCHEMA_CACHE)  # cached
    assert sources.load_table(spark, str(tmp_path), "t").columns == ["id"]

    spark.range(3).withColumn("extra", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(path)
    df = sources.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == [0, 2, 4]
