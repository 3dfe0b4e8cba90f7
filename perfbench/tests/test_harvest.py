"""Status-store harvest of one tiny query."""

from pyspark.sql import functions as F

from perfbench.harvest import Harvester


def test_harvest_of_one_tiny_query(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(1000).write.parquet(path)
    h = Harvester(spark)
    h.mark()
    small = spark.range(10).withColumnRenamed("id", "k")
    df = (
        spark.read.parquet(path)
        .withColumn("k", F.col("id") % 10)
        .join(F.broadcast(small), "k")
        .groupBy("k")
        .count()
    )
    df.write.format("noop").mode("overwrite").save()
    got = h.collect()
    assert got.jobs and all(j["end"] >= j["start"] for j in got.jobs)
    assert got.stages >= 1 and got.tasks >= 1
    assert got.input_records == 1010  # stage input: the scan and the range
    assert got.broadcast_bytes_max > 0  # from the SQL status store
    assert got.shuffle_write_bytes > 0
    # nothing ran since: the next harvest is empty
    assert h.collect().jobs == []
