"""The replay runner and the versioned-state fold (streaming/replay.py),
and the guard that keeps every registry streaming query on them."""

from __future__ import annotations

import os
import pathlib
import re

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kiji_scoring_spark.streaming import read_events_stream
from kiji_scoring_spark.streaming.replay import fold_versioned_state, run_available_now

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kiji_scoring_spark"


def _write_batches(stream_dir, batches):
    """One parquet file per batch, mtimes increasing in batch order."""
    os.makedirs(stream_dir)
    for i, rows in enumerate(batches):
        path = os.path.join(stream_dir, f"batch{i}.parquet")
        pd.DataFrame(rows, columns=["k", "n"]).astype("int64").to_parquet(path)
        os.utime(path, (1_600_000_000 + i * 100,) * 2)
    return stream_dir


def test_runner_restores_conf_when_batch_raises(spark, tmp_path):
    src = _write_batches(str(tmp_path / "stream"), [[(1, 1)]])
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    pinned = int(before) + 3
    seen = []

    def boom(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(key))
        raise RuntimeError("batch failed")

    with pytest.raises(StreamingQueryException, match="batch failed"):
        run_available_now(
            read_events_stream(spark, src, "k long, n long"),
            pinned,
            foreach_batch=boom,
            checkpoint=str(tmp_path / "cp"),
        )
    assert seen == [str(pinned)]
    assert spark.conf.get(key) == before


def test_fold_recommits_over_partial_version(spark, tmp_path):
    """A leftover partial ``v1`` dir (a batch that died mid-write) is
    overwritten, not an error, and the final state applies each batch
    exactly once."""
    batches = [[(1, 1), (2, 10)], [(1, 2), (3, 100)], [(2, 20), (3, 200)]]
    src = _write_batches(str(tmp_path / "stream"), batches)
    run_base = str(tmp_path / "run")
    debris = os.path.join(run_base, "state", "v1")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-00000-partial.parquet"), "wb") as f:
        f.write(b"not parquet")

    def add(batch_df, prev):
        agg = batch_df.groupBy("k").agg(F.sum("n").alias("n"))
        if prev is None:
            return agg
        return prev.unionByName(agg).groupBy("k").agg(F.sum("n").alias("n"))

    final = fold_versioned_state(
        read_events_stream(spark, src, "k long, n long"), run_base, add
    )
    assert {r.k: r.n for r in final.collect()} == {1: 3, 2: 30, 3: 300}
    assert sorted(os.listdir(os.path.join(run_base, "state"))) == ["v0", "v1", "v2"]


def test_query_modules_never_drive_streams():
    """Replay queries compose streaming/ instead of starting, awaiting or
    reading replay streams themselves."""
    banned = re.compile(r"writeStream|awaitTermination|maxFilesPerTrigger")
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.glob("queries_*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
