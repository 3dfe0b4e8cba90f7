"""Policy and producer classes the benchmark attaches through the engine's
registry. They are resolved by dotted class name, so this module must be
importable on the driver and, for the pandas producers, on the executors'
Python workers (``run.py`` puts the checkout root on ``PYTHONPATH``)."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kiji_scoring_spark import model
from kiji_scoring_spark.policies import ShelfLife
from kiji_scoring_spark.producers import ExpressionProducer, MLlibProducer, PandasProducer

DAY_MS = 86_400_000
#: every capsule's policy: rescore cells older than a year
SHELF_LIFE_MS = 365 * DAY_MS
#: the producer-side KV value the policy-side store must mask
POISON_MULT = 100.0
#: PipelineModel fitted during set-up, read by ``PipelineProducer``
FITTED: dict[str, object] = {}


def _segment_store(mult) -> dict:
    seg = SparkSession.getActiveSession().range(5).select(F.col("id").alias("seg"))
    return {"df": seg.withColumn("m", mult), "on": "seg", "select": {"mult": "m"}}


class ShelfLifeWithStore(ShelfLife):
    """ShelfLife whose required KV store maps segment -> 2 + segment. It
    shares the store name ``mult`` with ``KvScaledProducer``'s store, so the
    policy's store must win."""

    def __init__(self, shelf_life_ms: int = -1):
        super().__init__(shelf_life_ms)
        self._stores = {"mult": _segment_store((F.col("seg") + 2).cast("double"))}

    @property
    def required_stores(self) -> dict:
        return self._stores


class KvScaledProducer(ExpressionProducer):
    """score = newest ``kv`` value x the ``mult`` side input."""

    def __init__(self):
        super().__init__(
            lambda df: model.most_recent_value("kv_versions") * F.col("mult"),
            data_request=["kv:versions"],
            required_stores={"mult": _segment_store(F.lit(POISON_MULT))},
        )


def numpy_score(pdf: pd.DataFrame) -> pd.Series:
    return np.sqrt(pdf["feat_total"]) * 10.0 + pdf["feat_lines"]


class NumpyScoreProducer(PandasProducer):
    """Vectorized numpy scoring over Arrow batches."""

    def __init__(self):
        super().__init__(numpy_score, data_request=["feat:total", "feat:lines"])


def sleepy_score(pdf: pd.DataFrame) -> pd.Series:
    # A cancelled task keeps its executor slot until the Python worker
    # returns, so the sleep is kept short: it must outlast the 1 s budget,
    # but not reach into the ops timed after the overrun.
    time.sleep(2)
    return numpy_score(pdf)


class SleepyProducer(PandasProducer):
    """Overruns any budget under 2 s; only its cancellation is timed."""

    def __init__(self):
        super().__init__(sleepy_score, data_request=["feat:total", "feat:lines"])


class PipelineProducer(MLlibProducer):
    """The PipelineModel fitted in set-up."""

    def __init__(self):
        super().__init__(FITTED["pipeline"], prediction_col="prediction")
