"""Producers — the reference's row-transform (model-scoring) UDF surface
(SURVEY §2.A rows A7-A9, §2.E).

A producer reads a declared projection of the row (``getDataRequest``),
computes a value, and writes it to the column the freshener is ATTACHED to
— not the producer's own output column (``package-info.java:73-79``,
``impl/KijiFreshProducerContext.java:84-89``). Three Spark-first flavors:

- ``ExpressionProducer`` — scoring logic as a Catalyst Column (JVM-side,
  codegen; the fast path and the right choice whenever the model is
  expressible as arithmetic/CASE).
- ``PandasProducer``     — arbitrary Python over Arrow batches via
  ``mapInPandas`` (vectorized; the ~10-100× faster alternative to
  row-at-a-time UDFs). ``setup``/``cleanup`` become per-batch-iterator
  init/teardown, matching the reference's producer lifecycle
  (``KijiProducer`` setup/produce/cleanup).
- ``MLlibProducer``      — an MLlib ``Transformer``/``PipelineModel``
  (BASELINE.json's "MLlib batch scoring" approach).

KV side-inputs (A9): small key→value stores exposed to the producer. In
batch Spark these are broadcast left joins declared in ``kv_requests``;
policy stores mask producer stores with the same name
(``impl/InternalFreshKijiTableReader.java:374-379``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Producer:
    """Base producer (``KijiProducer``: getDataRequest/getOutputColumn/
    setup/produce/cleanup)."""

    #: columns (flat names or 'family:qualifier') the producer reads
    data_request: list[str] = []
    #: declared output column; only used for attachment validation —
    #: actual writes go to the attached column (package-info.java:73-79)
    output_column: str | None = None
    #: name → KV store spec (dict or DataFrame); see kv.py
    required_stores: dict[str, Any] = {}

    def score(self, df: DataFrame) -> Column:
        """Return the score as a Column over ``df`` (which contains the
        producer's data request plus any joined KV stores)."""
        raise NotImplementedError


class ExpressionProducer(Producer):
    """Producer whose model is a Catalyst expression factory."""

    def __init__(
        self,
        expr_fn: Callable[[DataFrame], Column],
        data_request: list[str] | None = None,
        output_column: str | None = None,
        required_stores: dict[str, Any] | None = None,
    ):
        self._expr_fn = expr_fn
        self.data_request = data_request or []
        self.output_column = output_column
        self.required_stores = required_stores or {}

    def score(self, df: DataFrame) -> Column:
        return self._expr_fn(df)


class PandasProducer(Producer):
    """Producer running arbitrary Python per Arrow batch.

    ``batch_fn(pdf: pd.DataFrame) -> pd.Series`` computes the score for a
    batch; applied via ``mapInPandas`` by the freshen pass so Python cost
    is amortized over Arrow batches, never per row.
    """

    def __init__(
        self,
        batch_fn: Callable[[pd.DataFrame], pd.Series],
        data_request: list[str] | None = None,
        output_column: str | None = None,
        required_stores: dict[str, Any] | None = None,
        setup: Callable[[], Any] | None = None,
        cleanup: Callable[[Any], None] | None = None,
    ):
        self._batch_fn = batch_fn
        self._setup = setup
        self._cleanup = cleanup
        self.data_request = data_request or []
        self.output_column = output_column
        self.required_stores = required_stores or {}

    def make_map_fn(self, score_col: str):
        """Build the mapInPandas function: per-partition setup/cleanup
        around per-batch scoring (the iterator-UDF lifecycle pattern)."""
        batch_fn, setup, cleanup = self._batch_fn, self._setup, self._cleanup

        def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            state = setup() if setup else None
            try:
                for pdf in batches:
                    out = pdf.copy()
                    out[score_col] = batch_fn(pdf)
                    yield out
            finally:
                if cleanup:
                    cleanup(state)

        return map_fn


class MLlibProducer(Producer):
    """Producer wrapping an MLlib Transformer/PipelineModel; the freshen
    pass calls ``transform`` on the stale partition only."""

    def __init__(
        self,
        transformer,
        prediction_col: str = "prediction",
        data_request: list[str] | None = None,
        output_column: str | None = None,
        required_stores: dict[str, Any] | None = None,
    ):
        self.transformer = transformer
        self.prediction_col = prediction_col
        self.data_request = data_request or []
        self.output_column = output_column
        self.required_stores = required_stores or {}

    def transform(self, df: DataFrame) -> DataFrame:
        return self.transformer.transform(df)


def merge_stores(
    producer_stores: dict[str, Any], policy_stores: dict[str, Any]
) -> dict[str, Any]:
    """Store-name masking: policy stores override producer stores with the
    same name (``impl/InternalFreshKijiTableReader.java:374-379``;
    ``package-info.java:62-64``)."""
    merged = dict(producer_stores)
    merged.update(policy_stores)
    return merged


def store_sides(stores: dict[str, Any]) -> list[tuple[DataFrame, Any]]:
    """KV side-inputs as join sides: for each store (a DataFrame with
    (key, value) plus a join key on the table), the renamed store under a
    broadcast hint, with its join condition. Store spec: {"df": DataFrame,
    "on": join expr or column name, "select": {new_col: store_col}}."""
    sides = []
    for spec in stores.values():
        sdf = spec["df"]
        for new, old in spec.get("select", {}).items():
            sdf = sdf.withColumnRenamed(old, new)
        sides.append((F.broadcast(sdf), spec["on"]))
    return sides


def attach_stores(df: DataFrame, sides: list[tuple[DataFrame, Any]]) -> DataFrame:
    """Make KV side-inputs available as columns: left-join each
    :func:`store_sides` side onto ``df``."""
    for sdf, on in sides:
        df = df.join(sdf, on=on, how="left")
    return df
