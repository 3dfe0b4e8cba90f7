"""Producers — the reference's row-transform (model-scoring) UDF surface
(SURVEY §2.A rows A7-A9, §2.E).

A producer reads a declared projection of the row (``getDataRequest``),
computes a value, and writes it to the column the freshener is ATTACHED to
— not the producer's own output column (``package-info.java:73-79``,
``impl/KijiFreshProducerContext.java:84-89``). Three Spark-first flavors:

- ``ExpressionProducer`` — scoring logic as a Catalyst Column (JVM-side,
  codegen; the fast path and the right choice whenever the model is
  expressible as arithmetic/CASE).
- ``PandasProducer``     — arbitrary Python over Arrow batches via a
  scalar iterator ``pandas_udf`` (vectorized; the ~10-100× faster
  alternative to row-at-a-time UDFs). ``setup``/``cleanup`` become
  per-partition init/teardown, matching the reference's producer
  lifecycle (``KijiProducer`` setup/produce/cleanup).
- ``MLlibProducer``      — an MLlib ``Transformer``/``PipelineModel``
  (BASELINE.json's "MLlib batch scoring" approach).

The pandas and MLlib flavors score rows in place (``score_rows``): each stale
row gets its own score as a new column and every other row a NULL one, so no
row's score depends on another row, as the reference's producer writes into
the row it was handed (``impl/KijiFreshProducerContext.java:102-106``). A
pandas producer reads the table once and hands ``batch_fn`` only the stale
rows of each Arrow batch; an MLlib producer splits the table on the stale
predicate and transforms the stale half alone.

KV side-inputs (A9): small key→value stores exposed to the producer and
the policy; policy stores mask producer stores with the same name
(``impl/InternalFreshKijiTableReader.java:374-379``). A store is a key
lookup (``context.getStore(name).get(key)``), not a join: the first freshen
of a capsule reads each merged store once, checks that it holds at most
``MAX_STORE_ROWS`` rows and unique keys, and folds each value column into a
literal map that every later read looks up per row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructField

from .registry import flat_name

#: most rows a KV store may hold. A store is folded into literal maps on
#: the driver, with py4j calls per entry, and a map lookup scans its keys: on
#: a 4-core host a 10,000-row store took 6.8 s to fold and 3.4 s to look up
#: 2 M rows, a 1,000-row store 0.8 s and 0.7 s.
MAX_STORE_ROWS = 1_000


class Producer:
    """Base producer (``KijiProducer``: getDataRequest/getOutputColumn/
    setup/produce/cleanup)."""

    #: columns (flat names or 'family:qualifier') the producer reads
    data_request: list[str] = []
    #: declared output column; only used for attachment validation —
    #: actual writes go to the attached column (package-info.java:73-79)
    output_column: str | None = None
    #: name → KV store spec; see :func:`store_sides`
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
    batch of rows; ``pdf`` holds the table's key column and the data
    request. ``score_rows`` runs it as a scalar iterator ``pandas_udf``
    over every row, so the table is scanned once and keeps its
    partitioning. The UDF also receives the capsule's stale predicate as
    its own argument: ``batch_fn`` sees only the stale rows of each batch,
    a batch with none is skipped, and every other row scores NULL. Python
    cost is amortized over Arrow batches, never per row, and
    ``setup``/``cleanup`` run once per partition.
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

    def score_rows(
        self, df: DataFrame, key_col: str, stale: Column, score_col: str
    ) -> DataFrame:
        """``df`` with ``score_col`` appended: ``batch_fn`` over
        ``struct(key_col, *data_request)`` of the rows where ``stale`` is
        true, NULL elsewhere. ``batch_fn`` gets those rows indexed from 0,
        and a returned Series aligns to them by index."""
        batch_fn, setup, cleanup = self._batch_fn, self._setup, self._cleanup

        def score(batches: Iterator[tuple[pd.DataFrame, pd.Series]]) -> Iterator[pd.Series]:
            state = setup() if setup else None
            try:
                for pdf, mask in batches:
                    picked = mask.to_numpy(dtype=bool)
                    if not picked.any():
                        yield pd.Series(None, index=pdf.index, dtype="float64")
                        continue
                    rows = pdf[picked].reset_index(drop=True)
                    got = pd.Series(batch_fn(rows), index=rows.index).to_numpy()
                    yield pd.Series(got, index=pdf.index[picked]).reindex(pdf.index)
            finally:
                if cleanup:
                    cleanup(state)

        request = dict.fromkeys([key_col, *map(flat_name, self.data_request)])
        udf = F.pandas_udf(score, "double")
        return df.select("*", udf(F.struct(*request), stale).alias(score_col))


class MLlibProducer(Producer):
    """Producer wrapping an MLlib Transformer/PipelineModel; the freshen
    pass transforms the stale rows only."""

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

    def score_rows(
        self, df: DataFrame, key_col: str, stale: Column, score_col: str
    ) -> DataFrame:
        """``df`` with ``score_col`` appended: the transformer's
        prediction on the rows where ``stale`` is true, NULL elsewhere.
        The table is split on ``stale`` and the halves are unioned, so the
        transformer never sees a fresh row: scoring every row would waste
        work when few are stale, and a transformer can raise on rows it
        never saw. ``key_col`` is unused: the transformer reads what it
        needs."""
        scored = self.transformer.transform(df.filter(stale)).select(
            *df.columns, F.col(self.prediction_col).alias(score_col)
        )
        return scored.unionByName(df.filter(~stale).select("*", F.lit(None).alias(score_col)))


def merge_stores(
    producer_stores: dict[str, Any], policy_stores: dict[str, Any]
) -> dict[str, Any]:
    """Store-name masking: policy stores override producer stores with the
    same name (``impl/InternalFreshKijiTableReader.java:374-379``;
    ``package-info.java:62-64``)."""
    merged = dict(producer_stores)
    merged.update(policy_stores)
    return merged


@dataclass(frozen=True)
class KVStore:
    """One merged KV store: its rows (value columns renamed per the spec),
    its key column, its value columns (every other column) and the
    table-side Column looked up in it."""

    name: str
    df: DataFrame
    key: StructField
    values: tuple[StructField, ...]
    lookup: Column


def store_sides(stores: dict[str, Any]) -> list[KVStore]:
    """The KV stores of a merged store dict, read from their schemas only.
    Store spec: {"df": DataFrame, "on": lookup, "select": {new_col:
    store_col}}, where ``on`` is a column name present in both the table
    and the store, or a pair (lookup, key): a table-side Column or column
    name, and the store's key column."""
    sides = []
    for name, spec in stores.items():
        sdf = spec["df"]
        for new, old in spec.get("select", {}).items():
            sdf = sdf.withColumnRenamed(old, new)
        on = spec["on"]
        lookup, key = (on, on) if isinstance(on, str) else on
        if isinstance(lookup, str):
            lookup = F.col(lookup)
        schema = sdf.schema
        values = tuple(f for f in schema.fields if f.name != key)
        sides.append(KVStore(name, sdf, schema[key], values, lookup))
    return sides


def placeholders(sides: list[KVStore]) -> list[Column]:
    """A typed NULL per store value column: stands in for the lookups
    while a capsule's Columns are built, without reading any store."""
    return [
        F.lit(None).cast(f.dataType).alias(f.name) for side in sides for f in side.values
    ]


def fold_store(side: KVStore) -> list[Column]:
    """Read a store once and fold each value column into a literal map:
    one ``try_element_at(map, lookup)`` Column per value column. Raises
    ``ValueError`` when the store holds more than ``MAX_STORE_ROWS`` rows
    or a key twice; NULL keys are dropped, as a join never matched them."""
    rows = (
        side.df.select(side.key.name, *[f.name for f in side.values])
        .limit(MAX_STORE_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_STORE_ROWS:
        raise ValueError(
            f"KV store {side.name!r} holds more than MAX_STORE_ROWS = {MAX_STORE_ROWS} rows"
        )
    rows = [r for r in rows if r[0] is not None]
    seen = set()
    for r in rows:
        if r[0] in seen:
            raise ValueError(f"KV store {side.name!r} holds key {r[0]!r} more than once")
        seen.add(r[0])

    def array(i: int, dtype: DataType) -> Column:
        return F.array(*[F.lit(r[i]) for r in rows]).cast(ArrayType(dtype))

    keys = array(0, side.key.dataType)
    return [
        F.try_element_at(F.map_from_arrays(keys, array(i, f.dataType)), side.lookup).alias(f.name)
        for i, f in enumerate(side.values, start=1)
    ]


def attach_stores(df: DataFrame, lookups: list[Column]) -> DataFrame:
    """Make KV side-inputs available as columns: one select of the
    :func:`fold_store` lookups (or :func:`placeholders`) over ``df``."""
    return df.select("*", *lookups) if lookups else df
