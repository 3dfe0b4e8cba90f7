"""Structured-Streaming freshening (SURVEY §2.F) — the online analog of
the reference's per-request freshening loop.

Mapping from the reference's concepts:

- bounded lateness (A10's timeout) → ``withWatermark``
- per-request scoring → per-micro-batch scoring (``foreachBatch`` MERGE)
- capsule cache of last scores (A13) → keyed state
  (``applyInPandasWithState``)
- KV side inputs (A9) → stream-static broadcast joins

Every registry streaming query runs through :mod:`.replay`: the replay
source (``replay_stream``, deterministic one-file-per-batch replays read
by :func:`read_events_stream`), the runner (``run_available_now``: pinned
state partitions, ``availableNow`` trigger, waits, returns the finished
query), the per-run scratch dir (``run_scratch``) and the versioned-state
fold (``fold_versioned_state``). Query modules build the streaming
DataFrame and the per-batch step; they never start a query themselves.

Scale notes: state per key is (ts, score) only — never buffered raw
events (SURVEY §7 hard parts); watermarks bound state growth; windowed
aggregations use Spark's incremental state store.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


#: Default event-time shift for pre-epoch-safe streaming: 200 000 days
#: (~547 years) in microseconds. Spark initializes every watermark to
#: epoch 0, so rows whose EVENT TIME is at or before 1970-01-01 are late
#: data from the very first batch and get dropped on input — an inherent
#: engine boundary (tsedge regime, r6). Shifting event time by a constant
#: at ingest and reversing it at emit is semantics-preserving: watermark
#: delays, join time-ranges, and window lengths are all RELATIVE, so
#: every eviction/lateness decision shifts with the data — but the
#: shifted times clear the initial watermark, so pre-epoch rows survive.
#: The caller must pick an offset larger than -min(event_time); the
#: default absorbs anything back to ~1423 CE.
PRE_EPOCH_SHIFT_MICROS: int = 200_000 * 86_400 * 1_000_000


def shift_event_time(
    df: DataFrame, ts_col: str, offset_micros: int = PRE_EPOCH_SHIFT_MICROS
) -> DataFrame:
    """Shift ``ts_col`` forward by a constant, in exact integer
    microseconds (NOT a calendar interval: adding then subtracting a
    year-month interval is not an exact inverse across leap-day clamps —
    2000-02-29 + 500 years + -500 years lands on 02-28). Apply BEFORE
    ``withWatermark`` on every stream that participates in the same
    event-time comparison, and reverse with :func:`unshift_event_time`
    on the emitted columns."""
    return df.withColumn(
        ts_col,
        F.timestamp_micros(F.unix_micros(F.col(ts_col)) + F.lit(offset_micros)),
    )


def unshift_event_time(
    df: DataFrame, ts_cols: list[str], offset_micros: int = PRE_EPOCH_SHIFT_MICROS
) -> DataFrame:
    """Exact inverse of :func:`shift_event_time` on each emitted
    event-time column (bit-identical round trip — the integer micros
    arithmetic has no calendar edge cases)."""
    out = df
    for c in ts_cols:
        out = out.withColumn(
            c, F.timestamp_micros(F.unix_micros(F.col(c)) - F.lit(offset_micros))
        )
    return out


def read_events_stream(spark, events_parquet_dir: str, schema) -> DataFrame:
    """File-based micro-batch source over a parquet directory, one file
    per trigger, in (modification time, path) order — the replay format
    (the test harness feeds parquet files; production would use
    Kafka/Kinesis — same DataFrame downstream)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_parquet_dir)
    )


def with_watermark(df: DataFrame, ts_col: str, delay: str = "10 minutes") -> DataFrame:
    """Bound event lateness (the A10 timeout analog)."""
    return df.withWatermark(ts_col, delay)


def tumbling_window_agg(
    df: DataFrame, ts_col: str, window_len: str, agg_exprs: dict[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window aggregation."""
    group = [F.window(F.col(ts_col), window_len)] + [F.col(k) for k in (keys or [])]
    return df.groupBy(*group).agg(*[c.alias(n) for n, c in agg_exprs.items()])


def sliding_window_agg(
    df: DataFrame, ts_col: str, window_len: str, slide: str, agg_exprs: dict[str, Column],
    keys: list[str] | None = None,
) -> DataFrame:
    group = [F.window(F.col(ts_col), window_len, slide)] + [F.col(k) for k in (keys or [])]
    return df.groupBy(*group).agg(*[c.alias(n) for n, c in agg_exprs.items()])


def session_window_agg(
    df: DataFrame, ts_col: str, gap: str, keys: list[str], agg_exprs: dict[str, Column]
) -> DataFrame:
    """Session windows (gap-based)."""
    group = [F.session_window(F.col(ts_col), gap)] + [F.col(k) for k in keys]
    return df.groupBy(*group).agg(*[c.alias(n) for n, c in agg_exprs.items()])


def stream_static_join(stream: DataFrame, static: DataFrame, on, how: str = "inner") -> DataFrame:
    """Enrich a stream with a dimension/KV table (A9 analog): the static
    side broadcasts per micro-batch."""
    return stream.join(F.broadcast(static), on, how)


#: state schema for stateful freshening: last score + its timestamp only
FRESHEN_STATE_SCHEMA = StructType(
    [StructField("last_ts", LongType()), StructField("last_score", DoubleType())]
)

FRESHEN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("score_ts", LongType()),
        StructField("score", DoubleType()),
        StructField("rescored", LongType()),
    ]
)


def make_stateful_freshener(
    shelf_life_ms: int, score_fn: Callable[[float], float]
) -> Callable:
    """Per-key stateful freshening (A7+A13 online): keep (last_ts,
    last_score) per entity; rescore only when the cached score is older
    than ``shelf_life_ms`` relative to the newest event. Use with
    ``df.groupBy("user_id").applyInPandasWithState(...)``.

    The scoring function sees the latest event value; state is O(1) per
    key — the direct translation of the reference's capsule cache
    (``InternalFreshKijiTableReader.java:356-386``).
    """

    def freshen(key, pdf_iter, state: GroupState):
        import pandas as pd

        user_id = key[0]
        last_ts, last_score = (None, None)
        if state.exists:
            last_ts, last_score = state.get
        newest_ts, newest_val = None, None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            idx = pdf["ts_ms"].idxmax()
            if newest_ts is None or pdf["ts_ms"][idx] > newest_ts:
                newest_ts = int(pdf["ts_ms"][idx])
                newest_val = float(pdf["value"][idx])
        if newest_ts is None:
            return
        stale = last_ts is None or (newest_ts - last_ts) > shelf_life_ms
        if stale:
            score = score_fn(newest_val)
            state.update((newest_ts, score))
            yield pd.DataFrame(
                {"user_id": [user_id], "score_ts": [newest_ts], "score": [score], "rescored": [1]}
            )
        else:
            yield pd.DataFrame(
                {"user_id": [user_id], "score_ts": [last_ts], "score": [last_score], "rescored": [0]}
            )

    return freshen


def make_tws_freshener(shelf_life_ms: int, score_fn: Callable[[float], float]):
    """The same per-key freshening contract as ``make_stateful_freshener``
    but on ``transformWithStateInPandas`` — Spark 4's arbitrary-state API
    (typed value state, timers, RocksDB-backed). Use with::

        df.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=make_tws_freshener(...),
            outputStructType=FRESHEN_OUTPUT_SCHEMA,
            outputMode="Append", timeMode="None")

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` on the Python workers (the tWS worker protocol is
    protobuf-framed; absent in some minimal runtimes — the
    ``applyInPandasWithState`` freshener above has no such dependency and
    is the portable fallback; the two are held to one contract by
    ``tests/test_streaming.py::test_tws_processor_agrees_with_group_state_freshener``,
    which drives both over stub state handles so the tWS logic is
    verified even where the wire protocol cannot run). State is the same
    O(1)-per-key (last_ts, last_score) record — the capsule-cache analog
    (``InternalFreshKijiTableReader.java:356-386``); RocksDB keeps it off
    the executor heap, which is what makes billions of keys viable."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class FreshenProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("fresh", FRESHEN_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            user_id = key[0]
            newest_ts, newest_val = None, None
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                idx = pdf["ts_ms"].idxmax()
                if newest_ts is None or pdf["ts_ms"][idx] > newest_ts:
                    newest_ts = int(pdf["ts_ms"][idx])
                    newest_val = float(pdf["value"][idx])
            if newest_ts is None:
                return
            prior = self._state.get() if self._state.exists() else None
            last_ts = prior[0] if prior is not None else None
            last_score = prior[1] if prior is not None else None
            stale = last_ts is None or (newest_ts - last_ts) > shelf_life_ms
            if stale:
                score = score_fn(newest_val)
                self._state.update((newest_ts, score))
                yield pd.DataFrame(
                    {"user_id": [user_id], "score_ts": [newest_ts],
                     "score": [score], "rescored": [1]}
                )
            else:
                yield pd.DataFrame(
                    {"user_id": [user_id], "score_ts": [last_ts],
                     "score": [last_score], "rescored": [0]}
                )

        def close(self) -> None:
            pass

    return FreshenProcessor()


def foreach_batch_scoring_sink(
    score_fn: Callable[[DataFrame, int], DataFrame], out_path: str
):
    """Micro-batch scoring sink: per batch, run the (batch) scorer and
    MERGE/append to the scored table — the writeback of A8 in streaming
    form."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_fn(batch_df, batch_id)
        scored.write.mode("append").parquet(out_path)

    return sink
