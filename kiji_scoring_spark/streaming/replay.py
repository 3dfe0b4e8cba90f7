"""Bounded replays: the one place that writes, streams, runs and folds a
registry replay query.

- :func:`replay_stream` — the replay source. Parts become
  ``batch{i}.parquet`` files under ``<scratch>/<prefix>_<tag>/stream``
  (written once per session) and stream back one file per trigger, so
  part ``i`` is micro-batch ``i``.
- :func:`run_scratch` — the per-run dir for checkpoints, fold state and
  sink output, emptied on entry.
- :func:`run_available_now` — the runner: pins the state-partition
  count, drains the source with an ``availableNow`` trigger and returns
  the finished ``StreamingQuery``.
- :func:`fold_versioned_state` — a ``foreachBatch`` fold whose state is
  one parquet version dir per batch id; the query supplies only its
  per-batch step.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import state as _state_module
from ..state import state_tag, stream_scratch_root
from . import read_events_stream

#: replay dirs materialized THIS SESSION, keyed (prefix, full-path tag) —
#: the session-lifetime amortization gate (the bucketed-table pattern,
#: r10): replay files are a pure deterministic function of the dataset,
#: so within one session the warm run builds and every later run replays
#: the same bytes. Deliberately in-memory, NOT an on-disk marker: a fresh
#: session always rebuilds, so a dataset rebuilt under the same path can
#: never be served a stale replay.
_REPLAY_BUILT: set = set()

#: every replay prefix ever passed to _replay_files — kept in sync so the
#: purge hook below can find the on-disk dirs without scanning /tmp.
_REPLAY_PREFIXES = (
    "kss_latedrop",
    "kss_stateful",
    "kss_febmerge",
    "kss_dedupww",
    "kss_kmvfold",
    "kss_famfold",
    "kss_annidx",
    "kss_driftfresh",
)


def _purge_replay_state(sf_dir: str, tag: str) -> None:
    """purge_derived_state hook (ADVICE r11): an in-process dataset
    rebuild must invalidate both the on-disk replay dirs AND the
    in-memory ``_REPLAY_BUILT`` gate, or the next replay run would serve
    micro-batches derived from the pre-rebuild data."""
    for prefix in _REPLAY_PREFIXES:
        _REPLAY_BUILT.discard((prefix, tag))
        shutil.rmtree(
            os.path.join(stream_scratch_root(), f"{prefix}_{tag}"),
            ignore_errors=True,
        )


_state_module.register_purge_hook(_purge_replay_state)


def _replay_files(prefix: str, sf_dir: str, parts) -> str:
    """Materialize DataFrames as a deterministic micro-batch replay dir:
    one parquet file per part, mtimes strictly increasing in list order.
    The file stream source sorts by (modification time, path), so with
    one file per trigger the parts become batches 0..n-1 exactly —
    the watermark sequence and state-function invocation order are fully
    deterministic, which is what lets real StreamingQueries sit under
    the exact-value oracle gate.

    Amortized to session lifetime (r11): ~0.9 s of the ~2-4 s per replay
    run was re-writing identical replay files; repeated executions — the
    bench's warm+timed runs, a re-submitted job — now pay the write once
    per session. Tagged by the full dataset path (state_tag), not the
    basename, so same-named dataset dirs never share replays."""
    assert prefix in _REPLAY_PREFIXES, f"unregistered replay prefix {prefix!r}"
    tag = state_tag(sf_dir)
    base = os.path.join(stream_scratch_root(), f"{prefix}_{tag}")
    stream_dir = os.path.join(base, "stream")
    key = (prefix, tag)
    if key in _REPLAY_BUILT:
        # Validate EVERY expected batch file, not just the dir (ADVICE
        # r11): a /tmp cleaner or a concurrent session rmtree-ing the
        # shared base mid-run can leave a partial dir that would replay
        # fewer batches and fail the exact-value gate confusingly.
        if all(
            os.path.isfile(os.path.join(stream_dir, f"batch{i}.parquet"))
            for i in range(len(parts))
        ):
            return base
        _REPLAY_BUILT.discard(key)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(stream_dir)
    now = 1_600_000_000  # any fixed base; only the ORDER of mtimes matters
    for i, part in enumerate(parts):
        staging = os.path.join(base, f"staging{i}")
        part.coalesce(1).write.parquet(staging)
        src = next(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(stream_dir, f"batch{i}.parquet")
        shutil.copyfile(os.path.join(staging, src), dst)
        os.utime(dst, (now + i * 100, now + i * 100))
    _REPLAY_BUILT.add(key)
    return base


def replay_stream(
    spark: SparkSession, prefix: str, sf_dir: str, parts, schema: str
) -> DataFrame:
    """The replay source: ``parts`` (DataFrames, all of ``schema``)
    streamed back as micro-batches 0..n-1, in order. ``prefix`` must be
    registered in ``_REPLAY_PREFIXES`` so the purge hook can find it."""
    base = _replay_files(prefix, sf_dir, parts)
    return read_events_stream(spark, os.path.join(base, "stream"), schema)


def run_scratch(prefix: str, sf_dir: str) -> str:
    """Per-run scratch dir ``<scratch>/<prefix>_run_<tag>``, emptied on
    entry and returned. Checkpoints, fold state and sink output live
    here, OUTSIDE the session-lifetime replay dir: a reused checkpoint
    would mark every replay file already committed and run ZERO
    batches, so every run starts from an empty one."""
    run_base = os.path.join(stream_scratch_root(), f"{prefix}_run_{state_tag(sf_dir)}")
    shutil.rmtree(run_base, ignore_errors=True)
    return run_base


def run_available_now(
    df: DataFrame,
    partitions: int,
    *,
    memory: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    parquet: str | None = None,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run the streaming ``df`` to completion and return the finished
    query. The sink is exactly one of a memory table named ``memory``, a
    ``foreach_batch`` function, or a ``parquet`` path; a failed batch
    re-raises from here.

    ``partitions`` pins the stateful-operator partition count for the
    query's lifetime. Streaming state partitioning comes from
    ``spark.sql.shuffle.partitions`` AT FIRST BATCH and is
    checkpoint-sticky — so it must be sized to STATE volume (open
    windows / distinct keys), not to data volume like a batch shuffle:
    here a few hundred open windows across 32 state stores is pure
    per-batch store open/commit overhead (measured 2.6s → 1.5s at sf0.1
    with 8; a further ~0.4s/query at 2, r11 — these replays hold ≤50
    keys, so even 2 stores are mostly empty; size UP with key count on a
    real stream). The session conf is restored afterwards, also when the
    query fails; batch queries are unaffected (AQE coalesces their
    shuffles independently)."""
    writer = df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if memory is not None:
        writer = writer.format("memory").queryName(memory)
    elif foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format("parquet").option("path", parquet)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return q


def state_member(state: DataFrame, member: str, *cols) -> DataFrame:
    """One member's rows of a union-schema fold state."""
    return state.filter(F.col("member") == member).select(*cols)


def _as_member(df: DataFrame, member: str, members: dict[str, str]) -> DataFrame:
    have = set(df.columns)
    out = df.select(F.lit(member).alias("member"), "*")
    for c, typ in members.items():
        if c not in have:
            out = out.withColumn(c, F.lit(None).cast(typ))
    return out.select("member", *members)


def fold_versioned_state(
    stream: DataFrame,
    run_base: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame | dict[str, DataFrame]],
    members: dict[str, str] | None = None,
) -> DataFrame:
    """Fold a replay into versioned parquet state under ``run_base`` and
    return the last version. Batch ``b`` calls ``step(batch_df, prev)``
    — ``prev`` is the last committed version, ``None`` before the
    first — and writes the result to ``v{b}``.

    Versioned dirs give atomic swap: the last committed version advances
    only after the write job returns, so a failed batch never exposes
    partial state — the next fold reads the intact previous version.
    Each version is published with ``mode("overwrite")`` because
    foreachBatch is AT-LEAST-ONCE: a batch that dies mid-write leaves a
    partial ``v{b}`` dir, and the retry of that batch id must be able to
    recommit over it (errorifexists would wedge the stream on its own
    debris).

    With ``members`` (column → type, in state order) the state is ONE
    union-schema file holding several frames: ``step`` returns
    ``{member: frame}``, each frame is tagged in a ``member`` column and
    padded with typed NULLs for the columns it lacks, and readers pick a
    member with :func:`state_member`. One write job per micro-batch
    instead of one per member — the replay-floor decomposition showed
    ~0.3 s FIXED cost per job, and the members are tiny at any scale.
    Runs on 2 state partitions, like every foreachBatch replay."""
    state_base = os.path.join(run_base, "state")
    last = -1

    def version(batch_id: int) -> str:
        return os.path.join(state_base, f"v{batch_id}")

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal last
        prev = batch_df.sparkSession.read.parquet(version(last)) if last >= 0 else None
        new = step(batch_df, prev)
        if members is not None:
            new = reduce(
                DataFrame.unionByName,
                [_as_member(df, name, members) for name, df in new.items()],
            )
        new.write.mode("overwrite").parquet(version(batch_id))
        last = batch_id

    run_available_now(
        stream, 2, foreach_batch=fold_batch, checkpoint=os.path.join(run_base, "cp")
    )
    return stream.sparkSession.read.parquet(version(last))
