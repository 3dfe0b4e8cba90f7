"""The freshen pass + fresh readers — Spark translation of the reference's
core conditional score-and-writeback loop (SURVEY §2.A rows A1/A2/A7/A10,
§3.1-3.2).

Reference hot path (``impl/InternalFreshKijiTableReader.java:663-725``):
per requested column with an attached freshener, evaluate the policy; if
stale, run the producer on the row (with the producer's own data request),
write the result back to the attached column, and reread. Bounded by a
timeout with stale fallback.

Batch redefinition (SURVEY §4.3.1): freshening a table is ONE declarative
pass —

    stale   = rows where policy.is_fresh(attached_col, as_of) is not TRUE
    scored  = producer over the stale rows (expression / pandas / MLlib)
    result  = table with attached_col := with_put(attached_col, as_of,
              score) on stale rows, untouched elsewhere

The timeout→stale-fallback contract (A10) becomes: the freshen job runs
under a wall-clock budget; if the budget expires the job group is
cancelled and the ORIGINAL (stale) table is returned — the exact analog of
"return stale data on timeout" (``InternalFreshKijiTableReader.java:
686-724``). ``coalesce(new, old)`` inside the merge guarantees rows the
producer didn't reach keep their stale values (partial freshening,
``:703-708``).

Scale: an expression producer stays in codegen, and its merge is one
projection (when/otherwise) over one scan. A pandas capsule also keeps one
scan and the input's partitioning: its scalar iterator ``pandas_udf`` takes
the stale predicate as an argument and hands ``batch_fn`` only the stale
rows of each Arrow batch, so every other row scores NULL. An MLlib capsule
splits the table on the stale predicate, transforms the stale half and
unions it with the fresh half, whose score is NULL, so the transformer
never sees a fresh row. Either way the merge projection is the same. Each
row is scored on its own, as the reference's producer writes into the row
it was handed (``impl/KijiFreshProducerContext.java:102-106``), so
duplicate or NULL keys change nothing; the plan has no join and no
exchange. Nothing shuffles unless the producer itself needs to.

Compile once per capsule generation (A13): the reference builds a capsule's
policy and producer once (``makeCapsule``) and reuses them on every read
until ``rereadPolicies``. Here resolving a capsule also compiles it: the
fresh predicate, the score and the merged attached-column Column are built
once, against the reserved bigint column ``__as_of__`` instead of a literal
clock, and are dropped with the capsule. The capsule's first freshen reads
its merged KV stores once and folds them into literal maps. A freshen call
only adds ``__as_of__`` as a literal, looks the stores up in their maps and
selects the cached Columns; Catalyst's CollapseProject and ConstantFolding
put the literal back, so a point read plans to one scan: no join, no
exchange. A table with its own ``__as_of__`` column is rejected. A reread
keeps every capsule whose registry record is unchanged, Columns and folded
stores included, and rebuilds only the added or changed ones
(``rereadPolicies``, ``InternalFreshKijiTableReader.java:271-309``).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import model
from .policies import FreshnessPolicy
from .producers import (
    ExpressionProducer,
    MLlibProducer,
    PandasProducer,
    Producer,
    attach_stores,
    fold_store,
    merge_stores,
    placeholders,
    store_sides,
)
from .registry import (
    FreshenerRecord,
    FreshenerRegistry,
    TableLayout,
    flat_name,
    load_class,
    parse_column,
)

#: reference default: 100 ms per get (FreshKijiTableReaderBuilder.java:66-67).
#: Batch jobs amortize over many rows, so the default budget is larger.
DEFAULT_TIMEOUT_MS = 10_000

#: reserved column carrying a freshen call's clock (bigint ms)
AS_OF_COL = "__as_of__"
#: a pandas or MLlib producer's score, NULL on the fresh rows
SCORE_COL = "__score__"


def _drain_job_group(sc, group: str, timeout_s: float = 15.0) -> bool:
    """Block until every task of ``group``'s jobs has actually TERMINATED
    (not merely been told to die), bounded by ``timeout_s``.

    Why this exists (root-caused from a real failure): cancelJobGroup
    is asynchronous — it sets the kill flag and returns while the killed
    tasks' Python workers are still being destroyed by PythonRunner's
    monitor thread (up to ``spark.python.task.killTimeout`` = 2 s later).
    With ``spark.python.worker.reuse=true`` a job submitted during that
    drain window can be handed a worker whose channel the monitor closes
    mid-read — java.nio.channels.CancelledKeyException in the NEXT,
    perfectly healthy query (reproduced: a cancelled 30 s pandas producer
    poisoned the next test's parquet write one second later). Draining also
    keeps this query's accumulators referenced until the last task
    completion has reported, which is what prevents the DAGScheduler
    "attempted to access non-existent accumulator" ERROR spam from
    late completions after the plan has been garbage collected.

    What it leaves open: a task stops counting as active once its kill is
    reported, but the monitor thread destroys the task's Python worker on
    its own schedule, so a worker can still be dying after this returns
    True (at most ``spark.python.task.killTimeout`` later). A Python stage
    started inside that window can still, rarely, be handed the dying
    worker. ``test_timeout_storm_then_arrow_stage`` shows the window is
    narrow in practice; it cannot show it is closed.

    Returns True when the group drained, False on deadline (the caller
    keeps its promptness contract either way — a producer stuck in
    non-interruptible native code must not wedge the stale-fallback
    return forever; the monitor thread will still reap it)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        active = 0
        for sid in stage_ids:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                active += sinfo.numActiveTasks
        if active == 0:
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


@dataclass
class CompiledCapsule:
    """A capsule's Columns, built by ``FreshTableReader._compile`` against
    the ``__as_of__`` column, so no freshen call rebuilds them."""

    #: the table the Columns were built for
    table: DataFrame
    #: the merged KV stores (policy stores mask producer stores)
    stores: list
    #: NOT coalesce(policy.is_fresh, false): the rows a pandas or MLlib
    #: producer scores. A NULL verdict is stale, as in the merge
    stale: Column
    #: the table's columns in order, the attached one merged
    projection: list[Column]
    #: the stores' lookups into their literal maps, folded by the first
    #: freshen (``_freshen_column``); None until then. Two first freshens
    #: that race both fold, and either result serves
    lookups: list[Column] | None = None


@dataclass
class Freshener:
    """A resolved capsule: policy + producer bound to an attached column
    (``makeCapsule``, ``impl/InternalFreshKijiTableReader.java:356-386``).
    ``compiled`` is filled when a reader resolves the capsule and goes
    away with it."""

    column: str  # 'family:qualifier' or map-family name
    policy: FreshnessPolicy
    producer: Producer
    compiled: CompiledCapsule | None = field(default=None, repr=False, compare=False)


class FreshTableReader:
    """Fresh reader over a DataFrame-backed table.

    Mirrors ``FreshKijiTableReader``: ``get``/``bulk_get`` behave like
    plain reads except attached columns are freshened first. Capsules are
    resolved lazily from the registry, compiled, and cached;
    ``reread_policies`` invalidates the cache, and the next resolve keeps
    the capsules whose records did not change (A13). A capsule dict
    assigned to ``_capsules`` directly is compiled on first use, and no
    registry resolve reuses its capsules.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_name: str,
        df: DataFrame,
        registry: FreshenerRegistry,
        key_col: str = "entity_id",
        timeout_ms: int = DEFAULT_TIMEOUT_MS,
        allow_partial: bool = False,
        scored_path: str | None = None,
    ):
        self.spark = spark
        self.table_name = table_name
        self.df = df
        self.registry = registry
        self.key_col = key_col
        self.timeout_ms = timeout_ms
        self.allow_partial = allow_partial
        #: scored-table location for materialized freshens (A8 writeback
        #: target); a temp dir is created lazily if not given
        self.scored_path = scored_path
        self._capsules: dict[str, Freshener] | None = None
        #: the registry-resolved capsules, each with the record it was
        #: built from: a resolve reuses those whose record is unchanged
        self._built: dict[str, tuple[FreshenerRecord, Freshener]] = {}
        self._reread_timer: threading.Timer | None = None
        #: serializes timer re-arm vs stop so a stop can never race a tick
        #: into leaving an orphan timer armed
        self._reread_lock = threading.Lock()
        #: bumped by every start/stop; a tick re-arms only if its generation
        #: is still current (stale ticks die silently)
        self._reread_generation = 0

    # -- capsule lifecycle (A13) -----------------------------------------

    def _resolve_capsules(self) -> dict[str, Freshener]:
        caps = self._capsules
        resolved = caps is None
        if resolved:
            kept = self._built
            built = {}
            for column, rec in self.registry.retrieve_all(self.table_name).items():
                prev = kept.get(column)
                if prev is not None and prev[0] == rec:
                    built[column] = prev
                    continue
                policy_cls = load_class(rec.freshness_policy_class)
                policy = policy_cls()
                if rec.freshness_policy_state:
                    policy.deserialize(rec.freshness_policy_state)
                producer_cls = load_class(rec.producer_class)
                producer = producer_cls() if isinstance(producer_cls, type) else producer_cls
                built[column] = (
                    rec, Freshener(column=column, policy=policy, producer=producer)
                )
            caps = {column: cap for column, (_, cap) in built.items()}
        for cap in caps.values():
            if cap.compiled is None or cap.compiled.table is not self.df:
                cap.compiled = self._compile(cap)
        if resolved:
            # store only a new generation: storing the dict read above could
            # bring back one that a concurrent reread just dropped
            self._built = built
            self._capsules = caps
        return caps

    def reread_policies(self, preload: bool = False) -> None:
        """Drop cached capsules; the next read re-resolves from the
        registry, keeping each capsule whose record equals the one it was
        built from and building the rest (``rereadPolicies(boolean)``,
        ``InternalFreshKijiTableReader.java:271-309``). With ``preload``
        the re-resolution happens EAGERLY, before any read needs it —
        the reference's ``withPreload`` flag, which immediately preloads
        the records a reread discovered (``:301-308``)."""
        self._capsules = None
        if preload:
            self._resolve_capsules()

    def preload(self) -> None:
        """Eagerly resolve capsules (``preload``, ``:823-827``)."""
        self._resolve_capsules()

    def start_auto_reread(self, period_ms: int, preload: bool = False) -> None:
        """Scheduled automatic reread — the analog of the reference's
        ``RereadTask``/Timer (``InternalFreshKijiTableReader.java:211-221``,
        scheduled at ``:255-259``): every ``period_ms`` the capsule cache is
        dropped so the next read picks up registry changes. Like the
        reference (which requires ``rereadPeriod > 0``), a non-positive
        period is rejected. ``preload`` is the builder's
        ``withPreloadOnAutomaticReread``
        (``FreshKijiTableReaderBuilder.java:171-179``): each scheduled
        reread immediately re-resolves capsules instead of leaving the
        first post-tick read to pay the resolution lazily."""
        if period_ms <= 0:
            raise ValueError(f"reread period must be > 0 ms, got {period_ms}")
        self.stop_auto_reread()

        with self._reread_lock:
            generation = self._reread_generation

            def tick():
                self.reread_policies(preload)
                # re-arm atomically w.r.t. stop: a stop bumps the generation,
                # so a tick that lost the race sees a stale generation and
                # dies instead of arming an orphan timer
                with self._reread_lock:
                    if self._reread_generation != generation:
                        return
                    self._reread_timer = threading.Timer(period_ms / 1000.0, tick)
                    self._reread_timer.daemon = True
                    self._reread_timer.start()

            self._reread_timer = threading.Timer(period_ms / 1000.0, tick)
            self._reread_timer.daemon = True
            self._reread_timer.start()

    def stop_auto_reread(self) -> None:
        """Cancel the scheduled reread (reader close semantics,
        ``InternalFreshKijiTableReader.java`` close cancels the timer)."""
        with self._reread_lock:
            self._reread_generation += 1
            t = self._reread_timer
            self._reread_timer = None
        if t is not None:
            t.cancel()

    # -- freshen pass (A7/A8/A10) ----------------------------------------

    def _versions_expr(self, layout: TableLayout, column: str, map_qual: str) -> Column:
        """Versions expression for any 'family:qualifier' / map-family name.

        A map-type family resolves per qualifier: a qualified request
        ('mapfam:q') reads THAT qualifier's versions; a bare family name
        falls back to the attached producer's write qualifier. This lets a
        policy data request (A6) target a different map cell than the one
        the producer writes — without it, every map-family request would
        silently read the producer's cell."""
        fam, qual = parse_column(column)
        if layout.is_map_family(fam):
            return model.map_get_versions(F.col(fam), qual if qual is not None else map_qual)
        if qual is None:
            raise ValueError(
                f"column {column!r} is a group-type family; request a "
                f"qualified column 'family:qualifier'"
            )
        return F.col(flat_name(column))

    def _compile(self, cap: Freshener) -> CompiledCapsule:
        """Build a capsule's Columns once per capsule generation — the
        Spark half of ``makeCapsule`` (``InternalFreshKijiTableReader.java:
        356-386``). Every Column reads the clock from the reserved
        ``__as_of__`` bigint column, so one build serves every ``as_of``;
        the policy receives that column as its ``as_of``."""
        table = self.df
        if AS_OF_COL in table.columns:
            raise ValueError(
                f"table {self.table_name!r} has a column named {AS_OF_COL!r}, "
                "which the freshen pass reserves for its clock"
            )
        fam, qual = parse_column(cap.column)
        layout = TableLayout(table.schema)
        flat = flat_name(cap.column)
        is_map = qual is None
        target = fam if is_map else flat
        # family-wide producers choose the qualifier they write to
        # (impl/KijiFreshProducerContext.java:115-131)
        map_qual = getattr(cap.producer, "map_qualifier", "score")
        as_of = F.col(AS_OF_COL)

        # A9: KV side-inputs attach BEFORE the freshness predicate is
        # evaluated and on EVERY producer branch — in the reference a policy
        # may consult its getRequiredStores() stores inside isFresh
        # regardless of producer type (KijiFreshnessPolicy.java:86-88,
        # exercised by TestKVStores.java:126-131), with policy stores
        # masking producer stores of the same name
        # (InternalFreshKijiTableReader.java:374-379). The looked-up
        # columns are visible to the predicate, to ExpressionProducer.score,
        # and to a PandasProducer's data_request; the projection drops them.
        # Only the stores' schemas are read here: the first freshen folds
        # them, so building a capsule runs no Spark job.
        stores = store_sides(
            merge_stores(cap.producer.required_stores, cap.policy.required_stores)
        )

        # A6: a policy with its own data request evaluates freshness over
        # THAT projection, not the attached column (the reference's
        # shouldUseClientDataRequest=false branch,
        # InternalFreshKijiTableReader.java:526-536, second read :588-596 —
        # here the "second read" is a different projection of the same row,
        # free under Catalyst).
        policy_req = cap.policy.data_request
        if policy_req is None:
            versions = self._versions_expr(layout, cap.column, map_qual)
            fresh = cap.policy.is_fresh(versions, as_of)
        else:
            requested = {c: self._versions_expr(layout, c, map_qual) for c in policy_req}
            fresh = cap.policy.is_fresh_over(requested, as_of)
        stale = ~F.coalesce(fresh, F.lit(False))

        producer = cap.producer
        if isinstance(producer, (PandasProducer, MLlibProducer)):
            # scored per call over the stale rows (_freshen_column)
            score = F.col(SCORE_COL)
        else:
            # Expression producer: stays fully in codegen; the score is
            # built over typed NULLs named like the store lookups
            score = producer.score(attach_stores(table, placeholders(stores)))

        written = (
            model.map_with_put(F.col(fam), map_qual, as_of, score)
            if is_map
            else model.with_put(F.col(flat), as_of, score)
        )
        # stale & produced → write; stale & score NULL (producer didn't
        # reach the row) → keep old (partial-freshening invariant A10)
        merged = F.when(fresh | score.isNull(), F.col(target)).otherwise(written)
        projection = [
            merged.alias(target) if c == target else F.col(c) for c in table.columns
        ]
        return CompiledCapsule(table, stores, stale, projection)

    def _freshen_column(self, df: DataFrame, cap: Freshener, keep_clock: bool) -> DataFrame:
        """One capsule's per-call work over a table that carries
        ``__as_of__``: the store lookups, a pandas or MLlib producer's
        scoring of the stale rows, and one select of the compiled
        Columns. That select restores the table's columns in order; with
        ``keep_clock`` it also keeps ``__as_of__`` for the next capsule.
        The capsule's first call folds its stores; a call cancelled while
        folding leaves them unfolded for the next."""
        compiled = cap.compiled
        if compiled.lookups is None:
            compiled.lookups = [c for side in compiled.stores for c in fold_store(side)]
        df = attach_stores(df, compiled.lookups)
        producer = cap.producer
        if isinstance(producer, (PandasProducer, MLlibProducer)):
            # score the stale rows in place; a fresh row's NULL score
            # makes the merge keep its old value
            df = producer.score_rows(df, self.key_col, compiled.stale, SCORE_COL)
        if keep_clock:
            return df.select(*compiled.projection, AS_OF_COL)
        return df.select(*compiled.projection)

    def _freshen(self, df: DataFrame, caps: list[Freshener], as_of_ms: int) -> DataFrame:
        """Apply compiled capsules, in order, to ``df`` at ``as_of_ms``."""
        if not caps:
            return df
        df = df.select("*", F.lit(as_of_ms).cast("long").alias(AS_OF_COL))
        for i, cap in enumerate(caps):
            df = self._freshen_column(df, cap, keep_clock=i < len(caps) - 1)
        return df

    def freshen(self, as_of_ms: int, columns: list[str] | None = None) -> DataFrame:
        """Apply every attached freshener (or the requested subset) and
        return the freshened table. Purely declarative — callers decide
        whether to materialize (writeback) or query directly."""
        caps = [
            cap
            for column, cap in sorted(self._resolve_capsules().items())
            if columns is None or column in columns
        ]
        return self._freshen(self.df, caps, as_of_ms)

    def _materialize(self, df: DataFrame, tag: str) -> tuple[DataFrame, str]:
        """Materialize a freshened table by WRITING it to the scored-table
        location and reading it back — the A8 writeback, and the right
        materialization at 100 TB (a cached table evicts under memory
        pressure and silently recomputes; a parquet write is durable, is
        the writeback the reference performs anyway, and downstream reads
        get stats/pruning on the scored data). The write is read back with
        the schema it was written with, so no job infers it."""
        import os

        path = os.path.join(self._scored_root(), tag)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(df.schema).parquet(path), path

    def _scored_root(self) -> str:
        if self.scored_path is None:
            import tempfile

            self.scored_path = tempfile.mkdtemp(prefix=f"scored-{self.table_name}-")
        return self.scored_path

    def freshen_with_timeout(
        self,
        as_of_ms: int,
        timeout_ms: int | None = None,
        allow_partial: bool | None = None,
    ) -> tuple[DataFrame, bool]:
        """A10 batch semantics: materialize the freshened table within a
        wall-clock budget. Returns (table, fully_fresh?).

        The capsules run in units, each one ``_freshen`` plan materialized
        to the scored-table location by one write (the A8 writeback) under
        its own job group. On budget expiry the in-flight group is
        cancelled and drained, and the table of every unit that FINISHED is
        returned:

        - ``allow_partial=False`` (reference default,
          ``FreshKijiTableReaderBuilder.java:63-67``): one unit holds every
          capsule, so the table is read and written once, and a timeout
          returns the ORIGINAL stale table — the stale fallback of
          ``InternalFreshKijiTableReader.java:686-724``.
        - ``allow_partial=True``: one unit per capsule, so the table has
          every capsule that finished inside the budget — the
          partially-fresh branch (``:703-708``). Per-column granularity
          matches the reference, whose freshness futures are per attached
          column.

        Each unit's write supersedes the previous one, which is deleted as
        soon as the next unit materializes — only the newest write (the
        one the returned DataFrame reads) survives, so repeated calls
        don't accumulate table copies. Callers who want a DURABLE scored
        table should pass ``scored_path`` at construction; the lazily
        created default lives under the system temp dir and has temp-dir
        lifetime.
        """
        budget = (timeout_ms if timeout_ms is not None else self.timeout_ms) / 1000.0
        partial = self.allow_partial if allow_partial is None else allow_partial
        deadline = time.monotonic() + budget
        import shutil

        sc = self.spark.sparkContext
        caps = [cap for _, cap in sorted(self._resolve_capsules().items())]
        if partial:
            units = [[cap] for cap in caps]
        else:
            units = [caps] if caps else []
        current = self.df
        prev_path: str | None = None
        for i, unit in enumerate(units):
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                return current, False
            group = f"freshen-{self.table_name}-{as_of_ms}-{i}"
            result: dict[str, object] = {}
            error: list[BaseException] = []

            def run(unit=unit, i=i, group=group):
                try:
                    # interruptOnCancel stays FALSE: thread-interrupting a
                    # pandas stage kills its Arrow workers mid-protocol, and
                    # a reuse pool then hands the poisoned worker to a later
                    # pandas stage (CancelledKeyException in PythonRunner);
                    # disabling worker reuse instead costs ~25-35% on
                    # Arrow-heavy paths. With the plain cancel, PythonRunner's
                    # monitor thread sees the task-killed flag and DESTROYS
                    # the in-flight worker instead of pooling it. That alone
                    # is not enough: the destruction is ASYNC, so the caller
                    # must not start new jobs until the cancelled group
                    # drains — see _drain_job_group at the cancel site
                    # below. Cancellation promptness is pinned by
                    # test_timeout_returns_stale's wall-clock bound; pool
                    # health by test_timeout_storm_then_arrow_stage.
                    sc.setJobGroup(group, "freshen " + ", ".join(c.column for c in unit))
                    out = self._freshen(current, unit, as_of_ms)
                    result["df"], result["path"] = self._materialize(
                        out, f"as_of={as_of_ms}/unit={i}"
                    )
                except BaseException as e:  # noqa: BLE001 — cancelled jobs raise
                    error.append(e)

            t = threading.Thread(target=run, daemon=True)
            t.start()
            t.join(remaining)
            if t.is_alive():
                sc.cancelJobGroup(group)
                t.join(5.0)
                # drain barrier: cancelJobGroup is async — wait for
                # the killed tasks to actually terminate before handing
                # control back, or the caller's next Python-worker stage
                # races the monitor thread's worker destruction (the
                # poisoned-pool CancelledKeyException) and late task
                # completions spam "non-existent accumulator" ERRORs
                # after the cancelled plan is GC'd.
                _drain_job_group(sc, group)
                return current, False
            if error:
                raise error[0]
            current = result["df"]
            # the new write is self-contained, so the superseded previous
            # unit's write (never the one `current` reads) can go now
            if prev_path is not None:
                shutil.rmtree(prev_path, ignore_errors=True)
            prev_path = result["path"]
        return current, True

    # -- reads (A1/A2) ----------------------------------------------------

    def get(self, entity_id, as_of_ms: int, columns: list[str] | None = None) -> DataFrame:
        """A1 point read: freshen then filter by key. The key predicate is
        pushed below the freshen projections by Catalyst, so only the one
        row's partition is read."""
        fresh_df = self.freshen(as_of_ms, columns)
        return fresh_df.filter(F.col(self.key_col) == F.lit(entity_id))

    def bulk_get(
        self, entity_ids: list, as_of_ms: int, columns: list[str] | None = None
    ) -> DataFrame:
        """A2 bulk read: freshen then filter by the key list. ``isin``
        compiles to a pushed ``In`` filter at the scan — for the small,
        driver-known key lists of a bulkGet that beats a semi-join (no
        second relation, no join at all). The reference's per-key thread
        fan-out (``InternalFreshKijiTableReader.java:767-806``) becomes
        Spark task parallelism over the surviving partitions."""
        fresh_df = self.freshen(as_of_ms, columns)
        return fresh_df.filter(F.col(self.key_col).isin(entity_ids))

    def scan(self, as_of_ms: int) -> DataFrame:
        """A3: the reference EXPLICITLY forbids scans on the fresh reader
        (``InternalFreshKijiTableReader.java:808-821``); in Spark a scan is
        the natural primitive, so we lift the restriction."""
        return self.freshen(as_of_ms)
