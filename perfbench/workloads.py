"""The workloads. Each is one seeded client in a closed loop: it sends
its next op only after the previous one returned.

``run.py`` drives a workload in five steps: ``inputs()`` and ``setup()``
(both timed as set-up, after the derived state is purged), ``warmup()``,
``run(seconds)`` and ``check()``. Only ``run`` is timed for the op metrics;
every correctness check happens outside it.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kiji_scoring_spark.fresh import FreshTableReader
from kiji_scoring_spark.policies import AlwaysFreshen, ShelfLife
from kiji_scoring_spark.queries import QUERIES
from kiji_scoring_spark.registry import FreshenerRegistry, TableLayout
from kiji_scoring_spark.sources import load_table

from . import capsules
from .stats import median

DOUBLE_PRODUCER = "kiji_scoring_spark.lib.DoubleLatestValueProducer"
SHELF_LIFE = "kiji_scoring_spark.policies.ShelfLife"


def _shelf_state() -> str:
    return ShelfLife(capsules.SHELF_LIFE_MS).serialize()


def _newest(table, col: str) -> tuple[np.ndarray, np.ndarray]:
    first = pc.list_element(table.column(col), 0)
    return (
        pc.struct_field(first, "ts").to_numpy(zero_copy_only=False),
        pc.struct_field(first, "value").to_numpy(zero_copy_only=False),
    )


def _cells(row_value) -> list[tuple[int, float]]:
    return [(c["ts"], c["value"]) for c in row_value]


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.layers: dict[str, float] = {}
        self.op_ms: list[float] = []
        self.elapsed = 0.0

    def end_to_end(self) -> dict[str, float]:
        return {
            "op_p50_ms": median(self.op_ms),
            "ops_per_s": len(self.op_ms) / self.elapsed if self.elapsed else 0.0,
        }

    def _op(self, op: int, label: str, fn, **attrs):
        """Run op number ``op`` under an ``op.<label>`` span; return
        (result, seconds, harvest or None, job-group spans)."""
        ctx = self.ctx
        ctx.mark(f"{op} {label}")
        with ctx.tracer.span(f"op.{label}", op, **attrs):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.attempted += 1
        if ctx.harvester is None:
            return out, dt, None, {}
        t1 = time.perf_counter()
        h = ctx.harvester.collect()
        groups = ctx.add_job_spans(h, op)
        ctx.harvest_s += time.perf_counter() - t1
        return out, dt, h, groups


# ---------------------------------------------------------------------------


class FreshPointReads(Workload):
    """``get`` / 16-key ``bulk_get`` with two capsules attached, Zipf keys."""

    name = "fresh_point_reads"
    TABLE = "pb_orders"
    REREAD_EVERY = 5
    BULK = 16
    #: reads before timing: latency falls over the first ~40 reads of a run
    #: (651 -> 473 ms median per 10 reads) while the JIT warms, but with 4,
    #: 20 or 30 warm-up reads the run-to-run spread was set by the host
    WARMUP_READS = 15

    def inputs(self) -> None:
        self.path = os.path.join(self.ctx.data_dir, "fresh_reads.parquet")

    def setup(self) -> None:
        ctx = self.ctx
        self.df = ctx.spark.read.parquet(self.path)
        reg = FreshenerRegistry()
        layout = TableLayout(self.df.schema)
        reg.store(layout, self.TABLE, "value:versions", DOUBLE_PRODUCER, SHELF_LIFE,
                  _shelf_state())
        reg.store(layout, self.TABLE, "kv:versions",
                  "perfbench.capsules.KvScaledProducer",
                  "perfbench.capsules.ShelfLifeWithStore", _shelf_state())
        self.reader = FreshTableReader(ctx.spark, self.TABLE, self.df, reg,
                                       key_col="entity_id")
        self.reader.preload()

    def _plan(self, n: int) -> list[tuple[str, list[int], int]]:
        """The seeded op stream: (kind, keys, as_of)."""
        keys = self.keys
        perm = self.rng.permutation(len(keys))
        clock = int(self.max_ts) + 1 + int(self.rng.integers(0, 1000))

        def key() -> int:
            if self.rng.random() < 0.8:  # Zipf head, s = 1.1
                while (r := int(self.rng.zipf(1.1))) > len(keys):
                    pass
                return int(keys[perm[r - 1]])
            return int(keys[self.rng.integers(0, len(keys))])  # uniform tail

        ops = []
        for _ in range(n):
            clock += int(self.rng.integers(100, 400))
            if self.rng.random() < 1 / 3:
                ks = list(dict.fromkeys(key() for _ in range(self.BULK)))
                ops.append(("bulk_get", ks, clock))
            else:
                ops.append(("get", [key()], clock))
        return ops

    def warmup(self) -> None:
        table = pq.read_table(self.path, columns=["entity_id"])
        self.keys = np.sort(table.column("entity_id").to_numpy())
        ts, _ = _newest(pq.read_table(self.path, columns=["value_versions"]),
                        "value_versions")
        self.max_ts = ts.max()
        for kind, ks, as_of in self._plan(self.WARMUP_READS):
            self._read(kind, ks, as_of).collect()

    def _read(self, kind: str, ks: list[int], as_of: int):
        if kind == "get":
            return self.reader.get(ks[0], as_of)
        return self.reader.bulk_get(ks, as_of)

    def run(self, seconds: float) -> None:
        ctx = self.ctx
        plan = self._plan(5_000)
        self.results = []
        lat = {"get": [], "bulk_get": []}
        build = {"get": [], "bulk_get": []}
        execs = {"get": [], "bulk_get": []}
        resolve, jobs, tasks, scan_bytes, ratio = [], [], [], [], []
        if ctx.harvester is not None:
            ctx.harvester.mark()
        t_start = time.perf_counter()
        for i, (kind, ks, as_of) in enumerate(plan):
            if time.perf_counter() - t_start >= seconds:
                break
            if i and i % self.REREAD_EVERY == 0:
                t0 = time.perf_counter()
                self.reader.reread_policies()
                self.reader.preload()
                resolve.append((time.perf_counter() - t0) * 1000)
            stamp = {}

            def op(kind=kind, ks=ks, as_of=as_of, i=i):
                t0 = time.perf_counter()
                with ctx.tracer.span(f"fresh.{kind}.build", i):
                    df = self._read(kind, ks, as_of)
                stamp["build"] = time.perf_counter() - t0
                with ctx.tracer.span(f"fresh.{kind}.exec", i):
                    return df.collect()

            rows, dt, h, _ = self._op(i, kind, op)
            self.results.append((kind, ks, as_of, rows))
            lat[kind].append(dt * 1000)
            self.op_ms.append(dt * 1000)
            build[kind].append(stamp["build"] * 1000)
            execs[kind].append((dt - stamp["build"]) * 1000)
            if h is not None:
                jobs.append(len(h.jobs))
                tasks.append(h.tasks)
                scan_bytes.append(h.input_bytes)
                ratio.append(h.input_records / max(len(rows), 1))
        self.elapsed = time.perf_counter() - t_start
        for kind in ("get", "bulk_get"):
            self.layers[f"fresh.{kind}.p50_ms"] = median(lat[kind])
            self.layers[f"fresh.{kind}.build_ms"] = median(build[kind])
            self.layers[f"fresh.{kind}.exec_ms"] = median(execs[kind])
        self.layers["registry.resolve_ms"] = median(resolve)
        self.layers["fresh.read.jobs_per_op"] = median(jobs)
        self.layers["fresh.read.tasks_per_op"] = median(tasks)
        self.layers["fresh.read.scan_bytes_per_op"] = median(scan_bytes)
        self.layers["fresh.read.rows_scanned_per_row_returned"] = median(ratio)

    def check(self) -> None:
        """Every returned row must equal the base row freshened in Python:
        a stale cell (older than the shelf life at ``as_of``) gains a new
        newest cell (as_of, score), where score is 2 x newest value for
        ``value`` and newest value x (2 + segment) for ``kv`` (the policy's
        store masking the producer's)."""
        wanted = sorted({k for _, ks, _, _ in self.results for k in ks})
        table = pq.read_table(self.path, columns=["entity_id", "seg", "value_versions",
                                                  "kv_versions"])
        keep = pc.is_in(table.column("entity_id"), value_set=pa.array(wanted, pa.int64()))
        table = table.filter(keep)
        base = {r["entity_id"]: r for r in table.to_pylist()}
        shelf = capsules.SHELF_LIFE_MS

        def fresh(cells, as_of, score):
            if cells and cells[0][0] >= as_of - shelf:
                return cells
            return [(as_of, score)] + [c for c in cells if c[0] < as_of]

        for kind, ks, as_of, rows in self.results:
            got = {
                r["entity_id"]: (_cells(r["value_versions"]), _cells(r["kv_versions"]))
                for r in rows
            }
            if sorted(got) != sorted(set(ks)):
                self.failures.append(f"{kind} {ks} @ {as_of}: keys {sorted(got)}")
                continue
            for k in ks:
                b = base[k]
                v = _cells(b["value_versions"])
                kv = _cells(b["kv_versions"])
                want = (fresh(v, as_of, v[0][1] * 2),
                        fresh(kv, as_of, kv[0][1] * (2 + b["seg"])))
                if got[k] != want:
                    self.failures.append(f"{kind} key {k} @ {as_of}: wrong cells")
                    break


# ---------------------------------------------------------------------------


class Rescore:
    """``freshen_with_timeout`` with writeback over three capsules on
    separate columns (expression, pandas, MLlib), and a deliberate overrun:
    a pandas producer that sleeps past a 1 s budget."""

    TABLE = "pb_rescore"
    SLOW_TABLE = "pb_slow"
    #: the rescored slice: entity ids below this (about a fifth of the table;
    #: the key-sorted row groups let the scan skip the rest)
    KEYS = 15_000
    OVERRUN_BUDGET_MS = 1000
    #: attached columns in the engine's (sorted) capsule order
    KINDS = {"mscore:versions": "mllib", "pscore:versions": "pandas",
             "value:versions": "expression"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.data_dir, "fresh_rescore.parquet")
        self.scored = os.path.join(ctx.run_dir, "scored")
        self.results: list[tuple[int, object, bool]] = []

    def fit(self) -> None:
        """The MLlib capsule's PipelineModel, fit once."""
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.regression import LinearRegression

        # every 20th order, with a label the features nearly explain
        pdf = pq.read_table(self.path, columns=["entity_id", "feat_total",
                                                "feat_lines"]).to_pandas()[::20]
        pdf["pb_label"] = pdf["feat_total"] / 1000 + pdf["entity_id"] % 7
        train = self.ctx.spark.createDataFrame(pdf.drop(columns="entity_id"))
        capsules.FITTED["pipeline"] = Pipeline(stages=[
            VectorAssembler(inputCols=["feat_total", "feat_lines"], outputCol="pb_features"),
            LinearRegression(featuresCol="pb_features", labelCol="pb_label",
                             solver="normal"),
        ]).fit(train)

    def setup(self) -> None:
        ctx = self.ctx
        self.df = ctx.spark.read.parquet(self.path).filter(F.col("entity_id") < self.KEYS)
        layout = TableLayout(self.df.schema)
        reg = FreshenerRegistry()
        reg.store(layout, self.TABLE, "value:versions", DOUBLE_PRODUCER, SHELF_LIFE,
                  _shelf_state())
        reg.store(layout, self.TABLE, "pscore:versions",
                  "perfbench.capsules.NumpyScoreProducer", SHELF_LIFE, _shelf_state())
        reg.store(layout, self.TABLE, "mscore:versions",
                  "perfbench.capsules.PipelineProducer", SHELF_LIFE, _shelf_state())
        self.reader = FreshTableReader(ctx.spark, self.TABLE, self.df, reg,
                                       key_col="entity_id", scored_path=self.scored)
        self.reader.preload()
        slow = FreshenerRegistry()
        slow.store(layout, self.SLOW_TABLE, "pscore:versions",
                   "perfbench.capsules.SleepyProducer",
                   "kiji_scoring_spark.policies.AlwaysFreshen", AlwaysFreshen().serialize())
        self.slow = FreshTableReader(ctx.spark, self.SLOW_TABLE, self.df, slow,
                                     key_col="entity_id",
                                     scored_path=os.path.join(ctx.run_dir, "scored_slow"))
        self.slow.preload()

    def load_expected_inputs(self) -> None:
        table = pq.read_table(self.path, columns=["feat_total", "feat_lines",
                                                  "value_versions", "pscore_versions",
                                                  "mscore_versions"],
                              filters=[("entity_id", "<", self.KEYS)])
        self.feat_total = table.column("feat_total").to_numpy()
        self.feat_lines = table.column("feat_lines").to_numpy()
        self.newest = {c: _newest(table, f"{c}_versions") for c in ("value", "pscore", "mscore")}
        self.rows = table.num_rows
        #: the clock just past the newest cell: about half the rows are stale
        self.base_as_of = int(self.newest["value"][0].max()) + 1
        self.stale_rows = sum(n for n, _ in self.expected(self.base_as_of).values())

    def expected(self, as_of: int) -> dict[str, tuple[int, float]]:
        """Per attached column: (cells written at as_of, sum of newest values)
        after one freshen at ``as_of``, computed in numpy from the base table."""
        shelf = capsules.SHELF_LIFE_MS
        lr = capsules.FITTED["pipeline"].stages[-1]
        coef = lr.coefficients.toArray()
        score = {
            "value": lambda v: v * 2,
            "pscore": lambda v: np.sqrt(self.feat_total) * 10.0 + self.feat_lines,
            "mscore": lambda v: lr.intercept + coef[0] * self.feat_total
            + coef[1] * self.feat_lines,
        }
        out = {}
        for col, fn in score.items():
            ts, val = self.newest[col]
            stale = ts < as_of - shelf
            out[col] = (int(stale.sum()), float(np.where(stale, fn(val), val).sum()))
        return out

    def warm(self) -> bool:
        """Warm the rescore code paths on a slice of the table: the first
        rescore of a run pays about 4 s more (Python worker start-up, code
        generation) than the next."""
        small = FreshTableReader(
            self.ctx.spark, self.TABLE, self.df.filter(F.col("entity_id") < 5000),
            self.reader.registry, key_col="entity_id", scored_path=self.scored)
        _, ok = small.freshen_with_timeout(self.base_as_of, timeout_ms=600_000)
        shutil.rmtree(self.scored, ignore_errors=True)
        return ok

    def freshen(self, as_of: int):
        return self.reader.freshen_with_timeout(as_of, timeout_ms=600_000)

    def overrun(self, as_of: int):
        return self.slow.freshen_with_timeout(as_of, timeout_ms=self.OVERRUN_BUDGET_MS)

    def check(self) -> list[str]:
        """Digest of each written-back table against numpy: row count and,
        per attached column, the cells written at ``as_of`` and the sum of
        the newest values."""
        wrong = []
        for as_of, df, ok in self.results:
            if not ok:
                wrong.append(f"freshen @ {as_of} did not complete")
                continue
            aggs = [F.count(F.lit(1)).alias("rows")]
            for c in ("value", "pscore", "mscore"):
                first = F.try_element_at(F.col(f"{c}_versions"), F.lit(1))
                aggs.append(F.sum((first["ts"] == as_of).cast("long")).alias(f"{c}_n"))
                aggs.append(F.sum(first["value"]).alias(f"{c}_sum"))
            got = df.agg(*aggs).collect()[0]
            want = self.expected(as_of)
            bad = got["rows"] != self.rows or any(
                got[f"{c}_n"] != n or not np.isclose(got[f"{c}_sum"], s, rtol=1e-9)
                for c, (n, s) in want.items()
            )
            if bad:
                wrong.append(f"freshen @ {as_of}: digest {got} != {want}")
        shutil.rmtree(self.scored, ignore_errors=True)
        return wrong


# ---------------------------------------------------------------------------

#: the streaming replay of each pass, a registry query
REPLAY = "streaming_foreachbatch_merge_upsert"
#: the tables ``load_table`` is timed on: the one the replay reads
QUERY_TABLES = ("events",)


def _parity_module(root: str):
    """``tests/test_oracle_parity.py``: its DuckDB views and normalization
    are the engine's own oracle contract."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_parity", os.path.join(root, "tests", "test_oracle_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticsMix(Workload):
    """Passes of a batch rescore (``freshen_with_timeout`` with writeback)
    and a streaming replay (a registry query, fully materialized by a noop
    sink). One op is one pass."""

    name = "analytics_mix"
    #: a run times at least this many passes, so ``op_p50_ms`` is a median
    MIN_PASSES = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rescore = Rescore(ctx)

    def inputs(self) -> None:
        """Direct ``load_table`` calls per table (the first
        infers the merged schema, the second is served from the schema
        cache), and the MLlib fit."""
        ctx = self.ctx
        cold, warm = [], []
        for t in QUERY_TABLES:
            t0 = time.perf_counter()
            load_table(ctx.spark, ctx.data_dir, t)
            t1 = time.perf_counter()
            load_table(ctx.spark, ctx.data_dir, t)
            cold.append((t1 - t0) * 1000)
            warm.append((time.perf_counter() - t1) * 1000)
        self.layers["sources.load_table.cold_ms"] = median(cold)
        self.layers["sources.load_table.warm_ms"] = median(warm)
        self.rescore.fit()

    def setup(self) -> None:
        self.rescore.setup()  # the replay loads its own table

    def warmup(self) -> None:
        """The first replay: it builds its derived state, and its collected
        rows are checked against the query's DuckDB oracle. Then a rescore
        of a slice."""
        ctx, rs = self.ctx, self.rescore
        rs.load_expected_inputs()
        parity = _parity_module(ctx.root)
        con = parity.duck_con(ctx.data_dir)
        spec = QUERIES[REPLAY]
        ctx.mark(f"check {REPLAY}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = parity.normalize(spec.fn(ctx.spark, ctx.data_dir).toPandas())
            want = parity.normalize(con.execute(spec.oracle).fetchdf())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                raise AssertionError(f"shape {got.shape} vs {want.shape}")
            if len(got):
                parity.pd.testing.assert_frame_equal(got, want, check_exact=True)
        except Exception as e:  # noqa: BLE001 — any failure is a wrong result
            self.failures.append(f"{REPLAY}: {str(e)[:200]}")
        self.layers["analytics.first_replay_s"] = time.perf_counter() - t0
        con.close()
        ctx.mark("rescore warm-up")
        if not rs.warm():
            self.failures.append("the warm-up rescore did not complete")

    def _overrun(self) -> None:
        """The deliberate overrun: a pandas producer that sleeps past a 1 s
        budget, so ``freshen_with_timeout`` must cancel, drain and fall back
        to the stale table. Timed after the window, so that traced and
        untraced runs time the same ops."""
        rs = self.rescore
        self.ctx.mark("overrun")
        self.attempted += 1
        t0 = time.perf_counter()
        _, ok = rs.overrun(rs.base_as_of)
        dt = time.perf_counter() - t0
        if ok:
            self.failures.append("the overrun op reported fully fresh")
        self.layers["fresh.timeout.return_p50_ms"] = dt * 1000
        self.layers["fresh.timeout.overshoot_ms"] = dt * 1000 - rs.OVERRUN_BUDGET_MS

    def _replay(self, i: int) -> None:
        """The replay runs its whole stream inside the ``fn`` call, so all
        of it is execution; the noop write materializes the returned state
        table."""
        with self.ctx.tracer.span("query.exec", i, query=REPLAY):
            df = QUERIES[REPLAY].fn(self.ctx.spark, self.ctx.data_dir)
            df.write.format("noop").mode("overwrite").save()

    def run(self, seconds: float) -> None:
        ctx, rs = self.ctx, self.rescore
        fresh = {k: [] for k in ("driver", "written", "write_bytes", "shuffle", "jobs",
                                 *rs.KINDS.values())}
        batch_s, replay_s = [], []
        sums = {}
        listener = None
        if ctx.harvester is not None:
            from .harvest import ProgressListener

            listener = ProgressListener()
            ctx.spark.streams.addListener(listener)
            ctx.harvester.mark()
        # seeded: the rescore clock (a per-op offset also gives every rescore
        # its own job groups)
        as_of = rs.base_as_of + 1 + int(self.rng.integers(0, 1000))
        t_start = time.perf_counter()
        p = 0
        while p < self.MIN_PASSES or time.perf_counter() - t_start < seconds:
            as_of += 1 + int(self.rng.integers(0, 5))
            (df, ok), dt, h, spans = self._op(2 * p, "rescore", lambda: rs.freshen(as_of),
                                              pass_=p)
            rs.results.append((as_of, df, ok))
            batch_s.append(dt)
            if h is not None:
                cap_total = 0.0
                for idx, (col, kind) in enumerate(sorted(rs.KINDS.items())):
                    lo, hi = spans.get(f"freshen-{rs.TABLE}-{as_of}-{idx}", (0.0, 0.0))
                    fresh[kind].append(hi - lo)
                    cap_total += hi - lo
                fresh["driver"].append(dt - cap_total)
                fresh["written"].append(h.output_records / max(rs.stale_rows, 1))
                fresh["write_bytes"].append(h.output_bytes)
                fresh["shuffle"].append(h.shuffle_write_bytes)
                fresh["jobs"].append(len(h.jobs))
            _, dt, h, _ = self._op(2 * p + 1, "replay", lambda: self._replay(2 * p + 1),
                                   query=REPLAY, pass_=p)
            replay_s.append(dt)
            if h is not None:
                for k, v in (
                    ("jobs", len(h.jobs)), ("stages", h.stages), ("tasks", h.tasks),
                    ("executor_run_s", h.run_ms / 1000), ("executor_cpu_s", h.cpu_ns / 1e9),
                    ("shuffle_write_bytes", h.shuffle_write_bytes),
                    ("shuffle_read_bytes", h.shuffle_read_bytes),
                    ("spill_bytes", h.spill_bytes), ("scan_bytes", h.input_bytes),
                ):
                    sums[k] = sums.get(k, 0.0) + v
                sums["broadcast_bytes_max"] = max(
                    sums.get("broadcast_bytes_max", 0.0), h.broadcast_bytes_max)
            self.op_ms.append((batch_s[-1] + replay_s[-1]) * 1000)
            p += 1
        self.elapsed = time.perf_counter() - t_start
        n = max(p, 1)
        self.layers["analytics.batch_pass_s"] = median(batch_s)
        self.layers["analytics.replay_pass_s"] = median(replay_s)
        self.layers["fresh.rescore.rows_per_s"] = rs.stale_rows / median(batch_s)
        for kind in rs.KINDS.values():
            self.layers[f"fresh.capsule.{kind}_s"] = median(fresh[kind])
        self.layers["fresh.rescore.driver_s"] = median(fresh["driver"])
        self.layers["fresh.rescore.rows_written_per_stale_row"] = median(fresh["written"])
        self.layers["fresh.rescore.write_bytes"] = median(fresh["write_bytes"])
        self.layers["fresh.rescore.shuffle_bytes"] = median(fresh["shuffle"])
        self.layers["fresh.rescore.jobs_per_op"] = median(fresh["jobs"])
        if ctx.harvester is None:
            return
        for k, v in sums.items():
            self.layers[f"queries.{k}"] = v if k == "broadcast_bytes_max" else v / n
        cores = ctx.spark.sparkContext.defaultParallelism
        self.layers["queries.core_busy_share"] = (
            self.layers["queries.executor_run_s"] / (median(replay_s) * cores)
        )
        ctx.harvester.sync()
        ctx.spark.streams.removeListener(listener)
        phases = {}
        for b in listener.batches:
            for k, v in b["durationMs"].items():
                phases[k] = phases.get(k, 0.0) + v
        self.layers["streaming.batches"] = len(listener.batches) / n
        for k in ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
                  "latestOffset", "queryPlanning", "getBatch"):
            key = "trigger" if k == "triggerExecution" else k
            self.layers[f"streaming.{key}_ms"] = phases.get(k, 0.0) / n
        trig = self.layers["streaming.trigger_ms"]
        self.layers["streaming.machinery_share"] = (
            1 - self.layers["streaming.addBatch_ms"] / trig if trig else 0.0
        )
        self.layers["streaming.outside_trigger_s"] = median(replay_s) - trig / 1000
        ctx.trace_extra["streaming_batches"] = listener.batches
        self._overrun()

    def check(self) -> None:
        """The queries were checked in warmup(); the rescores are checked
        here, each against its own ``as_of``."""
        self.failures += self.rescore.check()


WORKLOADS = {w.name: w for w in (FreshPointReads, AnalyticsMix)}
