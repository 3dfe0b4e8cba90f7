"""Per-op numbers read from Spark's own status stores, plus the Spark log.

Everything is read from outside the engine package:

- jobs and stages from the core status store
  (``sc._jsc.sc().statusStore()``: ``job(id)``, ``lastStageAttempt(id)``);
- per-node SQL metrics from the SQL status store
  (``sharedState().statusStore()``: ``planGraph`` / ``executionMetrics``);
- micro-batch phases from a Python ``StreamingQueryListener``;
- ERROR lines from the captured Spark stderr.

Job and SQL-execution ids are handed out sequentially by the driver, and the
benchmark is a single client, so the jobs of one op are exactly the ids that
appeared since the previous harvest. ``Harvester.mark()`` skips anything that
ran before an op, and ``Harvester.collect()`` returns what ran during it.
These sources work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_size(text: str) -> float:
    """Bytes in a SQL size metric: ``'1024.8 KiB'`` or the task-level form
    ``'total (min, med, max (stageId: taskId))\\n9.4 KiB (...)'`` (the total
    is the first size in the string)."""
    m = _SIZE_RE.search(text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class OpHarvest:
    """Everything Spark recorded for the jobs of one op."""

    jobs: list[dict] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    input_bytes: float = 0.0
    input_records: float = 0.0
    output_bytes: float = 0.0
    output_records: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    broadcast_bytes_max: float = 0.0


class Harvester:
    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.core = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.next_exec = 0

    def sync(self) -> None:
        """Wait until every posted listener event reached the stores."""
        try:
            self.jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — fall back to a short grace period
            time.sleep(0.2)

    def _job(self, jid: int):
        try:
            return self.core.job(jid)
        except Exception:  # noqa: BLE001 — NoSuchElementException: not yet run
            return None

    def _skip_jobs(self) -> None:
        while self._job(self.next_job) is not None:
            self.next_job += 1

    def _skip_execs(self) -> None:
        while self.sql.execution(self.next_exec).isDefined():
            self.next_exec += 1

    def mark(self) -> None:
        """Forget everything that ran before now."""
        self.sync()
        self._skip_jobs()
        self._skip_execs()

    def collect(self) -> OpHarvest:
        """Numbers for every job and SQL execution since the last call."""
        self.sync()
        h = OpHarvest()
        stage_ids: set[int] = set()
        while (jd := self._job(self.next_job)) is not None:
            sub = jd.submissionTime()
            end = jd.completionTime()
            group = jd.jobGroup()
            h.jobs.append({
                "id": self.next_job,
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
            })
            sids = jd.stageIds()
            for i in range(sids.size()):
                stage_ids.add(sids.apply(i))
            self.next_job += 1
        for sid in stage_ids:
            try:
                st = self.core.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never attempted
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped (shuffle reuse)
            h.stages += 1
            h.tasks += st.numCompleteTasks()
            h.run_ms += st.executorRunTime()
            h.cpu_ns += st.executorCpuTime()
            h.input_bytes += st.inputBytes()
            h.input_records += st.inputRecords()
            h.output_bytes += st.outputBytes()
            h.output_records += st.outputRecords()
            h.shuffle_read_bytes += st.shuffleReadBytes()
            h.shuffle_write_bytes += st.shuffleWriteBytes()
            h.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        while self.sql.execution(self.next_exec).isDefined():
            self._sql_metrics(self.next_exec, h)
            self.next_exec += 1
        return h

    def _sql_metrics(self, eid: int, h: OpHarvest) -> None:
        """The largest BroadcastExchange "data size" of one SQL execution."""
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if node.name() != "BroadcastExchange":
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                pm = metrics.apply(k)
                v = values.get(pm.accumulatorId())
                if v.isDefined() and pm.name() == "data size":
                    h.broadcast_bytes_max = max(h.broadcast_bytes_max, parse_size(v.get()))


class ProgressListener(StreamingQueryListener):
    """Collects each micro-batch's ``durationMs`` phases."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 — Spark's callback names
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        self.batches.append({
            "query": str(p.name or p.id),
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "durationMs": dict(p.durationMs),
        })

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


#: log4j console line: ``26/10/16 18:37:27 ERROR DAGScheduler: message``
_LOG_RE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ([\w.$]+):")
#: marker the benchmark writes to stderr before each op
OP_MARK = "perfbench-op"


def error_lines(log_text: str) -> list[dict]:
    """Every ERROR line of a captured Spark log, with its logger and the op
    whose marker came before it."""
    out, op = [], "setup"
    for line in log_text.splitlines():
        if line.startswith(OP_MARK):
            op = line[len(OP_MARK):].strip()
            continue
        m = _LOG_RE.match(line)
        if m and m.group(1) == "ERROR":
            out.append({"logger": m.group(2), "after_op": op, "line": line[:300]})
    return out
