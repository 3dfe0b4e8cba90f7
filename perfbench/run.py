"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fresh_point_reads --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the input tables into
``.perfbench_work/`` (gitignored); every run then gets its own scratch root
there, purges the engine's derived state, and removes the scratch root when
it ends. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics and keeps them in ``.perfbench_work/end_to_end/``;
``--trace 1`` reports the per-layer metrics (read from Spark's status
stores), the tracing overhead against the untraced run of the same workload
and seed when there was one, and writes the spans to
``.perfbench_work/traces/``.
The exit code is non-zero when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: the input tables are fixed; ``--seed`` drives the op streams
DATA_SEED, DATA_SF = 42, 0.05


def _bench_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _prepare_env(run_dir: Path) -> None:
    """Point every scratch location at the run's own directory. Must run
    before pyspark or the engine is imported: several engine modules read
    the temp dir at import time."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["KSS_STREAM_SCRATCH"] = str(run_dir / "stream")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # the executors' Python workers import perfbench.capsules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(min(len(os.sched_getaffinity(0)), 8))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # every JVM (the spark-submit launcher too) keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class Ctx:
    """What a workload needs from the run: session, paths, seed, tracing."""

    def __init__(self, seed: int, data_dir: str, run_dir: Path, trace: bool):
        from perfbench.stats import Tracer

        self.seed = seed
        self.root = str(ROOT)
        self.data_dir = data_dir
        self.run_dir = str(run_dir)
        self.tracer = Tracer(trace)
        self.trace = trace
        self.harvester = None
        self.harvest_s = 0.0
        self.trace_extra: dict = {}
        self.spark = None

    def mark(self, label: str) -> None:
        """Write an op marker into the captured Spark log."""
        from perfbench.harvest import OP_MARK

        os.write(2, f"{OP_MARK} {label}\n".encode())

    def add_job_spans(self, h, op: int) -> dict[str, tuple[float, float]]:
        """Record each job as a span under the innermost span of ``op`` that
        contains it; return the first-submit..last-complete span of every
        job group."""
        groups: dict[str, tuple[float, float]] = {}
        for j in h.jobs:
            if j["start"] is None or j["end"] is None:
                continue
            parent = self.tracer.innermost(op, j["start"], j["end"])
            self.tracer.add("spark.job", op, j["start"], j["end"], parent,
                            job=j["id"], group=j["group"])
            if j["group"]:
                lo, hi = groups.get(j["group"], (j["start"], j["end"]))
                groups[j["group"]] = (min(lo, j["start"]), max(hi, j["end"]))
        return groups


def _start_session(ctx: Ctx) -> None:
    from kiji_scoring_spark.session import get_spark

    ctx.spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )


def _stop_jvm() -> None:
    """Stop Spark and wait until the JVM (and with it the Python workers)
    has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def main(argv: list[str] | None = None) -> int:
    spec = _bench_json()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kiji_scoring_spark" / "__init__.py").is_file():
        print("perfbench: the engine package kiji_scoring_spark is not in this "
              "checkout", file=sys.stderr)
        return 2

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    sys.path.insert(0, str(ROOT))
    log_path = WORK / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    # Spark's JVM inherits fd 2: capture it for the ERROR accounting
    real_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        return _run(args, spec, run_dir, log_path)
    except Exception:
        import traceback

        traceback.print_exc()
        os.write(real_err, f"perfbench: run failed, see {log_path}\n".encode())
        return 1
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec: dict, run_dir: Path, log_path: Path) -> int:
    from perfbench import datagen
    from perfbench.harvest import Harvester, error_lines
    from perfbench.stats import check_name, percentile
    from perfbench.workloads import WORKLOADS

    from kiji_scoring_spark.state import purge_derived_state

    data_dir = datagen.ensure(str(WORK / "data"), DATA_SEED, DATA_SF)
    ctx = Ctx(args.seed, data_dir, run_dir, bool(args.trace))
    wl = WORKLOADS[args.workload](ctx)

    # set-up: JVM launch and session, purged derived state, the workload's
    # stored inputs, then its registrations and table loads
    t_setup = time.perf_counter()
    _start_session(ctx)
    start_s = time.perf_counter() - t_setup
    purge_derived_state(data_dir)
    t0 = time.perf_counter()
    wl.inputs()
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.setup()
    workload_setup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    if ctx.trace:
        ctx.harvester = Harvester(ctx.spark)
    wl.run(args.seconds)
    ctx.mark("checks")
    wl.check()
    rss = _peak_rss_mb(ctx.spark)
    _stop_jvm()

    errors = error_lines(log_path.read_text(errors="replace"))
    e2e = {"setup_s": setup_s, **wl.end_to_end()}
    # the untraced run of a workload and seed leaves its end-to-end numbers
    # for the traced run, which reports the difference as tracing overhead
    e2e_path = WORK / "end_to_end" / f"{args.workload}-seed{args.seed}.json"
    if args.trace:
        layers = {
            "session.get_spark_s": start_s,
            "setup.inputs_s": inputs_s,
            "setup.workload_s": workload_setup_s,
            "warmup_s": warmup_s,
            "peak_rss_mb": rss,
            "spark.error_lines": len(errors),
            "trace.harvest_ms_per_op": 1000 * ctx.harvest_s / max(wl.attempted, 1),
            **wl.layers,
        }
        metrics = {}
        for m in spec["per_layer"]:
            metrics[check_name(m["name"])] = {
                "value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        untraced = json.loads(e2e_path.read_text()) if e2e_path.is_file() else {}
        overhead = {k: e2e[k] - v for k, v in untraced.items() if k in e2e}
        for k, v in overhead.items():
            print(f"tracing overhead {k} = {v:+.6g} (traced {e2e[k]:.6g}, "
                  f"untraced {untraced[k]:.6g})")
        trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_path.parent.mkdir(parents=True, exist_ok=True)
        trace_path.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "end_to_end": e2e, "untraced_end_to_end": untraced,
            "tracing_overhead": overhead,
            "op_ms": wl.op_ms,
            # only the percentiles with ten samples beyond them
            "op_ms_percentiles": {q: percentile(wl.op_ms, q) for q in (50, 90, 99)},
            "spans": ctx.tracer.dump(),
            "self_time_s_by_name": ctx.tracer.self_time_by_name(),
            "spark_errors": errors, **ctx.trace_extra,
        }))
    else:
        metrics = {
            check_name(m["name"]): {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
        e2e_path.parent.mkdir(parents=True, exist_ok=True)
        e2e_path.write_text(json.dumps(e2e))

    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for e in errors:
        print(f"spark ERROR {e['logger']} after op '{e['after_op']}'")
    for f in wl.failures[:20]:
        print(f"WRONG: {f}")
    correct = not wl.failures and wl.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(wl.attempted, 1),
        "failed": len(wl.failures),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
