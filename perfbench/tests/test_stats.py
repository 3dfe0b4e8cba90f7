import json

import pytest

from perfbench.harvest import OP_MARK, error_lines, parse_size
from perfbench.stats import MIN_TAIL, Span, Tracer, check_name, percentile, self_times


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))  # 100 samples: p90 is the 90th, 10 lie beyond
    assert percentile(xs, 90) == 90
    assert percentile(xs[:99], 90) is None  # only 9 beyond
    assert percentile(xs[:20], 50) == 10
    assert percentile(xs[:19], 50) is None
    assert percentile([], 50) is None


def test_percentile_rule_matches_the_tail_constant():
    n = 2 * MIN_TAIL
    assert percentile([1.0] * n, 50) is not None
    assert percentile([1.0] * (n - 1), 50) is None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("op", 0, 0.0, 10.0, None, 1),
        Span("build", 0, 1.0, 3.0, 1, 2),
        Span("exec", 0, 2.0, 6.0, 1, 3),  # overlaps build: union is 1..6
        Span("job", 0, 4.0, 5.0, 3, 4),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_children_are_clipped_to_the_parent():
    spans = [Span("op", 0, 0.0, 2.0, None, 1), Span("job", 0, 1.5, 3.0, 1, 2)]
    assert self_times(spans)[1] == pytest.approx(1.5)


def test_tracer_nests_spans_and_places_spark_jobs():
    t = Tracer(True)
    with t.span("op.get", 7):
        with t.span("fresh.get.exec", 7) as ex:
            pass
    op, exec_ = t.spans
    assert exec_.parent == op.id
    # a job reported by Spark inside the exec interval belongs to it
    parent = t.innermost(7, ex.start, ex.start)
    assert parent == exec_.id
    t.add("spark.job", 7, ex.start, ex.start, parent, job=0)
    dumped = t.dump()
    assert [d["name"] for d in dumped] == ["op.get", "fresh.get.exec", "spark.job"]
    assert all(d["op"] == 7 for d in dumped)
    json.dumps(dumped)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op", 0):
        pass
    assert t.add("x", 0, 0.0, 1.0) == 0
    assert t.spans == []


@pytest.mark.parametrize("name", ["setup_s", "fresh.get.p50_ms", "query.q-1.exec_s", "a"])
def test_metric_names_accepted(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", "a b", "a/b", "x" * 65, "msµ"])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_bench_json_names_fit_the_grammar():
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        check_name(n)


def test_sql_metric_parsing():
    assert parse_size("1024.8 KiB") == pytest.approx(1024.8 * 1024)
    assert parse_size("total (min, med, max (stageId: taskId))\n9.4 KiB (2.3 KiB, 2.3 KiB)") == (
        pytest.approx(9.4 * 1024)
    )
    assert parse_size("0.0 B") == 0.0


def test_error_lines_name_the_logger_and_the_preceding_op():
    log = "\n".join([
        "26/10/16 18:37:27 WARN NativeCodeLoader: no native",
        f"{OP_MARK} 3 overrun",
        "26/10/16 18:37:29 ERROR DAGScheduler: Failed to update accumulator 12",
        f"{OP_MARK} 4 freshen",
        "some stack trace line",
    ])
    errs = error_lines(log)
    assert len(errs) == 1
    assert errs[0]["logger"] == "DAGScheduler"
    assert errs[0]["after_op"] == "3 overrun"
