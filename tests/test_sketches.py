"""The guard that keeps every mergeable sketch defined once, in
operators/sketches.py: query modules compose its build, merge and
finalizers instead of spelling a sketch out themselves."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kiji_scoring_spark"


def test_query_modules_never_define_sketches():
    banned = re.compile(
        r"hll_sketch_agg|hll_union_agg|hll_sketch_estimate|_grouped_top_k"
        r"|_DDSKETCH_|_MG_K|_KMV_K"
    )
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.glob("queries_*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
