"""The guard that keeps product quantization defined once, in
operators/pq.py: query modules compose its builders instead of spelling
out quantization, codebooks, distances or LUTs themselves, and no Column
carries a SQL-text tag that picks between two builds of one expression."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kiji_scoring_spark"


def _hits(paths, banned):
    return [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in paths
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]


def test_query_modules_never_define_pq():
    # \b: the registry name similarity_ivfpq_pruned_adc_topk is allowed
    banned = re.compile(
        r"\b_ivfpq_|\b_sqdiff_sum_expr|pq_common|F\.map_from_entries\("
        r"|ROUND\(CAST\(embedding\["
    )
    assert _hits(sorted(PACKAGE.glob("queries_*.py")), banned) == []


def test_no_sql_text_tags_on_columns():
    banned = re.compile(r"_kss_sql|_sql_of")
    assert _hits(sorted(PACKAGE.rglob("*.py")), banned) == []
