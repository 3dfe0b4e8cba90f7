"""The guard that keeps product quantization defined once, in
operators/pq.py: query modules compose its builders and its DuckDB
oracle prelude instead of spelling out quantization, codebooks,
distances or LUTs themselves, and no Column carries a SQL-text tag that
picks between two builds of one expression."""

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


#: lines of the DuckDB IVF-PQ oracle prelude (operators/pq.py with_sql):
#: the corpus filter, the codebook rule, the seed order, the subspace
#: ids, the encode and assignment windows, the exact distance and the
#: ADC sum. None matches the rebalance oracle's own seed0/clones CTEs.
PRELUDE_TOKENS = (
    "len(embedding) = 64",
    "vec_id % 31 = 0",
    "ORDER BY md5(CAST(vec_id AS VARCHAR))",
    "unnest(range(0, 8))",
    "PARTITION BY s.vec_id",
    "CAST(list_sum(list_transform(range(1, 65)",
    "SUM(lut.pd)",
)


def test_query_modules_never_define_pq():
    # \b: the registry name similarity_ivfpq_pruned_adc_topk is allowed
    banned = re.compile(
        r"\b_ivfpq_|\b_sqdiff_sum_expr|pq_common|F\.map_from_entries\("
        r"|ROUND\(CAST\(embedding\["
        r"|" + "|".join(re.escape(t) for t in PRELUDE_TOKENS)
    )
    assert _hits(sorted(PACKAGE.glob("queries_*.py")), banned) == []


def test_no_sql_text_tags_on_columns():
    banned = re.compile(r"_kss_sql|_sql_of")
    assert _hits(sorted(PACKAGE.rglob("*.py")), banned) == []
