"""The guard that keeps round tags out of the kiji core and the modules
that persist derived state: a comment or docstring says why the code is
this way now, and the history of how it got there lives in git and
CHANGES.md."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kiji_scoring_spark"

#: the kiji core modules the guard reads
CORE = (
    "fresh.py", "producers.py", "policies.py", "registry.py", "model.py", "lib.py", "session.py",
    "state.py", "streaming/__init__.py", "streaming/replay.py", "operators/multimodal.py",
    "operators/pq.py", "operators/snapshots.py",
    "queries_graph.py", "queries_sources.py", "queries_train.py",
    "queries_kiji.py", "cli.py", "sources/__init__.py",
)

#: ``r3`` to ``r16``, ``r-early`` and "round N"; ``r0``-``r2`` stay free,
#: as SQL aliases elsewhere use them
ROUND_TAG = re.compile(r"\br(?:[3-9]|1[0-6]|-early)\b|\bround[ -]?\d+", re.IGNORECASE)


def test_core_modules_carry_no_round_tags():
    hits = [
        f"{name}:{n}: {line.strip()}"
        for name in CORE
        for n, line in enumerate((PACKAGE / name).read_text().splitlines(), 1)
        if ROUND_TAG.search(line)
    ]
    assert hits == []
