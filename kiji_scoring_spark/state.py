"""Per-dataset derived-state tagging and purge (shared, r11).

Several registry queries persist derived state keyed to the dataset dir
(ddsketch/HLL/bitmap shards under ``kiji_scoring_spark_state``,
binaryFile materializations under ``kiji_scoring_spark_binfiles``,
session-lifetime bucketed tables under ``kss_bucketed_*``) and
legitimately REUSE it across runs, because real datasets are immutable.
A dir REBUILT in place breaks that assumption — the r10 stale-state
failure class. Two rules follow, both enforced here:

1. every per-dataset cache tags by the FULL path (``state_tag``), so two
   dataset dirs sharing a basename can never collide;
2. every script that rewrites data under an existing path calls
   ``purge_derived_state`` on it (build_regimes.py and build_sf1.py do).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile


def state_tag(sf_dir: str) -> str:
    """Canonical per-dataset cache tag: the normalized full path, '/'→'_'.

    The path is canonicalized first (ADVICE r11): alias spellings of the
    same dataset dir — ``/tmp//sf100``, ``/tmp/./sf100``, a relative
    path — must map to ONE tag, or ``purge_derived_state`` called with
    one spelling misses derived state created under another (re-opening
    the r10 stale-state class). ``abspath`` + ``normpath`` only, NOT
    ``realpath``: symlink resolution would silently retag every dataset
    reached through a symlinked mount. For the already-canonical
    absolute paths every caller passes today, the tag is byte-identical
    to the historical ``_state_path`` tagging, so existing scratch dirs
    stay valid (no cache-tag migration). Never tag by basename — two
    tier dirs named alike (e.g. ``/tmp/a/sf10`` and ``/tmp/b/sf10``)
    must not share derived state (ADVICE r10, queries_sources.py
    bucketed tables).
    """
    return os.path.normpath(os.path.abspath(sf_dir)).strip("/").replace("/", "_")


def stream_scratch_root() -> str:
    """Root for STREAMING scratch (replay files, checkpoints, versioned
    fold/merge state, file-sink output): ``$KSS_STREAM_SCRATCH`` when
    set, else the process tempdir. The replay harnesses' cost is ~99%
    fixed micro-batch machinery (REGIMES.md overhead decomposition), a
    measurable slice of which is WAL/offset-log/state-store file IO —
    bench.py points this at a RAM-backed dir (/dev/shm) so the bench
    measures scheduler machinery, not /tmp disk latency. Purely a
    placement knob: the bytes written and results are identical."""
    root = os.environ.get("KSS_STREAM_SCRATCH")
    if root:
        os.makedirs(root, exist_ok=True)
        return root
    return tempfile.gettempdir()


#: Extra per-dataset purge hooks, registered by modules that own derived
#: state this module cannot see (e.g. streaming.replay's replay dirs and
#: its in-memory ``_REPLAY_BUILT`` gate — ADVICE r11: an in-process rebuild
#: would otherwise serve stale replays). Each hook takes (sf_dir, tag).
#: Only modules actually imported in-process register — which is exactly
#: the set whose in-memory caches can be stale.
_PURGE_HOOKS: list = []


def register_purge_hook(fn) -> None:
    """Register a callable(sf_dir, tag) run by ``purge_derived_state``."""
    if fn not in _PURGE_HOOKS:
        _PURGE_HOOKS.append(fn)


def purge_derived_state(sf_dir: str) -> None:
    """Drop every persisted-state scratch dir keyed to ``sf_dir``.

    Covers all ``kiji_scoring_spark_*`` scratch roots, the
    session-lifetime bucketed-table dirs (``kss_bucketed_<tag>``), and
    any registered module hooks (replay dirs + their in-memory gates).
    Call after rewriting data under an existing path; harmless when
    nothing exists.
    """
    tag = state_tag(sf_dir)
    tmp = tempfile.gettempdir()
    for root in glob.glob(os.path.join(tmp, "kiji_scoring_spark_*")):
        victim = os.path.join(root, tag)
        if os.path.isdir(victim):
            shutil.rmtree(victim, ignore_errors=True)
    bucketed = os.path.join(tmp, f"kss_bucketed_{tag}")
    if os.path.isdir(bucketed):
        shutil.rmtree(bucketed, ignore_errors=True)
    for hook in _PURGE_HOOKS:
        hook(sf_dir, tag)
