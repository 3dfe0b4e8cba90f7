"""Per-dataset derived state: where it lives, when it is reused, and
how it is purged.

Several registry queries persist state derived from a dataset dir
(sketch shards, partial aggregates, codes tables, format copies,
snapshot lineages) and reuse it across runs, because a dataset is
immutable. All of it lives under one root, ``kiji_scoring_spark_state``
in the tempdir read when a path is built, one subdir per dataset
(``state_tag``), and goes through ``derived``, which holds the one reuse
rule: state is served only when complete, and anything else is removed
and rebuilt before it is read. A plain Spark write is complete when it
has its ``_SUCCESS`` marker; a snapshot lineage is complete when its
latest version is the one its build ends at. So a build that crashed,
or stopped after its first commit, is rebuilt by the next call instead
of being served as if it were whole.

A dir rebuilt in place breaks the immutability assumption, so:

1. every per-dataset cache tags by the FULL path (``state_tag``), so two
   dataset dirs sharing a basename can never collide;
2. every script that rewrites data under an existing path calls
   ``purge_derived_state`` on it (build_regimes.py and build_sf1.py do).

Two kinds of state follow a session rule instead, on purpose, because
their reuse is tied to in-process state a file marker cannot see: the
streaming replay files, gated by ``streaming.replay._REPLAY_BUILT``, and
the bucketed catalog tables (``kss_bucketed_*``), gated by the session
catalog. A new session always rewrites both, so neither can outlive the
data it was derived from.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from .operators.snapshots import latest_version


def state_tag(sf_dir: str) -> str:
    """Canonical per-dataset cache tag: the normalized full path, '/'→'_'.

    The path is canonicalized first: alias spellings of the
    same dataset dir — ``/tmp//sf100``, ``/tmp/./sf100``, a relative
    path — must map to ONE tag, or ``purge_derived_state`` called with
    one spelling misses derived state created under another, which then
    goes stale. ``abspath`` + ``normpath`` only, NOT
    ``realpath``: symlink resolution would silently retag every dataset
    reached through a symlinked mount. For the already-canonical
    absolute paths every caller passes today, the tag is byte-identical
    to the pre-canonical tagging, so existing scratch dirs
    stay valid (no cache-tag migration). Never tag by basename — two
    tier dirs named alike (e.g. ``/tmp/a/sf10`` and ``/tmp/b/sf10``)
    must not share derived state (queries_sources.py's bucketed tables
    would otherwise read each other).
    """
    return os.path.normpath(os.path.abspath(sf_dir)).strip("/").replace("/", "_")


def _state_root() -> str:
    """The scratch root of all persisted derived state, read from the
    tempdir each call so ``state_path`` and ``purge_derived_state``
    agree however the tempdir changed after import."""
    return os.path.join(tempfile.gettempdir(), "kiji_scoring_spark_state")


def state_path(sf_dir: str, name: str) -> str:
    """Where a registry query persists its derived state ``name`` for
    the dataset at ``sf_dir``; ``purge_derived_state`` removes it."""
    return os.path.join(_state_root(), state_tag(sf_dir), name)


def derived(
    sf_dir: str,
    name: str,
    build: Callable[[str], object],
    versions: int | None = None,
) -> str:
    """``state_path(sf_dir, name)``, built first unless complete.

    ``build(path)`` writes the state: a Spark writer such as
    ``df.write.parquet``, or a function committing a snapshot lineage.
    With ``versions`` None the state is a plain Spark write, complete
    once it has ``_SUCCESS``; otherwise it is a lineage, complete when
    its latest version is ``versions``. Incomplete state is removed
    before ``build`` runs, so the build never sees a crashed
    predecessor's files, and a build that raises leaves state the next
    call rebuilds."""
    path = state_path(sf_dir, name)
    if versions is None:
        complete = os.path.exists(os.path.join(path, "_SUCCESS"))
    else:
        complete = latest_version(path) == versions
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        build(path)
    return path


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
#: its in-memory ``_REPLAY_BUILT`` gate, without which an in-process rebuild
#: would serve stale replays). Each hook takes (sf_dir, tag).
#: Only modules actually imported in-process register — which is exactly
#: the set whose in-memory caches can be stale.
_PURGE_HOOKS: list = []


def register_purge_hook(fn) -> None:
    """Register a callable(sf_dir, tag) run by ``purge_derived_state``."""
    if fn not in _PURGE_HOOKS:
        _PURGE_HOOKS.append(fn)


def purge_derived_state(sf_dir: str) -> None:
    """Drop every persisted-state scratch dir keyed to ``sf_dir``: its
    subdir of the state root, the session-lifetime bucketed-table dir
    (``kss_bucketed_<tag>``), and whatever the registered module hooks
    own (replay dirs and their in-memory gates). Call after rewriting
    data under an existing path; harmless when nothing exists.
    """
    tag = state_tag(sf_dir)
    shutil.rmtree(os.path.join(_state_root(), tag), ignore_errors=True)
    shutil.rmtree(
        os.path.join(tempfile.gettempdir(), f"kss_bucketed_{tag}"), ignore_errors=True
    )
    for hook in _PURGE_HOOKS:
        hook(sf_dir, tag)
