"""Derived-state contracts (kiji_scoring_spark/state.py): tagging, the one
reuse rule of ``derived``, the cache root, and purge.

For the canonical absolute paths every caller passes, the tag must be
byte-identical to the historical spelling, so no query's derived-state
location can move.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import tempfile

import pytest

from kiji_scoring_spark import state
from kiji_scoring_spark.state import derived, purge_derived_state, state_path, state_tag


def test_state_tag_canonicalization():
    # canonical absolute path: byte-identical to the historical
    # strip('/').replace('/', '_') tagging — existing scratch dirs stay valid
    assert state_tag("/root/testdata/sf0.01") == "root_testdata_sf0.01"
    assert state_tag("/tmp/kss_tiers/sf100") == "tmp_kss_tiers_sf100"
    # alias spellings of the SAME dir collapse to the SAME tag
    canonical = state_tag("/tmp/kss_tiers/sf100")
    assert state_tag("/tmp//kss_tiers/sf100") == canonical
    assert state_tag("/tmp/./kss_tiers/sf100") == canonical
    assert state_tag("/tmp/kss_tiers/sf100/") == canonical
    assert state_tag("/tmp/kss_tiers/../kss_tiers/sf100") == canonical
    # relative spelling of the CWD-anchored path matches its absolute form
    cwd = os.getcwd()
    assert state_tag("x/y") == state_tag(os.path.join(cwd, "x", "y"))


def test_purge_covers_alias_spellings(tmp_path):
    """purge_derived_state called with one spelling must hit derived
    state created under another."""
    ds = tmp_path / "dataset"
    ds.mkdir()
    tag = state_tag(str(ds))
    scratch_root = os.path.join(tempfile.gettempdir(), "kiji_scoring_spark_state")
    victim = os.path.join(scratch_root, tag)
    os.makedirs(victim, exist_ok=True)
    try:
        # purge with a messy alias spelling of the same dir
        purge_derived_state(str(tmp_path) + "//./dataset/")
        assert not os.path.isdir(victim)
    finally:
        if os.path.isdir(victim):
            import shutil

            shutil.rmtree(victim, ignore_errors=True)


def test_purge_runs_registered_hooks(tmp_path):
    calls = []

    def hook(sf_dir, tag):
        calls.append((sf_dir, tag))

    state.register_purge_hook(hook)
    try:
        purge_derived_state(str(tmp_path))
        assert calls == [(str(tmp_path), state_tag(str(tmp_path)))]
        # registration is idempotent
        state.register_purge_hook(hook)
        assert state._PURGE_HOOKS.count(hook) == 1
    finally:
        state._PURGE_HOOKS.remove(hook)


def test_purge_clears_replay_gate_and_dirs(tmp_path):
    """streaming.replay registers a purge hook that clears both the
    on-disk replay dirs and the in-memory _REPLAY_BUILT gate: an
    in-process dataset rebuild must not serve pre-rebuild replays."""
    from kiji_scoring_spark.streaming import replay

    ds = str(tmp_path / "ds")
    os.makedirs(ds)
    tag = state_tag(ds)
    prefix = replay._REPLAY_PREFIXES[0]
    # via stream_scratch_root(), NOT tempfile.gettempdir(): the purge hook removes dirs under the scratch root, so with
    # KSS_STREAM_SCRATCH exported (e.g. after a bench run) a literal
    # tempdir spelling would assert against the wrong location
    replay_dir = os.path.join(state.stream_scratch_root(), f"{prefix}_{tag}", "stream")
    os.makedirs(replay_dir, exist_ok=True)
    replay._REPLAY_BUILT.add((prefix, tag))
    purge_derived_state(ds)
    assert (prefix, tag) not in replay._REPLAY_BUILT
    assert not os.path.isdir(replay_dir)


def test_stream_scratch_root_default(monkeypatch):
    """With KSS_STREAM_SCRATCH unset, streaming scratch paths are
    byte-identical to the historical tempdir placement — the driver
    gate (which never sets the env) sees literally unchanged behavior."""
    monkeypatch.delenv("KSS_STREAM_SCRATCH", raising=False)
    assert state.stream_scratch_root() == tempfile.gettempdir()


def test_stream_scratch_root_env(monkeypatch, tmp_path):
    target = str(tmp_path / "ram_scratch")
    monkeypatch.setenv("KSS_STREAM_SCRATCH", target)
    assert state.stream_scratch_root() == target
    assert os.path.isdir(target)  # created on demand


@pytest.fixture()
def scratch_tempdir(monkeypatch, tmp_path):
    """A private tempdir, set after import: the state root must follow."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    return tempfile.tempdir


class Build:
    """A ``derived`` build that records its calls and writes state the
    way a Spark writer or a lineage commit leaves it."""

    def __init__(self, versions=None, fail=False):
        self.versions, self.fail, self.calls = versions, fail, []

    def __call__(self, path):
        self.calls.append(path)
        assert not os.path.exists(path), "build ran over a predecessor's files"
        os.makedirs(os.path.join(path, "_manifests"))
        _write(path, "part-0.parquet")
        if self.fail:
            raise RuntimeError("build crashed")
        if self.versions is None:
            _write(path, "_SUCCESS")
        for v in range(1, (self.versions or 0) + 1):
            _write(path, f"_manifests/v{v}.json", json.dumps({"version": v}))


def _write(path, rel, text=""):
    with open(os.path.join(path, rel), "w") as f:
        f.write(text)


def test_derived_rebuilds_a_write_without_success(scratch_tempdir):
    path = state_path("/data/ds", "shards.parquet")
    os.makedirs(path)
    _write(path, "part-stale.parquet")
    build = Build()
    assert derived("/data/ds", "shards.parquet", build) == path
    assert build.calls == [path]
    assert sorted(os.listdir(path)) == ["_SUCCESS", "_manifests", "part-0.parquet"]


def test_derived_reuses_complete_state_without_building(scratch_tempdir):
    assert derived("/data/ds", "shards.parquet", Build()) == derived(
        "/data/ds", "shards.parquet", Build(fail=True)
    )
    build = Build(versions=2)
    path = derived("/data/ds", "lineage", build, versions=2)
    assert derived("/data/ds", "lineage", Build(fail=True), versions=2) == path
    assert build.calls == [path]


@pytest.mark.parametrize("stale", [1, 3])
def test_derived_wipes_and_rebuilds_a_lineage_at_the_wrong_version(
    scratch_tempdir, stale
):
    path = derived("/data/ds", "lineage", Build(versions=stale), versions=stale)
    build = Build(versions=2)
    assert derived("/data/ds", "lineage", build, versions=2) == path
    assert build.calls == [path]
    assert sorted(os.listdir(os.path.join(path, "_manifests"))) == ["v1.json", "v2.json"]


@pytest.mark.parametrize("versions", [None, 2])
def test_derived_rebuilds_after_a_failed_build(scratch_tempdir, versions):
    with pytest.raises(RuntimeError):
        derived("/data/ds", "state", Build(versions, fail=True), versions=versions)
    build = Build(versions)
    path = derived("/data/ds", "state", build, versions=versions)
    assert build.calls == [path]
    assert derived("/data/ds", "state", Build(versions, fail=True), versions=versions) == path


def test_state_root_is_read_when_a_path_is_built(scratch_tempdir):
    """A tempdir changed after import moves state_path and purge
    together, so purge removes what the queries built."""
    path = derived("/data/ds", "shards.parquet", Build())
    assert path == os.path.join(
        scratch_tempdir, "kiji_scoring_spark_state", state_tag("/data/ds"), "shards.parquet"
    )
    purge_derived_state("/data/ds")
    assert not os.path.exists(path)


PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kiji_scoring_spark"


def test_query_modules_leave_reuse_to_derived():
    """Only ``state.derived`` decides whether persisted state is complete,
    and only ``state`` names the cache root."""
    banned = re.compile(r"_SUCCESS|latest_version\(|kiji_scoring_spark_[a-z]")
    paths = sorted(PACKAGE.glob("queries_*.py")) + [PACKAGE / "operators" / "pq.py"]
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in paths
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
