"""Derived-state tagging + purge contracts (kiji_scoring_spark/state.py).

These pins back the r12 decision NOT to force-recheck every state_tag
consumer after the canonicalization change (__spark_entry__.py): for the
canonical absolute paths every caller passes, the tag must be
byte-identical to the historical spelling, so no query's derived-state
location can move.
"""

from __future__ import annotations

import os
import tempfile

from kiji_scoring_spark import state
from kiji_scoring_spark.state import purge_derived_state, state_tag


def test_state_tag_canonicalization():
    # canonical absolute path: byte-identical to the historical
    # strip('/').replace('/', '_') tagging — existing scratch dirs stay valid
    assert state_tag("/root/testdata/sf0.01") == "root_testdata_sf0.01"
    assert state_tag("/tmp/kss_tiers/sf100") == "tmp_kss_tiers_sf100"
    # alias spellings of the SAME dir collapse to the SAME tag (ADVICE r11)
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
    state created under another — the exact miss the ADVICE flagged."""
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
    on-disk replay dirs and the in-memory _REPLAY_BUILT gate (ADVICE
    r11): an in-process dataset rebuild must not serve pre-rebuild
    replays."""
    from kiji_scoring_spark.streaming import replay

    ds = str(tmp_path / "ds")
    os.makedirs(ds)
    tag = state_tag(ds)
    prefix = replay._REPLAY_PREFIXES[0]
    # via stream_scratch_root(), NOT tempfile.gettempdir() (r12 ADVICE):
    # the purge hook removes dirs under the scratch root, so with
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
    gate (which never sets the env) sees literally unchanged behavior,
    which is why the r12 placement knob needed no force-recheck."""
    monkeypatch.delenv("KSS_STREAM_SCRATCH", raising=False)
    assert state.stream_scratch_root() == tempfile.gettempdir()


def test_stream_scratch_root_env(monkeypatch, tmp_path):
    target = str(tmp_path / "ram_scratch")
    monkeypatch.setenv("KSS_STREAM_SCRATCH", target)
    assert state.stream_scratch_root() == target
    assert os.path.isdir(target)  # created on demand
