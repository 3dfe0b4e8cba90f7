"""Gates for the manifest-based snapshot format (operators/snapshots.py):
version isolation, atomic publish, compaction invariance, time travel."""

import json
import os
import shutil
import tempfile

import pytest

from kiji_scoring_spark.operators import snapshots as sn


@pytest.fixture()
def table_path():
    d = os.path.join(tempfile.mkdtemp(prefix="kss_snap_"), "t")
    yield d
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def dirs_of(table_path, version):
    """The data dirs (relative paths) composing `version`."""
    return [sn._dir_rel(d) for d in sn._read_manifest(table_path, version)["dirs"]]


def data_dirs(table_path):
    """Every data dir on disk, referenced or not (relative paths)."""
    return {
        os.path.join("data", n) for n in os.listdir(os.path.join(table_path, "data"))
    }


def _inject_after_claim(monkeypatch, interloper):
    """Run `interloper` (a real commit) once, right after the next
    writer creates its data dir: the commit lands while that writer
    writes, before it builds its manifest."""
    orig = sn._claim_unique_dir
    state = {"fired": False}

    def wrapper(path):
        rel = orig(path)
        if not state["fired"]:
            state["fired"] = True
            interloper()
        return rel

    monkeypatch.setattr(sn, "_claim_unique_dir", wrapper)
    return state


def test_append_preserves_old_versions(spark, table_path):
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    d2 = spark.createDataFrame([(3, "c")], ["k", "v"])
    assert sn.commit_snapshot(d1, table_path, mode="overwrite") == 1
    assert sn.commit_snapshot(d2, table_path, mode="append") == 2
    assert rows(sn.read_snapshot(spark, table_path, 1)) == [(1, "a"), (2, "b")]
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    assert sn.latest_version(table_path) == 2


def test_overwrite_starts_fresh_but_history_remains(spark, table_path):
    d1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    d2 = spark.createDataFrame([(9, "z")], ["k", "v"])
    sn.commit_snapshot(d1, table_path, mode="overwrite")
    sn.commit_snapshot(d2, table_path, mode="overwrite")
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [(9, "z")]
    assert rows(sn.read_snapshot(spark, table_path, 1)) == [(1, "a")]


def test_torn_manifest_is_invisible(spark, table_path):
    d1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    sn.commit_snapshot(d1, table_path, mode="overwrite")
    # simulate a crashed publisher: data dir exists, manifest only .tmp
    sn._claim_unique_dir(table_path)
    with open(
        os.path.join(table_path, "_manifests", "v2.json.tmp"), "w"
    ) as f:
        f.write('{"version": 2, "par')  # torn write
    assert sn.latest_version(table_path) == 1
    assert rows(sn.read_snapshot(spark, table_path)) == [(1, "a")]


def test_compaction_preserves_content_and_shrinks_files(spark, table_path):
    d = spark.createDataFrame([(i, str(i)) for i in range(100)], ["k", "v"])
    sn.commit_snapshot(d.repartition(12), table_path, mode="overwrite")
    before = sn.data_file_count(table_path, 1)
    v2 = sn.compact_snapshot(spark, table_path, target_files=2)
    after = sn.data_file_count(table_path, v2)
    assert after < before
    assert after <= 2
    assert rows(sn.read_snapshot(spark, table_path, 1)) == rows(
        sn.read_snapshot(spark, table_path, v2)
    )
    # manifest records lineage
    with open(os.path.join(table_path, "_manifests", f"v{v2}.json")) as f:
        m = json.load(f)
    assert m["op"] == "compact" and m["parent"] == 1


def test_compaction_after_appends_collapses_dirs(spark, table_path):
    for i in range(4):
        sn.commit_snapshot(
            spark.createDataFrame([(i, str(i))], ["k", "v"]),
            table_path,
            mode="append" if i else "overwrite",
        )
    with open(os.path.join(table_path, "_manifests", "v4.json")) as f:
        assert len(json.load(f)["dirs"]) == 4
    v5 = sn.compact_snapshot(spark, table_path, target_files=1)
    with open(os.path.join(table_path, "_manifests", f"v{v5}.json")) as f:
        assert len(json.load(f)["dirs"]) == 1
    assert rows(sn.read_snapshot(spark, table_path, v5)) == [
        (0, "0"),
        (1, "1"),
        (2, "2"),
        (3, "3"),
    ]


def test_read_missing_table_raises(spark, table_path):
    with pytest.raises(FileNotFoundError):
        sn.read_snapshot(spark, table_path)


def test_vacuum_keeps_dirs_referenced_by_retained_appends(spark, table_path):
    """Retention must be by REFERENCE, not by age: dirs written at v1-v3
    are still listed in the retained v4 append manifest, so vacuuming to
    keep_from=4 may delete no data at all — only the old manifests."""
    for i in range(4):
        sn.commit_snapshot(
            spark.createDataFrame([(i, str(i))], ["k", "v"]),
            table_path,
            mode="append" if i else "overwrite",
        )
    removed = sn.vacuum_snapshots(table_path, keep_from=4)
    assert removed == []
    assert rows(sn.read_snapshot(spark, table_path, 4)) == [
        (0, "0"),
        (1, "1"),
        (2, "2"),
        (3, "3"),
    ]
    with pytest.raises(FileNotFoundError):
        sn.read_snapshot(spark, table_path, 2)


def test_vacuum_after_compaction_reclaims_old_dirs(spark, table_path):
    """Compaction rewrites the file-set into its own dir, releasing the
    ancestors' references — vacuum can then physically reclaim them."""
    for i in range(3):
        sn.commit_snapshot(
            spark.createDataFrame([(i, str(i))], ["k", "v"]),
            table_path,
            mode="append" if i else "overwrite",
        )
    appended = dirs_of(table_path, 3)
    v4 = sn.compact_snapshot(spark, table_path, target_files=1)
    removed = sn.vacuum_snapshots(table_path, keep_from=v4)
    assert len(appended) == 3 and sorted(removed) == sorted(appended)
    assert rows(sn.read_snapshot(spark, table_path, v4)) == [
        (0, "0"),
        (1, "1"),
        (2, "2"),
    ]
    assert sn.latest_version(table_path) == v4


def test_vacuum_rejects_horizon_past_latest(spark, table_path):
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    with pytest.raises(ValueError):
        sn.vacuum_snapshots(table_path, keep_from=5)


def test_additive_schema_evolution_merges_and_nulls_old_rows(spark, table_path):
    """An append with a NEW column must surface (a) the merged schema on
    the latest read, (b) NULL for pre-evolution rows, and (c) the old
    version untouched with its original narrow schema."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    sn.commit_snapshot(
        spark.createDataFrame([(2, "b", 7)], ["k", "v", "extra"]),
        table_path,
        mode="append",
    )
    latest = sn.read_snapshot(spark, table_path)
    assert set(latest.columns) == {"k", "v", "extra"}
    got = {r.k: r.extra for r in latest.collect()}
    assert got == {1: None, 2: 7}
    assert set(sn.read_snapshot(spark, table_path, 1).columns) == {"k", "v"}


def test_empty_commit_stays_readable(spark, table_path):
    """An empty delta commit (routine in incremental pipelines) writes no
    parquet files; the version must stay readable via the manifest's
    recorded schema — both as a pure-empty table and composed with
    non-empty commits."""
    empty = spark.createDataFrame([], "k long, v string")
    assert sn.commit_snapshot(empty, table_path, mode="overwrite") == 1
    got = sn.read_snapshot(spark, table_path, 1)
    assert got.count() == 0 and set(got.columns) == {"k", "v"}

    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="append"
    )
    sn.commit_snapshot(empty, table_path, mode="append")  # empty delta
    assert rows(sn.read_snapshot(spark, table_path, 3)) == [(1, "a")]


def test_partitioned_snapshot_read_prunes(spark, sf_dir):
    """The filtered read over the partitioned snapshot must push the
    event_type filter into partition pruning — the scan's partition
    filters mention event_type, and no non-purchase partition
    directory is read."""
    from kiji_scoring_spark.queries import QUERIES

    df = QUERIES["snapshot_partitioned_prune"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    # the scan's selected partitions should be purchase-only
    assert "event_type=purchase" in plan or "isnotnull(event_type" in plan


def test_racing_commits_exactly_one_wins(spark, table_path, monkeypatch):
    """Two retries=0 committers both build on parent v1 before either
    publishes. link(2) arbitrates: exactly one publishes v2, the loser
    raises SnapshotConflictError, the winner's data is untouched, and
    the loser deleted its own data dir, so only referenced dirs remain
    under data/."""
    import threading

    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    barrier = threading.Barrier(2, timeout=30)
    real_publish = sn._publish

    def racy_publish(path, manifest):
        barrier.wait()  # both writers built v2 before either links it
        return real_publish(path, manifest)

    results: dict[str, object] = {}

    def writer(tag, payload):
        df = spark.createDataFrame([payload], ["k", "v"])
        try:
            results[tag] = sn.commit_snapshot(df, table_path, mode="append")
        except sn.SnapshotConflictError as e:
            results[tag] = e

    monkeypatch.setattr(sn, "_publish", racy_publish)
    t1 = threading.Thread(target=writer, args=("w1", (2, "b")))
    t2 = threading.Thread(target=writer, args=("w2", (3, "c")))
    t1.start(); t2.start(); t1.join(); t2.join()

    outcomes = sorted(results.values(), key=lambda r: isinstance(r, Exception))
    assert outcomes[0] == 2, f"expected one winner at v2, got {results}"
    assert isinstance(outcomes[1], sn.SnapshotConflictError), results
    # the table is intact: v2 holds v1's row plus exactly ONE writer's row
    assert sn.latest_version(table_path) == 2
    got = rows(sn.read_snapshot(spark, table_path, 2))
    assert got in ([(1, "a"), (2, "b")], [(1, "a"), (3, "c")])
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))


def test_crashed_writer_blocks_nothing_then_vacuum_reclaims(spark, table_path):
    """A writer that died after writing part of its data leaves a data
    dir no manifest references: the next commit lands anyway (no
    version is claimed), readers never see the dir, and
    vacuum_snapshots reclaims it."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    orphan = sn._claim_unique_dir(table_path)  # crashed writer: no publish
    with open(os.path.join(table_path, orphan, "part-torn.parquet"), "wb") as f:
        f.write(b"torn")
    assert sn.commit_snapshot(
        spark.createDataFrame([(2, "b")], ["k", "v"]), table_path, mode="append"
    ) == 2
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [(1, "a"), (2, "b")]
    assert sn.vacuum_snapshots(table_path, keep_from=1) == [orphan]
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [(1, "a"), (2, "b")]


def test_commit_rejects_unknown_mode(spark, table_path):
    """A misspelt mode raises (even under python -O) instead of falling
    through to an overwrite that drops every earlier row."""
    d = spark.createDataFrame([(1, "a")], ["k", "v"])
    sn.commit_snapshot(d, table_path, mode="overwrite")
    with pytest.raises(ValueError, match="'apend'"):
        sn.commit_snapshot(d, table_path, mode="apend")
    assert sn.latest_version(table_path) == 1
    assert data_dirs(table_path) == set(dirs_of(table_path, 1))


def test_overlapping_appends_both_land(spark, table_path, monkeypatch):
    """An append depends on no parent version: one that started at v1
    while another append landed v2 before it published lands as v3 on
    top of it, even with retries=0."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    state = _inject_after_claim(
        monkeypatch,
        lambda: sn.commit_snapshot(
            spark.createDataFrame([(2, "b")], ["k", "v"]), table_path, mode="append"
        ),
    )
    v = sn.commit_snapshot(
        spark.createDataFrame([(3, "c")], ["k", "v"]), table_path, mode="append"
    )
    assert state["fired"] and v == 3
    assert sn._read_manifest(table_path, 3)["parent"] == 2
    assert rows(sn.read_snapshot(spark, table_path, 3)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


@pytest.mark.parametrize("retries", [0, 2])
def test_overwrite_refuses_commit_landed_since_start(
    spark, table_path, monkeypatch, retries
):
    """An overwrite that a commit overtook between its start and its
    publish raises whatever its retry budget: publishing would silently
    drop rows it never saw. Its data dir is deleted, the overtaking
    commit stands."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    state = _inject_after_claim(
        monkeypatch,
        lambda: sn.commit_snapshot(
            spark.createDataFrame([(2, "b")], ["k", "v"]), table_path, mode="append"
        ),
    )
    with pytest.raises(sn.SnapshotConflictError, match="overwrite"):
        sn.commit_snapshot(
            spark.createDataFrame([(9, "z")], ["k", "v"]),
            table_path,
            mode="overwrite",
            retries=retries,
        )
    assert state["fired"] and sn.latest_version(table_path) == 2
    assert rows(sn.read_snapshot(spark, table_path)) == [(1, "a"), (2, "b")]
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))


def test_publish_refuses_to_replace_manifest(table_path):
    """link(2)-based publish cannot replace an already-published
    manifest, and a refused publish leaves no temp file behind."""
    sn._publish(table_path, {"version": 7, "parent": None, "op": "t", "dirs": []})
    with pytest.raises(sn.SnapshotConflictError):
        sn._publish(table_path, {"version": 7, "parent": None, "op": "t", "dirs": []})
    with open(os.path.join(table_path, "_manifests", "v7.json")) as f:
        assert json.load(f)["op"] == "t"
    # no temp litter left behind by the refused publish
    assert [n for n in os.listdir(os.path.join(table_path, "_manifests"))
            if ".tmp" in n] == []


def test_read_delta_is_only_the_appended_rows(spark, table_path):
    v1 = sn.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        table_path,
        mode="overwrite",
    )
    v2 = sn.commit_snapshot(
        spark.createDataFrame([(3, "c")], "k int, v string"), table_path
    )
    v3 = sn.commit_snapshot(
        spark.createDataFrame([(4, "d"), (5, "e")], "k int, v string"), table_path
    )
    assert rows(sn.read_delta(spark, table_path, v1, v2)) == [(3, "c")]
    assert rows(sn.read_delta(spark, table_path, v2, v3)) == [(4, "d"), (5, "e")]
    assert rows(sn.read_delta(spark, table_path, v1)) == [
        (3, "c"),
        (4, "d"),
        (5, "e"),
    ]
    # from_version == to_version: an empty (but well-typed) delta
    empty = sn.read_delta(spark, table_path, v3, v3)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
    # from_version 0: the delta is the whole table
    assert len(rows(sn.read_delta(spark, table_path, 0, v3))) == 5


def test_read_delta_refuses_overwrite_lineage(spark, table_path):
    v1 = sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        table_path,
        mode="overwrite",
    )
    v2 = sn.commit_snapshot(
        spark.createDataFrame([(9, "z")], "k int, v string"),
        table_path,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="append-only"):
        sn.read_delta(spark, table_path, v1, v2)


def test_read_delta_empty_append_reconstructs_schema(spark, table_path):
    v1 = sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        table_path,
        mode="overwrite",
    )
    v2 = sn.commit_snapshot(
        spark.createDataFrame([], "k int, v string"), table_path
    )
    d = sn.read_delta(spark, table_path, v1, v2)
    assert d.count() == 0 and set(d.columns) == {"k", "v"}


def test_read_delta_over_partitioned_commits(spark, table_path):
    """A partitioned append's delta reads back with partition pruning
    intact: the delta dirs are hive roots like any other commit dir."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        table_path,
        mode="overwrite",
    )
    v2 = sn.commit_snapshot(
        spark.createDataFrame([(3, "a"), (4, "b")], "k int, v string"),
        table_path,
        partition_by=["v"],
    )
    d = sn.read_delta(spark, table_path, 1, v2)
    assert rows(d) == [(3, "a"), (4, "b")]
    pruned = d.filter(d.v == "a")
    assert rows(pruned) == [(3, "a")]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_partitioned_compaction_keeps_layout_and_shrinks_files(spark, table_path):
    """compact_snapshot(partition_by=...): the rewrite must (a)
    preserve row content, (b) actually reduce the file count the append
    lineage accumulated, and (c) keep the hive layout — the compacted
    dir has cell=<v> partition directories and a reader's partition
    filter still prunes its scan."""
    for r in range(4):
        df = spark.createDataFrame(
            [(i, i % 3) for i in range(r * 10, r * 10 + 10)], ["k", "cell"]
        ).repartition(4)
        sn.commit_snapshot(df, table_path, mode="append", partition_by=["cell"])
    before = sn.data_file_count(table_path, 4)
    v = sn.compact_snapshot(spark, table_path, 2, partition_by=["cell"])
    assert v == 5
    after = sn.data_file_count(table_path, 5)
    assert after < before
    assert after <= 3  # one file per cell value
    # content identical across the rewrite
    pre = sorted((r.k, int(r.cell)) for r in sn.read_snapshot(spark, table_path, 4).collect())
    post = sorted((r.k, int(r.cell)) for r in sn.read_snapshot(spark, table_path, 5).collect())
    assert pre == post and len(pre) == 40
    # hive layout survived: the compacted data dir contains cell= subdirs
    m = json.load(
        open(os.path.join(table_path, "_manifests", "v5.json"))
    )
    (d,) = m["dirs"]
    assert any(
        name.startswith("cell=")
        for name in os.listdir(os.path.join(table_path, d))
    )
    # and the partition filter prunes the compacted scan
    plan = (
        sn.read_snapshot(spark, table_path, 5)
        .filter("cell = 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(cell" in plan


def _mk_partitioned(spark, table_path, n=30):
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(n)], ["k", "cell"]
    )
    sn.commit_snapshot(df, table_path, mode="overwrite", partition_by=["cell"])


def test_replace_partitions_deletes_without_touching_others(spark, table_path):
    """replace_partitions: a delete rewrites ONLY the affected
    partition's survivors; the new version never returns killed rows,
    the old version still does (time travel), and the untouched
    partitions' files are physically unmodified."""
    _mk_partitioned(spark, table_path)
    (v1_dir,) = dirs_of(table_path, 1)
    untouched = os.path.join(table_path, v1_dir, "cell=0")
    files_before = sorted(os.listdir(untouched))
    # kill k in (1, 4) — both live in cell=1; survivors of cell 1 re-commit
    survivors = (
        sn.read_snapshot(spark, table_path, 1)
        .filter("cell = 1 AND k NOT IN (1, 4)")
        .select("k", "cell")
    )
    v = sn.replace_partitions(survivors, table_path, "cell", [1])
    assert v == 2
    post = sorted(r.k for r in sn.read_snapshot(spark, table_path, 2).collect())
    assert 1 not in post and 4 not in post
    assert post == sorted(k for k in range(30) if k not in (1, 4))
    # time travel: v1 still has the killed rows
    pre = sorted(r.k for r in sn.read_snapshot(spark, table_path, 1).collect())
    assert pre == list(range(30))
    # untouched partition physically identical
    assert sorted(os.listdir(untouched)) == files_before


def test_replace_partitions_appends_inherit_tombstones(spark, table_path):
    _mk_partitioned(spark, table_path)
    survivors = (
        sn.read_snapshot(spark, table_path, 1)
        .filter("cell = 2 AND k <> 2")
        .select("k", "cell")
    )
    sn.replace_partitions(survivors, table_path, "cell", [2])
    extra = spark.createDataFrame([(100, 2)], ["k", "cell"])
    sn.commit_snapshot(extra, table_path, mode="append", partition_by=["cell"])
    got = sorted(r.k for r in sn.read_snapshot(spark, table_path, 3).collect())
    assert 2 not in got and 100 in got and len(got) == 30


def test_replace_lineage_refuses_delta_and_reclaims_after_compact(spark, table_path):
    """The OPTIMIZE-then-VACUUM interplay for deletes: a replace breaks
    delta semantics loudly; after a compaction the pre-delete dirs are
    unreferenced and vacuum physically reclaims the killed rows' files."""
    _mk_partitioned(spark, table_path)
    survivors = (
        sn.read_snapshot(spark, table_path, 1)
        .filter("cell = 0 AND k <> 0")
        .select("k", "cell")
    )
    sn.replace_partitions(survivors, table_path, "cell", [0])
    with pytest.raises(ValueError, match="append-only"):
        sn.read_delta(spark, table_path, 1, 2)
    sn.compact_snapshot(spark, table_path, 2, partition_by=["cell"])
    (v1_dir,) = dirs_of(table_path, 1)
    removed = sn.vacuum_snapshots(table_path, keep_from=3)
    assert v1_dir in removed
    assert not os.path.exists(os.path.join(table_path, v1_dir))
    got = sorted(r.k for r in sn.read_snapshot(spark, table_path).collect())
    assert got == sorted(k for k in range(30) if k != 0)


def test_replace_excluded_partitions_are_pruned_not_filtered(spark, table_path):
    """The tombstone must reach the scan as a PARTITION filter: the
    excluded directories are pruned, never read-and-dropped."""
    _mk_partitioned(spark, table_path)
    survivors = (
        sn.read_snapshot(spark, table_path, 1)
        .filter("cell = 1 AND k <> 1")
        .select("k", "cell")
    )
    sn.replace_partitions(survivors, table_path, "cell", [1])
    (v1_dir,) = dirs_of(table_path, 1)
    plan = (
        sn.read_snapshot(spark, table_path, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    v1_scans = [
        line
        for line in plan.splitlines()
        if "FileScan" in line and v1_dir in line
    ]
    assert v1_scans, plan
    (scan,) = v1_scans
    pf = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "NOT" in pf and "cell" in pf, scan
    assert "DataFilters: []" in scan, scan


def test_txn_watermark_makes_replay_idempotent(spark, table_path):
    """commit_snapshot txn: an at-least-once writer tags commits
    with (app, monotonic id); last_txn_id gives the replay guard. The
    guard pattern must also survive a foreign app's interleaved commits
    and a plain untagged commit."""
    d = spark.createDataFrame([(1, "a")], ["k", "v"])

    def guarded_commit(batch_id):
        if (done := sn.last_txn_id(table_path, "w1")) is not None and batch_id <= done:
            return None
        return sn.commit_snapshot(
            d, table_path, mode="append", txn=("w1", batch_id)
        )

    assert guarded_commit(0) == 1
    assert guarded_commit(1) == 2
    # replays of both committed batches: no-ops, no new versions
    assert guarded_commit(0) is None
    assert guarded_commit(1) is None
    assert sn.latest_version(table_path) == 2
    assert sn.read_snapshot(spark, table_path).count() == 2
    # another app and an untagged commit don't disturb w1's watermark
    sn.commit_snapshot(d, table_path, mode="append", txn=("other", 99))
    sn.commit_snapshot(d, table_path, mode="append")
    assert sn.last_txn_id(table_path, "w1") == 1
    assert guarded_commit(1) is None
    assert guarded_commit(2) == 5


def test_read_snapshot_explicit_schema_types_partition_column(spark, table_path):
    """read_snapshot(schema=...): a declared LONG hive partition
    column reads back LONG (no path-string int inference, no
    reconciling cast), and empty commits stay readable."""
    df = spark.createDataFrame([(i, i % 3) for i in range(9)], ["k", "cell"])
    sn.commit_snapshot(df, table_path, mode="overwrite", partition_by=["cell"])
    got = sn.read_snapshot(spark, table_path, schema="k long, cell long")
    assert dict(got.dtypes)["cell"] == "bigint"
    assert got.count() == 9
    # inference path (no schema): NOT the declared long — whatever the
    # session's partition inference yields (int, or string with
    # inference off) forces a reconciling cast the explicit read avoids
    assert dict(sn.read_snapshot(spark, table_path).dtypes)["cell"] != "bigint"
    # empty commit readable under the explicit schema
    sn.commit_snapshot(
        df.filter("k < 0"), table_path, mode="append", partition_by=["cell"]
    )
    assert (
        sn.read_snapshot(spark, table_path, schema="k long, cell long").count()
        == 9
    )


# ---------------------------------------------------------------------------
# Optimistic concurrency, so that two legitimate writers (streaming ingest and
# scheduled compaction) can share one table: data is written once into a
# collision-free dir and only the manifest publish retries, re-validating the
# op's rule against whatever landed in between. The injector forces the race
# deterministically: the first _publish attempt triggers a real interloper
# commit, so the writer under test ALWAYS loses once and must resolve on
# retry.
# ---------------------------------------------------------------------------


def _inject_before_first_publish(monkeypatch, interloper):
    orig = sn._publish
    state = {"fired": False}

    def wrapper(path, manifest):
        if not state["fired"]:
            state["fired"] = True
            interloper()  # lands a real commit between build() and publish
        return orig(path, manifest)

    monkeypatch.setattr(sn, "_publish", wrapper)
    return state


def test_optimistic_append_resolves_lost_race(spark, table_path, monkeypatch):
    """An append has no precondition on its parent: after losing the
    publish race it must re-commit on the new parent, and BOTH writers'
    rows land."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )

    def interloper():
        sn.commit_snapshot(
            spark.createDataFrame([(2, "b")], ["k", "v"]), table_path, mode="append"
        )

    state = _inject_before_first_publish(monkeypatch, interloper)
    v = sn.commit_snapshot(
        spark.createDataFrame([(3, "c")], ["k", "v"]),
        table_path,
        mode="append",
        retries=2,
    )
    assert state["fired"] and v == 3
    assert rows(sn.read_snapshot(spark, table_path, 3)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    # lineage: v3's parent is the interloper's v2, not the stale v1
    assert sn._read_manifest(table_path, 3)["parent"] == 2


def test_optimistic_ingest_vs_compaction_both_progress(
    spark, table_path, monkeypatch
):
    """The production pair: a streaming txn-append
    lands BETWEEN scheduled compaction's rewrite and its publish. The
    retried compaction must MERGE — its manifest is [compacted dir] +
    the ingest's dir — so the ingest's rows survive the compaction that
    raced them, the txn watermark stays intact, and both commits are in
    the lineage."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]),
        table_path,
        mode="overwrite",
    )
    sn.commit_snapshot(
        spark.createDataFrame([(3, "c")], ["k", "v"]), table_path, mode="append"
    )
    pre_files = sn.data_file_count(table_path, 2)

    def ingest():
        sn.commit_snapshot(
            spark.createDataFrame([(4, "d")], ["k", "v"]),
            table_path,
            mode="append",
            txn=("ingest", 7),
            retries=2,
        )

    _inject_before_first_publish(monkeypatch, ingest)
    v = sn.compact_snapshot(spark, table_path, target_files=1, retries=2)
    assert v == 4
    assert sn._read_manifest(table_path, 4)["parent"] == 3
    # the compacted version holds EVERYTHING: the rewritten v2 fileset
    # plus the ingest that raced it
    assert rows(sn.read_snapshot(spark, table_path, 4)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    ]
    # the pre-race fileset really was compacted (1 file + the ingest's)
    assert sn.data_file_count(table_path, 4) < pre_files + 1
    # exactly-once bookkeeping survived the merge
    assert sn.last_txn_id(table_path, "ingest") == 7
    # old versions still time-travel
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_optimistic_append_resolves_racing_compaction(
    spark, table_path, monkeypatch
):
    """The same pair with the roles swapped: the ingest loses the race
    to the compaction and must re-commit on top of the compacted
    version — its retried manifest appends its dir to the compacted
    fileset, never to the stale pre-compaction one."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    sn.commit_snapshot(
        spark.createDataFrame([(2, "b")], ["k", "v"]), table_path, mode="append"
    )

    def compactor():
        sn.compact_snapshot(spark, table_path, target_files=1)

    _inject_before_first_publish(monkeypatch, compactor)
    v = sn.commit_snapshot(
        spark.createDataFrame([(9, "z")], ["k", "v"]),
        table_path,
        mode="append",
        txn=("ingest", 1),
        retries=2,
    )
    assert v == 4
    m = sn._read_manifest(table_path, 4)
    assert m["parent"] == 3
    # the retried append composes with the COMPACTED dir set (1 dir) +
    # its own, not the two stale pre-compaction dirs
    assert len(m["dirs"]) == 2
    assert rows(sn.read_snapshot(spark, table_path, 4)) == [
        (1, "a"),
        (2, "b"),
        (9, "z"),
    ]


def test_optimistic_compaction_refuses_non_append_conflict(
    spark, table_path, monkeypatch
):
    """A compaction that raced anything but an append must raise: its
    already-written rewrite no longer reflects the table, and merging
    would resurrect replaced/overwritten rows."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]),
        table_path,
        mode="overwrite",
    )

    def overwriter():
        sn.commit_snapshot(
            spark.createDataFrame([(9, "z")], ["k", "v"]),
            table_path,
            mode="overwrite",
        )

    _inject_before_first_publish(monkeypatch, overwriter)
    with pytest.raises(sn.SnapshotConflictError, match="op='overwrite'"):
        sn.compact_snapshot(spark, table_path, target_files=1, retries=3)
    # the loser deleted its rewrite dir: nothing is left for vacuum
    assert data_dirs(table_path) == set(dirs_of(table_path, 1) + dirs_of(table_path, 2))
    assert sn.vacuum_snapshots(table_path, keep_from=1) == []
    assert rows(sn.read_snapshot(spark, table_path)) == [(9, "z")]


def test_optimistic_replace_merges_disjoint_append(spark, table_path, monkeypatch):
    """replace_partitions' precondition is only on the partitions it
    rewrites: a concurrent append into OTHER partitions is mergeable —
    the retried manifest tombstones the new parent's dirs and keeps the
    appended rows."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], ["k", "p", "v"]),
        table_path,
        mode="overwrite",
        partition_by=["p"],
    )

    def append_elsewhere():
        sn.commit_snapshot(
            spark.createDataFrame([(5, 2, "e")], ["k", "p", "v"]),
            table_path,
            mode="append",
            partition_by=["p"],
        )

    _inject_before_first_publish(monkeypatch, append_elsewhere)
    v = sn.replace_partitions(
        spark.createDataFrame([(9, 1, "A")], ["k", "p", "v"]),
        table_path,
        "p",
        [1],
        retries=2,
    )
    assert v == 3
    got = sorted(
        (r.k, int(r.p), r.v)
        for r in sn.read_snapshot(spark, table_path, 3).collect()
    )
    assert got == [(2, 2, "b"), (5, 2, "e"), (9, 1, "A")]


def test_optimistic_replace_refuses_touched_partition(
    spark, table_path, monkeypatch
):
    """A concurrent append INTO a partition being replaced is the one
    thing the retry must never absorb: retrying would tombstone the
    other writer's just-committed rows. It raises instead, and the
    table keeps the interloper's append as the latest version, and the
    loser's replacement dir is deleted."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], ["k", "p", "v"]),
        table_path,
        mode="overwrite",
        partition_by=["p"],
    )

    def append_into_replaced():
        sn.commit_snapshot(
            spark.createDataFrame([(6, 1, "f")], ["k", "p", "v"]),
            table_path,
            mode="append",
            partition_by=["p"],
        )

    _inject_before_first_publish(monkeypatch, append_into_replaced)
    with pytest.raises(sn.SnapshotConflictError, match="replaced partition"):
        sn.replace_partitions(
            spark.createDataFrame([(9, 1, "A")], ["k", "p", "v"]),
            table_path,
            "p",
            [1],
            retries=3,
        )
    got = sorted(
        (r.k, int(r.p), r.v)
        for r in sn.read_snapshot(spark, table_path).collect()
    )
    assert got == [(1, 1, "a"), (2, 2, "b"), (6, 1, "f")]
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))


def test_optimistic_replace_refuses_unattributable_append(
    spark, table_path, monkeypatch
):
    """A concurrent FLAT append (not hive-partitioned on the replace
    column) cannot be proven disjoint from metadata alone — the retry
    must refuse rather than guess."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, 1, "a")], ["k", "p", "v"]),
        table_path,
        mode="overwrite",
        partition_by=["p"],
    )

    def flat_append():
        sn.commit_snapshot(
            spark.createDataFrame([(5, 2, "e")], ["k", "p", "v"]),
            table_path,
            mode="append",  # no partition_by: rows unattributable
        )

    _inject_before_first_publish(monkeypatch, flat_append)
    with pytest.raises(sn.SnapshotConflictError, match="not hive-partitioned"):
        sn.replace_partitions(
            spark.createDataFrame([(9, 1, "A")], ["k", "p", "v"]),
            table_path,
            "p",
            [1],
            retries=3,
        )


def test_optimistic_txn_replay_noop_composes_with_retry(
    spark, table_path, monkeypatch
):
    """Exactly-once must survive the retry loop: a duplicate delivery of
    the same (app, txn_id) that loses its race to ITS OWN first delivery
    re-checks the watermark on retry, drops its orphaned dir, and
    no-ops — never a double append."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    batch = spark.createDataFrame([(2, "b")], ["k", "v"])

    def first_delivery():
        sn.commit_snapshot(batch, table_path, mode="append", txn=("app", 5))

    _inject_before_first_publish(monkeypatch, first_delivery)
    v = sn.commit_snapshot(
        batch, table_path, mode="append", txn=("app", 5), retries=2
    )
    assert v == 2  # the version the FIRST delivery published
    assert sn.latest_version(table_path) == 2
    assert rows(sn.read_snapshot(spark, table_path, 2)) == [(1, "a"), (2, "b")]
    # the duplicate's data dir was cleaned up, not left for vacuum
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))
    # and a LATER duplicate no-ops before writing anything at all
    assert (
        sn.commit_snapshot(batch, table_path, mode="append", txn=("app", 5), retries=2)
        == 2
    )
    assert data_dirs(table_path) == set(dirs_of(table_path, 2))


def test_optimistic_retries_exhausted_raises(spark, table_path, monkeypatch):
    """A writer storm past the retry budget degrades loudly, never into
    a livelock: every attempt loses, the final conflict re-raises, and
    the loser's data dir is deleted."""
    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    orig = sn._publish
    seq = {"n": 10}

    def always_raced(path, manifest):
        if manifest.get("op") == "append" and manifest.get("txn") is None:
            return orig(path, manifest)
        seq["n"] += 1
        sn.commit_snapshot(
            spark.createDataFrame([(seq["n"], "x")], ["k", "v"]),
            table_path,
            mode="append",
        )
        return orig(path, manifest)

    monkeypatch.setattr(sn, "_publish", always_raced)
    with pytest.raises(sn.SnapshotConflictError, match="lost the publish race 2"):
        sn.commit_snapshot(
            spark.createDataFrame([(99, "z")], ["k", "v"]),
            table_path,
            mode="append",
            txn=("app", 1),
            retries=1,
        )
    latest = sn.latest_version(table_path)
    assert data_dirs(table_path) == set(dirs_of(table_path, latest))


def test_optimistic_threaded_writers_both_land(spark, table_path):
    """End-to-end under real threads: two retries=3 appends that both
    observe the same parent before either publishes. link(2) arbitrates,
    the loser retries, and BOTH rows land — versions 2 and 3."""
    import itertools
    import threading
    from unittest import mock

    sn.commit_snapshot(
        spark.createDataFrame([(1, "a")], ["k", "v"]), table_path, mode="overwrite"
    )
    barrier = threading.Barrier(2, timeout=30)
    calls = itertools.count()
    real_latest = sn.latest_version

    def racy_latest(path):
        v = real_latest(path)
        if next(calls) < 2:  # only the two FIRST attempts rendezvous
            barrier.wait()
        return v

    results: dict[str, object] = {}

    def writer(tag, payload):
        df = spark.createDataFrame([payload], ["k", "v"])
        try:
            results[tag] = sn.commit_snapshot(
                df, table_path, mode="append", retries=3
            )
        except sn.SnapshotConflictError as e:  # pragma: no cover - would fail
            results[tag] = e

    with mock.patch.object(sn, "latest_version", racy_latest):
        t1 = threading.Thread(target=writer, args=("w1", (2, "b")))
        t2 = threading.Thread(target=writer, args=("w2", (3, "c")))
        t1.start(); t2.start(); t1.join(); t2.join()

    assert sorted(results.values()) == [2, 3], results
    assert rows(sn.read_snapshot(spark, table_path, 3)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


class _Crash(RuntimeError):
    """A build stopped between two commits."""


#: lineage-committing queries whose build commits twice, with the
#: derived-state name each commits under
HALF_BUILT = {
    "snapshot_partitioned_prune": "events_parted_snapshots",
    "snapshot_schema_evolution": "orders_evolving_snapshots",
    "snapshot_time_travel_orders": "orders_snapshots",
    "snapshot_cdc_upsert_history": "cdc_state_snapshots",
    "contamination_delta_theta_overlap": "documents_corpus_snapshots",
}


@pytest.mark.parametrize("name", sorted(HALF_BUILT))
def test_half_built_lineage_is_rebuilt(spark, sf_dir, monkeypatch, name):
    """A lineage whose build stopped after its first commit is not
    complete state: the next run rebuilds it and answers as the oracle
    does, instead of serving v1 as if it were the whole lineage."""
    import pandas as pd

    from kiji_scoring_spark.queries import QUERIES
    from kiji_scoring_spark.state import state_path
    from test_oracle_parity import duck_con, normalize

    spec = QUERIES[name]
    path = state_path(sf_dir, HALF_BUILT[name])
    shutil.rmtree(path, ignore_errors=True)
    commit = sn.commit_snapshot
    done = []

    def commit_once(*args, **kwargs):
        if done:
            raise _Crash(name)
        done.append(commit(*args, **kwargs))

    with monkeypatch.context() as m:
        m.setattr(sn, "commit_snapshot", commit_once)
        with pytest.raises(_Crash):
            spec.fn(spark, sf_dir)
    assert sn.latest_version(path) == 1

    got = normalize(spec.fn(spark, sf_dir).toPandas())
    want = normalize(duck_con(sf_dir).execute(spec.oracle).fetchdf())
    assert sn.latest_version(path) == 2
    pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
