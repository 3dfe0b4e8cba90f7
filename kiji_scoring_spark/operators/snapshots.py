"""Minimal versioned-table format: manifest-based snapshots with
time travel and compaction (SURVEY §2.B).

The table-level analog of the reference's versioned cells (§1.1:
every (row, family, qualifier) keeps timestamped versions; reads pick
a version by time range) — here every COMMIT keeps the table state,
and reads pick a version by number. This is the core mechanic of a
lakehouse table format (Delta/Iceberg), reduced to what plain parquet
plus an atomic manifest link can provide:

- each commit writes its own immutable data directory
  `<table>/data/c<pid>-<ns>-<n>/` (parquet, written by Spark, any
  parallelism), named so that no two writers can ever collide;
- a manifest `<table>/_manifests/v<N>.json` lists the data dirs that
  COMPOSE that version (append = parent's dirs + the new dir;
  overwrite/compact = just the new dir) plus parent/op metadata;
- the manifest is published atomically (fsync'd temp file + link(2))
  — a reader never observes a half-written version, and link(2) fails
  if the version already exists, so of two writers racing to one
  version exactly one publishes: never last-writer-wins.

All three writers (commit_snapshot, replace_partitions,
compact_snapshot) commit one way, `_commit`: note the latest version on
entry, write the data ONCE into the unique dir, then build the manifest
on the CURRENT latest version and publish it. Building checks the
commits that landed since entry against the op's own rule — append:
none; overwrite: no commit may have landed; compaction: only appends;
replace_partitions: the replaced partitions must be untouched — and a
broken rule raises SnapshotConflictError. A lost link(2) race re-reads
the latest version and rebuilds, up to `retries` times. That is
Delta/Iceberg's optimistic concurrency (write data files once, retry
the log commit with conflict validation) reduced to what a manifest
directory can provide. A writer that stops without publishing deletes
its own dir before it raises; a writer that crashes leaves a dir no
manifest references, which blocks no version and which
vacuum_snapshots reclaims.

Readers never list data directories — they read the closed file-set
named by the manifest, so a crashed half-written commit dir is
invisible. Compaction rewrites the CURRENT file-set into fewer, larger
files as a new version: old versions stay readable (time travel), and
the small-file problem — the operational tax of every
streaming/incremental 100 TB pipeline — is paid down without blocking
readers.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        return json.load(f)


def latest_version(path: str) -> int | None:
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(n[1:-5])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions) if versions else None


class SnapshotConflictError(RuntimeError):
    """A commit could not publish: a commit that landed after it started
    breaks its op's rule (an overwrite, compaction or replace whose
    input changed under it), or it lost the link(2) race to its version
    more than `retries` times. The loser's data dir is deleted before
    this is raised, so the table holds only the published commits."""


def _claim_unique_dir(path: str) -> str:
    """Create a data dir whose name can never collide with another
    writer's: pid + monotonic ns + an in-process counter, with the
    exclusive mkdir backstopping the (practically impossible) collision
    by bumping the counter."""
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    for n in itertools.count():
        rel = os.path.join("data", f"c{os.getpid()}-{time.monotonic_ns()}-{n}")
        try:
            os.mkdir(os.path.join(path, rel))
        except FileExistsError:
            continue
        return rel


def _publish(path: str, manifest: dict) -> None:
    """Atomic manifest publish: write to a temp name, fsync, then
    hard-link to the final name. link(2) fails atomically if the final
    name exists, so a published manifest is never replaced — a reader
    observes either nothing or the complete winning manifest, never a
    torn or replaced one."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"v{manifest['version']}.json")
    # unique per ATTEMPT, not per process: two racing threads of one
    # process (two streams in one Spark driver) with a pid-keyed name
    # would clobber each other's tmp and the loser would die on
    # FileNotFoundError instead of a clean SnapshotConflictError
    tmp = final + f".tmp.{os.getpid()}.{time.monotonic_ns()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise SnapshotConflictError(
            f"manifest v{manifest['version']} at {path} was published by a "
            "concurrent writer"
        ) from None
    finally:
        os.remove(tmp)


def _txn_done(path: str, txn: tuple[str, int] | None) -> bool:
    if txn is None:
        return False
    done = last_txn_id(path, txn[0])
    return done is not None and int(txn[1]) <= done


def _commit(
    path: str,
    op: str,
    write,
    build,
    schema: str,
    retries: int,
    txn: tuple[str, int] | None = None,
    extra: dict | None = None,
) -> int:
    """The one commit protocol of every writer. `write(dir)` writes the
    commit's data once into a fresh unique dir (which already exists,
    so Spark must write in 'append' mode); `build(parent, rel)`
    returns the manifest's dirs on top of the CURRENT latest version
    `parent`, raising SnapshotConflictError if the commits that landed
    since the writer started break its op's rule. Each lost link(2)
    race consumes one retry; past the budget the conflict re-raises,
    so a writer storm degrades loudly, never into a livelock. A `txn`
    whose watermark is already reached no-ops, checked before the
    write and again before every publish. Unless the manifest
    publishes, the dir is deleted before returning or raising."""
    if _txn_done(path, txn):
        return latest_version(path)  # a replay of a committed batch
    rel = _claim_unique_dir(path)
    published = False
    try:
        write(os.path.join(path, rel))
        lost = None
        for _ in range(retries + 1):
            parent = latest_version(path)
            if _txn_done(path, txn):
                return parent  # a concurrent delivery of this batch landed
            manifest = {
                "version": 1 if parent is None else parent + 1,
                "parent": parent,
                "op": op,
                "dirs": build(parent, rel),
                **(extra or {}),
                # an EMPTY commit writes no parquet files (a partitioned
                # empty write leaves only _SUCCESS), so the schema must
                # survive in metadata for readers
                "schema": schema,
            }
            if txn is not None:
                manifest["txn"] = {"app": txn[0], "id": int(txn[1])}
            try:
                _publish(path, manifest)
            except SnapshotConflictError as e:
                lost = e
                continue
            published = True
            return manifest["version"]
        raise SnapshotConflictError(
            f"commit at {path} lost the publish race {retries + 1} times "
            f"(retries={retries}); last conflict: {lost}"
        )
    finally:
        if not published:
            shutil.rmtree(os.path.join(path, rel), ignore_errors=True)


def commit_snapshot(
    df: DataFrame,
    path: str,
    mode: str = "append",
    target_files: int | None = None,
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    retries: int = 0,
) -> int:
    """Commit `df` as the next version of the table at `path`.

    mode='overwrite' starts the file-set fresh; mode='append' adds the
    new data dir to the parent version's file-set. `target_files`
    optionally coalesces the write. `partition_by` lays the commit's
    data dir out hive-partitioned on those columns — readers get
    partition pruning through every version that commit participates
    in (Spark discovers the partition columns per data dir, so
    differently-partitioned commits can coexist in one version's
    file-set as long as the COLUMN SET is consistent — the
    additive-evolution rule applies to partition columns too). Returns
    the committed version number.

    An append has no rule on its parent (its rows are
    parent-independent): it lands on whatever version is latest when
    it publishes, so appends that overlap in time all land — which is
    what lets streaming ingest and scheduled compaction share one
    table. An overwrite raises SnapshotConflictError if any commit
    landed after it started: it must never silently discard rows it
    did not see. `retries` is how many lost link(2) races are retried.

    `txn=(app_id, txn_id)` records an idempotent-writer watermark in the
    manifest (Delta's txn/appId pattern): an AT-LEAST-ONCE writer (a
    streaming foreachBatch) tags each commit with its monotonically
    increasing batch id, and a replay of an already-committed batch
    no-ops, returning the latest version, instead of appending a
    duplicate. The watermark is checked before the write and before
    every publish, so a duplicate that loses its race to ITS OWN
    earlier delivery also no-ops."""
    if mode not in ("append", "overwrite"):
        raise ValueError(
            f"commit_snapshot mode must be 'append' or 'overwrite', got {mode!r}"
        )
    observed = latest_version(path)
    if target_files:
        df = df.coalesce(target_files)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)

    def build(parent: int | None, rel: str) -> list:
        if mode == "overwrite":
            if parent != observed:
                raise SnapshotConflictError(
                    f"overwrite at {path} conflicts with v{parent}, which "
                    "landed after it started: it would discard rows it never saw"
                )
            return [rel]
        return ([] if parent is None else _read_manifest(path, parent)["dirs"]) + [rel]

    return _commit(
        path, mode, writer.parquet, build, df.schema.json(), retries, txn
    )


def last_txn_id(path: str, app: str) -> int | None:
    """Highest txn id `app` has committed to this table (None if none) —
    the read side of the idempotent-writer contract. Walks the lineage
    from the latest version through parents, so expired (vacuumed)
    manifests never break it and the cost is O(lineage), metadata
    only."""
    v = latest_version(path)
    best: int | None = None
    while v is not None:
        try:
            m = _read_manifest(path, v)
        except FileNotFoundError:
            break  # older history vacuumed away
        t = m.get("txn")
        if t and t.get("app") == app:
            best = t["id"] if best is None else max(best, t["id"])
        v = m.get("parent")
    return best


def _dir_rel(d) -> str:
    """Manifest dir entries are plain strings (no exclusions) or dicts
    `{"path": rel, "exclude": {col: [values]}}` (partition-level
    tombstones left by replace_partitions)."""
    return d if isinstance(d, str) else d["path"]


def _dir_partition_values(path: str, rel: str, partition_col: str):
    """The set of `partition_col` values (as hive path strings) whose
    partitions hold this commit dir's parquet files, plus whether any
    file could NOT be attributed to a `partition_col=` path segment
    (a flat or differently-partitioned commit). Metadata-only: one
    filesystem walk of the single commit dir, no file opened — this is
    what lets replace_partitions decide from the
    manifests + directory names alone whether an intervening append
    touched the partitions it is rewriting."""
    prefix = f"{partition_col}="
    values: set[str] = set()
    unattributed = False
    root = os.path.join(path, rel)
    for cur, _dirs, files in os.walk(root):
        if not any(f.endswith(".parquet") for f in files):
            continue
        segs = os.path.relpath(cur, root).split(os.sep)
        seg = next((s for s in segs if s.startswith(prefix)), None)
        if seg is None:
            unattributed = True
        else:
            values.add(seg[len(prefix):])
    return values, unattributed


def _validate_replace_precondition(
    path: str, from_version: int, to_version: int, partition_col: str, values: list
) -> None:
    """Raise SnapshotConflictError unless every commit in
    (from_version, to_version] provably left the partitions holding
    `values` untouched — the serializability check replace_partitions
    needs before publishing on a newer parent than the one it read.
    Appends (and other replaces' NEW dirs) pass iff their hive layout
    shows no files in the replaced partitions; compactions always pass
    (logically zero-effect, and the tombstones prune the
    compacted dirs just as they pruned the originals); overwrites and
    differently-keyed replaces never pass (their row movement cannot be
    attributed partition-wise from metadata)."""
    want = {str(v) for v in values}
    for v in range(from_version + 1, to_version + 1):
        m = _read_manifest(path, v)
        op = m["op"]
        if op == "compact":
            continue
        if op == "overwrite" or (m.get("parent") is None):
            raise SnapshotConflictError(
                f"replace_partitions at {path} conflicts with concurrent "
                f"op={op!r} at v{v}: the table was rewritten under us"
            )
        if op == "replace":
            theirs = m.get("replaced", {})
            if set(theirs) != {partition_col}:
                raise SnapshotConflictError(
                    f"replace_partitions at {path} conflicts with a "
                    f"concurrent replace at v{v} keyed on "
                    f"{sorted(theirs)} (ours: {partition_col!r})"
                )
            if want & {str(x) for x in theirs.get(partition_col, [])}:
                raise SnapshotConflictError(
                    f"replace_partitions at {path} conflicts at v{v}: both "
                    f"writers replaced partitions of {partition_col!r}"
                )
        parent_rels = {_dir_rel(d) for d in _read_manifest(path, m["parent"])["dirs"]}
        for d in m["dirs"]:
            rel = _dir_rel(d)
            if rel in parent_rels:
                continue
            got, unattributed = _dir_partition_values(path, rel, partition_col)
            if unattributed:
                raise SnapshotConflictError(
                    f"replace_partitions at {path}: concurrent v{v} added "
                    f"dir {rel} not hive-partitioned by {partition_col!r}; "
                    "its rows cannot be proven disjoint from the replaced "
                    "partitions"
                )
            hit = want & got
            if hit:
                raise SnapshotConflictError(
                    f"replace_partitions at {path}: concurrent v{v} added "
                    f"rows in replaced partition(s) {sorted(hit)}"
                )


def _dir_excludes(d) -> dict[str, list]:
    return {} if isinstance(d, str) else dict(d.get("exclude", {}))


def replace_partitions(
    df: DataFrame,
    path: str,
    partition_col: str,
    values: list,
    target_files: int | None = None,
    retries: int = 0,
) -> int:
    """Commit a COPY-ON-WRITE rewrite of the partitions holding `values`:
    the new version's file-set is the parent's dirs — each tagged with a
    partition-level tombstone excluding `values` — plus one new dir
    holding `df`, the affected partitions' replacement rows (for a
    delete: their survivors). This is how a 100 TB table retires rows
    (dedup kills, takedowns) without rewriting itself: work is
    O(affected partitions), the untouched partitions' files are never
    opened, and the parent's files are never modified — older versions
    still read the pre-delete rows (time travel), and the excluded
    partitions' bytes are physically reclaimed only when a later
    compaction makes them unreferenced and vacuum_snapshots runs (the
    same OPTIMIZE-then-VACUUM interplay Delta has).

    Readers apply the tombstone as a PARTITION filter, so the excluded
    directories are pruned from the scan, not scanned-and-dropped.
    PRECONDITION (caller-owned, like every overwrite's): every row of
    `df` lies in a `values` partition OR in a partition value absent
    from the parent version — rows in an untouched EXISTING partition
    would duplicate its data, while brand-new partition values are fine
    (a split/rebalance retiring hot partitions into fresh ones: the
    tombstones apply only to the parent's dirs, and the new dir's new
    values are visible untombstoned). Delta reads refuse a lineage
    containing this op (added dirs no longer equal added rows).

    The replacement rows are written once; the commits that landed
    after this one started must have left the replaced partitions
    untouched (appends elsewhere and compactions are mergeable; an
    append INTO a replaced partition, an overwrite, or an overlapping
    replace raises — publishing anyway would silently tombstone the
    other writer's rows, the one thing optimistic concurrency must
    never do). `retries` is how many lost link(2) races are retried."""
    observed = latest_version(path)
    if observed is None:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    if not values:
        raise ValueError("replace_partitions needs a non-empty values list")
    if any(v is None for v in values):
        raise ValueError(
            "replace_partitions cannot replace the null partition "
            "(__HIVE_DEFAULT_PARTITION__): tombstones are value-keyed"
        )
    if target_files:
        df = df.repartition(target_files, partition_col)

    def build(parent: int, rel: str) -> list:
        # df was computed against `observed`
        if parent != observed:
            _validate_replace_precondition(
                path, observed, parent, partition_col, values
            )
        dirs = []
        for d in _read_manifest(path, parent)["dirs"]:
            ex = _dir_excludes(d)
            ex[partition_col] = sorted(set(ex.get(partition_col, [])) | set(values))
            dirs.append({"path": _dir_rel(d), "exclude": ex})
        return dirs + [rel]

    return _commit(
        path,
        "replace",
        df.write.mode("append").partitionBy(partition_col).parquet,
        build,
        df.schema.json(),
        retries,
        extra={"replaced": {partition_col: sorted(values)}},
    )


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Read the table as of `version` (default: latest). Time travel is
    free: any still-published manifest names a complete file-set.

    Default reads use mergeSchema=True because a version's file-set may
    span commits with EVOLVED schemas (columns added over time): the
    merged schema is the union, and files written before a column
    existed surface NULL for it — additive evolution with no rewrite of
    history, the same contract Delta/Iceberg give. (Column renames/
    drops are not modeled; additive-only is the safe subset plain
    parquet can honor.)

    `schema` (a DDL string) opts a STABLE-schema table out of inference:
    no footer reads for schema merging, empty dirs readable, and — the
    reason it exists — hive partition columns keep their DECLARED types
    instead of path-string inference (an int-inferred partition column
    needs a cast that can cost a join its dynamic partition pruning)."""
    if version is None:
        version = latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no snapshot versions at {path}")
    m = _read_manifest(path, version)
    return _read_dirs(spark, path, m["dirs"], m.get("schema"), version, schema)


def _read_dirs(
    spark: SparkSession,
    path: str,
    dirs: list,
    schema_json: str | None,
    version: int,
    user_schema: str | None = None,
) -> DataFrame:
    # each data dir is its own hive-partitioned (or flat) root, so read
    # them separately and union — one multi-path read would demand a
    # shared basePath the independent commit dirs don't have. Filters
    # push through the union into every per-dir scan, so partition
    # pruning still applies commit-by-commit. Dirs with no parquet files
    # (empty commits) are skipped — they contribute no rows, and reading
    # them would fail schema inference. A dir entry's partition-level
    # tombstones (replace_partitions) become NOT-isin filters on the
    # partition column, so the excluded directories are PRUNED from that
    # dir's scan — never scanned-and-dropped.
    def has_files(rel: str) -> bool:
        root = os.path.join(path, rel)
        for cur, _dirs, files in os.walk(root):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    from pyspark.sql import functions as F

    parts = []
    for d in dirs:
        rel = _dir_rel(d)
        if user_schema is None and not has_files(rel):
            continue
        reader = (
            spark.read.schema(user_schema)
            if user_schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        part = reader.parquet(os.path.join(path, rel))
        for col, values in _dir_excludes(d).items():
            # isNull-preserving: NOT-isin alone is null-rejecting and
            # would silently drop a __HIVE_DEFAULT_PARTITION__ (null
            # partition value) from every tagged dir
            part = part.filter(
                F.col(col).isNull() | ~F.col(col).isin(values)
            )
        parts.append(part)
    if not parts:
        # a dir-set composed entirely of empty commits: reconstruct the
        # empty table from the manifest's schema
        from pyspark.sql.types import StructType

        if schema_json is None:
            raise FileNotFoundError(
                f"version {version} at {path} has no data files and no "
                "recorded schema"
            )
        return spark.createDataFrame([], StructType.fromJson(json.loads(schema_json)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def read_delta(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Read ONLY the rows added between two published versions — the
    incremental-consumption primitive: `to_version`'s file-set minus
    `from_version`'s, read at FILE level (no anti-join, no scan of the
    base data). For an append-only lineage the dirs a version adds ARE
    its row delta, so "what did this ingest batch bring" costs
    O(delta), however large the table has grown — the shape every
    per-arrival pipeline check (contamination, dedup rate, quality
    drift) needs at 100 TB. Every commit in (from, to] must be an
    append: an overwrite breaks the added-dirs == added-rows identity,
    and this refuses loudly rather than return a wrong delta."""
    if to_version is None:
        to_version = latest_version(path)
        if to_version is None:
            raise FileNotFoundError(f"no snapshot versions at {path}")
    if not 0 <= from_version <= to_version:
        raise ValueError(
            f"bad delta range: from={from_version} to={to_version}"
        )
    for v in range(from_version + 1, to_version + 1):
        m_v = _read_manifest(path, v)
        # the table-CREATING commit (parent None) adds every row it
        # writes whatever its op; any later overwrite discards dirs and
        # breaks the identity
        if m_v["op"] != "append" and m_v.get("parent") is not None:
            raise ValueError(
                f"version {v} at {path} is op={m_v['op']!r}: a delta read "
                "is only defined over an append-only lineage"
            )
    base: set[str] = (
        {_dir_rel(d) for d in _read_manifest(path, from_version)["dirs"]}
        if from_version
        else set()
    )
    m = _read_manifest(path, to_version)
    new_dirs = [d for d in m["dirs"] if _dir_rel(d) not in base]
    return _read_dirs(spark, path, new_dirs, m.get("schema"), to_version)


def compact_snapshot(
    spark: SparkSession,
    path: str,
    target_files: int,
    partition_by: list[str] | None = None,
    retries: int = 0,
) -> int:
    """Rewrite the CURRENT version's file-set into `target_files` files
    as a new version. Readers of old versions are unaffected; the new
    version's scan does the same work over far fewer file-open/footer
    costs — the maintenance pass that keeps an incrementally-written
    100 TB table scannable.

    `partition_by` preserves a hive layout THROUGH compaction: the
    rewrite shuffles into `target_files` tasks hash-keyed on the
    partition columns (each partition value lands in exactly one task,
    so the compacted version holds at most one file per partition per
    task that owns it) and lays the single output dir out partitioned —
    so a reader's partition pruning, and any join's dynamic partition
    pruning against it, survive the rewrite. Omitting it for a table
    whose commits were partitioned FLATTENS the layout (the partition
    column becomes a plain data column) — legal but almost never what a
    pruned-read table wants.

    The compacted rewrite of the file-set OBSERVED at entry is written
    once. Appends that land meanwhile (the ingest side of the
    ingest-vs-compaction pair) merge rather than conflict: the manifest
    is [this compacted dir] + every dir they added, so the ingest's rows
    survive the compaction that raced them and both writers make
    progress. Anything but appends in between (another compact, a
    replace, an overwrite) raises: their row movement makes the
    already-written rewrite stale. `retries` is how many lost link(2)
    races are retried."""
    observed = latest_version(path)
    if observed is None:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    current = read_snapshot(spark, path, observed)
    if partition_by:
        writer = (
            current.repartition(target_files, *partition_by)
            .write.mode("append")
            .partitionBy(*partition_by)
        )
    else:
        writer = current.coalesce(target_files).write.mode("append")
    observed_rels = {_dir_rel(d) for d in _read_manifest(path, observed)["dirs"]}

    def build(parent: int, rel: str) -> list:
        for v in range(observed + 1, parent + 1):
            m = _read_manifest(path, v)
            if m["op"] != "append":
                raise SnapshotConflictError(
                    f"compaction at {path} conflicts with concurrent "
                    f"op={m['op']!r} at v{v}: the rewrite it already "
                    "wrote no longer reflects the table"
                )
        appended = [
            d
            for d in _read_manifest(path, parent)["dirs"]
            if _dir_rel(d) not in observed_rels
        ]
        return [rel] + appended

    return _commit(
        path, "compact", writer.parquet, build, current.schema.json(), retries
    )


def vacuum_snapshots(path: str, keep_from: int) -> list[str]:
    """Expire history: drop every version older than `keep_from` and
    physically delete data directories no retained version references.

    Reference counting is the crux — an append-composed version REUSES
    its ancestors' data dirs, so "older than the retention horizon"
    does NOT imply deletable: a dir written at v1 and still listed in
    the retained v4's manifest must survive. Only after a compaction
    (which rewrites the file-set into its own dir) does old data
    actually become unreferenced and reclaimable — the same
    interplay Delta's VACUUM has with OPTIMIZE. Manifests are removed
    first, then unreferenced data dirs, so a crash mid-vacuum can only
    leave orphaned (never dangling) data. A crashed writer's dir is
    unreferenced too and is deleted here — as is the dir of a writer
    still mid-commit, so run vacuum when no writer is. Returns the
    deleted data dirs (relative paths)."""
    latest = latest_version(path)
    if latest is None or keep_from > latest:
        raise ValueError(f"keep_from={keep_from} exceeds latest version {latest}")
    mdir = _manifest_dir(path)
    versions = sorted(
        int(n[1:-5])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json")
    )
    referenced: set[str] = set()
    for v in versions:
        if v >= keep_from:
            referenced.update(
                _dir_rel(d) for d in _read_manifest(path, v)["dirs"]
            )
    removed = []
    for v in versions:
        if v < keep_from:
            os.remove(os.path.join(mdir, f"v{v}.json"))
    data_root = os.path.join(path, "data")
    for name in sorted(os.listdir(data_root)):
        rel = os.path.join("data", name)
        if rel not in referenced:
            shutil.rmtree(os.path.join(data_root, name))
            removed.append(rel)
    return removed


def data_file_count(path: str, version: int) -> int:
    """Number of parquet data files composing `version` (metadata-only).
    Recursive, so hive-partitioned commit dirs count their per-partition
    files."""
    m = _read_manifest(path, version)
    n = 0
    for d in m["dirs"]:
        for _cur, _dirs, files in os.walk(os.path.join(path, _dir_rel(d))):
            n += sum(1 for name in files if name.endswith(".parquet"))
    return n
