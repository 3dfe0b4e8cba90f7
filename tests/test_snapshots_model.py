"""Model-based randomized gate for the snapshot table format: a seeded
random interleaving of commit/append/compact/vacuum ops and crashed
writers runs against a trivial in-memory reference model (a dict
version -> expected row multiset), and after every op EVERY retained
version must read back exactly its modeled contents. This catches
cross-op invariant breaks — e.g. compaction corrupting time travel,
vacuum deleting a dir an append-composed version still references, a
crashed writer's dir blocking or leaking into a later version — that
the per-op unit tests in test_snapshots.py can't see."""

import os
import random
import shutil
import tempfile

import pytest

from kiji_scoring_spark.operators import snapshots as sn


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


@pytest.mark.parametrize("seed", [7, 21, 1999])
def test_random_op_sequences_match_model(spark, seed):
    rng = random.Random(seed)
    root = tempfile.mkdtemp(prefix="kss_snapmodel_")
    path = os.path.join(root, "t")
    try:
        model: dict[int, list] = {}  # version -> expected sorted rows
        retained_from = 1
        crashed: list[str] = []  # unpublished dirs of crashed writers
        next_k = 0

        def fresh_batch(n):
            nonlocal next_k
            batch = [(next_k + i, f"s{seed}r{next_k + i}") for i in range(n)]
            next_k += n
            return batch

        def vacuum(keep):
            referenced = {
                sn._dir_rel(d)
                for v in model
                if v >= keep
                for d in sn._read_manifest(path, v)["dirs"]
            }
            removed = sn.vacuum_snapshots(path, keep_from=keep)
            # the next vacuum reclaims every crashed writer's dir, and
            # only referenced dirs remain
            assert set(crashed) <= set(removed), f"seed={seed}: {crashed}"
            crashed.clear()
            data = os.path.join(path, "data")
            on_disk = {os.path.join("data", n) for n in os.listdir(data)}
            assert on_disk == referenced, f"seed={seed}: left {on_disk - referenced}"

        # first op must be a commit
        batch = fresh_batch(rng.randrange(1, 4))
        v = sn.commit_snapshot(
            spark.createDataFrame(batch, ["k", "v"]),
            path,
            mode="overwrite",
            retries=rng.choice([0, 2]),
        )
        model[v] = sorted(batch)

        for _ in range(8):
            op = rng.choice(
                ["append", "overwrite", "append", "compact", "vacuum", "crash"]
            )
            latest = max(model)
            if op in ("append", "overwrite"):
                batch = fresh_batch(rng.randrange(0, 4))  # 0 = empty commit
                v = sn.commit_snapshot(
                    spark.createDataFrame(batch, "k long, v string"),
                    path,
                    mode=op,
                    retries=rng.choice([0, 2]),
                )
                prev = model[latest] if op == "append" else []
                model[v] = sorted(prev + batch)
            elif op == "compact":
                v = sn.compact_snapshot(
                    spark, path, target_files=1, retries=rng.choice([0, 2])
                )
                model[v] = model[latest]
            elif op == "crash":
                # a writer that wrote its data and died before publishing:
                # its rows must never appear, and it changes no version
                rel = sn._claim_unique_dir(path)
                spark.createDataFrame(fresh_batch(2), "k long, v string").write.mode(
                    "append"
                ).parquet(os.path.join(path, rel))
                crashed.append(rel)
            else:  # vacuum up to a random retained horizon
                keep = rng.choice(
                    [x for x in sorted(model) if x >= retained_from]
                )
                vacuum(keep)
                for old in [x for x in model if x < keep]:
                    del model[old]
                retained_from = keep

            # EVERY retained version reads back exactly its modeled rows
            for ver, expected in model.items():
                assert _rows(sn.read_snapshot(spark, path, ver)) == expected, (
                    f"seed={seed}: version {ver} diverged from model"
                )
            assert sn.latest_version(path) == max(model)
        vacuum(retained_from)
    finally:
        shutil.rmtree(root, ignore_errors=True)
