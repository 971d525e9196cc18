"""The serving store reads only its manifest; older on-disk layouts
upgrade once through ``tools/migrate_store.py``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from spark_streaming_kafka_bucket_counter_spark.sources import manifest
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
    RST_COL,
    EmptyStoreError,
    LegacyStoreLayoutError,
    ServingStore,
)
from tools.migrate_store import migrate_store

REPO = Path(__file__).resolve().parents[1]


def test_store_compact_crash_recovery(spark, tmp_path):
    """Every interruption point of the pre-round-6 compactor's
    two-rename swap must heal through the migration tool — a batch can
    never vanish."""
    import shutil

    store = ServingStore(spark, str(tmp_path / "rstore"), clean_freq=0)
    df = spark.range(50).withColumnRenamed("id", "v")
    for b in range(3):
        store.append(df.repartition(3), b)
    total = store.view().groupBy().sum("v").collect()[0][0]
    part = tmp_path / "rstore" / "RST_ID=0"

    # crash point 1: staged rewrite written, swap not started
    shutil.copytree(part, tmp_path / "rstore" / "_compact_0")
    migrate_store(tmp_path / "rstore")
    assert store._batch_ids() == [0, 1, 2]
    assert not (tmp_path / "rstore" / "_compact_0").exists()
    assert store.view().groupBy().sum("v").collect()[0][0] == total

    # crash point 2: between the renames (batch only under _old_0)
    shutil.copytree(part, tmp_path / "rstore" / "_compact_0")
    part.rename(tmp_path / "rstore" / "_old_0")
    migrate_store(tmp_path / "rstore")
    assert store._batch_ids() == [0, 1, 2]  # promoted, not lost
    assert part.exists() and not (tmp_path / "rstore" / "_old_0").exists()
    assert store.view().groupBy().sum("v").collect()[0][0] == total

    # crash point 3: swap done, backup dir not yet deleted
    shutil.copytree(part, tmp_path / "rstore" / "_old_0")
    migrate_store(tmp_path / "rstore")
    assert store._batch_ids() == [0, 1, 2]
    assert not (tmp_path / "rstore" / "_old_0").exists()
    assert store.view().groupBy().sum("v").collect()[0][0] == total

    # crash point 2 with the staged copy lost: original restored
    part.rename(tmp_path / "rstore" / "_old_0")
    migrate_store(tmp_path / "rstore")
    assert store._batch_ids() == [0, 1, 2]
    assert store.view().groupBy().sum("v").collect()[0][0] == total


def test_store_legacy_symlink_layout_migrates(spark, tmp_path):
    """A pre-round-9 store (RST_ID=<b> symlinks into hidden _data_*
    version dirs) must migrate losslessly: symlinks materialize, the
    tool adopts the tree as generation 1, and old version debris is
    swept — no batch vanishes on upgrade."""
    root = tmp_path / "lstore"
    root.mkdir()
    for b in range(2):
        data = root / f"_data_{b}_legacy"
        spark.createDataFrame([(b, b)], "k long, v long").write.parquet(str(data))
        os.symlink(data.name, root / f"RST_ID={b}")
    (root / "_data_9_orphan").mkdir()  # displaced version, swept

    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "migrate_store.py"), str(root)],
        check=True, capture_output=True, text=True,
    ).stdout
    assert '"adopted": true' in out and '"materialized": 2' in out

    store = ServingStore(spark, str(root), clean_freq=0)
    assert store._batch_ids() == [0, 1]
    assert sorted(r["k"] for r in store.view().collect()) == [0, 1]
    assert not any(p.is_symlink() for p in root.iterdir())
    assert not (root / "_data_9_orphan").exists()

    # the tool's empty transaction adopted the migrated tree: nothing vanishes
    m = store.snapshot()
    assert m is not None and m["generation"] == 1
    store.append(spark.createDataFrame([(2, 2)], "k long, v long"), 2)
    assert sorted(r["k"] for r in store.view().collect()) == [0, 1, 2]


@pytest.mark.parametrize("marker", [
    "symlink", "_data_3_v1", "_gc_3_v0", "_compact_3", "_old_3",
])
def test_legacy_marker_raises_at_construction(tmp_path, marker):
    root = tmp_path / "store"
    (root / "_data_3_v1").mkdir(parents=True)
    if marker == "symlink":
        os.symlink("_data_3_v1", root / f"{RST_COL}=3")
    elif marker != "_data_3_v1":
        (root / "_data_3_v1").rename(root / marker)
    with pytest.raises(LegacyStoreLayoutError, match="tools/migrate_store.py"):
        ServingStore(None, str(root))
    migrate_store(root)
    ServingStore(None, str(root))  # opens once migrated


def test_current_names_are_not_legacy_markers(tmp_path):
    root = tmp_path / "store"
    for name in (f"{manifest.COMMIT_STAGE_PREFIX}ab12", f"{RST_COL}=0"):
        (root / name).mkdir(parents=True)
    ServingStore(None, str(root))


def test_uncommitted_leaf_is_not_served(spark, tmp_path, monkeypatch):
    """A crash between the leaf's rename and the first publish leaves a
    plain RST_ID= directory and no manifest: nothing was committed, so
    nothing is served. The replayed batch's commit retires the debris."""
    store = ServingStore(spark, str(tmp_path / "ustore"), clean_freq=0)
    df = spark.createDataFrame([("click", 3), ("view", 1)], "etype string, count long")

    def crash(*args, **kwargs):
        raise RuntimeError("crash before publish")

    with monkeypatch.context() as mp:
        mp.setattr(manifest, "_commit", crash)
        with pytest.raises(RuntimeError, match="crash before publish"):
            store.append(df, 0)
    assert list((tmp_path / "ustore" / f"{RST_COL}=0").glob("*.parquet"))
    assert store.snapshot() is None
    assert store.rst() == -1
    assert store.exists() is False
    with pytest.raises(EmptyStoreError):
        store.view()

    store.append(df, 0)  # replay
    assert store.rst() == 0
    assert store.view().count() == 2


def test_reads_resolve_one_snapshot_and_touch_nothing(spark, tmp_path, monkeypatch):
    """Every read on a managed store is exactly one manifest resolution:
    no root listing, no maintainer lease, no filesystem change."""
    root = tmp_path / "pstore"
    store = ServingStore(spark, str(root), clean_freq=0)
    for b in range(3):
        store.append(
            spark.createDataFrame([(b, 10 * b)], "k long, bucket_start long"), b
        )
    before = sorted(
        (d, sorted(fs)) for d, _, fs in os.walk(root)
    )

    calls = []
    real_latest = manifest.latest_manifest

    def counting_latest(r):
        calls.append(r)
        return real_latest(r)

    def forbidden(name, real):
        def guard(self, *args, **kwargs):
            if Path(self) == root:
                raise AssertionError(f"read path called {name} on the store root")
            return real(self, *args, **kwargs)
        return guard

    def no_lease(*args, **kwargs):
        raise AssertionError("read path took the maintainer lease")

    monkeypatch.setattr(manifest, "latest_manifest", counting_latest)
    monkeypatch.setattr(Path, "glob", forbidden("glob", Path.glob))
    monkeypatch.setattr(Path, "iterdir", forbidden("iterdir", Path.iterdir))
    monkeypatch.setattr(manifest, "_maintainer_lease", no_lease)

    reads = {
        "view": lambda: store.view(),
        "view_where": lambda: store.view_where({"bucket_start": ("eq", 10)}),
        "rst": lambda: store.rst(),
        "recent": lambda: store.recent(2),
        "batch": lambda: store.batch(1),
        "snapshot": lambda: store.snapshot(),
        "exists": lambda: store.exists(),
    }
    for name, read in reads.items():
        calls.clear()
        read()
        assert len(calls) == 1, (name, len(calls))
    monkeypatch.undo()
    assert sorted((d, sorted(fs)) for d, _, fs in os.walk(root)) == before
