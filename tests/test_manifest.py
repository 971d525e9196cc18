"""Unit pins for the index manifest layer (r7 VERDICT ask #2 + #6):
txn atomicity, scoped replace, orphan non-adoption, GC convergence and
manifest-history pruning. The integration stories (replay under a
racing reader, streaming replay, crash debris on a real index) live in
test_serving_streaming.py / test_streaming_dedup.py / the soak."""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    KEEP_GENERATIONS,
    gc_index_tree,
    latest_manifest,
    manifest_read,
    manifest_txn,
    scan_parquet_files,
)


def _touch(root: Path, rel: str, data: bytes = b"x") -> None:
    p = root / rel
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(data)


def test_txn_publishes_exactly_the_writes(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    # a pre-existing UNMANAGED tree (legacy writer, no manifest) is
    # ADOPTED by the first transaction: generation 1 must not vanish
    # legacy data (and must not let GC sweep it as orphans) when an
    # index built before manifest management resumes (r8 ADVICE #1)
    _touch(root, "pre-existing-unmanaged.parquet")
    with manifest_txn(root):
        _touch(root, "a/part-1.parquet")
        _touch(root, "a/part-2.parquet")
    m = latest_manifest(root)
    assert m["generation"] == 1
    assert m["files"] == [
        "a/part-1.parquet",
        "a/part-2.parquet",
        "pre-existing-unmanaged.parquet",
    ]
    assert m["retired"] == {}

    with manifest_txn(root):
        _touch(root, "a/part-3.parquet")
    m = latest_manifest(root)
    assert m["generation"] == 2
    assert "a/part-3.parquet" in m["files"] and len(m["files"]) == 4

    # once a manifest EXISTS, a file that appears outside any txn is a
    # crash orphan, never adopted (scan-diff adoption would double
    # additive stats after a crashed-then-replayed write)
    _touch(root, "a/part-crashed.parquet")
    with manifest_txn(root):
        _touch(root, "a/part-4.parquet")
    m = latest_manifest(root)
    assert "a/part-crashed.parquet" not in m["files"]
    assert "a/part-4.parquet" in m["files"]


def test_txn_failure_publishes_nothing(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "a/part-1.parquet")
    with pytest.raises(RuntimeError):
        with manifest_txn(root):
            _touch(root, "a/part-2.parquet")
            raise RuntimeError("writer died")
    m = latest_manifest(root)
    assert m["generation"] == 1
    assert m["files"] == ["a/part-1.parquet"]  # part-2 is an orphan


def test_scoped_replace_retires_not_deletes(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "seg/batch_id=0/part-1.parquet")
        _touch(root, "other/part-9.parquet")
    with manifest_txn(root, replace_prefixes=["seg/batch_id=0"]):
        _touch(root, "seg/batch_id=0/part-2.parquet")
    m = latest_manifest(root)
    assert m["files"] == ["other/part-9.parquet", "seg/batch_id=0/part-2.parquet"]
    assert set(m["retired"]) == {"seg/batch_id=0/part-1.parquet"}
    # retired file still on disk for pinned readers
    assert (root / "seg/batch_id=0/part-1.parquet").exists()


def test_gc_grace_window_and_orphans(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "seg/part-1.parquet")
    with manifest_txn(root, replace_prefixes=["seg"]):
        _touch(root, "seg/part-2.parquet")
    _touch(root, "seg/part-orphan.parquet")  # crashed write, unpublished

    # inside the grace window nothing is deleted
    assert gc_index_tree(root, grace_sec=3600) == 0
    assert (root / "seg/part-1.parquet").exists()
    assert (root / "seg/part-orphan.parquet").exists()

    # expired: retired + orphan go; live stays; disk == manifest
    assert gc_index_tree(root, grace_sec=0) == 2
    m = latest_manifest(root)
    assert m["retired"] == {}
    assert scan_parquet_files(root) == set(m["files"]) == {"seg/part-2.parquet"}


def test_gc_prunes_emptied_dirs_and_manifest_history(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "seg/batch_id=0/part-1.parquet")
        _touch(root, "keep/part-k.parquet")
    for gen in range(1, KEEP_GENERATIONS + 4):
        with manifest_txn(root, replace_prefixes=["seg"]):
            _touch(root, f"seg/batch_id={gen}/part-1.parquet")
    gc_index_tree(root, grace_sec=0)
    m = latest_manifest(root)
    # every superseded seg generation's dir was emptied and pruned
    seg_dirs = sorted(p.name for p in (root / "seg").iterdir())
    assert seg_dirs == [f"batch_id={KEEP_GENERATIONS + 3}"]
    assert (root / "keep/part-k.parquet").exists()
    # manifest history bounded (stale generations older than the grace
    # window beyond the newest KEEP_GENERATIONS are dropped)
    names = [n for n in os.listdir(root / "_manifest") if n.endswith(".json")]
    assert len(names) <= KEEP_GENERATIONS
    assert f"v{m['generation']:012d}.json" in names


def test_manifest_read_pins_snapshot_and_falls_back(spark, tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    df = spark.range(5).selectExpr("id", "id * 2 as v")
    with manifest_txn(root):
        df.write.mode("append").parquet(str(root / "t"))
    got = {tuple(r) for r in manifest_read(spark, root, "t").collect()}
    assert got == {(i, 2 * i) for i in range(5)}

    # a snapshot resolved BEFORE a later write pins the old file set
    snap = latest_manifest(root)
    with manifest_txn(root):
        spark.range(5, 10).selectExpr("id", "id * 2 as v").write.mode(
            "append"
        ).parquet(str(root / "t"))
    old = {tuple(r) for r in manifest_read(spark, root, "t", snapshot=snap).collect()}
    assert old == got
    new = {tuple(r) for r in manifest_read(spark, root, "t").collect()}
    assert new == {(i, 2 * i) for i in range(10)}

    # unmanaged tree: plain directory read fallback
    un = tmp_path / "plain"
    df.write.parquet(str(un / "t"))
    got2 = {tuple(r) for r in manifest_read(spark, un, "t").collect()}
    assert got2 == got


def test_manifest_read_preserves_partition_columns(spark, tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    df = spark.range(8).selectExpr("id", "cast(id % 2 as int) as pb")
    with manifest_txn(root):
        df.write.mode("append").partitionBy("pb").parquet(str(root / "t"))
    out = manifest_read(spark, root, "t").filter("pb = 1")
    rows = out.collect()
    assert sorted(r["id"] for r in rows) == [1, 3, 5, 7]
    assert set(out.columns) == {"id", "pb"}
    # partition pruning reached the scan: only pb=1 files are read
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "pb=0" not in plan


def test_manifest_publish_is_atomic_tmp_rename(tmp_path):
    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "a/part-1.parquet")
    mdir = root / "_manifest"
    names = os.listdir(mdir)
    assert all(n.startswith("v") and n.endswith(".json") for n in names)
    # snapshots are valid JSON with the full schema (a torn write would
    # have stayed a _tmp_ file, never a v*.json)
    m = json.loads((mdir / max(names)).read_text())
    for key in ("generation", "created_unix", "files", "retired"):
        assert key in m
    assert m["created_unix"] <= time.time()


def test_snapshot_time_travel_on_bm25(spark, tmp_path):
    """manifest_at + the query functions' ``snapshot=`` kwarg: a consumer
    pins one generation and keeps getting THAT index state while
    ingestion appends behind it — valid until GC ages the files out."""
    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        bm25_query_index,
        bm25_write_segment,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        gc_index_tree,
        manifest_at,
    )

    idx = str(tmp_path / "bm")
    docs1 = spark.createDataFrame(
        [(i, f"shared tok{i}") for i in range(5)], "doc_id long, text string"
    )
    bm25_write_segment(docs1, "doc_id", "text", idx, 0)
    gen1 = latest_manifest(idx)["generation"]
    before = [tuple(r) for r in bm25_query_index(spark, idx, ["shared"], top_k=10).collect()]

    docs2 = spark.createDataFrame(
        [(i, f"shared tok{i}") for i in range(5, 9)], "doc_id long, text string"
    )
    bm25_write_segment(docs2, "doc_id", "text", idx, 1)

    # latest sees 9 docs; the pinned snapshot still answers with 5
    now = bm25_query_index(spark, idx, ["shared"], top_k=10).collect()
    assert len(now) == 9
    pinned = manifest_at(idx, gen1)
    assert pinned is not None
    old = [
        tuple(r)
        for r in bm25_query_index(
            spark, idx, ["shared"], top_k=10, snapshot=pinned
        ).collect()
    ]
    assert old == before

    # a pruned generation returns None rather than a wrong answer
    gc_index_tree(idx, grace_sec=0)
    assert manifest_at(idx, 10_000) is None


@pytest.mark.parametrize("seed", [1, 7, 42, 1234, 99991])
def test_model_based_random_op_sequences(tmp_path, seed):
    """Model-based robustness: random interleavings of append /
    scoped-replace / crash-before-commit / compact-file-moves-without-
    publish / GC, checked after every op against a pure-python model of
    what the snapshot must contain. Invariants: live set == model,
    retired and live are disjoint, every live+retired file exists on
    disk, generations are strictly monotonic, and zero-grace GC
    converges disk to exactly the live set."""
    import random

    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        manifest_at,
    )

    rnd = random.Random(seed)
    root = tmp_path / "idx"
    root.mkdir()
    model: set[str] = set()  # live files per the semantics
    unmanaged: set[str] = set()  # on disk before the FIRST commit: adopted
    next_id = [0]
    last_gen = 0
    scopes = [f"seg/batch_id={b}" for b in range(4)] + ["flat"]

    def fresh(scope: str) -> str:
        next_id[0] += 1
        return f"{scope}/part-{next_id[0]:05d}.parquet"

    for _ in range(60):
        op = rnd.choice(["append", "replace", "crash", "stale_move", "gc"])
        first_commit = latest_manifest(root) is None
        if op == "append":
            scope = rnd.choice(scopes)
            new = [fresh(scope) for _ in range(rnd.randrange(1, 4))]
            with manifest_txn(root):
                for f in new:
                    _touch(root, f)
            if first_commit:  # gen 1 adopts the pre-existing tree
                model |= unmanaged
                unmanaged.clear()
            model.update(new)
        elif op == "replace":
            scope = rnd.choice(scopes)
            new = [fresh(scope) for _ in range(rnd.randrange(1, 3))]
            with manifest_txn(root, replace_prefixes=[scope]):
                for f in new:
                    _touch(root, f)
            if first_commit:  # adopted first, then the scope retires
                model |= unmanaged
                unmanaged.clear()
            model = {f for f in model if not f.startswith(scope + "/")}
            model.update(new)
        elif op == "crash":
            # writer died before its commit: pre-manifest it will be
            # ADOPTED by the first commit (indistinguishable from
            # legacy data); post-manifest it is an orphan, never visible
            f = fresh(rnd.choice(scopes))
            _touch(root, f)
            if first_commit:
                unmanaged.add(f)
        elif op == "stale_move":
            # compaction crashed after moving files, before publishing:
            # the moved duplicate is an orphan too
            if model:
                src = rnd.choice(sorted(model))
                dup = os.path.dirname(src) + f"/part-{next_id[0] + 500:05d}-dup.parquet"
                _touch(root, dup, (root / src).read_bytes())
        else:
            gc_index_tree(root, grace_sec=rnd.choice([0, 3600]))

        m = latest_manifest(root)
        if m is None:
            assert not model
            continue
        assert set(m["files"]) == model
        assert not (set(m["files"]) & set(m["retired"]))
        for f in list(m["files"]) + list(m["retired"]):
            assert (root / f).exists(), f
        assert m["generation"] >= last_gen
        assert m["generation"] > last_gen or op in ("crash", "stale_move", "gc")
        last_gen = m["generation"]
        # the latest generation must always be re-resolvable by number
        assert manifest_at(root, m["generation"]) == m

    gc_index_tree(root, grace_sec=0)
    m = latest_manifest(root)
    if m is not None:
        assert scan_parquet_files(root) == set(m["files"]) == model
        assert m["retired"] == {}

def test_second_maintainer_fails_loudly(tmp_path):
    """Next #5 (r8): the single-maintainer contract is ENFORCED — a
    second concurrent mutation raises ConcurrentMaintainerError instead
    of silently last-writer-wins corrupting the snapshot chain, and the
    chain stays linear (one generation per committed txn)."""
    import contextlib as _ctx

    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        ConcurrentMaintainerError,
        _publish,
    )

    root = tmp_path / "idx"
    root.mkdir()
    with manifest_txn(root):
        _touch(root, "a/part-1.parquet")

    with _ctx.ExitStack() as stack:
        stack.enter_context(manifest_txn(root))  # maintainer A holds the lease
        with pytest.raises(ConcurrentMaintainerError):
            with manifest_txn(root):  # maintainer B
                _touch(root, "a/part-B.parquet")
        with pytest.raises(ConcurrentMaintainerError):
            gc_index_tree(root, grace_sec=0)
    # B's write is an orphan; the chain is linear; A committed cleanly
    m = latest_manifest(root)
    assert m["generation"] == 2
    assert "a/part-B.parquet" not in m["files"]

    # the publish itself is fail-if-exists: a racing maintainer that
    # somehow computed the same generation cannot replace a snapshot
    with pytest.raises(ConcurrentMaintainerError):
        _publish(root, ["x.parquet"], {}, m["generation"])


def test_stale_lease_from_dead_pid_is_broken(tmp_path):
    """A maintainer that crashed leaves its lease behind; the next
    mutation (e.g. the restarted ingest loop replaying its batch) must
    break it immediately — blocking the replay path for a lease timeout
    would be an availability bug."""
    root = tmp_path / "idx"
    root.mkdir()
    mdir = root / "_manifest"
    mdir.mkdir()
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import _HOSTNAME

    # a fresh lease on this host whose pid cannot exist
    (mdir / "_lease").write_text(f"deadbeef 999999999 {_HOSTNAME} {time.time()}")
    with manifest_txn(root):
        _touch(root, "a/part-1.parquet")
    assert latest_manifest(root)["generation"] == 1
    assert not (mdir / "_lease").exists()


def test_empty_subtree_never_resurrects_retired_files(spark, tmp_path):
    """When a commit retires EVERY file of a subtree, reading the bare
    directory would resurrect the retired files still on disk inside
    the GC grace window. The read instead gives an empty DataFrame with
    the subtree's schema while ghosts remain, PATH_NOT_FOUND after GC
    sweeps them."""
    from pyspark.errors import AnalysisException

    root = tmp_path / "idx"
    root.mkdir()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    with manifest_txn(root):
        df.coalesce(1).write.mode("append").parquet(str(root / "t"))

    with manifest_txn(root, replace_prefixes=["t"]):
        pass  # the subtree's files retire; nothing is written
    # retired files still on disk (grace window) — but NOT readable
    assert any(f.startswith("t/") for f in scan_parquet_files(root))
    out = manifest_read(spark, root, "t")
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "text"}

    gc_index_tree(root, grace_sec=0)
    with pytest.raises(AnalysisException):
        manifest_read(spark, root, "t").collect()


def test_live_lease_heartbeat_survives_timeout(tmp_path, monkeypatch):
    """A mutation longer than the lease timeout must NOT have its live
    lease broken: the holder heartbeats the mtime, so a second
    maintainer arriving mid-mutation still fails loudly (r9 review
    catch — previously a >timeout mutation could be broken and then
    die at the publish backstop after hours of work)."""
    import time as _time

    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        ConcurrentMaintainerError,
        _lease_path,
        _maintainer_lease,
    )

    from spark_streaming_kafka_bucket_counter_spark.sources import manifest

    monkeypatch.setattr(manifest, "LEASE_TIMEOUT_SEC", 2.0)
    root = tmp_path / "idx"
    root.mkdir()
    with _maintainer_lease(root):
        _time.sleep(3.0)  # longer than the timeout; heartbeat refreshes
        with pytest.raises(ConcurrentMaintainerError):
            with _maintainer_lease(root):
                pass
    assert not _lease_path(root).exists()


def test_cross_host_lease_not_pid_probed(tmp_path):
    """A fresh lease recording a DIFFERENT hostname must be honored
    even when its pid number happens not to exist locally — pid
    liveness means nothing across hosts (r9 review catch)."""
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        ConcurrentMaintainerError,
        _maintainer_lease,
    )

    root = tmp_path / "idx"
    mdir = root / "_manifest"
    mdir.mkdir(parents=True)
    (mdir / "_lease").write_text(
        f"sometoken 999999999 other-host {__import__('time').time()}"
    )
    with pytest.raises(ConcurrentMaintainerError):
        with _maintainer_lease(root):
            pass
