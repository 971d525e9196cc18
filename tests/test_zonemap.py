"""Zone-map pins for the manifest layer (sources/manifest.py): per-file
min/max/null stats harvested from parquet FOOTERS at commit time, then
used for plan-time file pruning (``files_matching``, which
``ServingStore.view_where`` reads through). The contract under test: pruning is
correctness-neutral (kept files may still not match; skipped files
provably cannot), and every unknown (missing stats, unreadable footer,
nested/oversized column, cross-type compare) degrades to "keep".
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
    _satisfiable,
    files_matching,
    latest_manifest,
    manifest_txn,
)


def _write_range(spark, root: Path, sub: str, lo: int, hi: int) -> None:
    """One txn writing ids [lo, hi) with a string label column."""
    df = spark.range(lo, hi).select(
        F.col("id").cast("long").alias("id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("w"),
    )
    with manifest_txn(root):
        df.coalesce(1).write.mode("append").parquet(str(root / sub))


@pytest.fixture()
def ranged(spark, tmp_path):
    root = tmp_path / "idx"
    _write_range(spark, root, "data", 0, 100)
    _write_range(spark, root, "data", 100, 200)
    _write_range(spark, root, "data", 200, 300)
    return root


def test_stats_harvested_and_carried_forward(spark, ranged):
    m = latest_manifest(ranged)
    assert m["generation"] == 3
    files = [f for f in m["files"] if f.startswith("data/")]
    assert len(files) == 3
    ranges = sorted(
        (m["stats"][f]["cols"]["id"]["mn"], m["stats"][f]["cols"]["id"]["mx"])
        for f in files
    )
    assert ranges == [(0, 99), (100, 199), (200, 299)]
    # string stats recorded too (short values), rows per file recorded
    assert all(m["stats"][f]["cols"]["w"]["mn"].startswith("w") for f in files)
    assert sum(m["stats"][f]["rows"] for f in files) == 300


def test_files_matching_prunes_by_range(ranged):
    m = latest_manifest(ranged)
    assert len(files_matching(m, "data", [("id", "=", 150)])) == 1
    assert len(files_matching(m, "data", [("id", ">=", 250)])) == 1
    assert len(files_matching(m, "data", [("id", "<", 100)])) == 1
    assert len(files_matching(m, "data", [("id", ">", 99)])) == 2
    assert len(files_matching(m, "data", [("id", "in", [5, 205])])) == 2
    assert len(files_matching(m, "data", [("id", "=", 999)])) == 0
    # conjuncts intersect
    assert len(files_matching(m, "data", [("id", ">=", 100), ("id", "<", 200)])) == 1
    # unknown column / operator / cross-type value: conservative keep-all
    assert len(files_matching(m, "data", [("nope", "=", 1)])) == 3
    assert len(files_matching(m, "data", [("id", "~", 1)])) == 3
    assert len(files_matching(m, "data", [("id", "=", "abc")])) == 3


def test_allnull_column_prunes_comparisons(spark, tmp_path):
    root = tmp_path / "nulls"
    df = spark.range(0, 10).select(
        F.col("id"), F.lit(None).cast("long").alias("v")
    )
    with manifest_txn(root):
        df.coalesce(1).write.mode("append").parquet(str(root / "data"))
    m = latest_manifest(root)
    (f,) = [f for f in m["files"] if f.startswith("data/")]
    assert m["stats"][f]["cols"]["v"] == {"allnull": True}
    assert files_matching(m, "data", [("v", "=", 1)]) == []
    assert len(files_matching(m, "data", [("id", "=", 5)])) == 1


def test_unreadable_footer_is_conservative(tmp_path):
    # a fake .parquet file (crash debris shape) gets no stats entry and
    # is never pruned
    root = tmp_path / "fake"
    with manifest_txn(root):
        p = root / "data" / "junk.parquet"
        p.parent.mkdir(parents=True)
        p.write_bytes(b"not parquet")
    m = latest_manifest(root)
    assert "data/junk.parquet" not in m.get("stats", {})
    assert files_matching(m, "data", [("id", "=", 1)]) == ["data/junk.parquet"]


def test_long_string_stats_dropped(spark, tmp_path):
    root = tmp_path / "longs"
    df = spark.range(0, 5).select(
        F.col("id"), F.concat(F.lit("x" * 100), F.col("id").cast("string")).alias("s")
    )
    with manifest_txn(root):
        df.coalesce(1).write.mode("append").parquet(str(root / "data"))
    m = latest_manifest(root)
    (f,) = [f for f in m["files"] if f.startswith("data/")]
    # oversized string min/max omitted (writer truncation would make a
    # recorded max an invalid upper bound) -> never pruned on it
    assert "s" not in m["stats"][f]["cols"]
    assert len(files_matching(m, "data", [("s", "=", "zzz")])) == 1


def test_serving_store_view_where_prunes_files(spark, tmp_path):
    # time-ordered appends make the value column clustered across batch
    # files — the zone-map consumer on the HTTP predicate routes
    from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
        ServingStore,
    )

    store = ServingStore(spark, str(tmp_path / "zstore"), clean_freq=0)
    for b in range(4):
        df = spark.range(b * 100, (b + 1) * 100).coalesce(1).select(
            F.col("id").alias("bucket_start"), (F.col("id") % 7).alias("count")
        )
        store.append(df, b)
    spec = {"bucket_start": ("range", (120, 180))}
    full = store.view().filter(
        (F.col("bucket_start") >= 120) & (F.col("bucket_start") <= 180)
    )
    pruned = store.view_where(spec).filter(
        (F.col("bucket_start") >= 120) & (F.col("bucket_start") <= 180)
    )
    assert sorted(r["bucket_start"] for r in pruned.collect()) == sorted(
        r["bucket_start"] for r in full.collect()
    )
    assert len(store.view().inputFiles()) == 4
    assert len(pruned.inputFiles()) == 1
    # inverted-direction comparator: gte(v) keeps col <= v -> low files
    pruned_low = store.view_where({"bucket_start": ("gte", 50)})
    assert len(pruned_low.inputFiles()) == 1
    # everything pruned: one schema-donor file survives; the row filter
    # the route applies on top still nulls it out
    donor = store.view_where({"bucket_start": ("eq", 10_000)})
    assert len(donor.inputFiles()) == 1
    # custom: specs contribute no conjunct -> full view
    assert len(store.view_where({"x": ("custom:count > 1", None)}).inputFiles()) == 4


def test_http_routes_prune_and_match(spark, tmp_path):
    from spark_streaming_kafka_bucket_counter_spark.streaming import api
    from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
        ServingStore,
    )

    store = ServingStore(spark, str(tmp_path / "hstore"), clean_freq=0)
    for b in range(3):
        df = spark.range(b * 10, (b + 1) * 10).coalesce(1).select(
            F.col("id").alias("bucket_start"), F.lit(b).alias("count")
        )
        store.append(df, b)
    rows = api.select_range(store, "bucket_start", 12, 14)
    assert sorted(r["bucket_start"] for r in rows) == [12, 13, 14]
    rows = api.custom_select(store, '{"bucket_start": ["eq", 25]}')
    assert [r["bucket_start"] for r in rows] == [25]


def test_stats_survive_gc(spark, tmp_path):
    # review catch: a GC publish must carry zone maps forward — losing
    # them silently defeats the O(manifest) pruning after the first
    # routine maintenance pass
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        gc_index_tree,
    )

    root = tmp_path / "maint"
    _write_range(spark, root, "data", 0, 100)
    _write_range(spark, root, "data", 100, 200)
    _write_range(spark, root, "gone", 0, 10)
    with manifest_txn(root, replace_prefixes=["gone"]):
        pass  # retires the "gone" file; GC then has something to drop
    m = latest_manifest(root)
    gc_index_tree(root, grace_sec=0.0)
    m2 = latest_manifest(root)
    assert m2["generation"] == m["generation"] + 1 and not m2["retired"]
    assert sorted(
        (m2["stats"][f]["cols"]["id"]["mn"], m2["stats"][f]["cols"]["id"]["mx"])
        for f in m2["files"]
    ) == [(0, 99), (100, 199)]


def test_nan_predicate_never_prunes(ranged):
    m = latest_manifest(ranged)
    nan = float("nan")
    assert len(files_matching(m, "data", [("id", "=", nan)])) == 3
    assert len(files_matching(m, "data", [("id", ">=", nan)])) == 3
    assert len(files_matching(m, "data", [("id", "in", [nan])])) == 3
    assert _satisfiable({"cols": {"a": {"mn": 1, "mx": 2, "nulls": 0}}}, "a", "in", 7) is True


def test_view_where_schema_evolution_falls_back(spark, tmp_path):
    # later batches widen the table; a spec referencing the new column
    # plus a range that prunes away every widened file must fall back to
    # the full view (correct, merely unpruned), not raise
    from spark_streaming_kafka_bucket_counter_spark.streaming.serving import (
        ServingStore,
    )

    store = ServingStore(spark, str(tmp_path / "estore"), clean_freq=0)
    old = spark.range(0, 10).coalesce(1).select(
        F.col("id").alias("bucket_start"), F.lit(1).alias("count")
    )
    store.append(old, 0)
    new = spark.range(100, 110).coalesce(1).select(
        F.col("id").alias("bucket_start"),
        F.lit(2).alias("count"),
        F.lit(7).alias("newcol"),
    )
    store.append(new, 1)
    spec = {"bucket_start": ("range", (0, 9)), "newcol": ("eq", 7)}
    df = store.view_where(spec)
    assert "newcol" in df.columns  # fell back to the merged full view
    got = df.filter(
        (F.col("bucket_start") <= 9) & (F.col("newcol") == 7)
    ).collect()
    assert got == []  # old rows have NULL newcol


def test_satisfiable_edge_cases():
    st = {"cols": {"a": {"mn": 10, "mx": 20, "nulls": 0}}}
    assert _satisfiable(st, "a", "=", 10) and _satisfiable(st, "a", "=", 20)
    assert not _satisfiable(st, "a", ">", 20)
    assert _satisfiable(st, "a", ">=", 20)
    assert not _satisfiable(st, "a", "<", 10)
    assert _satisfiable(st, "a", "<=", 10)
    assert not _satisfiable(st, "a", "in", [9, 21])
    assert _satisfiable(None, "a", "=", 5)
    assert _satisfiable({}, "a", "=", 5)


def test_nan_data_never_pruned_on_upper_bound(spark, tmp_path):
    """r9 ADVICE (medium): pyarrow excludes NaN DATA values from parquet
    min/max stats, but Spark orders NaN above every double — so a file
    whose finite max is below the bound may still hold NaN rows that DO
    match ``col > v`` / ``col >= v``. Upper-bound pruning must therefore
    never fire on a float column; lower-bound and equality stay sound
    (NaN rows match none of <, <=, =, in)."""
    # Spark's own writer POISONS min/max with NaN, which _file_stats
    # already drops (column unpruned — safe). The dangerous writer is
    # pyarrow, which records FINITE min/max excluding NaN — write the
    # NaN file with pyarrow inside the txn so the zone map carries
    # mn=1.0/mx=2.0 while the file holds a NaN row.
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "fidx"
    with manifest_txn(root):
        (root / "data").mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table(
                {"id": pa.array([1, 2, 3], pa.int64()),
                 "v": pa.array([1.0, 2.0, float("nan")], pa.float64())}
            ),
            root / "data" / "part-nanfile.parquet",
        )
    with manifest_txn(root):
        spark.createDataFrame(
            [(4, 50.0), (5, 60.0)], "id long, v double"
        ).coalesce(1).write.mode("append").parquet(str(root / "data"))
    m = latest_manifest(root)
    files = sorted(f for f in m["files"] if f.startswith("data/"))
    assert len(files) == 2
    nanfile = "data/part-nanfile.parquet"
    # precondition: pyarrow recorded FINITE stats despite the NaN row
    assert m["stats"][nanfile]["cols"]["v"] == {"mn": 1.0, "mx": 2.0, "nulls": 0}
    # col > 10 / >= 10: the NaN file (finite mx 2.0) must be KEPT
    assert nanfile in files_matching(m, "data", [("v", ">", 10.0)])
    assert nanfile in files_matching(m, "data", [("v", ">=", 10.0)])
    # end-to-end: pruned read + real filter returns the NaN row.
    # (Spark's OWN parquet row-group pushdown has the same NaN blind
    # spot — probe-verified: filter v>10 over this file returns [] with
    # pushdown on, [NaN] with it off — so disable it here to test OUR
    # layer's soundness in isolation; Spark-written files are immune
    # because parquet-mr NaN-poisons the stats and _file_stats drops
    # them.)
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try:
        got = (
            spark.read.parquet(*[
                str(root / f) for f in files_matching(m, "data", [("v", ">", 10.0)])
            ])
            .filter(F.col("v") > 10.0)
            .select("id")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")
    assert sorted(r.id for r in got) == [3, 4, 5]  # NaN > 10 in Spark
    # lower-bound / equality pruning on floats still fires (sound:
    # NaN rows match none of <, <=, =)
    assert files_matching(m, "data", [("v", "<", 1.0)]) == []
    assert files_matching(m, "data", [("v", "=", 100.0)]) == []
    assert files_matching(m, "data", [("v", "<=", 2.0)]) == [nanfile]
    # integer columns keep full upper-bound pruning (no NaN possible)
    assert files_matching(m, "data", [("id", ">", 100)]) == []


def test_unknown_op_on_allnull_column_keeps_file():
    """r9 ADVICE (low): op validation must precede the allnull
    short-circuit — a future null-test op must degrade to keep."""
    st = {"cols": {"a": {"allnull": True}}}
    assert _satisfiable(st, "a", "is_null", None) is True
    assert _satisfiable(st, "a", "!=", 5) is True
    # known comparisons still prune all-null columns
    assert _satisfiable(st, "a", "=", 5) is False
    assert _satisfiable(st, "a", ">", 5) is False
    # float mx blocks only the upper-bound ops
    fst = {"cols": {"a": {"mn": 1.0, "mx": 2.0, "nulls": 0}}}
    assert _satisfiable(fst, "a", ">", 10.0) is True
    assert _satisfiable(fst, "a", ">=", 10.0) is True
    assert _satisfiable(fst, "a", "<", 1.0) is False
    assert _satisfiable(fst, "a", "=", 10.0) is False
