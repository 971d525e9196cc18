"""Semantic tests for deterministic sampling and IVF approximate search
(the properties the oracle hash-match can't express: stability, recall)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.operators import sampling as SP
from spark_streaming_kafka_bucket_counter_spark.operators import similarity as S
from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
from tests.conftest import SF_DIR


def test_split_is_stable_under_repartition(spark):
    """The whole point vs sample(): membership must not depend on physical
    layout."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    a = SP.with_split(docs, "doc_id").select("doc_id", "split")
    b = SP.with_split(docs.repartition(7), "doc_id").select("doc_id", "split")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_split_partitions_and_rate(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    n = docs.count()
    lab = SP.with_split(docs, "doc_id", train_pct=90)
    counts = dict(lab.groupBy("split").count().collect())
    assert counts.get("train", 0) + counts.get("eval", 0) == n
    # hash buckets are ~uniform; 90/10 within a generous tolerance
    assert 0.8 * n <= counts.get("train", 0) <= 0.97 * n


def test_different_salts_give_different_samples(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")

    def half(salt):
        keep = SP.hash_bucket(F.col("doc_id"), 100, salt) < 50
        return {r[0] for r in docs.filter(keep).collect()}

    assert half("a") != half("b")  # independent hash families


def test_stratified_rates_respected(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    out = SP.stratified_sample(docs, "doc_id", "lang", {"zh": 100}, default_pct=0)
    got = out.groupBy("lang").count().collect()
    assert {r["lang"] for r in got} == {"zh"}
    assert got[0]["count"] == docs.filter(F.col("lang") == "zh").count()


def test_ivf_results_subset_of_brute_force_candidates(spark):
    """Every IVF hit must be a real vector with the exact brute-force
    cosine; recall over the true top-5 should be substantial."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = S.cosine_topk(
        emb, "vec_id", "embedding", query_df=emb.filter(F.col("vec_id") < 10), top_k=5
    )
    approx = S.ivf_topk(
        emb, "vec_id", "embedding", query_ids_below=10, n_centroids=16, nprobe=2
    )
    ex = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact.collect()}
    ap = {(r["query_id"], r["cand_id"]): r["cosine"] for r in approx.collect()}
    # scores agree exactly where pairs overlap (same math, same rounding)
    overlap = set(ex) & set(ap)
    assert all(ex[p] == ap[p] for p in overlap)
    assert len(overlap) / len(ex) >= 0.3  # recall floor for nprobe=2/16 cells


def test_ivf_persisted_index_matches_direct(spark, tmp_path):
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
        ivf_topk,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf_idx")
    ivf_build_index(emb, "vec_id", "embedding", idx, n_centroids=16)

    queries = emb.filter("vec_id < 5")
    via_index = ivf_query_index(
        spark, idx, queries, "vec_id", "embedding", nprobe=2, top_k=5
    )
    direct = ivf_topk(
        emb, "vec_id", "embedding", query_ids_below=5,
        n_centroids=16, nprobe=2, top_k=5,
    )
    a = {(r["query_id"], r["rank"]): (r["cand_id"], r["cosine"]) for r in via_index.collect()}
    b = {(r["query_id"], r["rank"]): (r["cand_id"], r["cosine"]) for r in direct.collect()}
    assert a == b and len(a) == 25

    # the probe join must prune cell partitions: the cells scan carries
    # a partition filter on cid (the point of the layout)
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cid" in plan or "dynamicpruning" in plan


def test_bm25_persisted_index_matches_direct(spark, tmp_path):
    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        bm25_build_index,
        bm25_query_index,
        bm25_topk,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    idx = str(tmp_path / "bm25_idx")
    bm25_build_index(docs, "doc_id", "text", idx, buckets=64)

    terms = ["data", "model", "training"]
    via_index = bm25_query_index(spark, idx, terms, top_k=10)
    direct = bm25_topk(docs, "doc_id", "text", terms, top_k=10)
    a = [(r["doc_id"], r["score"], r["rank"]) for r in via_index.collect()]
    b = [(r["doc_id"], r["score"], r["rank"]) for r in direct.collect()]
    assert a == b and len(a) == 10

    # the postings scan must prune term-bucket partitions AND push the
    # term predicate into the parquet scan
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [tb#" in plan.replace("PartitionFilters: [tb IN", "PartitionFilters: [tb#") or "tb IN" in plan
    assert "PushedFilters" in plan and "term" in plan


def test_ivf_append_index_equals_full_rebuild(spark, tmp_path):
    """build(half) + append(other half) must probe identically to
    build(full) — the IVF leg of the incremental-index contract. The
    first batch carries all seed-centroid ids so both indexes share the
    same cell geometry."""
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter("vec_id % 2 = 0 OR vec_id < 16")
    second = emb.subtract(first)
    p_inc = str(tmp_path / "ivf_inc")
    p_full = str(tmp_path / "ivf_full")
    ivf_build_index(first, "vec_id", "embedding", p_inc, n_centroids=16)
    ivf_append_index(spark, second, "vec_id", "embedding", p_inc)
    ivf_build_index(emb, "vec_id", "embedding", p_full, n_centroids=16)
    queries = emb.filter("vec_id < 5")
    a = {
        tuple(r)
        for r in ivf_query_index(
            spark, p_inc, queries, "vec_id", "embedding", nprobe=2, top_k=5
        ).collect()
    }
    b = {
        tuple(r)
        for r in ivf_query_index(
            spark, p_full, queries, "vec_id", "embedding", nprobe=2, top_k=5
        ).collect()
    }
    assert a == b and len(a) == 25


def test_ivf_repeated_append_answers_as_one_append(spark, tmp_path):
    """Appending the same batch twice leaves duplicate (id, vec) rows in
    the cells; ivf_query_index must still answer as after one append:
    each candidate once per query, at its true rank."""
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter("vec_id % 2 = 0 OR vec_id < 16")
    second = emb.subtract(first)
    path = str(tmp_path / "ivf")
    queries = emb.filter("vec_id < 5")
    ivf_build_index(first, "vec_id", "embedding", path, n_centroids=16)
    answers = []
    for _ in range(2):
        ivf_append_index(spark, second, "vec_id", "embedding", path)
        answers.append(
            sorted(
                tuple(r)
                for r in ivf_query_index(
                    spark, path, queries, "vec_id", "embedding", nprobe=2, top_k=5
                ).collect()
            )
        )
    once, twice = answers
    assert twice == once and len(once) == 25
    pairs = [(q, c) for q, c, _cos, _rank in twice]
    assert len(set(pairs)) == len(pairs)


def test_bm25_append_index_equals_full_rebuild(spark, tmp_path):
    """build(half) + append(other half) must score identically to
    build(full): per-segment dfreq and corpus-stats rows are summed at
    read time, and both df and (N, sum dl) are additive over disjoint
    doc sets — so even the idf values match bit-for-bit."""
    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        bm25_append_index,
        bm25_build_index,
        bm25_query_index,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    first = docs.filter("doc_id % 2 = 0")
    second = docs.filter("doc_id % 2 = 1")
    p_inc = str(tmp_path / "bm25_inc")
    p_full = str(tmp_path / "bm25_full")
    bm25_build_index(first, "doc_id", "text", p_inc, buckets=64)
    bm25_append_index(second, "doc_id", "text", p_inc, buckets=64)
    bm25_build_index(docs, "doc_id", "text", p_full, buckets=64)
    terms = ["data", "model", "training"]
    a = [
        (r["doc_id"], r["score"], r["rank"])
        for r in bm25_query_index(spark, p_inc, terms, top_k=10).collect()
    ]
    b = [
        (r["doc_id"], r["score"], r["rank"])
        for r in bm25_query_index(spark, p_full, terms, top_k=10).collect()
    ]
    assert a == b and len(a) == 10


def test_term_bucket_python_matches_spark(spark):
    """bm25_query_index prunes partitions with a PURE-PYTHON md5 bucket
    (no Spark job per serving query) — it must equal the Column recipe
    used at build time for every term, or pruning would read the wrong
    partitions and silently drop postings."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        _term_bucket,
        _term_bucket_py,
    )

    terms = ["data", "model", "training", "zebra", "ünïcode", "日本語", "x"]
    for buckets in (64, 17):
        spark_side = {
            r["t"]: r["tb"]
            for r in spark.createDataFrame([(t,) for t in terms], "t string")
            .select("t", _term_bucket(F.col("t"), buckets).alias("tb"))
            .collect()
        }
        for t in terms:
            assert _term_bucket_py(t, buckets) == spark_side[t], (t, buckets)


def test_kmeans_lloyd_separates_obvious_clusters(spark):
    """Two well-separated blobs with k=2 must land in distinct clusters
    with the right sizes; centroids are the exact fixed-point means;
    k > n and iters < 1 are rejected."""
    import pytest

    from spark_streaming_kafka_bucket_counter_spark.operators.clustering import (
        kmeans_lloyd,
    )

    rows = [(i, [10.0, 10.0]) for i in range(3)] + [
        (i, [-10.0, -10.0]) for i in range(3, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, "vec_id", "embedding", k=2, iters=2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], {})[r["dim"]] = (r["n"], r["centroid_e6"])
    assert len(by_cluster) == 2
    sizes = sorted(c[0][0] for c in by_cluster.values())
    assert sizes == [3, 5]
    cents = sorted(c[0][1] for c in by_cluster.values())
    assert cents == [-10_000_000, 10_000_000]

    with pytest.raises(ValueError):
        kmeans_lloyd(df, "vec_id", "embedding", k=100, iters=1)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, "vec_id", "embedding", k=2, iters=0)


def test_group_split_users_are_disjoint(spark):
    """Grouped split: a user's events must NEVER straddle train/eval —
    the leakage invariant behind sample_group_split."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka_bucket_counter_spark.operators.sampling import with_split

    rows = [(u, e) for u in range(40) for e in range(5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long")
    tagged = with_split(df, "user_id", train_pct=50)
    per_user = tagged.groupBy("user_id").agg(
        F.count_distinct("split").alias("n_splits")
    )
    assert all(r["n_splits"] == 1 for r in per_user.collect())
    splits = {r["split"] for r in tagged.select("split").distinct().collect()}
    assert splits == {"train", "eval"}


def test_winsorize_clamps_to_sketch_cutoffs(spark):
    """Winsorized values must lie inside the per-group cutoff band,
    interior values pass through untouched, and extremes are clipped."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        winsorize_by_histogram,
    )

    rows = [(i, "a", float(i)) for i in range(100)]  # uniform 0..99
    df = spark.createDataFrame(rows, "id long, g string, value double")
    out = {
        r["id"]: r
        for r in winsorize_by_histogram(
            df, ["g"], "value", 0.0, 128.0, bins=256, extra_cols=["id"]
        ).collect()
    }
    assert len(out) == 100
    # interior value untouched (well inside the p05..p95 band)
    assert out[50]["winsorized_e4"] == out[50]["value_e4"] == 500_000
    # extremes clipped INTO the band: strictly tighter than raw
    assert out[0]["winsorized_e4"] > out[0]["value_e4"]
    assert out[99]["winsorized_e4"] < out[99]["value_e4"]
    # clip never widens: winsorized stays within [min, max] of raw
    assert all(
        out[0]["winsorized_e4"] <= r["winsorized_e4"] <= out[99]["winsorized_e4"]
        for r in out.values()
    )


def test_cached_index_dir_builds_once_and_rekeys_on_data_change(tmp_path, monkeypatch):
    """The serving-cache contract: same (kind, sf_dir, params, data) ->
    one build; changed source data -> a different cache dir (stale
    indexes must never serve the correctness gate)."""
    import tempfile

    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        cached_index_dir,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1-bytes")
    calls = []

    def build(path):
        calls.append(path)
        import os

        os.makedirs(path, exist_ok=True)

    p1 = cached_index_dir("k", str(sf), "params", build)
    p2 = cached_index_dir("k", str(sf), "params", build)
    assert p1 == p2 and len(calls) == 1
    # different params -> different dir, new build
    p3 = cached_index_dir("k", str(sf), "other", build)
    assert p3 != p1 and len(calls) == 2
    # changed source bytes (size differs) -> cache miss, new build
    (sf / "documents.parquet").write_bytes(b"v2-bytes-longer")
    p4 = cached_index_dir("k", str(sf), "params", build)
    assert p4 != p1 and len(calls) == 3
    # bumped writer LAYOUT_VERSION -> cache miss, new build (r9 VERDICT:
    # format staleness must be prevented by construction, not by
    # hand-editing params suffixes at call sites)
    p5 = cached_index_dir("k", str(sf), "params", build, layout_version=1)
    assert p5 != p4 and len(calls) == 4
    p6 = cached_index_dir("k", str(sf), "params", build, layout_version=1)
    assert p6 == p5 and len(calls) == 4
    # every index writer exposes the constant the call sites fold in
    from spark_streaming_kafka_bucket_counter_spark.operators.dedup import (
        LSH_LAYOUT_VERSION,
    )
    from spark_streaming_kafka_bucket_counter_spark.operators.pq import (
        IVFPQ_LAYOUT_VERSION,
    )
    from spark_streaming_kafka_bucket_counter_spark.operators.search import (
        BM25_LAYOUT_VERSION,
    )
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        IVF_LAYOUT_VERSION,
    )

    assert all(
        isinstance(v, int)
        for v in (LSH_LAYOUT_VERSION, IVFPQ_LAYOUT_VERSION,
                  BM25_LAYOUT_VERSION, IVF_LAYOUT_VERSION)
    )


def test_cached_index_dir_crash_safe_publish(tmp_path, monkeypatch):
    """Atomic-publish contract: an interrupted build leaves NO published
    slot (only an orphaned staging dir), a retry builds cleanly, and a
    stale half-built root squatting the slot (a legacy in-place build
    that crashed) is evicted rather than served or wedging the rename."""
    import tempfile

    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        cached_index_dir,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"bytes")

    def bad_build(path):
        (Path(path) / "partial.bin").write_bytes(b"half")
        raise RuntimeError("crash mid-build")

    from pathlib import Path

    import pytest

    with pytest.raises(RuntimeError, match="crash mid-build"):
        cached_index_dir("kc", str(sf), "p", bad_build)
    cache = tmp_path / "ssbc_index_cache"
    # nothing published: no kc-* slot with a _BUILT marker
    assert not [d for d in cache.glob("kc-*") if (d / "_BUILT").exists()]

    def good_build(path):
        (Path(path) / "index.bin").write_bytes(b"real")

    p = Path(cached_index_dir("kc", str(sf), "p", good_build))
    assert (p / "_BUILT").exists() and (p / "index.bin").read_bytes() == b"real"
    assert not (p / "partial.bin").exists()

    # legacy stale root: slot dir exists WITHOUT _BUILT -> evict + rebuild
    import shutil

    shutil.rmtree(p)
    p.mkdir()
    (p / "stale.bin").write_bytes(b"junk")
    p2 = Path(cached_index_dir("kc", str(sf), "p", good_build))
    assert p2 == p and (p2 / "_BUILT").exists()
    assert (p2 / "index.bin").exists() and not (p2 / "stale.bin").exists()
