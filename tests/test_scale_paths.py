"""Scale-hardening tests for the round-2 fixes: the distributed blocked
all-pairs cosine, 64-bit SimHash recall, size-gated LSH broadcasts, and
cache lifecycle (no leaked persisted RDDs).
"""

from __future__ import annotations

import contextlib
import gc
import io

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.operators import dedup as D
from spark_streaming_kafka_bucket_counter_spark.operators import similarity as S
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Blocked all-pairs cosine
# ---------------------------------------------------------------------------


def test_blocked_allpairs_matches_driver_path(spark):
    """The distributed grid must emit the exact same pair set as the
    driver-broadcast numpy baseline — including across multiple blocks
    (block_rows=16 forces a real multi-cell grid at sf0.001)."""
    emb = _emb(spark)
    blocked = S.cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4, block_rows=16)
    driver = S.cosine_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.4, driver_allpairs=True)
    assert _rows(blocked) == _rows(driver)


def test_blocked_allpairs_plan_is_distributed(spark):
    """Plan pin: the default embedding near-dup path must run as a grouped
    Arrow stage (FlatMapGroupsInPandas) with the replication map broadcast
    — and never a cartesian product or a driver-side collect-limit."""
    df = S.cosine_near_dup_pairs(_emb(spark), "vec_id", "embedding", threshold=0.4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "CollectLimit" not in plan


# ---------------------------------------------------------------------------
# 64-bit SimHash
# ---------------------------------------------------------------------------


def test_simhash64_full_recall_at_hamming_3(spark):
    """Pigeonhole guarantee: the banded candidate join must find EVERY
    pair with hamming <= 3 — verified against the brute-force all-pairs
    hamming over the same signatures."""
    # deterministic subset (limit without ordering may pick different
    # rows across the two independent plan executions below)
    docs = _docs(spark).filter(F.col("doc_id") < 120)
    sig = D.simhash64_signatures(docs, "doc_id", "text")
    a = sig.select(F.col("doc").alias("doc_a"), *[F.col(f"p{k}").alias(f"a{k}") for k in range(4)])
    b = sig.select(F.col("doc").alias("doc_b"), *[F.col(f"p{k}").alias(f"b{k}") for k in range(4)])
    ham = None
    for k in range(4):
        t = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
        ham = t if ham is None else ham + t
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    banded = D.simhash64_near_pairs(docs, "doc_id", "text", max_hamming=3)
    assert _rows(banded) == _rows(brute)


def test_simhash64_rejects_unguaranteed_hamming():
    import pytest

    with pytest.raises(ValueError, match="full recall"):
        D.simhash64_near_pairs(None, "doc_id", "text", max_hamming=4)


# ---------------------------------------------------------------------------
# Size-gated LSH verify
# ---------------------------------------------------------------------------


def test_lsh_shuffle_path_matches_broadcast_path(spark):
    """broadcast_max_docs=0 forces the shuffle-join verify; results must
    be identical to the (default) broadcast verify."""
    docs = _docs(spark)
    bcast = D.minhash_lsh_pairs(docs, "doc_id", "text")
    shuffle = D.minhash_lsh_pairs(docs, "doc_id", "text", broadcast_max_docs=0)
    assert _rows(bcast) == _rows(shuffle)


def test_lsh_max_shingle_freq_reaches_lsh_path(spark):
    """The stop-shingle control must apply on the LSH path: an absurdly
    low bound drops every shingle, so no candidates survive."""
    out = D.minhash_lsh_pairs(_docs(spark), "doc_id", "text", max_shingle_freq=0)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Cache lifecycle
# ---------------------------------------------------------------------------


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_operator_caches_drain_after_result_gc(spark):
    """The persisted intermediates (inverted index, candidates, bucket
    projection) must be unpersisted once the consumer drops the result —
    a long-lived session (bench loop / serving) must not accumulate
    storage."""
    before = _n_persistent(spark)
    docs, emb = _docs(spark), _emb(spark)
    results = [
        D.ngram_jaccard_pairs(docs, "doc_id", "text"),
        D.minhash_lsh_pairs(docs, "doc_id", "text"),
        S.cosine_near_dup_pairs(emb, "vec_id", "embedding", bucketed=True),
    ]
    for df in results:
        df.count()
    assert _n_persistent(spark) > before  # caches live while results are held
    del results, df
    gc.collect()
    assert _n_persistent(spark) == before


def test_fan_out_scan_no_ops_on_non_file_frames(spark):
    """ADVICE r12 #2: a frame with no inputFiles() (createDataFrame,
    memoized checkpoint, non-file source) has unknown size — fan_out_scan
    must return it UNTOUCHED instead of paying an unconditional shuffle,
    so the documented 'no-op at scale' guarantee holds for every source
    kind."""
    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        fan_out_scan,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    assert df.inputFiles() == []
    assert fan_out_scan(df, "id") is df


def test_fan_out_scan_fans_small_file_scan(spark):
    """A small single-split parquet scan IS repartitioned to the
    session's default parallelism (the r12 single-task-scan remedy)."""
    import re

    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        fan_out_scan,
        load_table,
    )

    df = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = fan_out_scan(df, "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"hashpartitioning\(doc_id", plan), plan


def test_size_bytes_parses_spark_unit_suffixes():
    """ADVICE r12 #5: '64m'/'1g' style conf values must parse instead of
    silently falling back to the 128MB default."""
    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        _size_bytes,
    )

    assert _size_bytes("134217728", default=0) == 134217728
    assert _size_bytes("134217728b", default=0) == 134217728
    assert _size_bytes("64m", default=0) == 64 * 1024**2
    assert _size_bytes("64M", default=0) == 64 * 1024**2
    assert _size_bytes("1g", default=0) == 1024**3
    assert _size_bytes("512k", default=0) == 512 * 1024
    assert _size_bytes("not-a-size", default=77) == 77


def _is_cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_scope_keeps_persists_alive_for_derived_frames(spark):
    """r13 persist-audit hazard, closed by construction: a derived frame
    holds no Python reference to the operator result it wraps, so a
    cache tied to that result died at function return, BEFORE the
    derived frame ever executed. Under @scoped the cache belongs to the
    scope, which lives exactly until the returned frame is GC'd — no
    adoption at the call site."""
    from spark_streaming_kafka_bucket_counter_spark.operators._cache import (
        persist,
        scoped,
    )

    @scoped
    def op():
        base = persist(spark.createDataFrame([(1,), (2,)], "x long"))
        probe.append(base)
        return base.select("x")

    @scoped
    def query():
        return op().selectExpr("x + 1 as y")  # derived, never adopted

    probe = []
    result = query()
    base = probe.pop()
    gc.collect()
    assert _is_cached(spark, base), "the scope must keep the cache alive"
    assert sorted(r.y for r in result.collect()) == [2, 3]
    del result
    gc.collect()
    assert not _is_cached(spark, base), "cache must drain once the result dies"


def test_persist_source_gate_on_input_size(spark, monkeypatch):
    """r13: persists whose subtree is cheap to recompute on a small
    input LOSE locally (the cached plan executes without AQE and pays a
    materialization pass) but save whole corpus passes at scale — so
    persist(source=...) persists iff the source is NOT a provably-small
    file scan, with SPARK_GRAFT_FORCE_PERSIST=1 as the override."""
    from spark_streaming_kafka_bucket_counter_spark.operators._cache import (
        persist,
        scope,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import (
        load_table,
    )

    small = load_table(spark, SF_DIR, "documents")
    with scope():
        derived = small.select("doc_id")
        out = persist(derived, source=small)
        assert out is derived and not _is_cached(spark, out)  # small: skipped

        unknown = spark.createDataFrame([(1,)], "x long")  # non-file: persist
        d2 = persist(unknown.select("x"), source=unknown)
        assert _is_cached(spark, d2)

        monkeypatch.setenv("SPARK_GRAFT_FORCE_PERSIST", "1")
        d3 = persist(small.select("doc_id", "source"), source=small)
        assert _is_cached(spark, d3)
    assert not _is_cached(spark, d2) and not _is_cached(spark, d3)


def test_persist_outside_a_scope_raises(spark):
    """A cache with no owner would leak or silently run uncached — an
    unscoped persist must fail loudly instead."""
    from spark_streaming_kafka_bucket_counter_spark.operators._cache import (
        persist,
    )

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(RuntimeError, match="outside a cache scope"):
        persist(df)
    assert not _is_cached(spark, df)


def test_scope_releases_on_exit_and_on_exception(spark):
    """The eager boundary: `with scope()` releases every frame persisted
    inside it when the block ends, whether it returns or raises."""
    from spark_streaming_kafka_bucket_counter_spark.operators._cache import (
        persist,
        scope,
    )

    with scope():
        a = persist(spark.createDataFrame([(1,)], "x long"))
        assert _is_cached(spark, a)
    assert not _is_cached(spark, a)

    with pytest.raises(ValueError, match="boom"):
        with scope():
            b = persist(spark.createDataFrame([(2,)], "x long"))
            assert _is_cached(spark, b)
            raise ValueError("boom")
    assert not _is_cached(spark, b)


def test_nested_scoped_joins_the_outer_scope(spark):
    """An inner @scoped call made while a scope is open registers into
    that scope: its cache outlives the inner return value and is
    released with the outer scope."""
    from spark_streaming_kafka_bucket_counter_spark.operators._cache import (
        persist,
        scope,
        scoped,
    )

    @scoped
    def inner():
        return persist(spark.createDataFrame([(1,)], "x long"))

    with scope():
        c = inner()
        jdf = c._jdf
        del c
        gc.collect()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.lookupCachedData(jdf).isDefined(), "inner must join, not own"
    assert not cm.lookupCachedData(jdf).isDefined()


@pytest.mark.parametrize(
    "name", ["curation_report", "contamination_by_source", "dedup_drop_contained"]
)
def test_catalog_caches_are_read_before_release(spark, monkeypatch, caplog, name):
    """The r13 persist audit as a runtime signal: three of its
    wrapper paths (a frame derived from an operator's cached result)
    must have every forced persist READ by the query's execution before
    the scope releases it — an unread cache is one that died early or
    served nothing. The release record carries both counts."""
    import logging

    from spark_streaming_kafka_bucket_counter_spark.operators import _cache
    from spark_streaming_kafka_bucket_counter_spark.plans.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_FORCE_PERSIST", "1")
    caplog.set_level(logging.DEBUG, logger=_cache.__name__)
    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    del df
    gc.collect()
    recs = [r for r in caplog.records if r.name == _cache.__name__]
    assert sum(r.registered for r in recs) >= 1
    assert [r.unread for r in recs] == [0] * len(recs)
