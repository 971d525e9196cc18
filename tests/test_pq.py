"""Product-quantization operator pins (operators/pq.py).

The three catalog queries already hash-match their DuckDB twins in
test_catalog_oracle; these pin operator-level properties the oracle
can't see: code-domain invariants, the precomputed-codes path being
bit-identical to the inline-encode path (the serving contract), loud
failures on bad configs, and the lambda-arity regression (PySpark binds
transform lambdas by SIGNATURE, so a captured slice must be a closure —
a default argument would silently receive the array index).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.operators import pq as PQ
from spark_streaming_kafka_bucket_counter_spark.sources.files import load_table
from tests.conftest import SF_DIR
from tests.oracle_harness import spark_signature

DIM, M, KSUB = 64, 16, 16


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return PQ.pq_train(emb, "vec_id", "embedding", DIM, m=M, ksub=KSUB, iters=2)


def test_codebook_shape_and_domain(books):
    assert set(books) == {(s, c) for s in range(M) for c in range(KSUB)}
    dsub = DIM // M
    assert all(len(v) == dsub for v in books.values())
    assert all(isinstance(x, int) for v in books.values() for x in v)


def test_codes_domain(emb, books):
    rows = PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == M
        assert all(0 <= c < KSUB for c in r["codes"])


def test_arrow_encode_matches_jvm_encode(emb, books):
    # the standing numpy-int64 vs JVM-long parity pin: the vectorized
    # Arrow kernel and the all-JVM broadcast-join argmin must agree
    # bit-for-bit (ordering AND ties)
    a = PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB)
    b = PQ.pq_encode(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB, via="join"
    )
    assert spark_signature(a) == spark_signature(b)
    with pytest.raises(ValueError, match="via"):
        PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB, via="x")


def test_precomputed_codes_path_is_bit_identical(emb, books):
    codes = PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB)
    inline = PQ.pq_adc_topk(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB)
    served = PQ.pq_adc_topk(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB, codes=codes
    )
    assert spark_signature(inline) == spark_signature(served)


def test_adc_beats_chance(emb, books):
    # deterministic end to end, so the recall row is a stable pin: the
    # 16x16 4-bit config must stay well clear of chance (~5/N ppm) on
    # the synthetic unclustered gaussians — measured 320_000 ppm; exact
    # values are already pinned by the DuckDB twin in test_catalog_oracle
    row = PQ.pq_recall_eval(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB
    ).collect()[0]
    assert row["n_queries"] == 10
    assert row["k"] == 5
    assert 0 <= row["min_recall_ppm"] <= row["mean_recall_ppm"] <= 1_000_000
    assert row["mean_recall_ppm"] >= 250_000


def test_bad_configs_fail_loudly(emb, books):
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_train(emb, "vec_id", "embedding", DIM, m=5)
    with pytest.raises(ValueError, match="must be >= 1"):
        PQ.pq_train(emb, "vec_id", "embedding", DIM, iters=0)
    with pytest.raises(ValueError, match="only"):
        PQ.pq_train(emb.limit(3), "vec_id", "embedding", DIM, ksub=KSUB)
    # review catch: encode/scan entry points must validate too, or
    # trailing dimensions silently drop out of every code
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=5)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_adc_topk(emb, "vec_id", "embedding", books, DIM, m=5)


def test_index_rejects_model_mismatch(spark, emb, tmp_path):
    # review catch: a loaded index must validate caller params against
    # the PERSISTED codebook — summing 4 of 16 LUT probes returns wrong
    # neighbors with no error
    path = str(tmp_path / "mmidx")
    PQ.ivfpq_build_index(emb, "vec_id", "embedding", path, DIM, m=M, ksub=KSUB)
    q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="persisted codebook"):
        PQ.ivfpq_query_index(spark, path, q, "vec_id", "embedding", DIM, m=4)
    with pytest.raises(ValueError, match="persisted codebook"):
        PQ.ivfpq_append_index(spark, q, "vec_id", "embedding", path, DIM, m=4, ksub=8)


def test_index_query_matches_direct_path(spark, emb, books, tmp_path):
    # persisted IVFADC index answers == the direct composition
    direct = PQ.ivfpq_topk(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB,
        n_centroids=16, nprobe=2, query_max_id=10, top_k=5,
    )
    PQ.ivfpq_build_index(
        emb, "vec_id", "embedding", str(tmp_path / "idx"),
        DIM, m=M, ksub=KSUB, n_centroids=16,
    )
    served = PQ.ivfpq_query_index(
        spark, str(tmp_path / "idx"),
        emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        DIM, m=M, ksub=KSUB, nprobe=2, top_k=5,
    )
    assert spark_signature(direct) == spark_signature(served)


def test_index_append_equals_rebuild(spark, emb, books, tmp_path):
    lo = emb.filter(F.col("vec_id") < 40)
    hi = emb.filter(F.col("vec_id") >= 40)
    # grown index: build on the low slice (centroids + codebook train on
    # it), then append the high slice
    PQ.ivfpq_build_index(
        lo, "vec_id", "embedding", str(tmp_path / "grown"), DIM, m=M, ksub=KSUB
    )
    PQ.ivfpq_append_index(
        spark, hi, "vec_id", "embedding", str(tmp_path / "grown"), DIM, m=M, ksub=KSUB
    )
    queries = emb.filter(F.col("vec_id") < 5)
    grown = PQ.ivfpq_query_index(
        spark, str(tmp_path / "grown"), queries, "vec_id", "embedding",
        DIM, m=M, ksub=KSUB,
    )
    # rebuild over the same model: encode + assign EVERYTHING against the
    # low slice's centroids/codebook by building on lo then appending hi
    # is the contract; parity target = manual assign of the union using
    # the persisted metadata (append-then-query == one append of the union)
    PQ.ivfpq_build_index(
        lo, "vec_id", "embedding", str(tmp_path / "two"), DIM, m=M, ksub=KSUB
    )
    PQ.ivfpq_append_index(
        spark, hi.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        str(tmp_path / "two"), DIM, m=M, ksub=KSUB,
    )
    PQ.ivfpq_append_index(
        spark, hi.filter(F.col("vec_id") % 2 == 1), "vec_id", "embedding",
        str(tmp_path / "two"), DIM, m=M, ksub=KSUB,
    )
    two = PQ.ivfpq_query_index(
        spark, str(tmp_path / "two"), queries, "vec_id", "embedding",
        DIM, m=M, ksub=KSUB,
    )
    assert spark_signature(grown) == spark_signature(two)


def test_index_repeated_append_answers_as_one_append(spark, emb, books, tmp_path):
    # the same batch appended twice duplicates (id, codes) rows in the
    # cells; the served query still ranks each candidate once, exactly
    # as after a single append
    lo = emb.filter(F.col("vec_id") < 40)
    hi = emb.filter(F.col("vec_id") >= 40)
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    PQ.ivfpq_build_index(lo, "vec_id", "embedding", path, DIM, m=M, ksub=KSUB)
    answers = []
    for _ in range(2):
        PQ.ivfpq_append_index(
            spark, hi, "vec_id", "embedding", path, DIM, m=M, ksub=KSUB
        )
        answers.append(
            PQ.ivfpq_query_index(
                spark, path, queries, "vec_id", "embedding", DIM, m=M, ksub=KSUB
            ).collect()
        )
    once, twice = answers
    assert sorted(map(tuple, twice)) == sorted(map(tuple, once))
    pairs = [(r["query_id"], r["cand_id"]) for r in twice]
    assert pairs and len(set(pairs)) == len(pairs)


def test_residual_frame_exact(spark, emb):
    # rv = round(x*s) - round(c*s), exact ints; nonzero rows only; each
    # row keyed by its rn=1 cell
    res = PQ.residual_frame(emb, "vec_id", "embedding", n_centroids=16)
    rows = res.collect()
    assert len(rows) == emb.count()  # driver embeddings have no zero vectors
    fixed = {
        r["id"]: list(r["v"])
        for r in PQ._fixed_vecs(emb, "vec_id", "embedding", 1_000_000).collect()
    }
    by_id = {r["id"]: r for r in rows}
    for vid in (0, 7, 42):
        r = by_id[vid]
        cv = fixed[r["cid"]]
        assert list(r["rv"]) == [a - b for a, b in zip(fixed[vid], cv)]


def test_residual_recall_eval_shape(spark, emb, books):
    res_books = PQ.pq_train(
        PQ.residual_frame(emb, "vec_id", "embedding"),
        "id", "rv", DIM, m=M, ksub=KSUB, already_fixed=True,
    )
    rows = PQ.ivfpq_recall_eval(
        emb, "vec_id", "embedding", books, res_books, DIM, m=M, ksub=KSUB
    ).collect()
    got = {r["variant"]: r for r in rows}
    assert set(got) == {"raw", "residual"}
    for r in rows:
        assert r["n_queries"] == 10 and r["k"] == 5
        assert 0 <= r["min_recall_ppm"] <= r["mean_recall_ppm"] <= 1_000_000


def test_argmin_ties_break_to_lower_cid(spark):
    # two identical centroids arise when two seed vectors share a
    # sub-space slice; the (dist, cid) struct-min must pick the lower cid
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    books = PQ.pq_train(df, "vec_id", "embedding", dim=2, m=1, ksub=2, iters=1)
    rows = {
        r["id"]: list(r["codes"])
        for r in PQ.pq_encode(df, "vec_id", "embedding", books, 2, m=1, ksub=2).collect()
    }
    seen = {tuple(v) for v in rows.values()}
    assert all(c in (0, 1) for v in rows.values() for c in v)
    # the two duplicate-slice vectors must agree with each other
    dup_pair = {tuple(rows[1]), tuple(rows[2])}
    assert len(dup_pair) == 1
    assert seen  # smoke: codes materialized


def test_ranked_cells_exact_and_ties(spark):
    """_ranked_cells: exact integer L2 ranking, ties to the lower cid,
    rn is 1-based over the nprobe slice."""
    fixed = spark.createDataFrame(
        [(7, [0, 0]), (8, [10, 0])], "id long, v array<long>"
    )
    cents = {0: [0, 0], 1: [10, 0], 2: [0, 0]}  # 2 duplicates 0 -> tie
    got = {
        (r["id"], r["rn"]): r["cid"]
        for r in PQ._ranked_cells(fixed, cents, nprobe=3).collect()
    }
    # id=7: dist 0 to cid0 and cid2 (tie -> 0 first), then cid1
    assert got[(7, 1)] == 0 and got[(7, 2)] == 2 and got[(7, 3)] == 1
    # id=8: nearest cid1, then tie 0/2 -> 0 first
    assert got[(8, 1)] == 1 and got[(8, 2)] == 0 and got[(8, 3)] == 2


def test_trained_residual_frame_exact(spark):
    cents = {0: [0, 0], 1: [100, -100]}
    df = spark.createDataFrame(
        [(1, [0.000101, 0.0]), (2, [0.0001, -0.000102])],
        "id long, v array<float>",
    )
    rows = {
        r["id"]: (list(r["rv"]), r["cid"])
        for r in PQ.trained_residual_frame(df, "id", "v", cents).collect()
    }
    # fixed-point: v1 -> [101, 0]: d0 = 101^2 = 10201, d1 = 1 + 100^2 =
    # 10001 -> cid1 wins; rv = [101-100, 0-(-100)] = [1, 100]
    assert rows[1] == ([1, 100], 1)
    # v2 -> [100, -102]: d0=100^2+102^2, d1=0+4 -> cid1, rv = [0, -2]
    assert rows[2] == ([0, -2], 1)


def test_trained_topk_precomputed_codes_bit_identical(spark, emb, books):
    """The serving contract extends to trained cells: passing the
    materialized code frame must be bit-identical to inline encode."""
    cents = {i: [((i * 37 + j) % 11 - 5) * 1000 for j in range(DIM)] for i in range(4)}
    a = PQ.ivfpq_trained_topk(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB,
        n_centroids=4, nprobe=2, query_max_id=6, top_k=4, cents=cents,
    )
    codes = PQ.pq_encode(emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB)
    b = PQ.ivfpq_trained_topk(
        emb, "vec_id", "embedding", books, DIM, m=M, ksub=KSUB,
        n_centroids=4, nprobe=2, query_max_id=6, top_k=4,
        codes=codes, cents=cents,
    )
    assert spark_signature(a) == spark_signature(b)


def test_cells_model_from_empty_rows_is_loud():
    """ADVICE r10 #3: an empty/corrupt persisted centroids table must
    surface as a diagnosable RuntimeError from the model decoder, not a
    bare IndexError inside ivfpq_append_index / ivfpq_query_index."""
    import pytest

    with pytest.raises(RuntimeError, match="empty centroids table"):
        PQ._cells_model_from_rows([])


def test_choose_default_nprobe_frontier_rule():
    """Smallest nprobe within `within` of the best measured recall."""
    rows = [
        {"nprobe": 1, "mean_recall_ppm": 900_000},
        {"nprobe": 2, "mean_recall_ppm": 960_000},
        {"nprobe": 4, "mean_recall_ppm": 1_000_000},
    ]
    assert PQ.choose_default_nprobe(rows) == 2            # within 5% of max
    assert PQ.choose_default_nprobe(rows, within=0.0) == 4
    assert PQ.choose_default_nprobe(rows, within=0.2) == 1
    with pytest.raises(ValueError, match="empty frontier"):
        PQ.choose_default_nprobe([])


def test_index_meta_default_nprobe_round_trip(spark, emb, tmp_path):
    """r10 VERDICT ask #4: the build persists the frontier-chosen
    operating point into meta/, queries with nprobe=None serve at it,
    and a rebuild with a different frontier changes the default."""
    idx = str(tmp_path / "npidx")
    PQ.ivfpq_build_index(
        emb, "vec_id", "embedding", idx, dim=DIM, m=M, ksub=KSUB,
        n_centroids=16, default_nprobe=4,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.manifest import (
        latest_manifest,
    )

    snap = latest_manifest(idx)
    assert PQ._meta_default_nprobe(spark, idx, snap) == 4
    q = emb.filter(F.col("vec_id") < 5)
    auto = PQ.ivfpq_query_index(
        spark, idx, q, "vec_id", "embedding", dim=DIM, m=M, ksub=KSUB, top_k=3
    )
    explicit = PQ.ivfpq_query_index(
        spark, idx, q, "vec_id", "embedding", dim=DIM, m=M, ksub=KSUB,
        nprobe=4, top_k=3,
    )
    assert spark_signature(auto) == spark_signature(explicit)

    # rebuild with a different measured frontier -> default changes
    PQ.ivfpq_build_index(
        emb, "vec_id", "embedding", idx, dim=DIM, m=M, ksub=KSUB,
        n_centroids=16, default_nprobe=1,
    )
    assert PQ._meta_default_nprobe(spark, idx, latest_manifest(idx)) == 1

    # pre-v3 snapshot (no meta/ files) falls back to the constant
    assert (
        PQ._meta_default_nprobe(spark, idx, {"files": ["cells/p.parquet"]})
        == PQ.IVFPQ_FALLBACK_NPROBE
    )


def test_query_index_without_manifest_is_loud(spark, emb, tmp_path):
    """ADVICE r11 #1: a tree with data files but no published manifest
    snapshot (bootstrap crashed between write and commit) must raise
    from ivfpq_query_index, never serve an unpinned directory read —
    matching lsh_query_index / ivf_query_index and both append paths."""
    idx = str(tmp_path / "norphan")
    emb.limit(4).select("vec_id", "embedding").write.parquet(f"{idx}/cells")
    q = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(RuntimeError, match="no published manifest snapshot"):
        PQ.ivfpq_query_index(
            spark, idx, q, "vec_id", "embedding", dim=DIM, m=M, ksub=KSUB
        )


def test_operating_point_matches_choose_default_nprobe(spark):
    """The catalog's `chosen` column and the build-time
    choose_default_nprobe must pick the same row — one rule, two
    surfaces."""
    rows = [
        (1, 10, 5, 900_000, 800_000, 100),
        (2, 10, 5, 960_000, 900_000, 220),
        (4, 10, 5, 1_000_000, 950_000, 460),
    ]
    frontier = spark.createDataFrame(
        rows,
        "nprobe long, n_queries long, k long, mean_recall_ppm long, "
        "min_recall_ppm long, total_pairs long",
    )
    got = {r["nprobe"]: r["chosen"] for r in PQ.ivfpq_operating_point(frontier).collect()}
    chosen = [np_ for np_, c in got.items() if c]
    assert chosen == [PQ.choose_default_nprobe([
        {"nprobe": n, "mean_recall_ppm": p} for n, _, _, p, _, _ in rows
    ])]
    assert chosen == [2]
