"""Unit tests for the corpus-curation operators: classifier edge
cases, boilerplate counting on hand-built corpora, temperature-mixture
arithmetic, pair counting, and random-projection determinism."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.operators.curation import (
    adjacent_pair_counts,
    boilerplate_stats,
    classify_quality,
    temperature_mixture,
)
from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
    knn_graph,
    random_projection,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classifier_empty_and_single_token(spark):
    out = {
        r["doc_id"]: (r["n_tokens"], r["score_sum"], r["keep"])
        for r in classify_quality(
            _docs(spark, [(1, ""), (2, "   "), (3, "hello")]), "doc_id", "text"
        ).collect()
    }
    # empty / whitespace-only docs: zero tokens, zero score, dropped
    assert out[1] == (0, 0, False)
    assert out[2] == (0, 0, False)
    # single token: weight = hash32 % 2001 - 1000, computed independently
    h = int(hashlib.md5(b"hello").hexdigest()[:8], 16)
    w = h % 2001 - 1000
    assert out[3] == (1, w, w > 0)


def test_classifier_score_is_sum_of_token_weights(spark):
    def w(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 2001 - 1000

    text = "alpha beta alpha gamma"
    (row,) = classify_quality(_docs(spark, [(1, text)]), "doc_id", "text").collect()
    expected = w("alpha") * 2 + w("beta") + w("gamma")
    assert row["score_sum"] == expected and row["n_tokens"] == 4


def test_boilerplate_counts_repeated_shingle(spark):
    # "a b c" appears in 3 docs -> boilerplate at min_docs=3; doc 4's
    # grams are unique; doc 5 is too short for any 3-gram.
    rows = [
        (1, "a b c x y"),
        (2, "q a b c"),
        (3, "a b c"),
        (4, "u v w z"),
        (5, "t u"),
    ]
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["flagged"])
        for r in boilerplate_stats(
            _docs(spark, rows), "doc_id", "text", k=3, min_docs=3, flag_pct=50
        ).collect()
    }
    assert out[1] == (3, 1, False)  # a-b-c, b-c-x, c-x-y -> 1 of 3 boiler
    assert out[2] == (2, 1, True)  # q-a-b, a-b-c -> 1 of 2 >= 50%
    assert out[3] == (1, 1, True)
    assert out[4] == (2, 0, False)
    assert out[5] == (0, 0, False)  # short doc keeps a zero row


def test_temperature_mixture_upsamples_small_source(spark):
    df = spark.createDataFrame(
        [("big", "w " * 400), ("small", "w w w w")], "source string, text string"
    )
    out = {r["source"]: r for r in temperature_mixture(df, "source", "text").collect()}
    assert out["big"]["tok_sum"] == 400 and out["small"]["tok_sum"] == 4
    # natural share: 400/404 vs 4/404; temperature (sqrt): 20/22 vs 2/22
    assert out["big"]["nat_ppm"] == 400 * 1_000_000 // 404
    assert out["small"]["temp_ppm"] == 2 * 1_000_000 // 22
    # temperature upsamples the small source vs its natural share
    assert out["small"]["temp_ppm"] > out["small"]["nat_ppm"]
    assert out["big"]["temp_ppm"] < out["big"]["nat_ppm"]


def test_adjacent_pair_counts_ranks_and_ties(spark):
    df = _docs(spark, [(1, "a b a b"), (2, "a b z q")])
    rows = adjacent_pair_counts(df, "text", top_n=3).collect()
    got = [(r["pair"], r["cnt"], r["rank"]) for r in rows]
    # "a b" x3; then ties at 1 break by pair string ascending
    assert got[0] == ("a b", 3, 1)
    assert [g[0] for g in got[1:]] == sorted(g[0] for g in got[1:])


def test_random_projection_deterministic_and_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in random_projection(
            df, "vec_id", "embedding", in_dims=3, out_dims=2
        ).collect()
    }
    # recompute expected with the same md5-derived signs
    def sign(j, i):
        return 1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1

    q = [1000, -2000, 500]
    for j in range(2):
        assert out[1][f"p{j}"] == sum(sign(j, i) * q[i] for i in range(3))
        assert out[2][f"p{j}"] == 0
    assert out[2]["rp_bucket"] == 0  # all-zero vector -> no positive planes


def test_knn_graph_topk_within_bucket(spark):
    # 3 vectors in one sign bucket (all positive planes), 1 in another:
    # the singleton emits no edges; the trio links to each other.
    df = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
            (2, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 2.0]),
            (3, [2.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
            (4, [-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = knn_graph(df, "vec_id", "embedding", top_k=2, planes=8).collect()
    srcs = {r["src"] for r in rows}
    assert srcs == {1, 2, 3}
    for r in rows:
        assert r["dst"] != r["src"] and r["rank"] <= 2
    # every member of the trio found both its bucket-mates
    assert sum(1 for r in rows if r["src"] == 1) == 2


def test_blocked_fuzzy_pairs_blocks_and_verifies(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.entity import (
        blocked_fuzzy_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "cold widget"),
            (2, "gold widget"),
            (3, "cold widgex"),
            (4, "cold rod"),
        ],
        "id long, name string",
    )
    rows = blocked_fuzzy_pairs(
        df, "id", "name", F.element_at(F.split(F.col("name"), " "), -1), max_distance=2
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in rows}
    # same block (widget/widgex differ -> different blocks for 3!)
    # block "widget": {1,2}; block "widgex": {3}; block "rod": {4}
    assert got == {(1, 2): 1}


def test_blocked_fuzzy_pairs_salted_matches_plain(spark):
    """The r13 hot-block salt (guide §2.5): salting the block-key
    self-join widens the shuffle key with `_salt` but must return the
    identical pair relation — every (a, b) block pair meets exactly
    once because the b-side replica set covers every salt value."""
    from spark_streaming_kafka_bucket_counter_spark.operators.entity import (
        blocked_fuzzy_pairs,
    )

    rows = [
        (i, f"{w} widget")
        for i, w in enumerate(
            ["cold", "gold", "bold", "colt", "golf", "old", "mold", "sold"]
        )
    ] + [(100, "lone rod"), (101, "long rod")]
    df = spark.createDataFrame(rows, "id long, name string")
    blk = F.element_at(F.split(F.col("name"), " "), -1)

    def rel(salt):
        return sorted(
            map(
                tuple,
                blocked_fuzzy_pairs(
                    df, "id", "name", blk, max_distance=2, salt_buckets=salt
                ).collect(),
            )
        )

    plain = rel(None)
    assert rel(8) == plain
    assert len(plain) > 5  # the hot "widget" block actually paired up


def test_dsir_prefers_target_like_docs(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.quality import (
        dsir_importance,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta", "tgt"),
            (2, "alpha beta", "other"),  # looks like target -> high score
            # target-unseen tokens, repeated so the corpus distribution
            # shifts away from the smoothed target -> negative score
            (3, "zeta omega zeta omega", "other"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_importance(
            df, "doc_id", "text", F.col("source") == "tgt"
        ).collect()
    }
    assert out[2]["lr9_sum"] > 0 > out[3]["lr9_sum"]
    assert out[1]["lr9_sum"] == out[2]["lr9_sum"]  # same text, same score
    assert out[3]["n_tokens"] == 4


def test_dsir_empty_doc_scores_zero(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.quality import (
        dsir_importance,
    )

    df = spark.createDataFrame(
        [(1, "alpha", "tgt"), (2, "", "other")], "doc_id long, text string, source string"
    )
    out = {r["doc_id"]: r for r in dsir_importance(df, "doc_id", "text", F.col("source") == "tgt").collect()}
    assert out[2]["n_tokens"] == 0 and out[2]["lr9_sum"] == 0 and out[2]["selected"] is False


def test_sorted_neighborhood_matches_naive(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    names = [(1, "apple"), (2, "apples"), (3, "banana"), (4, "bananas"), (5, "bananaz"), (6, "cherry")]
    df = spark.createDataFrame(names, "id long, name string")
    rows = sorted_neighborhood_pairs(df, "id", "name", window=2, max_distance=2).collect()
    got = {(r["id_a"], r["id_b"]): r["distance"] for r in rows}
    # naive reference: sort by (name, id), window 2, lev <= 2
    order = sorted(names, key=lambda t: (t[1], t[0]))
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {}
    for p in range(len(order)):
        for q in range(p + 1, min(p + 3, len(order))):
            d = lev(order[p][1], order[q][1])
            if d <= 2:
                want[(order[p][0], order[q][0])] = d
    assert got == want


def test_minhash_lsh_eval_perfect_on_exact_dups(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.dedup import (
        minhash_lsh_eval,
    )

    # two identical docs + one unrelated: truth = 1 pair; identical docs
    # share every band -> candidate; LSH finds it -> recall 100%
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zz yy xx ww vv uu"),
        ],
        "doc_id long, text string",
    )
    (row,) = minhash_lsh_eval(df, "doc_id", "text").collect()
    assert row["n_truth"] == 1 and row["n_true_positive"] == 1
    assert row["recall_ppm"] == 1_000_000
    assert row["n_candidates"] >= 1
    assert 0 < row["precision_ppm"] <= 1_000_000


def test_minhash_lsh_eval_empty_corpus_zero_metrics(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.dedup import (
        minhash_lsh_eval,
    )

    df = spark.createDataFrame([(1, "only one doc here")], "doc_id long, text string")
    (row,) = minhash_lsh_eval(df, "doc_id", "text").collect()
    assert (row["n_truth"], row["n_candidates"], row["precision_ppm"], row["recall_ppm"]) == (0, 0, 0, 0)


def test_require_utc_session_guard_fires(spark):
    from spark_streaming_kafka_bucket_counter_spark.functions.buckets import (
        require_utc_session,
    )
    from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
        streaming_interval_join,
    )

    require_utc_session(spark)  # session fixture pins UTC -> passes
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        import pytest

        with pytest.raises(ValueError, match="UTC"):
            require_utc_session(spark)
        # and the guard is actually wired into the streaming join entry
        l = spark.createDataFrame([(1, 1)], "k long, t1 long").select(
            "k", F.timestamp_seconds("t1").alias("lt")
        )
        r = spark.createDataFrame([(1, 2)], "k long, t2 long").select(
            "k", F.timestamp_seconds("t2").alias("rt")
        )
        with pytest.raises(ValueError, match="UTC"):
            streaming_interval_join(l, r, "k", "lt", "rt", 60)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_lsh_index_query_matches_cross_pairs(spark, tmp_path):
    """The persisted-index query must reproduce minhash_lsh_cross_pairs
    exactly (same band recipe on both paths)."""
    from spark_streaming_kafka_bucket_counter_spark.operators.dedup import (
        lsh_build_index,
        lsh_query_index,
        minhash_lsh_cross_pairs,
    )

    snap = spark.createDataFrame(
        [(i, f"common words here plus filler {i} {'x ' * (i % 5)}") for i in range(30)]
        + [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (200, "the quick brown fox jumps over the lazy dog today"),  # dup of 100
            (201, "completely unrelated text with nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh_index")
    lsh_build_index(snap, "doc_id", "text", path)
    via_index = {
        tuple(r)
        for r in lsh_query_index(spark, path, batch, "doc_id", "text").collect()
    }
    direct = {
        tuple(r)
        for r in minhash_lsh_cross_pairs(batch, snap, "doc_id", "text").collect()
    }
    assert via_index == direct
    assert any(r[0] == 200 and r[1] == 100 for r in via_index)  # dup found
    assert not any(r[0] == 201 for r in via_index)  # unrelated stays clean
