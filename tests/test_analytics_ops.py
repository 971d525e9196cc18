"""Unit tests for the analytics operators: connected components on
hand-built graphs, sessionization edge cases, KMV sketch properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_bucket_counter_spark.operators.graph import (
    connected_components,
)
from spark_streaming_kafka_bucket_counter_spark.operators.sessions import session_summary
from spark_streaming_kafka_bucket_counter_spark.operators.sketches import kmv_distinct


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # island {10, 11}, and a triangle {20, 21, 22}
    got = _cc(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
    )
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_chain_converges(spark):
    # a 12-node path: min label must travel the full diameter
    edges = [(i, i + 1) for i in range(12)]
    got = _cc(spark, edges)
    assert got == {(i, 0) for i in range(13)}


def test_connected_components_path_graph_logn_rounds(spark):
    """Star alternation must converge in O(log n) rounds on the worst
    shape for label propagation: a 1000-node path (diameter 999, which
    min-label propagation would need ~1000 rounds to cross). This is the
    100 TB guarantee — chain-shaped near-dup clusters (boilerplate
    sharing A-B-C-...) cannot blow up the round count."""
    n = 1000
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(n + 1)}
    assert connected_components.last_n_rounds <= 20


def test_connected_components_random_graphs_vs_union_find(spark):
    """Star alternation vs a plain union-find oracle on seeded random
    graphs plus adversarial shapes (cycle, binary tree, two bridged
    chains) — the algorithm-swap safety net: any rewiring bug that
    splits or merges a component differently from true connectivity
    fails here, independent of the catalog oracle's fixed dataset."""
    import random

    def union_find_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    cases = []
    rng = random.Random(20260814)
    for trial in range(4):
        n = rng.randint(20, 80)
        m = rng.randint(n // 4, 2 * n)
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    cases.append([(i, (i + 1) % 30) for i in range(30)])  # cycle
    cases.append([((i - 1) // 2, i) for i in range(1, 63)])  # binary tree
    cases.append(  # two chains bridged at one end
        [(i, i + 1) for i in range(0, 20)]
        + [(100 + i, 101 + i) for i in range(0, 20)]
        + [(20, 120)]
    )
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        expect = union_find_components(edges)
        got = _cc(spark, edges)
        assert got == set(expect.items()), edges


def test_connected_components_reliable_checkpoint_cadence(spark, tmp_path):
    """checkpoint_every=N must produce identical results while actually
    writing reliable checkpoints to the given dir (the executor-loss
    recovery knob for long cluster runs, DEPLOY.md)."""
    import os

    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    ckdir = str(tmp_path / "cc_ck")
    got = {
        (r["node"], r["component"])
        for r in connected_components(
            df, checkpoint_every=2, checkpoint_dir=ckdir
        ).collect()
    }
    assert got == {(i, 0) for i in range(13)}
    # reliable checkpoint data actually landed in the dir
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "no reliable checkpoint files were written"


def test_pagerank_empty_edges_returns_empty(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "a long, b long")
    out = pagerank(empty, "a", "b", 3)
    assert out.columns == ["node", "rank_e9"]
    assert out.count() == 0


def test_session_summary_gap_and_ties(spark):
    rows = [
        # user 1: two sessions (gap 100 > 30), with a timestamp tie
        (1, 100, 1), (1, 110, 2), (1, 110, 3), (1, 300, 4),
        # user 2: single event
        (2, 50, 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_e long, event_id long")
    got = {
        (r["user_id"], r["session_idx"], r["n_events"], r["session_start"],
         r["session_end"], r["duration_s"])
        for r in session_summary(df, "user_id", "ts_e", 30, ["event_id"]).collect()
    }
    assert got == {
        (1, 0, 3, 100, 110, 10),
        (1, 1, 1, 300, 300, 0),
        (2, 0, 1, 50, 50, 0),
    }


def test_asof_join_semantics(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        # (key, ts, id): click at 100 (after p1), at 150 (equal-ts match),
        # at 40 (no preceding purchase), user 2 with no purchases at all
        [(1, 100, 11), (1, 150, 12), (1, 40, 10), (2, 99, 20)],
        "user_id long, ts_e long, event_id long",
    )
    right = spark.createDataFrame(
        # two purchases tied at ts=150 -> max event_id (92) must win
        [(1, 50, 90, 5.0), (1, 150, 91, 6.0), (1, 150, 92, 7.0)],
        "user_id long, ts_e long, event_id long, value double",
    )
    out = asof_join(
        left, right, "user_id", "ts_e", right_cols=["event_id", "value"], tie_col="event_id"
    )
    got = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"]) for r in out.collect()
    }
    assert got == {
        10: (None, None),      # nothing at-or-before ts 40
        11: (90, 5.0),         # purchase at 50
        12: (92, 7.0),         # inclusive equal-ts, tie -> max event_id
        20: (None, None),      # user with no purchases
    }
    assert out.count() == 4  # every left row survives


def test_tokens_to_ids_vocab_and_order(spark):
    """Vocab ids rank by count desc / token tie-break; OOV -> 0; the id
    sequence preserves token order regardless of partition layout."""
    from spark_streaming_kafka_bucket_counter_spark.operators.packing import (
        tokens_to_ids,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat"),
        (3, "rare token here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    # counts: the=3, sat=2, rest=1 -> vocab_size=2 keeps {the:1, sat:2}
    got = {r["doc_id"]: r for r in tokens_to_ids(df, "doc_id", "text", vocab_size=2).collect()}
    assert got[1]["token_ids"] == [1, 0, 2, 0, 1, 0]
    assert got[1]["n_tokens"] == 6 and got[1]["n_oov"] == 3
    assert got[2]["token_ids"] == [1, 0, 2]
    assert got[3]["token_ids"] == [0, 0, 0] and got[3]["n_oov"] == 3
    # larger vocab: ties (count=1) rank alphabetically after the/sat
    full = {r["doc_id"]: r["token_ids"] for r in tokens_to_ids(df, "doc_id", "text", vocab_size=100).collect()}
    assert all(i > 0 for ids in full.values() for i in ids)  # no OOV now


def test_balanced_sample_by_centroid_caps_cells(spark):
    """Every cell respects the cap; assignment goes to the NEAREST
    centroid (vectors planted at a centroid's exact location join it)."""
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        balanced_sample_by_centroid,
    )

    # two tight clusters around (0,0) and (10,10); cluster A oversized
    rows = [(i, [0.0 + (i % 3) * 0.001, 0.0], 0) for i in range(30)]
    rows += [(100 + i, [10.0, 10.0 + (i % 2) * 0.001], 1) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = balanced_sample_by_centroid(df, "vec_id", "embedding", "label", cap=8).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    assert len(by_cell[0]) == 8  # oversized cluster truncated to cap
    assert len(by_cell[1]) == 5  # small cluster survives whole
    # assignment is by distance: all vec_id < 100 land in cell 0
    for r in out:
        assert (r["cell"] == 0) == (r["vec_id"] < 100)
        assert 1 <= r["rank"] <= 8
    # deterministic across runs/layouts
    again = balanced_sample_by_centroid(
        df.repartition(7), "vec_id", "embedding", "label", cap=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_open_or_none_and_now_bucket(spark, tmp_path):
    """S9 file-or-none loader + P9 current-time bucket (the two
    remaining untested reference helpers)."""
    import time

    from spark_streaming_kafka_bucket_counter_spark.functions.buckets import (
        bucket_now_epoch,
    )
    from spark_streaming_kafka_bucket_counter_spark.sources.files import open_or_none

    assert open_or_none(None) is None
    assert open_or_none("") is None
    p = tmp_path / "f.txt"
    p.write_text("payload")
    assert open_or_none(str(p)) == "payload"

    before = int(time.time())
    start = spark.range(1).select(bucket_now_epoch(20).alias("bs")).collect()[0]["bs"]
    after = int(time.time())
    assert start % 20 == 0
    assert start <= after and start + 20 > before  # bucket overlaps now


def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct values must report the exact
    count (the estimator only engages at >= k)."""
    df = spark.createDataFrame(
        [("a", i % 5) for i in range(50)] + [("b", i) for i in range(200)],
        "g string, v long",
    )
    got = {r["g"]: (r["n_kept"], r["estimate"]) for r in kmv_distinct(df, ["g"], "v", k=64).collect()}
    assert got["a"] == (5, 5.0)
    n_kept, est = got["b"]
    assert n_kept == 64
    assert 100 <= est <= 400  # unbiased-ish estimate of 200 within 2x


# ---------------------------------------------------------------------------
# Interval-point range join (operators/ranges.py)
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from spark_streaming_kafka_bucket_counter_spark.operators.ranges import (  # noqa: E402
    interval_count_join,
    interval_count_prefix,
)

_RANGE_IMPLS = [interval_count_join, interval_count_prefix]


def _icj(impl, spark, intervals, points, width):
    iv = spark.createDataFrame(intervals, "iid long, s long, e long")
    pt = spark.createDataFrame([(p,) for p in points], "ts long")
    rows = impl(
        iv, pt, "s", "e", "ts", id_cols=["iid"], bucket_width=width, count_alias="n"
    ).collect()
    return {r["iid"]: r["n"] for r in rows}


@pytest.mark.parametrize("impl", _RANGE_IMPLS)
def test_interval_count_boundaries_and_zeroes(spark, impl):
    # [10, 20): 10 in, 19 in, 20 out; [0, 5): empty but KEPT with 0;
    # [30, 30): degenerate, kept with 0; bucket width forces straddling
    got = _icj(
        impl,
        spark,
        [(1, 10, 20), (2, 0, 5), (3, 30, 30)],
        [9, 10, 15, 19, 20, 25],
        width=7,  # [10,20) straddles buckets 1..2
    )
    assert got == {1: 3, 2: 0, 3: 0}


@pytest.mark.parametrize("impl", _RANGE_IMPLS)
def test_interval_count_each_point_once_across_buckets(spark, impl):
    # interval spanning many buckets: every in-range point counted exactly once
    got = _icj(impl, spark, [(1, 0, 100)], list(range(0, 120, 10)), width=8)
    assert got == {1: 10}


@pytest.mark.parametrize("impl", _RANGE_IMPLS)
def test_interval_count_overlapping_intervals_independent(spark, impl):
    got = _icj(impl, spark, [(1, 0, 50), (2, 25, 75)], [10, 30, 40, 60], width=50)
    assert got == {1: 3, 2: 3}


@pytest.mark.parametrize("impl", _RANGE_IMPLS)
def test_interval_count_out_of_range_and_empty_points(spark, impl):
    # intervals entirely before / after all points, and straddling the edge
    got = _icj(
        impl,
        spark,
        [(1, 0, 10), (2, 900, 950), (3, 95, 205)],
        [100, 150, 200],
        width=30,
    )
    assert got == {1: 0, 2: 0, 3: 3}
    # no points at all
    got = _icj(impl, spark, [(1, 0, 10)], [], width=30)
    assert got == {1: 0}


# ---------------------------------------------------------------------------
# Sliding (hopping) window counts (operators/count.py)
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from spark_streaming_kafka_bucket_counter_spark.operators.count import (  # noqa: E402
    sliding_bucket_count,
)


def test_sliding_bucket_count_membership(spark):
    # one event at t=65 with window 60 slide 20 -> exactly 3 windows:
    # starts 20, 40, 60 (start <= 65 < start + 60, start % 20 == 0)
    df = spark.createDataFrame([(65, "a")], "ts long, k string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    rows = sliding_bucket_count(df, ["k"], "ts", window=60, slide=20).collect()
    got = {(r["bucket_start"], r["bucket_end"], r["count"]) for r in rows}
    assert got == {(20, 80, 1), (40, 100, 1), (60, 120, 1)}


def test_sliding_bucket_count_aggregates_within_window(spark):
    df = spark.createDataFrame(
        [(0, "a"), (5, "a"), (25, "a"), (5, "b")], "ts long, k string"
    )
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    rows = sliding_bucket_count(df, ["k"], "ts", window=40, slide=20).collect()
    got = {(r["k"], r["bucket_start"], r["count"]) for r in rows}
    # window starting at 0 holds a@0, a@5, a@25 and b@5
    assert ("a", 0, 3) in got and ("b", 0, 1) in got
    # window starting at 20 holds only a@25
    assert ("a", 20, 1) in got and ("b", 20, 1) not in got


def test_sliding_bucket_count_rejects_misaligned_slide(spark):
    df = spark.createDataFrame([(0, "a")], "ts long, k string")
    with pytest.raises(ValueError):
        sliding_bucket_count(df, ["k"], "ts", window=50, slide=20)


# ---------------------------------------------------------------------------
# Unigram LM scoring (operators/quality.py)
# ---------------------------------------------------------------------------

from spark_streaming_kafka_bucket_counter_spark.operators.quality import (  # noqa: E402
    unigram_logprob,
)


def test_unigram_logprob_hand_check(spark):
    # corpus: "x x x y" -> T=4, cnt(x)=3, cnt(y)=1
    # doc 1 = "x x x": nll = log2(4) - log2(3) = 2 - 1.584962...
    # doc 2 = "y":     nll = log2(4) - log2(1) = 2.0
    import math

    df = spark.createDataFrame([(1, "x x x"), (2, "y")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert rows[1]["n_tokens"] == 3 and rows[2]["n_tokens"] == 1
    assert rows[2]["nll_bits"] == 2.0
    assert abs(rows[1]["nll_bits"] - (2 - math.log2(3))) < 1e-6


# ---------------------------------------------------------------------------
# Document chunking (operators/packing.py)
# ---------------------------------------------------------------------------

from spark_streaming_kafka_bucket_counter_spark.operators.packing import (  # noqa: E402
    chunk_documents,
)


def test_chunk_documents_stride_and_tail(spark):
    # 10 tokens, chunk 4, overlap 2 -> stride 2: starts 0,2,4,6,8
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_idx"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, "doc_id", "text", 4, 2).collect()
    )
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0] == (0, 4, "t0 t1 t2 t3")
    assert rows[1][2] == "t2 t3 t4 t5"  # overlap of 2 with previous
    assert rows[4] == (4, 2, "t8 t9")  # short tail kept


def test_chunk_documents_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, "doc_id", "text", 8, 2).collect()
    got = {(r["doc_id"], r["chunk_idx"], r["n_tokens"]) for r in rows}
    # doc 1: one short chunk; docs 2/3 (no tokens): no chunks
    assert got == {(1, 0, 3)}


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", 4, 4)


# ---------------------------------------------------------------------------
# BM25 (operators/search.py)
# ---------------------------------------------------------------------------

from spark_streaming_kafka_bucket_counter_spark.operators.search import bm25_topk  # noqa: E402


def test_bm25_ranks_term_matches_first(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),      # 2x apple
            (2, "apple cherry"),            # 1x apple
            (3, "banana cherry date"),      # no query terms
            (4, "apple apple apple apple"), # 4x apple, longer repeats
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(df, "doc_id", "text", ["apple"], top_k=10).collect()
    by_rank = [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert 3 not in {r["doc_id"] for r in rows}  # non-matching doc absent
    assert by_rank[0] == 4 and set(by_rank) == {1, 2, 4}
    # hand-check doc 2's score: N=4, df=3, idf=ln((4-3+.5)/(3+.5)+1)
    # tf=1, dl=2, avgdl=12/4=3 -> w = idf*(1*2.2)/(1+1.2*(1-.75+.75*2/3))
    idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1)
    w = idf * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 2 / 3))
    d2 = next(r for r in rows if r["doc_id"] == 2)
    assert abs(d2["score"] - w) < 1e-6


def test_hybrid_rrf_fusion_semantics(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.search import hybrid_rrf

    lex = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    sem = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank long")
    rows = {r["doc_id"]: r for r in hybrid_rrf(lex, sem, "doc_id", k=10, top_k=10).collect()}
    # doc 2 in both lists: 1/12 + 1/11; docs 1 and 3 single-system
    assert abs(rows[2]["rrf_score"] - (1 / 12 + 1 / 11)) < 1e-6
    assert abs(rows[1]["rrf_score"] - 1 / 11) < 1e-6
    assert abs(rows[3]["rrf_score"] - 1 / 12) < 1e-6
    assert rows[2]["rank"] == 1                      # both systems -> top
    assert rows[1]["rank"] == 2 and rows[3]["rank"] == 3  # 1/11 > 1/12
    assert rows[1]["sem_rank"] is None and rows[3]["lex_rank"] is None


def test_cm_sketch_never_undercounts(spark):
    """CM estimates are exact-or-over for EVERY key (one-sided error),
    the sketch is exactly depth*width counters at most, and depth > 4
    (more rows than md5 slices) must be rejected."""
    import pytest
    from pyspark.sql import functions as F

    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        cm_estimate,
        cm_sketch,
    )

    rows = [(f"k{i % 7}",) for i in range(100)] + [("rare",)]
    df = spark.createDataFrame(rows, "k string")
    sk = cm_sketch(df, "k", depth=4, width=16)  # tiny width -> collisions
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    probes = spark.createDataFrame([(k,) for k in exact], "k string")
    est = {
        r["k"]: r["cm_count"]
        for r in cm_estimate(sk, probes, "k", depth=4, width=16).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    assert sk.count() <= 4 * 16
    # total per row equals stream length (counters partition the stream)
    per_row = {r["row"]: r["s"] for r in sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()}
    assert all(v == 101 for v in per_row.values())
    with pytest.raises(ValueError):
        cm_sketch(df, "k", depth=5)


def test_label_propagation_triangle_absorbs_chain(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.graph import (
        label_propagation,
    )

    # triangle {1,2,3} + pendant chain 3-4: the triangle's min label
    # dominates and propagates outward within 4 rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, "src", "dst", iterations=4).collect()
    }
    assert got[2] == 1 and got[3] == 1
    assert set(got) == {1, 2, 3, 4}


def test_label_propagation_tie_breaks_to_min_label(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.graph import (
        label_propagation,
    )

    # node 5's neighbors {1, 9} each contribute one label -> tie -> min
    edges = spark.createDataFrame([(1, 5), (9, 5)], "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, "src", "dst", iterations=1).collect()
    }
    assert got[5] == 1


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        bootstrap_mean_ci,
    )

    rows = [(i, "a", float(100 + (i % 7))) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    val = F.round(F.col("value") * F.lit(10000)).cast("long")
    r1 = bootstrap_mean_ci(df, "event_type", "event_id", val).collect()
    r2 = bootstrap_mean_ci(df, "event_type", "event_id", val).collect()
    assert r1 == r2  # deterministic: no rand() anywhere
    (row,) = r1
    assert row["lo_e4"] <= row["mean_e4"] <= row["hi_e4"]
    assert row["n"] == 200
    # band is tight for a low-variance sample: within 5% of the mean
    assert row["hi_e4"] - row["lo_e4"] < row["mean_e4"] // 20


def test_label_propagation_empty_edges_empty_result(spark):
    from spark_streaming_kafka_bucket_counter_spark.operators.graph import (
        label_propagation,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    out = label_propagation(empty, "src", "dst")
    assert out.count() == 0 and out.columns == ["node", "community"]


def test_connected_components_mega_hub(spark):
    """A 5000-leaf hub (the shape a viral boilerplate template produces)
    must converge in a couple of rounds and label everything with the
    hub component — the skew case AQE has to split, not a window."""
    edges = [(0, i) for i in range(1, 5001)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    cc = connected_components(df)
    assert cc.filter(F.col("component") != 0).count() == 0
    assert cc.count() == 5001
    # cadence-2 convergence checks can add one identity round past the
    # ~2-round fixpoint before detecting it (graph.py check_every)
    assert connected_components.last_n_rounds <= 4


def test_label_centroids_halfway_mean_is_engine_exact(spark, duck):
    """The centroid mean must be rounded half-away IN INTEGER arithmetic:
    a double ROUND(x, 6) disagrees between Spark (BigDecimal HALF_UP)
    and DuckDB on half-way mantissas — found by the cross-distribution
    sweep as a 1-ulp mismatch that flipped a nearest-cell assignment.
    Pin exact half-way cases, both signs, and Spark/DuckDB equality."""
    from spark_streaming_kafka_bucket_counter_spark.operators.similarity import (
        label_centroids,
        label_centroids_sql,
    )

    # S/n in 1e-6 units: (5, 2) -> 2.5 -> 3 (half-away); (-5, 2) -> -3;
    # (3, 2) -> 1.5 -> 2; plain cases stay exact
    rows = [
        (0, [2e-6, 3e-6]),   # dim0 S=5,n=2 -> 2.5 -> 3
        (0, [3e-6, -8e-6]),  # dim1 S=-5 -> -2.5 -> -3
        (1, [1e-6, 7e-6]),
        (1, [2e-6, 7e-6]),   # dim0 S=3 -> 1.5 -> 2; dim1 exact 7
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    got = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, "label", "embedding").collect()
    }
    assert got[(0, 0)] == 3e-6 and got[(0, 1)] == -3e-6
    assert got[(1, 0)] == 2e-6 and got[(1, 1)] == 7e-6

    duck.execute("CREATE OR REPLACE TABLE _ctr AS SELECT * FROM (VALUES "
                 "(0, [2e-6, 3e-6]), (0, [3e-6, -8e-6]), "
                 "(1, [1e-6, 7e-6]), (1, [2e-6, 7e-6])) t(label, embedding)")
    oracle = {
        (r[0], r[1]): r[3]
        for r in duck.execute(
            label_centroids_sql("_ctr", "label", "embedding", 2)
        ).fetchall()
    }
    assert oracle == {k: got[k] for k in oracle}
    duck.execute("DROP TABLE _ctr")


def test_fixed_point_overflow_is_loud(spark, duck):
    """Out-of-domain embedding components (|x|*scale >= 2^63, i.e.
    corrupted input) must FAIL LOUDLY in both engines, never wrap
    silently — found by the edge-case sweep feeding a 1e30 component
    into the fixed-point snap."""
    import pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from spark_streaming_kafka_bucket_counter_spark.operators.clustering import (
        kmeans_lloyd,
    )

    df = spark.createDataFrame(
        [(0, [1e30, 0.0]), (1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        kmeans_lloyd(df, "vec_id", "embedding", k=1, iters=1).collect()

    with pytest.raises(Exception, match="[Oo]ut of [Rr]ange|[Cc]onversion|overflow"):
        duck.execute(
            "SELECT CAST(ROUND(1e30 * 1000000) AS BIGINT)"
        ).fetchall()


def test_hll_registers_merge_by_max(spark):
    """HLL's defining property: registers of a union = element-wise max
    of the shards' registers (mergeable across shards/streams/days)."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        hll_registers,
    )

    a = spark.range(0, 4000).selectExpr("CAST(id AS STRING) AS v")
    b = spark.range(3000, 9000).selectExpr("CAST(id AS STRING) AS v")
    whole = {
        r["bucket"]: r["max_rho"]
        for r in hll_registers(a.union(b), "v").collect()
    }
    ra = {r["bucket"]: r["max_rho"] for r in hll_registers(a, "v").collect()}
    rb = {r["bucket"]: r["max_rho"] for r in hll_registers(b, "v").collect()}
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == whole


def test_hll_estimate_accuracy_and_insensitivity(spark):
    """Raw estimate within ~3 sigma (3 * 1.04/sqrt(512) ~= 13.8%) of
    the true cardinality in HLL's sweet spot, and invariant to
    duplication (cardinality, not count)."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        hll_cardinality,
    )

    df = spark.range(0, 20000).selectExpr("CAST(id * 37 AS STRING) AS v")
    row = hll_cardinality(df, "v").collect()[0]
    assert row["n_exact"] == 20000
    assert abs(row["est_floor"] - 20000) / 20000 < 0.138
    dup = df.union(df).union(df)
    row2 = hll_cardinality(dup, "v").collect()[0]
    assert row2["est_floor"] == row["est_floor"]
    assert row2["s_scaled"] == row["s_scaled"]


def test_theta_set_ops_small_sides_exact(spark):
    """Below k both sides are exact samples (theta = full space), so the
    estimates ARE the true counts."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        kmv_set_ops,
    )
    from pyspark.sql import functions as F

    rows = [("a", str(i)) for i in range(40)] + [
        ("b", str(i)) for i in range(20, 70)
    ]
    df = spark.createDataFrame(rows, ["t", "v"])
    got = kmv_set_ops(
        df, F.col("t") == "a", F.col("t") == "b", "v", k=256
    ).collect()[0]
    assert got["n_inter_exact"] == 20 and got["n_union_exact"] == 70
    assert got["theta_scaled"] == 1 << 32
    assert got["inter_kept"] == 20 and got["union_kept"] == 70
    assert got["inter_est"] == 20.0 and got["union_est"] == 70.0
    assert abs(got["jaccard_est"] - round(20 / 70, 6)) < 1e-9


def test_theta_set_ops_estimates_track_truth(spark):
    """Above k the estimates stay within ~3 sigma (~= 3/sqrt(k)) of the
    true union/intersection in the sketch's operating range."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        kmv_set_ops,
    )
    from pyspark.sql import functions as F

    na, nb, overlap = 8000, 6000, 2000
    rows = [("a", str(i)) for i in range(na)] + [
        ("b", str(i)) for i in range(na - overlap, na - overlap + nb)
    ]
    df = spark.createDataFrame(rows, ["t", "v"])
    got = kmv_set_ops(
        df, F.col("t") == "a", F.col("t") == "b", "v", k=256
    ).collect()[0]
    n_union = na + nb - overlap
    assert got["n_union_exact"] == n_union
    assert got["n_inter_exact"] == overlap
    assert abs(got["union_est"] - n_union) / n_union < 3 / (256 ** 0.5)
    # the intersection estimator's error scales with union/inter ratio;
    # allow a wider (documented) band
    assert abs(got["inter_est"] - overlap) / overlap < 0.5


def test_theta_set_ops_overlapping_predicates(spark):
    """A row satisfying BOTH predicates must feed BOTH sketches, and
    values outside either predicate must not inflate the exact union
    (r9 review catches)."""
    from spark_streaming_kafka_bucket_counter_spark.operators.sketches import (
        kmv_set_ops,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, 5, "u1"),   # clicked AND spend: in A and B via ONE row
        (1, 0, "u2"),   # A only
        (0, 7, "u3"),   # B only
        (0, 0, "u4"),   # neither: must not count anywhere
    ]
    df = spark.createDataFrame(rows, ["clicked", "spend", "v"])
    got = kmv_set_ops(
        df, F.col("clicked") == 1, F.col("spend") > 0, "v", k=16
    ).collect()[0]
    assert got["n_union_exact"] == 3  # u4 excluded
    assert got["n_inter_exact"] == 1  # u1 via the dual-matching row
    assert got["inter_kept"] == 1 and got["inter_est"] == 1.0
    assert got["union_kept"] == 3 and got["union_est"] == 3.0
