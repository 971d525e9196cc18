"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Beyond-reference scope (BASELINE.json north star). All operators are
DataFrame compositions — hashing via md5 (portable to the DuckDB
oracles), set math via explode + join + groupBy, signatures via
conditional aggregation. No Python UDFs anywhere.

Scale design (the whole point of these ops at 100 TB):
- exact dedup: one hash-shuffle on the fingerprint; Catalyst plans
  partial aggregation so identical docs collapse map-side first.
- n-gram Jaccard: the naive all-pairs O(n^2) comparison is replaced by an
  inverted-index self-join on shingles — only docs *sharing* a shingle
  meet. Ultra-frequent shingles (stop-shingles) blow up the join at
  scale; ``max_shingle_freq`` drops them (standard suppression; unset =
  exact semantics for the oracle).
- MinHash LSH: per-doc signatures via groupBy (one shuffle), then the
  candidate join is on *band* values — O(candidates), not O(n^2); the
  exact Jaccard verify runs only on candidates. Band count / rows-per-
  band tune the recall/cost tradeoff.
- SimHash: a single groupBy producing the signature per doc; near-dup
  candidates join on signature pieces (pigeonhole: split into
  ``max_hamming + 1`` pieces for guaranteed recall — the 64-bit 4-band
  variant; the 16-bit 2-half variant guarantees recall only for
  hamming <= 1 and is kept as the compact recall-tuned recipe).
- embedding cosine: see operators/similarity.py for the bucketed path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint, shingles, tokens
from ..sources.files import fan_out_scan
from ._cache import persist, scope, scoped

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """One row per distinct content: keeper id (min), dup count.

    ``normalized=True`` dedups on the md5 of whitespace/case-normalized
    text (the usual first pass); ``False`` uses the raw text bytes.
    """
    key = md5_fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), key.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of each content group (the actual
    dedup transform used in a pipeline)."""
    w = Window.partitionBy(md5_fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 40,
    stride: int = 10,
    min_count: int = 2,
    hash_keys: bool = False,
) -> DataFrame:
    """ExactSubstr-style duplicated-span measurement (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): slide
    a ``k``-character window over every document at ``stride``, count
    each window's occurrences across the WHOLE corpus (same-doc repeats
    included — internal boilerplate is duplication too), and report per
    document how much of it is made of windows seen >= ``min_count``
    times. The suffix-array pass of the paper finds exact spans; this
    strided-window census is its distributable estimator — the
    per-doc ``dup_ppm`` is the curation signal (drop or trim docs
    dominated by corpus-repeated spans), and stride trades resolution
    for cost (stride = 1 is the exact window census).

    Output: (id, n_windows, n_dup_windows, dup_ppm) — all exact BIGINTs
    (``dup_ppm = n_dup * 1e6 div n_windows``), no float anywhere. Docs
    shorter than ``k`` (and NULL text) emit zeros.

    Scale shape: the window explode is a bounded ~len/stride fan-out of
    the text scan; ONE window-key shuffle builds the census (map-side
    partials), the count joins back to the window stream (AQE
    broadcasts when the distinct-window table fits), and one
    groupBy(doc) folds the verdicts. At 100 TB the window string itself
    never needs to shuffle twice: ``hash_keys=True`` (r12, VERDICT r11
    ask #2) keys the census on xxhash64(window) — 8-byte keys instead
    of ~40-char strings on BOTH shuffles (census groupBy + count
    join-back), ~5x less shuffle wire at the default k=40, same plan
    shape and (collision-free in practice: 64-bit keys) identical
    output — pinned by ``test_char_census_hash_keys_parity``. The
    raw-string default keeps the DuckDB twin byte-exact (DuckDB has no
    xxhash64).
    """
    if k < 1 or stride < 1 or min_count < 1:
        raise ValueError(
            f"k, stride, min_count must be >= 1: {k}, {stride}, {min_count}"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    poss = F.when(
        n >= k, F.sequence(F.lit(0), n - k, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    win_expr = F.transform(poss, lambda p: t.substr(p + F.lit(1), F.lit(k)))
    if hash_keys:
        win_expr = F.transform(win_expr, lambda w: F.xxhash64(w))
    # window slicing is scan-stage narrow work — fan the narrow (id,
    # text) input out so it parallelizes on small inputs (no-op at scale)
    wins = fan_out_scan(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(win_expr).alias("_w")
    )
    freq = wins.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = (
        wins.join(freq, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(F.col("_c") >= min_count, 1).otherwise(0)
            ).alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
                F.expr("n_dup_windows * 1000000 div n_windows"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def substring_dup_spans_sql(
    corpus_cte: str,
    id_col: str,
    text_col: str,
    k: int = 40,
    stride: int = 10,
    min_count: int = 2,
) -> str:
    """DuckDB twin of :func:`substring_dup_spans` — identical window
    positions (0-based starts, inclusive stop at len-k), character (not
    byte) semantics in both engines, exact integer output. Emits an
    ``ss`` CTE chain; select from ``ss``."""
    return f"""
    ss_doc AS (SELECT {id_col}, COALESCE({text_col}, '') AS t FROM {corpus_cte}),
    ss_win AS (SELECT {id_col}, substr(t, CAST(p + 1 AS INT), {k}) AS _w
               FROM ss_doc,
                    LATERAL (SELECT unnest(generate_series(0, len(t) - {k}, {stride})) AS p) _p
               WHERE len(t) >= {k}),
    ss_freq AS (SELECT _w, COUNT(*) AS _c FROM ss_win GROUP BY 1),
    ss_per AS (SELECT w.{id_col}, COUNT(*) AS n_windows,
                      SUM(CASE WHEN f._c >= {min_count} THEN 1 ELSE 0 END) AS n_dup_windows
               FROM ss_win w JOIN ss_freq f USING (_w) GROUP BY 1),
    ss AS (
      SELECT c.{id_col},
             CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
             CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
             CAST(CASE WHEN COALESCE(p.n_windows, 0) > 0
                       THEN p.n_dup_windows * 1000000 // p.n_windows
                       ELSE 0 END AS BIGINT) AS dup_ppm
      FROM {corpus_cte} c LEFT JOIN ss_per p USING ({id_col}))"""


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 40,
    stride: int = 10,
    min_count: int = 2,
    min_doc_len: int = 0,
    hash_keys: bool = False,
) -> DataFrame:
    """ExactSubstr span TRIM — the *transform* companion to
    :func:`substring_dup_spans` (which only measures): Lee et al. 2022
    §4's actual dedup step, re-expressed over the strided window
    census. Every window occurring >= ``min_count`` times corpus-wide
    marks its ``[pos, pos+k)`` char range as duplicated; per document,
    overlapping/adjacent duplicated ranges coalesce into MAXIMAL spans
    (gaps-and-islands on the strided positions — pure window
    functions, no UDF), the spans are cut, and the surviving segments
    are reassembled in order. ``min_doc_len > 0`` drops documents whose
    trimmed text falls below the floor (a doc that was mostly
    corpus-duplicated boilerplate is not worth keeping — the paper
    drops them rather than train on fragments).

    Output: (id, trimmed_text, n_cut_chars, n_spans) — one row per
    surviving document; untouched docs (no duplicated window, or
    shorter than ``k``) pass through with zeros. NULL text is treated
    as ''.

    Scale shape: the census half is exactly :func:`substring_dup_spans`
    (one bounded ~len/stride explode, ONE window-key shuffle — 8-byte
    xxhash64 keys under ``hash_keys=True``, see the census docstring);
    the trim half adds only per-document work: the gaps-and-islands
    window and the segment reassembly partition by the doc id, so
    state per task is one document's strided positions (~len/stride
    rows), never corpus-sized. Reassembly is array_sort + transform +
    array_join over at most n_spans+1 substrings — JVM-side, driver
    untouched.

    Reference: beyond-reference scope (BASELINE.json north star);
    census semantics shared with substring_dup_spans above.
    """
    if k < 1 or stride < 1 or min_count < 1 or min_doc_len < 0:
        raise ValueError(
            f"k, stride, min_count must be >= 1 and min_doc_len >= 0: "
            f"{k}, {stride}, {min_count}, {min_doc_len}"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    # fanned for the same reason as the census above (no-op at scale);
    # base feeds both the window stream and the final reassembly join
    base = fan_out_scan(df.select(F.col(id_col), t.alias("_t")), id_col)
    n = F.length("_t")
    poss = F.when(
        n >= k, F.sequence(F.lit(0), n - k, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    win = F.col("_t").substr(F.col("_p") + F.lit(1), F.lit(k))
    wins = base.select(
        F.col(id_col), F.col("_t"), F.explode(poss).alias("_p")
    ).select(
        F.col(id_col),
        F.col("_p"),
        (F.xxhash64(win) if hash_keys else win).alias("_w"),
    )
    freq = wins.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    dup = (
        wins.join(freq, "_w")
        .filter(F.col("_c") >= min_count)
        .select(id_col, "_p")
    )
    # gaps-and-islands: a duplicated position opens a NEW span iff it
    # starts past every earlier duplicated window's end (running max of
    # _p + k over preceding rows); islands = running sum of span-opens
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = dup.withColumn(
        "_new",
        F.when(
            F.col("_p")
            > F.coalesce(F.max(F.col("_p") + k).over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(w_run))
    spans = isl.groupBy(id_col, "_isl").agg(
        F.min("_p").alias("_s"), (F.max("_p") + k).alias("_e")
    )
    # kept segment BEFORE each span: (prev span end, this span start);
    # spans are disjoint and ordered by construction so lag(_e) works
    w_span = Window.partitionBy(id_col).orderBy("_s")
    segs = spans.withColumn(
        "_pe", F.coalesce(F.lag("_e").over(w_span), F.lit(0))
    )
    cuts = segs.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("_s", "_pe"))).alias("_cuts"),
        F.max("_e").alias("_last_e"),
        F.sum(F.col("_e") - F.col("_s")).cast("long").alias("n_cut_chars"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    joined = base.join(cuts, id_col, "left")
    trimmed = F.when(F.col("_last_e").isNull(), F.col("_t")).otherwise(
        F.concat(
            F.array_join(
                F.transform(
                    F.col("_cuts"),
                    lambda x: F.col("_t").substr(
                        x["_pe"] + F.lit(1), x["_s"] - x["_pe"]
                    ),
                ),
                "",
            ),
            F.col("_t").substr(
                F.col("_last_e") + F.lit(1),
                F.length("_t") - F.col("_last_e"),
            ),
        )
    )
    out = joined.select(
        F.col(id_col),
        trimmed.alias("trimmed_text"),
        F.coalesce("n_cut_chars", F.lit(0)).cast("long").alias("n_cut_chars"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
    )
    if min_doc_len > 0:
        out = out.filter(F.length("trimmed_text") >= min_doc_len)
    return out


def trim_duplicate_spans_sql(
    corpus_cte: str,
    id_col: str,
    text_col: str,
    k: int = 40,
    stride: int = 10,
    min_count: int = 2,
    min_doc_len: int = 0,
) -> str:
    """DuckDB twin of :func:`trim_duplicate_spans` — identical census
    positions, the same gaps-and-islands coalescing via window
    functions, and segment reassembly via ordered string_agg. Emits a
    ``td`` CTE chain; select from ``td``."""
    floor_pred = (
        f"WHERE len(trimmed_text) >= {min_doc_len}" if min_doc_len > 0 else ""
    )
    return f"""
    td_doc AS (SELECT {id_col}, COALESCE({text_col}, '') AS t FROM {corpus_cte}),
    td_win AS (SELECT {id_col}, p, substr(t, CAST(p + 1 AS INT), {k}) AS _w
               FROM td_doc,
                    LATERAL (SELECT unnest(generate_series(0, len(t) - {k}, {stride})) AS p) _p
               WHERE len(t) >= {k}),
    td_freq AS (SELECT _w, COUNT(*) AS _c FROM td_win GROUP BY 1),
    td_dup AS (SELECT {id_col}, p FROM td_win JOIN td_freq USING (_w)
               WHERE _c >= {min_count}),
    td_pre AS (SELECT {id_col}, p,
                      COALESCE(MAX(p + {k}) OVER (
                        PARTITION BY {id_col} ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS prev_end
               FROM td_dup),
    td_isl AS (SELECT {id_col}, p,
                      SUM(CASE WHEN p > prev_end THEN 1 ELSE 0 END) OVER (
                        PARTITION BY {id_col} ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM td_pre),
    td_span AS (SELECT {id_col}, isl, MIN(p) AS s, MAX(p) + {k} AS e
                FROM td_isl GROUP BY 1, 2),
    td_seg AS (SELECT {id_col}, s, e,
                      COALESCE(LAG(e) OVER (PARTITION BY {id_col} ORDER BY s), 0) AS pe
               FROM td_span),
    td_cut AS (SELECT g.{id_col},
                      string_agg(substr(d.t, CAST(g.pe + 1 AS INT),
                                        CAST(g.s - g.pe AS INT)), '' ORDER BY g.s) AS head,
                      MAX(g.e) AS last_e,
                      CAST(SUM(g.e - g.s) AS BIGINT) AS n_cut_chars,
                      CAST(COUNT(*) AS BIGINT) AS n_spans
               FROM td_seg g JOIN td_doc d USING ({id_col})
               GROUP BY 1),
    td AS (
      SELECT * FROM (
        SELECT d.{id_col},
               CASE WHEN c.last_e IS NULL THEN d.t
                    ELSE c.head || substr(d.t, CAST(c.last_e + 1 AS INT)) END AS trimmed_text,
               CAST(COALESCE(c.n_cut_chars, 0) AS BIGINT) AS n_cut_chars,
               CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_spans
        FROM td_doc d LEFT JOIN td_cut c USING ({id_col})) {floor_pred})"""


def drop_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 12,
    max_occurrences: int = 2,
) -> DataFrame:
    """LINE-level global dedup (round 7) — the RefinedWeb/C4 boilerplate
    cut that document-level dedup cannot make: cookie banners,
    subscribe prompts, nav footers and license blocks repeat across
    MILLIONS of otherwise-unique pages, and they survive page-level
    near-dup while poisoning the training mix. Rule: a line of at least
    ``min_chars`` characters occurring more than ``max_occurrences``
    times across the corpus is removed from EVERY document; short lines
    are exempt (list bullets and headings legitimately repeat).

    Output per document: ``n_lines``, ``n_removed``, and ``text_clean``
    (surviving lines rejoined in original order; empty when everything
    was boilerplate). NULL text counts as one empty line and passes
    through unchanged.

    Scale shape: one groupBy shuffle on the line value builds the
    corpus frequency table; the hot-line set that survives the HAVING
    is boilerplate by definition — tiny relative to the corpus — so AQE
    turns the exclusion join into a broadcast (not forced here: a
    pathological corpus where most lines repeat must not OOM the
    driver); reconstruction is one groupBy on the document id with an
    ``array_sort`` on (position, line) structs restoring original
    order. No Python anywhere."""
    lines = doc_lines(df, id_col, text_col)
    hot = (
        lines.filter(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_n_occ"))
        .filter(F.col("_n_occ") > max_occurrences)
        .select("line")
    )
    return rebuild_without_lines(lines, hot, id_col)


def doc_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, pos, line)`` rows — NULL text is one empty line."""
    return fan_out_scan(df.select(id_col, text_col), id_col).select(
        id_col,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )


def rebuild_without_lines(
    lines: DataFrame, hot: DataFrame, id_col: str
) -> DataFrame:
    """Drop every occurrence of the ``hot`` line set from the exploded
    ``(id, pos, line)`` rows and rebuild per-doc text in original order."""
    kept = (
        lines.join(hot.select("line", F.lit(1).alias("_hot")), "line", "left")
        .filter(F.col("_hot").isNull())
        .drop("_hot")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.col("n_lines").cast("long").alias("n_lines"),
        (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


def drop_duplicates_keep_best(
    df: DataFrame, id_col: str, text_col: str, score_col: str
) -> DataFrame:
    """Exact dedup keeping the BEST row of each content group — the
    curation keep-rule (keep the highest-quality / longest version of a
    duplicated document) instead of the arbitrary min-id keeper.

    Ties on the score fall back to min id (total order — deterministic
    across engines). Same single-shuffle window shape as
    :func:`drop_exact_duplicates`; only the ORDER BY changes."""
    w = Window.partitionBy(md5_fingerprint(F.col(text_col))).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, max_shingle_freq: int | None = None
) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index rows.

    ``max_shingle_freq`` drops shingles present in more than that many
    docs (scale-path stop-shingle suppression).
    """
    # Materialize the token array before the shingle HOF: interpreted
    # lambdas re-evaluate inline sub-expressions per element, so
    # shingles(tokens(text)) would re-tokenize O(tokens) times per row.
    # Fan the narrow (id, text) projection out first (r12): tokenize +
    # shingle + explode all live in the scan stage, which arrives as one
    # task on small inputs (no-op at scale — see fan_out_scan).
    base = fan_out_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt")), "doc"
    )
    sh = (
        base.select("doc", tokens(F.col("_txt")).alias("_tok"))
        .select("doc", F.explode(F.array_distinct(shingles(F.col("_tok"), k))).alias("shingle"))
    )
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(freq.filter(F.col("_df") <= max_shingle_freq), "shingle")
            .drop("_df")
        )
    return sh


@scoped
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-k-gram Jaccard >= threshold.

    Inverted-index join: pairs materialize only for docs sharing >=1
    shingle. Output: doc_a < doc_b, intersection/set sizes (exact ints),
    jaccard (one IEEE division).
    """
    sh = doc_shingles(df, id_col, text_col, k, max_shingle_freq)
    # The inverted index feeds both the sizes agg and the pair join —
    # materialize it once at scale (size-gated r13: locally the
    # exploded shingle frame is cheaper to recompute than to cache).
    sh = persist(sh, source=df)
    return _jaccard_pairs_from_shingles(sh, threshold)


def _jaccard_pairs_from_shingles(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard pairs from a (doc, shingle) inverted index — the
    shared truth computation of :func:`ngram_jaccard_pairs` and
    :func:`minhash_lsh_eval` (caller owns persistence of ``sh``)."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_shingles": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n_shingles": "size_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


@scoped
def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.75,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """DIRECTED near-dup pairs by shingle containment
    ``|A ∩ B| / |A| >= threshold`` — ``doc_a`` is the (near-)contained
    document. Catches sub-document duplication that symmetric Jaccard
    dilutes: a paragraph pasted into a much longer page has tiny Jaccard
    (union is page-sized) but containment ~1 from the paragraph's side.
    The standard curation rule drops/flags the contained doc when the
    container survives.

    Shape: the same inverted-index join as :func:`ngram_jaccard_pairs`
    (one undirected intersection per co-shingled pair — pairs only
    materialize for docs sharing >= 1 surviving shingle, with
    ``max_shingle_freq`` as the stop-shingle cap), then both directions
    are projected from that single intersection — no second join. The
    division is one IEEE op over exact integers, bit-identical across
    engines.

    Output: (doc_a, doc_b, n_common, size_a, size_b, containment),
    emitted once per direction that clears the threshold.
    """
    sh = persist(doc_shingles(df, id_col, text_col, k, max_shingle_freq), source=df)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    both = (
        inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "n_shingles": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "n_shingles": "size_b"}), "doc_b")
    )
    directed = both.select(
        "doc_a", "doc_b", "n_common", "size_a", "size_b",
        (F.col("n_common").cast("double") / F.col("size_a")).alias("containment"),
    ).unionByName(
        both.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "n_common",
            F.col("size_b").alias("size_a"),
            F.col("size_a").alias("size_b"),
            (F.col("n_common").cast("double") / F.col("size_b")).alias("containment"),
        )
    )
    return directed.filter(F.col("containment") >= threshold)


@scoped
def drop_contained_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.75,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """The end-to-end containment DEDUP transform: drop every document
    that is (near-)contained in a STRICTLY LARGER document — equal-size
    mutual containments (clones) keep the MIN id, matching the
    exact-dedup keep rule.

    Greedy single pass: a doc is dropped when ANY qualifying container
    exists, independent of whether that container itself survives —
    deterministic without iterating. For EXACT containment chains
    (A ⊂ B ⊂ C) this agrees with the iterative answer: A's shingles are
    a subset of C's, so the A–C pair exists and A stays dropped even
    though B is too. For NEAR-containment (threshold < 1) the greedy
    rule can drop a middle doc whose own container is also dropped —
    the standard curation trade (one pass, no fixpoint loop). One
    anti-join of the corpus against the candidates-scale dropped set.
    """
    pairs = containment_pairs(df, id_col, text_col, k, threshold, max_shingle_freq)
    dropped = (
        pairs.filter(
            (F.col("size_b") > F.col("size_a"))
            | ((F.col("size_b") == F.col("size_a")) & (F.col("doc_b") < F.col("doc_a")))
        )
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return df.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Affine MinHash family over ONE base hash (the standard datasketch-style
# construction): h_j(s) = (A_j * h32(s) + B_j) mod P, P = 2^61 - 1.
# One md5 per shingle row instead of num_hashes md5s — measured ~2x on the
# signature stage. Constants sized so A_j * h32 never overflows int64
# (A_j < 2^29, h32 < 2^32 -> product < 2^61).
MINHASH_P = (1 << 61) - 1
_MINHASH_A0 = 0x1E3779B1
_MINHASH_B0 = 0x85EBCA77


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (_MINHASH_A0 + 2 * j, (_MINHASH_B0 * (j + 1)) & 0xFFFFFFFF)
        for j in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: sig_j = MIN over shingles of
    (A_j * h32(shingle) + B_j) mod P.

    The base h32 (md5-derived, engine-portable) is projected ONCE per
    shingle row; each hash in the family is two integer ops on top. MIN is
    algebraic, so Spark computes all ``num_hashes`` mins in ONE
    partial+final groupBy pass (no per-hash shuffle, map-side combine).
    """
    from ..functions.text import token_hash32

    sh = doc_shingles(df, id_col, text_col, k)
    hs = sh.select("doc", token_hash32(F.col("shingle")).alias("_h32"))
    aggs = [
        F.min((F.lit(a) * F.col("_h32") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{j}")
        for j, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return hs.groupBy("doc").agg(*aggs)


@scoped
def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    broadcast_max_docs: int = 100_000,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Signatures are cut into ``bands`` bands of ``num_hashes // bands``
    rows; each band is hashed to a bucket key; docs sharing ANY band
    bucket become candidates (join per band, unioned, distinct). Then the
    exact k-gram Jaccard verifies candidates — so the output is a subset
    of :func:`ngram_jaccard_pairs` (LSH trades recall for never doing the
    all-pairs comparison).

    ``max_shingle_freq`` drops stop-shingles before hashing (the same
    scale control as the exact-Jaccard path). ``broadcast_max_docs``
    gates the verify-stage broadcast: the candidate-doc set is only
    small *while candidates are few* — on a near-dup-heavy corpus it
    grows with N, so past the bound the verify joins fall back to plain
    shuffle hash joins (AQE picks the strategy).
    """
    sh = persist(doc_shingles(df, id_col, text_col, k, max_shingle_freq))
    # shared signature->band stage (one (doc, band_idx, band_key) row
    # per band via explode -> a SINGLE self-join regardless of band
    # count); the cross-corpus path uses the SAME builder, which is what
    # keeps batch and snapshot band keys mutually joinable
    banded = _minhash_banded(sh, num_hashes, bands)
    # read twice downstream (candidate-doc broadcast build + the final
    # pair join) — without the materialization the whole band pipeline
    # re-executes per consumer
    candidates = persist(
        banded.select(F.col("doc").alias("doc_a"), "band", "bk")
        .join(banded.select(F.col("doc").alias("doc_b"), "band", "bk"), ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # Exact-Jaccard verify restricted to candidate docs: semi-join the
    # inverted index down to docs that appear in any candidate pair, then
    # verify each pair directly as a set intersection of the two docs'
    # shingle sets (array_intersect over collect_set) — per-pair cost is
    # O(|set_a| + |set_b|) with NO pair-explosion join and no separate
    # sizes aggregation. Verification cost scales with candidates, not the
    # corpus (the point of LSH).
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # Broadcast only while the candidate-doc set is verifiably small:
    # candidates is already persisted, so this count reuses cached blocks.
    # Past the bound, a plain shuffle join (AQE-decided) replaces the
    # broadcast — an unconditional hint here would ship an O(N) set to
    # every executor on a near-dup-heavy corpus.
    small = cand_docs.count() <= broadcast_max_docs
    hint = F.broadcast if small else (lambda d: d)
    doc_sets = (
        sh.join(hint(cand_docs), "doc")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("sh_set"))
    )
    return (
        candidates.join(
            hint(
                doc_sets.select(F.col("doc").alias("doc_a"), F.col("sh_set").alias("set_a"))
            ),
            "doc_a",
        )
        .join(
            hint(
                doc_sets.select(F.col("doc").alias("doc_b"), F.col("sh_set").alias("set_b"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).cast("long").alias("n_common"),
            F.size("set_a").cast("long").alias("size_a"),
            F.size("set_b").cast("long").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Per-doc SimHash over token multiset (16-bit, md5-derived bit votes).

    For each bit b: vote = SUM over tokens of (bit_b(hash16(token))*2-1);
    signature bit b = 1 iff vote > 0. All-integer, one explode + one
    groupBy; the ``bits`` conditional sums are one aggregation pass.
    """
    from ..functions.text import token_hash16

    tok = fan_out_scan(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).withColumn("h", token_hash16(F.col("token")))
    votes = tok.groupBy("doc").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(1) * 2 - 1).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return votes.select("doc", sig.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, max_hamming: int = 3
) -> DataFrame:
    """CANDIDATE pairs with hamming(simhash) <= max_hamming, from the
    2-half pigeonhole over the 16-bit signature.

    Recall caveat (by construction): splitting into 2 halves guarantees a
    shared exact half only for hamming <= 1. With the default
    ``max_hamming=3``, pairs whose differing bits span BOTH halves are
    not candidates — the output is a candidate SUBSET with guaranteed
    recall only for hamming <= 1. For guaranteed full recall at
    hamming <= 3 use :func:`simhash64_near_pairs` (4 bands = max_hamming
    + 1 pieces, the standard construction). Also note 16-bit halves have
    only 256 distinct values per part — candidate count grows ~N^2/256,
    quadratic at corpus scale; the 64-bit variant's 2^16-value bands are
    the scale path.
    """
    sig = simhash_signatures(df, id_col, text_col, bits)
    half = 1 << (bits // 2)
    # one (doc, part, key) row per half via explode -> a SINGLE self-join
    # on (part, key); both join sides share the signature pipeline's
    # exchange (ReusedExchange), vs the per-half join+union alternative
    # which re-runs the explode+groupBy per branch
    s = sig.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("part"), (F.col("simhash") / half).cast("long").alias("pk")),
                F.struct(F.lit(1).alias("part"), (F.col("simhash") % half).alias("pk")),
            )
        ).alias("p"),
    ).select("doc", "simhash", F.col("p.part").alias("part"), F.col("p.pk").alias("pk"))
    left = s.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a"), "part", "pk")
    right = s.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b"), "part", "pk")
    return (
        left.join(right, ["part", "pk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# 64-bit SimHash (the scale recipe: 4 x 16-bit pigeonhole bands)
# ---------------------------------------------------------------------------

SIMHASH64_PARTS = 4  # bands; full recall guaranteed for hamming <= parts-1


def simhash64_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 64-bit SimHash as 4 x 16-bit parts (columns p0..p3).

    Each part's bit votes come from an independent 16-bit hash carved
    from ONE md5 per token (hex chars [4k+1, 4k+4]) — so the whole
    64-bit signature costs one md5 + 64 conditional integer sums in a
    single groupBy pass (algebraic, map-side partials). Keeping the
    signature as 4 BIGINT parts sidesteps 64-bit sign overflow and IS
    the banding: the parts double as the LSH join keys.
    """
    from ..functions.text import token_hash16_at

    tok = fan_out_scan(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    h = tok.select(
        "doc", *[token_hash16_at(F.col("token"), k).alias(f"_h{k}") for k in range(SIMHASH64_PARTS)]
    )
    votes = h.groupBy("doc").agg(
        *[
            F.sum(F.shiftright(F.col(f"_h{k}"), b).bitwiseAND(1) * 2 - 1).alias(f"v_{k}_{b}")
            for k in range(SIMHASH64_PARTS)
            for b in range(16)
        ]
    )
    parts = []
    for k in range(SIMHASH64_PARTS):
        sig = None
        for b in range(16):
            bit = F.when(F.col(f"v_{k}_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            sig = bit if sig is None else sig + bit
        parts.append(sig.cast("long").alias(f"p{k}"))
    return votes.select("doc", *parts)


def simhash64_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash64) <= max_hamming — FULL
    recall: the signature is split into 4 disjoint 16-bit bands, so any
    pair within hamming <= 3 differs in at most 3 bands and must share
    at least one band exactly (pigeonhole, 4 = max_hamming + 1).

    Scale shape vs the 16-bit variant: band keys take 2^16 values per
    part (not 2^8), so same-key candidate groups shrink ~256x — the
    candidate set stays near-linear where the 16-bit recipe went
    quadratic. One exploded self-join on (band, key) regardless of band
    count; exact hamming verify is 4 bit_counts over the carried parts.
    """
    if max_hamming > SIMHASH64_PARTS - 1:
        raise ValueError(
            f"full recall holds only for max_hamming <= {SIMHASH64_PARTS - 1}"
        )
    sig = simhash64_signatures(df, id_col, text_col)
    pcols = [f"p{k}" for k in range(SIMHASH64_PARTS)]
    s = sig.select(
        "doc",
        *pcols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), F.col(f"p{k}").alias("bk"))
                    for k in range(SIMHASH64_PARTS)
                ]
            )
        ).alias("e"),
    ).select("doc", *pcols, F.col("e.band").alias("band"), F.col("e.bk").alias("bk"))
    left = s.select(
        F.col("doc").alias("doc_a"), *[F.col(p).alias(f"a_{p}") for p in pcols], "band", "bk"
    )
    right = s.select(
        F.col("doc").alias("doc_b"), *[F.col(p).alias(f"b_{p}") for p in pcols], "band", "bk"
    )
    hamming = None
    for p in pcols:
        term = F.bit_count(F.col(f"a_{p}").bitwiseXOR(F.col(f"b_{p}")))
        hamming = term if hamming is None else hamming + term
    return (
        left.join(right, ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *[f"a_{p}" for p in pcols], *[f"b_{p}" for p in pcols])
        .distinct()
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (the constant-space snapshot index)
# ---------------------------------------------------------------------------

# 62 usable bits per BIGINT block: shifts stay < 62 so (1 << bit) never
# touches the sign bit on either engine.
BLOOM_BITS_PER_BLOCK = 62


def _bloom_pos(fp: F.Column, i: int, m_bits: int) -> F.Column:
    """i-th probe position via double hashing over ONE md5: h1 = hex[0:8),
    h2 = hex[8:16) forced odd (Kirsch-Mitzenmacher; odd step so probes
    cycle the whole table). h1 + i*h2 < 2^32 * (i+2) — no int64 overflow
    for any sane k."""
    h1 = F.conv(F.substring(fp, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(fp, 9, 8), 16, 10).cast("long").bitwiseOR(F.lit(1))
    return (h1 + F.lit(i) * h2) % F.lit(m_bits)


def bloom_blocks(
    df: DataFrame, fp_col: str, m_bits: int = 1 << 20, k: int = 5
) -> DataFrame:
    """Build a blocked Bloom filter over a fingerprint column: the
    CONSTANT-SPACE form of the incremental-dedup snapshot index
    (``dedup_incremental``'s exact-fingerprint store grows with the
    corpus; the bloom is m/8 bytes forever, at a declared false-positive
    rate ~= (1 - e^(-k*n/m))^k — size m at ~10 bits/key for <1%).

    Output: (block BIGINT, bits BIGINT) — bit ``p`` of the filter lives
    at block ``p // 62``, bit ``p % 62``. Build is one explode(k) + one
    ``bit_or`` groupBy with map-side combine; the result is mergeable
    across snapshots (union + re-bit_or), so daily crawls fold into one
    index without replaying history. At 10B keys * 10 bits = ~12.5 GB of
    blocks, partitioned by block id — probe joins shuffle on block, or
    broadcast when the filter is small (AQE decides).

    Engine-portable: md5-derived double hashing (Kirsch-Mitzenmacher),
    so DuckDB builds the bit-identical filter — false positives and all.
    """
    pos = df.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(fp_col), i, m_bits) for i in range(k)])
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / BLOOM_BITS_PER_BLOCK).cast("long").alias("block"),
            (F.col("pos") % BLOOM_BITS_PER_BLOCK).cast("int").alias("bit"),
        )
        .groupBy("block")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    blocks: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Membership probe: ``maybe_seen`` is true iff ALL k bits are set —
    false positives possible (rate set by m/n), false negatives never.

    One explode(k) + one left join on block + one groupBy(id, fp):
    probe cost is k rows per key regardless of snapshot size — the
    whole point vs the exact-fingerprint anti-join, which shuffles the
    full fingerprint store every batch. Only (id, fingerprint) shuffle;
    wide payload columns never ride the probe join — re-join the result
    on ``id_col`` to recover them.
    """
    probes = df.select(
        id_col,
        fp_col,
        F.explode(
            F.array(*[_bloom_pos(F.col(fp_col), i, m_bits) for i in range(k)])
        ).alias("_pos"),
    ).select(
        id_col,
        fp_col,
        (F.col("_pos") / BLOOM_BITS_PER_BLOCK).cast("long").alias("block"),
        (F.col("_pos") % BLOOM_BITS_PER_BLOCK).cast("int").alias("bit"),
    )
    hit = F.expr("shiftright(bits, bit) & 1").cast("long")
    return (
        probes.join(blocks, "block", "left")
        .withColumn("_hit", F.coalesce(hit, F.lit(0)))
        .groupBy(id_col, fp_col)
        # ALL probe rows hit — compared against the actual row count,
        # not the literal k: duplicate (id, fp) input rows (at-least-
        # once replay, the very input incremental dedup sees) multiply
        # the probe rows, and `== k` would then report a FALSE NEGATIVE
        # for a true member, violating the Bloom contract
        .agg((F.sum("_hit") == F.count(F.lit(1))).alias("maybe_seen"))
    )


# ---------------------------------------------------------------------------
# Cross-corpus MinHash LSH (incremental near-dup: incoming shard vs snapshot)
# ---------------------------------------------------------------------------


def _minhash_banded(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc, band, bk) band-bucket rows from a (doc, shingle) inverted
    index — the shared signature->band stage of the self-join and
    cross-corpus LSH paths."""
    from ..functions.text import token_hash32

    rows_per_band = num_hashes // bands
    hs = sh.select("doc", token_hash32(F.col("shingle")).alias("_h32"))
    aggs = [
        F.min((F.lit(a) * F.col("_h32") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{j}")
        for j, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    sig = hs.groupBy("doc").agg(*aggs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("bk"),
        )
        for b in range(bands)
    ]
    return sig.select("doc", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bk").alias("bk")
    )


@scoped
def minhash_lsh_cross_pairs(
    incoming: DataFrame,
    snapshot: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora: each incoming document
    against the existing snapshot — the incremental form of
    :func:`minhash_lsh_pairs` (a crawl batch is deduped against the
    already-curated corpus without ever self-joining the snapshot).

    Same band recipe as the self-join path, but the join is
    incoming-bands x snapshot-bands, so candidate cost scales with the
    BATCH, not the corpus: in production the snapshot side of the join
    is a persisted (doc, band, bk) table maintained incrementally (the
    BM25/IVF persisted-index pattern — kilobytes per doc, no text), and
    only verified-new documents' bands are appended back. Verification
    is exact k-gram Jaccard restricted to candidate docs, so the
    snapshot's text is touched only for docs that banded with the batch.

    Output: (inc_doc, snap_doc, n_common, size_inc, size_snap, jaccard)
    for pairs with jaccard >= threshold.
    """
    sh_inc = persist(doc_shingles(incoming, id_col, text_col, k, max_shingle_freq))
    sh_snap = persist(doc_shingles(snapshot, id_col, text_col, k, max_shingle_freq))
    b_inc = _minhash_banded(sh_inc, num_hashes, bands)
    b_snap = _minhash_banded(sh_snap, num_hashes, bands)
    return _cross_pairs_from_parts(sh_inc, b_inc, sh_snap, b_snap, threshold)


def _cross_pairs_from_parts(
    sh_inc: DataFrame,
    b_inc: DataFrame,
    sh_snap: DataFrame,
    b_snap: DataFrame,
    threshold: float,
    keys: tuple[str, ...] = ("band", "bk"),
) -> DataFrame:
    """Candidate join on ``keys`` + exact-Jaccard verify between
    prebuilt (doc, shingle) and (doc, band, bk) sides — shared by the
    in-memory cross-corpus path and the persisted-index query path (the
    candidate set is persisted in the caller's scope)."""
    candidates = persist(
        b_inc.select(F.col("doc").alias("inc_doc"), *keys)
        .join(b_snap.select(F.col("doc").alias("snap_doc"), *keys), list(keys))
        .select("inc_doc", "snap_doc")
        .distinct()
    )
    sets_inc = (
        sh_inc.join(candidates.select(F.col("inc_doc").alias("doc")).distinct(), "doc")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("set_inc"))
        .withColumnRenamed("doc", "inc_doc")
    )
    sets_snap = (
        sh_snap.join(candidates.select(F.col("snap_doc").alias("doc")).distinct(), "doc")
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("set_snap"))
        .withColumnRenamed("doc", "snap_doc")
    )
    return (
        candidates.join(sets_inc, "inc_doc")
        .join(sets_snap, "snap_doc")
        .select(
            "inc_doc",
            "snap_doc",
            F.size(F.array_intersect("set_inc", "set_snap")).cast("long").alias("n_common"),
            F.size("set_inc").cast("long").alias("size_inc"),
            F.size("set_snap").cast("long").alias("size_snap"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_inc") + F.col("size_snap") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("inc_doc", "snap_doc", "n_common", "size_inc", "size_snap", "jaccard")
    )


# ---------------------------------------------------------------------------
# Persisted LSH index (the dedup leg of the IVF/BM25 index triad)
# ---------------------------------------------------------------------------

LSH_INDEX_BUCKETS = 64  # band-key prefix buckets for partition pruning

#: On-disk layout version of the LSH index tree — folded into
#: cached_index_dir keys; bump beside any lsh_build_index layout change.
LSH_LAYOUT_VERSION = 1


def lsh_build_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    max_shingle_freq: int | None = None,
) -> None:
    """Persist the corpus's LSH state as a queryable on-disk index:
    ``bands/`` = (doc, bk) partitioned by (band, bkb) where bkb is a
    64-way band-key prefix bucket, and ``shingles/`` = the (doc,
    shingle) inverted index for the exact verify. Kilobytes per doc, no
    text.

    Build once per snapshot; daily batches then dedup against it via
    :func:`lsh_query_index` without ever re-reading or re-hashing the
    snapshot corpus — and because the candidate join keys on the
    partition columns, a BROADCAST batch side lets dynamic partition
    pruning skip every band file the batch never touches.
    """
    from pathlib import Path

    from ..sources.manifest import manifest_txn

    bkb = (F.conv(F.substring("bk", 1, 2), 16, 10) % F.lit(LSH_INDEX_BUCKETS)).cast(
        "int"
    )
    with scope(), manifest_txn(path):
        sh = persist(doc_shingles(df, id_col, text_col, k, max_shingle_freq))
        (
            _minhash_banded(sh, num_hashes, bands).withColumn("bkb", bkb)
            .write.mode("overwrite")
            .partitionBy("band", "bkb")
            .parquet(str(Path(path) / "bands"))
        )
        sh.write.mode("overwrite").parquet(str(Path(path) / "shingles"))


@scoped
def lsh_query_index(
    spark,
    path: str,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    snapshot: dict | None = None,
) -> DataFrame:
    """Dedup an incoming batch against a persisted LSH index: identical
    semantics to :func:`minhash_lsh_cross_pairs` (pytest-pinned parity)
    with the snapshot side read from disk. Band/hash constants must
    match the build. Query cost scales with the BATCH: the batch's
    bands join the index on the (band, bkb) partition columns + bk, so
    only matching partitions are read; the snapshot shingle file is
    touched only for docs that banded with the batch.
    """
    from ..sources.manifest import latest_manifest, manifest_read

    # one snapshot pins BOTH subtrees: bands and shingles from the same
    # manifest generation, and a concurrent append or GC can't
    # yank a planned file (retired files outlive readers' grace window).
    # ``snapshot`` (from latest_manifest/manifest_at) time-travels the
    # read to that generation instead. No snapshot at all means the
    # bootstrap's manifest commit was lost (crash window) — never fall
    # through to an unpinned plain-directory read of half-written data.
    snap = snapshot if snapshot is not None else latest_manifest(path)
    if snap is None:
        raise RuntimeError(
            f"lsh_query_index: no published manifest snapshot under "
            f"{path!r}; bootstrap with lsh_build_index first"
        )
    sh_inc = persist(doc_shingles(incoming, id_col, text_col, k, max_shingle_freq))
    b_inc = _minhash_banded(sh_inc, num_hashes, bands).withColumn(
        "bkb",
        (F.conv(F.substring("bk", 1, 2), 16, 10) % F.lit(LSH_INDEX_BUCKETS)).cast("int"),
    )
    b_snap = manifest_read(spark, path, "bands", snapshot=snap)
    sh_snap = manifest_read(spark, path, "shingles", snapshot=snap)
    return _cross_pairs_from_parts(
        sh_inc, b_inc, sh_snap, b_snap, threshold, ("band", "bkb", "bk")
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation (precision / recall vs exact Jaccard)
# ---------------------------------------------------------------------------


@scoped
def minhash_lsh_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Measure the MinHash-LSH candidate generator against ground truth:
    ONE row (n_truth, n_candidates, n_true_positive, precision_ppm,
    recall_ppm) where truth = exact k-gram Jaccard >= ``threshold``
    pairs and candidates = banded LSH pairs (pre-verification).

    This is the tuning loop every production dedup needs — bands/rows
    trade candidate volume (precision) against recall, and the answer
    is corpus-dependent; running the eval on a sample BEFORE the full
    100 TB pass is how the knobs get set. Ground truth costs the full
    inverted-index join, so the eval runs at sample scale by design;
    the exact-ppm integer metrics make it oracle-replayable.
    """
    sh = persist(doc_shingles(df, id_col, text_col, k))
    banded = _minhash_banded(sh, num_hashes, bands)
    # cand and truth are each consumed TWICE (the true-positive join +
    # their own count aggregate) — without the persists the banded
    # self-join and the full inverted-index truth join execute twice
    # per eval (r12)
    cand = persist(
        banded.select(F.col("doc").alias("doc_a"), "band", "bk")
        .join(banded.select(F.col("doc").alias("doc_b"), "band", "bk"), ["band", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    truth = persist(_jaccard_pairs_from_shingles(sh, threshold).select("doc_a", "doc_b"))
    tp = cand.join(truth, ["doc_a", "doc_b"])
    metrics = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("n_true_positive")))
    )
    return metrics.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_true_positive").cast("long").alias("n_true_positive"),
        F.when(
            F.col("n_candidates") > 0,
            F.expr("n_true_positive * 1000000 div n_candidates"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_ppm"),
        F.when(
            F.col("n_truth") > 0, F.expr("n_true_positive * 1000000 div n_truth")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
    )
