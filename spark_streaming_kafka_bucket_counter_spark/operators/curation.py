"""Corpus-curation operators: hashed linear quality classification,
corpus-frequency boilerplate detection, temperature-scaled source
mixtures, and BPE-style adjacent-pair counting.

These extend the engine beyond the reference's streaming-count surface
(reference scope: spark-streaming-kafka-bucket-counter.py:125-126 is a
plain keyed count) with the curation passes a large-scale training-data
pipeline runs over a document corpus. Every operator is a pure Catalyst
expression pipeline (no Python row path) and ships a DuckDB ``*_sql``
twin built from the SAME constants so the oracle gate replays it
exactly.

All arithmetic is integer fixed-point (ppm / micro-logits) so results
hash-match across engines regardless of float accumulation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as X
from ._cache import persist, scoped

# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style, hashing trick)
# ---------------------------------------------------------------------------

#: weight(token) = md5-hash32(token) % _W_MOD - _W_OFF  ->  [-1000, 1000]
#: A deterministic stand-in for trained per-token weights ("micro-logits"):
#: the SHAPE — hash token -> weight, sum, threshold — is exactly a hashed
#: bag-of-words linear classifier (the fastText / CCNet quality-filter
#: architecture); swapping in trained weights means replacing the hash
#: expression with a broadcast map lookup, nothing else changes.
_W_MOD = 2001
_W_OFF = 1000


def hashed_linear_score(tok: Column) -> Column:
    """Sum of per-token hashed weights (BIGINT micro-logits, empty -> 0).

    One codegen'd fold per row: hash each token (md5 -> 32-bit int),
    map to a signed weight, sum. No shuffle, no Python — at 100 TB this
    is a map-only projection pass.
    """
    weights = F.transform(
        tok, lambda t: X.token_hash32(t) % F.lit(_W_MOD) - F.lit(_W_OFF)
    )
    return F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)


def hashed_linear_score_sql(tok: str) -> str:
    w = f"{X.token_hash32_sql('t')} % {_W_MOD} - {_W_OFF}"
    return (
        f"CAST(COALESCE(list_sum(list_transform({tok}, t -> {w})), 0) AS BIGINT)"
    )


def classify_quality(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document linear quality score + keep/drop decision.

    Output: (id, n_tokens, score_sum, keep). ``keep`` is the pipeline
    filter flag (score_sum > 0); score_sum stays an exact BIGINT so
    downstream thresholds can be re-tuned without re-scoring.
    """
    tok = X.tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        X.token_count_ws(F.col(text_col), tok=tok).alias("n_tokens"),
        hashed_linear_score(tok).alias("score_sum"),
    ).withColumn("keep", F.col("score_sum") > F.lit(0))


def classify_quality_sql(table: str, id_col: str, text_col: str) -> str:
    """CTE `classified` mirroring :func:`classify_quality`."""
    tok = X.tokens_sql(text_col)
    return f"""classified AS (
      SELECT {id_col},
             {X.token_count_ws_sql(text_col)} AS n_tokens,
             {hashed_linear_score_sql(tok)} AS score_sum
      FROM {table}
    ), classified2 AS (
      SELECT *, score_sum > 0 AS keep FROM classified
    )"""


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate detection (C4/RefinedWeb-style)
# ---------------------------------------------------------------------------


@scoped
def boilerplate_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_docs: int = 5,
    flag_pct: int = 10,
) -> DataFrame:
    """Per-document boilerplate exposure: the fraction of k-gram slots
    whose k-gram occurs in >= ``min_docs`` DISTINCT documents corpus-wide
    (C4 removes lines repeated across the corpus; with newline-free
    documents the k-token shingle is the "line" unit).

    Scale shape: explode k-grams once, pre-aggregate to (doc, gram,
    cnt) — the map-side-combinable unit — then ONE groupBy(gram) for
    document frequency and ONE hash join back. The gram-frequency side
    is corpus-derived and unbounded, so it carries NO broadcast hint
    (plan-pinned): the planner's size-based choice broadcasts it only
    while the measured aggregate is under the auto-broadcast threshold
    (true at toy scale, false at corpus scale), and AQE re-plans at
    runtime — the driver is never forced to materialize it.

    Deliberate non-optimization: ``count(*) OVER (PARTITION BY gram)``
    would compute the document frequency on the same shuffle (one fewer
    exchange, measured ~10% faster at sf0.1) — but a window partition
    CANNOT be skew-split by AQE, so one hot gram ("the the the" at
    corpus scale) becomes an unsplittable straggler. The aggregate+join
    form keeps both the agg (partial combine) and the join (AQE
    skew-join) skew-tolerant; that dominates at 100 TB.

    Output: (id, n_shingles, n_boiler, boiler_ppm, flagged); documents
    with fewer than k tokens keep a row with zero counts.
    """
    from ..sources.files import fan_out_scan

    # materialize the token array before the shingle HOF (interpreted
    # lambdas re-evaluate inline sub-expressions per element — the
    # doc_shingles lesson), fan the explode out of the single-task scan
    # stage, and persist slots: it feeds BOTH the doc-frequency rollup
    # and the join-back (r12)
    slots = persist(
        fan_out_scan(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), X.tokens(F.col(text_col)).alias("_tok"))
        .select(F.col(id_col), F.explode(X.shingles(F.col("_tok"), k)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
    )
    docfreq = slots.groupBy("gram").agg(F.count("*").alias("df"))
    per_doc = (
        slots.join(docfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.sum(
                F.when(F.col("df") >= F.lit(min_docs), F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
        )
    )
    ppm = F.when(
        F.col("n_shingles") > 0,
        F.floor(F.col("n_boiler") * F.lit(1_000_000) / F.col("n_shingles")),
    ).otherwise(F.lit(0))
    return out.withColumn("boiler_ppm", ppm.cast("long")).withColumn(
        "flagged",
        (F.col("n_shingles") > 0)
        & (F.col("n_boiler") * F.lit(100) >= F.col("n_shingles") * F.lit(flag_pct)),
    )


def boilerplate_stats_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_docs: int = 5,
    flag_pct: int = 10,
) -> str:
    """CTE chain ending in `boiler` mirroring :func:`boilerplate_stats`."""
    tok = X.tokens_sql(text_col)
    sh = X.shingles_sql(tok, k)
    return f"""slots AS (
      SELECT {id_col}, gram, COUNT(*) AS cnt
      FROM (SELECT {id_col}, unnest({sh}) AS gram FROM {table})
      GROUP BY 1, 2
    ),
    docfreq AS (SELECT gram, COUNT(*) AS df FROM slots GROUP BY 1),
    per_doc AS (
      SELECT s.{id_col},
             SUM(s.cnt) AS n_shingles,
             SUM(CASE WHEN f.df >= {min_docs} THEN s.cnt ELSE 0 END) AS n_boiler
      FROM slots s JOIN docfreq f USING (gram)
      GROUP BY 1
    ),
    boiler AS (
      SELECT d.{id_col},
             CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
             CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
             CAST(CASE WHEN COALESCE(p.n_shingles, 0) > 0
                  THEN floor(COALESCE(p.n_boiler, 0) * 1000000.0 / p.n_shingles)
                  ELSE 0 END AS BIGINT) AS boiler_ppm,
             COALESCE(p.n_shingles, 0) > 0
               AND COALESCE(p.n_boiler, 0) * 100 >= COALESCE(p.n_shingles, 0) * {flag_pct} AS flagged
      FROM {table} d LEFT JOIN per_doc p USING ({id_col})
    )"""


# ---------------------------------------------------------------------------
# The composed curation stack (classifier + boilerplate + DSIR + dedup)
# over ONE shared per-document feature frame
# ---------------------------------------------------------------------------

#: reason-bit wire order of :func:`curation_stack` (bit set = rule fired).
STACK_BITS = ("clf_reject", "boilerplate", "dsir_reject", "duplicate")


@scoped
def curation_stack(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    k: int = 3,
    min_docs: int = 5,
    flag_pct: int = 10,
) -> DataFrame:
    """All four curation signals — hashed-linear classifier, corpus-
    frequency boilerplate, DSIR target-likeness, exact-fingerprint
    canonicalization — composed into one auditable ``(id, reason_flags,
    keep)`` decision per document, SHARING one tokenized feature frame.

    Running the four component operators separately re-reads and
    re-tokenizes the corpus four times; here ``(id, is_target, tokens,
    fingerprint)`` is computed once from a single text scan and
    persisted (memory-and-disk at cluster scale), and every signal
    derives from it: the classifier score is a map-side fold over the
    shared token array, canonicalization is one window over the shared
    fingerprint, and the boilerplate/DSIR aggregates explode the shared
    array instead of re-parsing text. Per-signal shuffle profiles are
    unchanged (see the component operators' docstrings — including the
    deliberate skew-tolerant aggregate+join form for boilerplate), but
    the corpus text is scanned ONCE, and the component-internal
    join-back-to-all-docs steps are folded into the final two left
    joins (aggregate frames onto the map-side base).

    Semantics are bit-identical to composing the component operators;
    the ``corpus_curation_stack`` oracle SQL (which replays the
    component CTEs) is the cross-engine pin of that claim.
    """
    from pyspark.sql import Window

    feat = persist(df.select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        X.tokens(F.col(text_col)).alias("_tok"),
        X.md5_fingerprint(F.col(text_col)).alias("_fp"),
    ))

    # map-side classifier + fingerprint canonicalization on the same frame
    w = Window.partitionBy("_fp")
    base = feat.select(
        F.col(id_col),
        (hashed_linear_score(F.col("_tok")) > F.lit(0)).alias("_clf_keep"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("_canonical"),
    )

    # boilerplate exposure (same shape as boilerplate_stats, minus its
    # internal join-back — zero-shingle docs are restored by the final
    # left join's coalesce)
    slots = (
        feat.select(F.col(id_col), F.explode(X.shingles(F.col("_tok"), k)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
    )
    docfreq = slots.groupBy("gram").agg(F.count("*").alias("df"))
    boiler = (
        slots.join(docfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("_n_sh"),
            F.sum(
                F.when(F.col("df") >= F.lit(min_docs), F.col("cnt")).otherwise(F.lit(0))
            ).alias("_n_b"),
        )
    )

    # DSIR log-likelihood ratio (identical nano-bit math to
    # quality.dsir_importance, fed from the shared token array)
    occ = feat.select(
        F.col(id_col), "_is_tgt", F.explode(F.col("_tok")).alias("_t")
    )
    vocab = occ.groupBy("_t").agg(
        F.count(F.lit(1)).alias("_cnt_all"),
        F.sum(F.when(F.col("_is_tgt"), 1).otherwise(0)).alias("_cnt_tgt"),
    )
    tot = vocab.agg(
        F.sum("_cnt_all").cast("double").alias("_T_all"),
        F.sum("_cnt_tgt").cast("double").alias("_T_tgt"),
        F.count(F.lit(1)).cast("double").alias("_V"),
    )
    vocab9 = vocab.crossJoin(F.broadcast(tot)).select(
        "_t",
        F.round(
            (
                F.log2(F.col("_cnt_tgt") + F.lit(1))
                - F.log2(F.col("_T_tgt") + F.col("_V"))
                - F.log2("_cnt_all")
                + F.log2("_T_all")
            )
            * F.lit(1e9)
        )
        .cast("long")
        .alias("_lr9"),
    )
    dsir = occ.join(vocab9, "_t").groupBy(id_col).agg(
        F.sum("_lr9").alias("_lr9_sum")
    )

    stack = base.join(boiler, id_col, "left").join(dsir, id_col, "left")
    n_sh = F.coalesce(F.col("_n_sh"), F.lit(0))
    n_b = F.coalesce(F.col("_n_b"), F.lit(0))
    preds = {
        "clf_reject": ~F.col("_clf_keep"),
        "boilerplate": (n_sh > 0) & (n_b * F.lit(100) >= n_sh * F.lit(flag_pct)),
        "dsir_reject": ~(F.coalesce(F.col("_lr9_sum"), F.lit(0)) > F.lit(0)),
        "duplicate": ~F.col("_canonical"),
    }
    flags = F.lit(0)
    for i, name in enumerate(STACK_BITS):
        flags = flags + F.when(preds[name], F.lit(1 << i)).otherwise(F.lit(0))
    return stack.select(
        F.col(id_col),
        flags.cast("long").alias("reason_flags"),
    ).withColumn("keep", F.col("reason_flags") == 0)


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture (multilingual-style alpha sampling)
# ---------------------------------------------------------------------------


def temperature_mixture(
    df: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Per-source sampling weights at temperature alpha = 0.5.

    ``nat_ppm`` is the natural token share; ``temp_ppm`` renormalizes
    sqrt(token) mass — the standard temperature trick that upsamples
    small sources / downsamples dominant ones. floor(sqrt(n)) of a
    BIGINT is exact in IEEE doubles (correctly-rounded sqrt), so both
    engines produce identical integers.

    Scale shape: one groupBy(source) partial-agg shuffle over the
    corpus; the totals join is a broadcast of #sources rows.
    """
    tok_n = X.token_count_ws(F.col(text_col))
    g = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tok_n).alias("tok_sum"),
    )
    g = g.withColumn("w_sqrt", F.floor(F.sqrt(F.col("tok_sum"))).cast("long"))
    tot = g.agg(
        F.sum("tok_sum").alias("_tot_tok"), F.sum("w_sqrt").alias("_tot_w")
    )
    return (
        g.join(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            F.col("tok_sum").cast("long").alias("tok_sum"),
            F.floor(F.col("tok_sum") * F.lit(1_000_000) / F.col("_tot_tok"))
            .cast("long")
            .alias("nat_ppm"),
            F.floor(F.col("w_sqrt") * F.lit(1_000_000) / F.col("_tot_w"))
            .cast("long")
            .alias("temp_ppm"),
        )
    )


def temperature_mixture_sql(table: str, source_col: str, text_col: str) -> str:
    """CTE chain ending in `mixture` mirroring :func:`temperature_mixture`."""
    return f"""per_src AS (
      SELECT {source_col},
             COUNT(*) AS n_docs,
             SUM({X.token_count_ws_sql(text_col)}) AS tok_sum
      FROM {table} GROUP BY 1
    ),
    per_src2 AS (
      SELECT *, CAST(floor(sqrt(tok_sum)) AS BIGINT) AS w_sqrt FROM per_src
    ),
    tot AS (SELECT SUM(tok_sum) AS tot_tok, SUM(w_sqrt) AS tot_w FROM per_src2),
    mixture AS (
      SELECT {source_col}, n_docs,
             CAST(tok_sum AS BIGINT) AS tok_sum,
             CAST(floor(tok_sum * 1000000.0 / tot_tok) AS BIGINT) AS nat_ppm,
             CAST(floor(w_sqrt * 1000000.0 / tot_w) AS BIGINT) AS temp_ppm
      FROM per_src2, tot
    )"""


# ---------------------------------------------------------------------------
# BPE training, round one: corpus-wide adjacent-pair counts
# ---------------------------------------------------------------------------


def adjacent_pair_counts(
    df: DataFrame, text_col: str, top_n: int = 50
) -> DataFrame:
    """Top-N most frequent adjacent token pairs corpus-wide — the
    counting step of one BPE merge round, distributed.

    Scale shape: the pair explode pre-aggregates map-side (partial
    count), ONE shuffle on the pair key, then a distributed
    TakeOrderedAndProject for the top-N (no global-window single
    partition; the rank window runs on the <= N survivors only).
    """
    tok = X.tokens(F.col(text_col))
    counted = (
        df.select(F.explode(X.shingles(tok, 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_n)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    return counted.withColumn("rank", F.row_number().over(w).cast("long"))


def adjacent_pair_counts_sql(table: str, text_col: str, top_n: int = 50) -> str:
    tok = X.tokens_sql(text_col)
    sh = X.shingles_sql(tok, 2)
    return f"""pairs AS (
      SELECT pair, COUNT(*) AS cnt
      FROM (SELECT unnest({sh}) AS pair FROM {table})
      GROUP BY 1
    ),
    pair_counts AS (
      SELECT pair, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
      FROM pairs
      QUALIFY rank <= {top_n}
    )"""


NFC_STATS_SCHEMA = "doc_id long, changed long, len_raw long, len_nfc long"


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style WITHIN-document repetition signals (round 7) — the
    filter family the Gopher rules' length/stopword checks don't carry:
    machine-generated and templated pages repeat themselves (the same
    line pasted 50 times, one bigram dominating the text), and Gopher
    (Rae et al., table A1) cuts on exactly these fractions. Emitted as
    exact INTEGER numerators/denominators (engine-exact; consumers
    divide):

    - ``n_lines`` / ``dup_line_occ`` / ``dup_line_chars`` — line count,
      occurrences beyond each line's first, and the characters those
      duplicate occurrences cover ("duplicate line fraction" and
      "duplicate line character fraction").
    - ``n_bigrams`` / ``top_bigram_occ`` — word-bigram count and the
      occurrence count of the most frequent bigram ("top 2-gram
      fraction").

    Scale shape: two groupBy ladders, each keyed (doc, unit) then doc —
    partial aggregation does the heavy lifting map-side; no Python.
    NULL text is one empty line and zero bigrams."""
    from ..functions.text import tokens

    lines = df.select(
        id_col,
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line"),
    )
    per_line = lines.groupBy(id_col, "line").agg(
        F.count(F.lit(1)).alias("_c"), F.length("line").alias("_len")
    )
    line_agg = per_line.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_lines"),
        F.sum(F.col("_c") - 1).cast("long").alias("dup_line_occ"),
        F.sum((F.col("_c") - 1) * F.col("_len"))
        .cast("long")
        .alias("dup_line_chars"),
    )
    # materialize the token array once: an inline tokens() expression
    # re-tokenizes per element_at reference (see rolling_fingerprint)
    with_tok = df.select(
        id_col, tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_tok")
    )
    tok = F.col("_tok")
    # NB sequence(1, 0) would DESCEND ([1, 0]) — guard short docs explicitly
    bigrams = with_tok.select(
        id_col,
        F.explode(
            F.when(
                F.size(tok) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(tok) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(tok, i.cast("int")),
                        F.element_at(tok, (i + 1).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    per_bg = bigrams.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("_c"))
    bg_agg = per_bg.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_bigrams"),
        F.max("_c").cast("long").alias("top_bigram_occ"),
    )
    return line_agg.join(bg_agg, id_col, "left").select(
        id_col,
        "n_lines",
        "dup_line_occ",
        "dup_line_chars",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("top_bigram_occ"), F.lit(0))
        .cast("long")
        .alias("top_bigram_occ"),
    )


def nfc_normalize_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization audit — the curation step that catches
    canonically-equivalent duplicate text exact dedup misses: the same
    visible string can arrive precomposed (``é``) or decomposed
    (``e`` + U+0301), or with combining marks in non-canonical order,
    and md5-style fingerprints treat those as different documents. Per
    row: did NFC change the bytes, and the codepoint length before and
    after (composition shrinks it). NULL text stays NULL (no opinion).

    Runs as one Arrow ``mapInPandas`` stage over Python's unicodedata;
    the DuckDB oracle computes the same answer with utf8proc's
    ``nfc_normalize`` — a genuine DUAL-IMPLEMENTATION gate (two
    independent Unicode libraries must agree on every document), which
    is stronger than a formula-replay oracle. The normalization itself
    is per-string library work in any engine (Spark has no NFC
    built-in); the Arrow batch path is the scale-correct way to run it,
    and the downstream dedup is unchanged: fingerprint NFC(text)
    instead of text.
    """
    import pandas as pd

    def _nfc(batches):
        import unicodedata

        for pdf in batches:
            changed, lr, ln = [], [], []
            for s in pdf[text_col]:
                if s is None or (isinstance(s, float) and pd.isna(s)):
                    changed.append(None); lr.append(None); ln.append(None)
                    continue
                n = unicodedata.normalize("NFC", s)
                changed.append(1 if n != s else 0)
                lr.append(len(s))
                ln.append(len(n))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "changed": pd.array(changed, dtype="Int64"),
                    "len_raw": pd.array(lr, dtype="Int64"),
                    "len_nfc": pd.array(ln, dtype="Int64"),
                }
            )

    return df.select("doc_id", text_col).mapInPandas(_nfc, NFC_STATS_SCHEMA)
