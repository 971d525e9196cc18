"""The streaming bucket-counter pipeline — Structured Streaming rewiring of
the reference's composition root (``kafka_http_sqlite``, main.py:243-288,
and ``ss_kafka_bucket_counter``, main.py:91-133).

Reference dataflow: Kafka -> drop keys -> JSON parse + project + bucket ->
per-batch reduceByKey count -> accumulator flip -> mp.Queue -> SQLite.
Here: ``readStream`` -> ``from_json`` projection -> bucket columns ->
``foreachBatch`` (per-batch groupBy().count() + a serving-store commit
of the counts under ``RST_ID=batch_id``). One process, one lineage,
checkpointed.

Two count semantics (SURVEY §2.11), both supported:
- ``per_batch`` (default, reference serving parity): the same bucket key
  in two micro-batches yields two serving rows with different RST_IDs.
- ``merged`` (reference MySQL-upsert parity, A5): stateful streaming
  ``groupBy().count()`` in update mode; optionally watermarked so state
  is evicted at scale (the reference grows state forever).

Scale: the only shuffle is the per-batch partial->final hash aggregation;
source parallelism = Kafka partition count (vs the reference's single
receiver, main.py:115). The sink commit brings each batch's counts to
the driver in one Arrow collect and writes them with pyarrow under the
batch's ``RST_ID`` partition (``ServingStore.append``), so a micro-batch
runs no Spark write job; the counts are O(distinct keys per batch), and
``spark.driver.maxResultSize`` bounds them.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..functions.buckets import with_bucket
from ..functions.projection import decode_json_values
from ..operators._cache import persist, scope
from ..operators.count import merged_count
from ..session import restored_conf, stream_drain_partitions
from ..sources.files import NANOS_AS_LONG
from .serving import ServingStore


# reserved internal column: the raw bucket source value, independent of
# whatever the conversion map projects (it may rename or drop the field)
BUCKET_SRC_COL = "_bucket_src"


def parse_and_bucket(
    stream: DataFrame,
    conversion: dict[str, str],
    bucket_field: str,
    bucket_interval: int,
    bucket_type: str = "epoch",
    value_col: str = "value",
) -> DataFrame:
    """value-string stream -> projected + bucketed record stream.

    The streaming analog of ``json_dict_bucket_parse`` (utils.py:62-97):
    decode JSON, apply the {new: old} conversion map, attach
    bucket_start/bucket_end. Matching the reference, the bucket is always
    computed from the RAW ``bucket_field`` of the decoded record
    (utils.py:93-94) — a conversion map that renames the source field
    (e.g. ``{"ts_new": "timestamp"}`` with ``bucket_field="timestamp"``)
    still buckets correctly; the raw field itself appears in the output
    only if the map projects it.
    """
    decoded = decode_json_values(
        stream,
        conversion,
        value_col=value_col,
        bucket_field_src=bucket_field,
        bucket_field_alias=BUCKET_SRC_COL,
    )
    bucketed = with_bucket(decoded, BUCKET_SRC_COL, bucket_interval, bucket_type)
    return bucketed.drop(BUCKET_SRC_COL)


def start_writer(
    writer: DataStreamWriter, trigger: dict | None = None
) -> StreamingQuery:
    """Start ``writer`` under ``trigger`` — keyword arguments for
    ``DataStreamWriter.trigger``, e.g. ``{"processingTime": "5 seconds"}``
    — or ``availableNow`` (drain what the source holds, then stop: the
    test/backfill mode) when ``trigger`` is None. Every streaming query
    the package starts resolves its trigger here."""
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def start_bucket_counter(
    records: DataFrame,
    store: ServingStore,
    group_cols: list[str],
    checkpoint_dir: str,
    trigger: dict | None = None,
    bucket_interval: int | None = None,
) -> StreamingQuery:
    """Per-batch count -> serving store append (reference K1 semantics).

    ``records`` is the output of :func:`parse_and_bucket`. Each micro-batch
    is counted independently (groupBy inside foreachBatch) and appended
    under its batch_id partition — K7/K8 tagged bulk insert, with the
    store's clean_freq-driven retention.

    ``trigger`` defaults to the reference's cadence
    (``processingTime=bucket_interval+5 s``, main.py:111) when
    ``bucket_interval`` is given, else ``availableNow`` (drain & stop —
    the test/backfill mode).
    """
    keys = [*group_cols, "bucket_start", "bucket_end"]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counts = merged_count(batch_df, keys)
        store.append(counts, batch_id)

    writer = records.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is None and bucket_interval is not None:
        trigger = {"processingTime": f"{bucket_interval + 5} seconds"}
    return start_writer(writer, trigger)


def start_sliding_counter(
    records: DataFrame,
    store: ServingStore,
    group_cols: list[str],
    ts_col: str,
    window: int,
    slide: int,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Per-batch HOPPING-window count -> serving store append: the
    sliding-window extension of :func:`start_bucket_counter` (the
    reference is tumbling-only, SURVEY §2.11).

    ``records`` must carry the raw event-time column ``ts_col`` (e.g.
    ``decode_json_values`` output before bucketing). Each micro-batch
    pays the same single-shuffle plan as the batch operator — the
    window/slide fan-out is absorbed by map-side partial aggregation.
    """
    from ..operators.count import sliding_bucket_count

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counts = sliding_bucket_count(batch_df, group_cols, ts_col, window, slide)
        store.append(counts, batch_id)

    writer = records.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    return start_writer(writer, trigger)


DRAIN_TIMEOUT_S = 300


def drain_to_table(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Run the streaming query ``build()`` returns to completion
    (``availableNow``) into a memory table and return that table — an
    incremental query executed as one bounded drain, the shape of the
    catalog's oracle-checked streaming queries.

    For the drain's whole execution the session pins ``nanosAsLong``
    (the events parquet), a UTC session time zone (event-time columns
    round-trip through TIMESTAMP_LTZ, and the caller's session may carry
    a local zone) and :func:`~..session.stream_drain_partitions` state
    partitions. ``build`` runs inside the pin, because defining a file
    stream already reads the parquet schema. All three confs are
    restored afterwards and the drain's checkpoint dir is deleted, so the
    caller's session and ``/tmp`` are left as they were. A drain that
    does not finish within :data:`DRAIN_TIMEOUT_S` is stopped and raises
    instead of returning a partial sink.

    The memory sink is the driver-sized ORACLE-HARNESS shape only; the
    production sink is ``foreachBatch`` into a partitioned parquet
    ``ServingStore`` (:func:`start_bucket_counter`) — do not copy the
    memory sink to a cluster.
    """
    pins = {
        NANOS_AS_LONG: "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(stream_drain_partitions(spark)),
    }
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    with restored_conf(spark, *pins):
        for key, value in pins.items():
            spark.conf.set(key, value)
        ckpt = tempfile.mkdtemp(prefix="ssbc_ckpt_")
        try:
            writer = (
                build().writeStream.format("memory")
                .queryName(table)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
            )
            q = start_writer(writer)
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise RuntimeError(
                    f"{name}: availableNow drain did not finish within "
                    f"{DRAIN_TIMEOUT_S}s — refusing to query a partial sink"
                )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table)


def streaming_drop_duplicates(
    records: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming-native exact dedup ACROSS micro-batches (ingestion
    dedup — at-least-once sources replay records; training pipelines
    must not double-count them).

    ``dropDuplicatesWithinWatermark`` keys executor state by ``keys`` and
    evicts entries once the watermark passes ``delay`` — bounded state,
    the knob a plain ``dropDuplicates`` on a stream lacks (its state
    grows forever, the same flaw as the reference's MySQL mirror). At
    scale: one shuffle on the key per micro-batch, state store lookups
    are per-key point reads.
    """
    return records.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def start_merged_counter(
    records: DataFrame,
    group_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "merged_counts",
    watermark: tuple[str, str] | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Cross-batch running count (reference A5 MySQL-upsert semantics) as a
    native stateful streaming aggregation in update mode.

    ``watermark=(ts_col, "1 hour")`` enables state eviction — the
    scale-ready option the reference lacks (its MySQL table just grows).
    Results land in the in-memory sink named ``query_name`` for queries;
    swap the sink for Kafka/JDBC in production.
    """
    keys = [*group_cols, "bucket_start", "bucket_end"]
    if watermark is not None:
        records = records.withWatermark(*watermark)
    counts = merged_count(records, keys)
    writer = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return start_writer(writer, trigger)


def _start_ingest(
    stream: DataFrame,
    checkpoint_dir: str,
    index_path: str,
    trigger: dict | None,
    compact_every: int,
    gc_grace_sec: float,
    body: Callable[[SparkSession, DataFrame, int, bool], None],
) -> StreamingQuery:
    """The one micro-batch loop behind every index-ingest query: a
    checkpointed ``foreachBatch`` (trigger resolved by
    :func:`start_writer`) that calls ``body(spark, batch_df, batch_id,
    bootstrap)`` for each non-empty micro-batch, then, every
    ``compact_every``-th batch, compacts the index tree at
    ``index_path``. The rules every body relies on, stated once:

    - **One cache scope per batch.** ``body`` runs under
      ``operators._cache.scope()``: whatever it persists (the batch,
      its survivors, operator intermediates) is released when it
      returns or raises.
    - **Footerless-write guard.** Empty micro-batches (idle source
      polls) never reach ``body``: writing one would create an output
      dir with no parquet footers, and the next read-back or bootstrap
      build would fail schema inference.
    - **Manifest-keyed bootstrap.** ``bootstrap`` is True while the index
      has no published manifest snapshot — keyed on the MANIFEST, not the
      directory. A crash between a bootstrap's data write and its
      manifest commit leaves files on disk with no published snapshot; a
      directory-keyed restart would take the append path, whose reads
      have no snapshot to pin (the index readers raise on that). The
      first published snapshot is the durable truth, and a re-bootstrap
      overwrites the orphans.
    - **Output before index.** A body whose survivors plan READS the
      index writes the curated output first (:func:`_land`: a dynamic
      overwrite of this batch's own partition, idempotent under
      foreachBatch's at-least-once replay) and feeds the index append
      from that durable copy. Appending first would let a lazy
      re-evaluation see the batch's own entries in the index and
      self-match every row.
    - **Reader-safe compaction.** :func:`~..sources.manifest.
      compact_index_tree` publishes a new manifest snapshot and RETIRES
      the replaced files for ``gc_grace_sec`` before GC deletes them, so
      an external reader pinned to the snapshot it planned from never
      observes a missing file.
    """
    from ..sources.manifest import compact_index_tree, latest_manifest

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        with scope():
            body(spark, batch_df, batch_id, latest_manifest(index_path) is None)
        if compact_every > 0 and (batch_id + 1) % compact_every == 0:
            compact_index_tree(spark, index_path, grace_sec=gc_grace_sec)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    return start_writer(writer, trigger)


def _write_batch_partition(df: DataFrame, out_path: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=`` partition of ``out_path``: a
    dynamic overwrite of this batch's own partition, so a replayed batch
    replaces its rows instead of duplicating them."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_path)
    )


def _land(spark: SparkSession, df: DataFrame, out_path: str, batch_id: int) -> DataFrame:
    """:func:`_write_batch_partition`, then read the landed rows back —
    the durable copy an index append feeds from (output before index).
    Only this batch's leaf is listed; ``basePath`` keeps its ``batch_id``
    column, typed by partition inference as in a read of the whole tree.
    A batch with no survivors (all near-duplicates of the index) writes
    no leaf, and lands as an empty frame."""
    _write_batch_partition(df, out_path, batch_id)
    leaf = os.path.join(out_path, f"batch_id={batch_id}")
    jleaf = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(leaf)
    if not jleaf.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jleaf):
        return spark.createDataFrame(
            [], df.withColumn("batch_id", F.lit(batch_id)).schema
        )
    return spark.read.option("basePath", out_path).parquet(leaf)


def start_near_dup_ingest(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    trigger: dict | None = None,
    compact_every: int = 0,
    gc_grace_sec: float = 300.0,
) -> StreamingQuery:
    """The daily-crawl NEAR-dup ingestion loop as one streaming query:
    per micro-batch, (1) drop within-batch near-duplicates (LSH pairs ->
    connected components -> keep min id), (2) drop batch docs that
    near-match the PERSISTED snapshot index (:func:`~..operators.dedup.
    lsh_query_index` — candidate cost scales with the batch, the
    snapshot text is never re-read), (3) append the survivors, tagged
    with the micro-batch id, to the curated output table and fold them
    into the index (:func:`~..operators.dedup.lsh_append_index`).

    This composes the streaming counterpart of the reference's
    cross-batch accumulation (A5, main.py:127-133) with the near-dup
    index the reference never had: exactly-once-ish semantics come from
    the checkpointed micro-batch ids (a replayed batch re-appends the
    same doc ids; downstream exact dedup by id is the standard guard).
    A double index append only duplicates band/shingle rows, which the
    query path's distinct() and collect_set dedupe.

    Bootstrap: the first batch against an index with no snapshot skips
    the snapshot query and BUILDS the index from its survivors. Loop
    rules (empty batches, bootstrap keying, write order, compaction):
    :func:`_start_ingest`.

    Scale shape per batch: the within-batch stage is LSH-banded (never
    all-pairs) over batch-sized data; the snapshot stage joins the
    batch's bands against the (band, key-bucket)-partitioned index with
    partition pruning; the append only writes the deduped increment.
    """
    from ..operators.dedup import (
        lsh_append_index,
        lsh_build_index,
        lsh_query_index,
        minhash_lsh_pairs,
    )
    from ..operators.graph import drop_near_duplicate_docs

    lsh = {"num_hashes": num_hashes, "bands": bands, "k": k}

    def body(spark, batch_df, batch_id, bootstrap):
        batch_df = persist(batch_df)
        pairs_in = minhash_lsh_pairs(
            batch_df, id_col, text_col, threshold=threshold, **lsh
        )
        keepers = persist(drop_near_duplicate_docs(batch_df, pairs_in, id_col))
        survivors = keepers
        if not bootstrap:
            dup_ids = (
                lsh_query_index(
                    spark, index_path, keepers, id_col, text_col,
                    threshold=threshold, **lsh,
                )
                .select(F.col("inc_doc").alias(id_col))
                .distinct()
            )
            survivors = keepers.join(dup_ids, id_col, "left_anti")
        landed = _land(spark, survivors, out_path, batch_id)
        if bootstrap:
            lsh_build_index(landed, id_col, text_col, index_path, **lsh)
        else:
            lsh_append_index(landed, id_col, text_col, index_path, **lsh)

    return _start_ingest(
        docs, checkpoint_dir, index_path, trigger, compact_every, gc_grace_sec, body
    )


def start_semantic_dedup_ingest(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold_e6: int = 990_000,
    nprobe: int = 2,
    n_centroids: int = 16,
    trigger: dict | None = None,
    compact_every: int = 0,
    gc_grace_sec: float = 300.0,
) -> StreamingQuery:
    """The embedding-space counterpart of :func:`start_near_dup_ingest`:
    per micro-batch of ``(id, vector)`` rows, drop vectors whose cosine
    against any indexed neighbor reaches ``threshold_e6`` (micro-units;
    0.99 default — the SemDeDup-style semantic near-duplicate cut), land
    survivors in the curated table, and fold them into the persisted IVF
    index (:func:`~..operators.similarity.ivf_append_index`) — probe cost
    scales with the batch via cell partition pruning, never with the
    snapshot.

    Bootstrap: the first batch builds the index from its own rows
    (:func:`~..operators.similarity.ivf_build_index` seeds centroids
    from it). Within-batch semantic dups are NOT collapsed here — IVF
    probing is against the index only; run the batch through
    ``semantic_dedup_pairs`` upstream if intra-batch dedup is needed.

    Loop rules (empty batches, bootstrap keying, output-before-index
    write order, compaction): :func:`_start_ingest`. An at-least-once
    replay (crash after the append, before the checkpoint commit)
    double-appends the batch's vectors into their cells;
    :func:`~..operators.similarity.ivf_query_index` dedupes duplicate
    candidate ids at query time, so index answers are unchanged — the
    IVF mirror of the LSH loop's replay story (both pytest-pinned
    against a real checkpoint rollback).
    """
    from ..operators.similarity import (
        ivf_append_index,
        ivf_build_index,
        ivf_query_index,
    )

    def body(spark, batch_df, batch_id, bootstrap):
        batch_df = persist(batch_df)
        survivors = batch_df
        if not bootstrap:
            hits = ivf_query_index(
                spark, index_path, batch_df, id_col, vec_col,
                nprobe=nprobe, top_k=1,
            )
            dup_ids = (
                hits.filter(
                    F.round(F.col("cosine") * 1_000_000) >= threshold_e6
                )
                .select(F.col("query_id").alias(id_col))
                .distinct()
            )
            survivors = batch_df.join(dup_ids, id_col, "left_anti")
        landed = _land(spark, survivors, out_path, batch_id)
        if bootstrap:
            ivf_build_index(
                landed, id_col, vec_col, index_path, n_centroids=n_centroids
            )
        else:
            ivf_append_index(spark, landed, id_col, vec_col, index_path)

    return _start_ingest(
        vectors, checkpoint_dir, index_path, trigger, compact_every, gc_grace_sec, body
    )


def start_ivfpq_ingest(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    checkpoint_dir: str,
    dim: int,
    m: int = 16,
    ksub: int = 16,
    n_centroids: int = 16,
    cell_iters: int = 0,
    trigger: dict | None = None,
    compact_every: int = 0,
    gc_grace_sec: float = 300.0,
    default_nprobe: int | None = None,
) -> StreamingQuery:
    """Maintain the COMPRESSED serving index from a vector stream: per
    micro-batch of ``(id, vector)`` rows, encode against the index's
    persisted codebook and fold the 8-byte codes into their IVF cell
    partitions (:func:`~..operators.pq.ivfpq_append_index`). The pure
    index-maintenance loop beside the semantic-dedup loop — every row
    is ingested; what stays constant per batch is the MODEL (codebook +
    centroids, trained at bootstrap from the first batch and read as
    bounded metadata thereafter), which is exactly how production PQ
    deployments run: codebook drift is an offline rebuild-and-swap
    event, not a streaming concern.

    Bootstrap needs >= max(ksub, n_centroids) vectors in the first
    non-empty batch (pq_train/seeding fail LOUDLY otherwise — size the
    trigger accordingly). Replay story: an at-least-once replay (crash
    after the append, before the checkpoint commit) double-appends the
    batch's code rows; :func:`~..operators.pq.ivfpq_query_index` dedups
    duplicate (query, cand) pairs at serve time, so answers are
    unchanged (pytest-pinned against a manual replay). Compaction +
    zero-grace GC converge cells to one live file per leaf under the
    manifest. Loop rules: :func:`_start_ingest`."""
    from ..operators.pq import ivfpq_append_index, ivfpq_build_index

    def body(spark, batch_df, batch_id, bootstrap):
        if not bootstrap:
            ivfpq_append_index(
                spark, batch_df, id_col, vec_col, index_path,
                dim=dim, m=m, ksub=ksub,
            )
            return
        cents = None
        if cell_iters > 0:
            # trained coarse quantizer (layout v2): k-means cells from
            # the bootstrap batch; appends/queries dispatch on the
            # persisted metric automatically
            from ..operators.clustering import kmeans_centroids

            cents = kmeans_centroids(
                batch_df, id_col, vec_col, k=n_centroids, iters=cell_iters
            )
        ivfpq_build_index(
            batch_df, id_col, vec_col, index_path,
            dim=dim, m=m, ksub=ksub, n_centroids=n_centroids,
            cents=cents, default_nprobe=default_nprobe,
        )

    return _start_ingest(
        vectors, checkpoint_dir, index_path, trigger, compact_every, gc_grace_sec, body
    )


def start_search_index_ingest(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    checkpoint_dir: str,
    buckets: int = 64,
    dedup_delay: str = "1 hour",
    ts_col: str | None = None,
    trigger: dict | None = None,
    compact_every: int = 0,
    merge_every: int = 0,
    gc_grace_sec: float = 300.0,
) -> StreamingQuery:
    """The lexical-search leg of the streaming ingest triad (near-dup
    LSH, semantic IVF, and now BM25): per micro-batch of documents,
    tokenize and fold a new SEGMENT into the persisted BM25 index —
    term-bucket partitioned postings/dfreq plus corpus stats, queryable
    at any point with :func:`~..operators.search.bm25_query_index`
    (segment totals are additive, so mid-stream queries see exactly the
    documents indexed so far).

    Replay story — STRONGER than the other two loops by construction:
    segments are written with :func:`~..operators.search.
    bm25_write_segment`, which lands all three tables under the
    micro-batch's own ``batch_id=`` partition and replaces any prior
    attempt at MANIFEST level (displaced files stay on disk through the
    GC grace window for pinned readers). A
    crash-replayed batch REPLACES its segment bit-for-bit instead of
    appending a duplicate — necessary because BM25 stats are additive
    (a duplicated segment would double tf/df/N and silently corrupt
    every score; there is no query-time dedup that could undo that,
    unlike LSH's distinct() or IVF's candidate dedup).

    ``ts_col`` (with ``dedup_delay``) enables upstream
    ``dropDuplicatesWithinWatermark`` on ``id_col`` so an id replayed by
    an at-least-once SOURCE (not the checkpoint) is indexed once —
    cross-BATCH id duplication is the one hole batch-id overwrite can't
    close. ``compact_every=N`` compacts segment leaves every N batches.
    Memory-sink-free: the index ON DISK is the sink; this loop is
    production-shaped as written. Loop rules: :func:`_start_ingest`.

    Growth: ``merge_every=N`` (round 9, VERDICT Next #2) folds all live
    segments into the merged base segment every N batches via
    :func:`~..operators.search.bm25_merge_segments`, bounding the live
    segment count at N (+1 base) and therefore the query-time
    dfreq/stats merge width — under a high-frequency trigger the index
    no longer grows a partition dir per micro-batch forever. Replay
    stays idempotent across the merge: folded batch ids are recorded in
    the snapshot's ``bm25_covered_batches`` provenance and a replayed
    covered batch is a manifest-level no-op (its rows already live in
    the base segment). With ``merge_every=0`` the pre-r9 behavior
    holds: segment count equals micro-batch count — fine at daily-crawl
    cadence (~365 partition dirs/year), with the offline
    ``bm25_build_index`` + path-swap escape for anything hotter. The
    merge rewrites the whole index, so its cost is amortized by N:
    pick N so that N batches ≈ the index's own size growth (the classic
    single-level LSM trade; tiered merging is the next rung if a real
    deployment needs sub-linear rewrite volume).
    """
    from ..operators.search import bm25_merge_segments, bm25_write_segment

    if ts_col is not None:
        docs = streaming_drop_duplicates(docs, [id_col], ts_col, dedup_delay)

    def body(spark, batch_df, batch_id, bootstrap):
        bm25_write_segment(
            batch_df, id_col, text_col, index_path, batch_id, buckets=buckets
        )
        if merge_every > 0 and (batch_id + 1) % merge_every == 0:
            bm25_merge_segments(spark, index_path, grace_sec=gc_grace_sec)

    return _start_ingest(
        docs, checkpoint_dir, index_path, trigger, compact_every, gc_grace_sec, body
    )


def start_line_dedup_ingest(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    min_chars: int = 12,
    max_occurrences: int = 2,
    trigger: dict | None = None,
    compact_every: int = 0,
    gc_grace_sec: float = 300.0,
) -> StreamingQuery:
    """The fourth streaming ingest loop (round 7): LINE-level global
    dedup — the RefinedWeb/C4 boilerplate cut — as a continuous
    pipeline. Per micro-batch: (1) the batch's line-frequency table
    lands as its own ``batch_id=`` SEGMENT (a crash-replayed batch
    REPLACES its counts — frequencies are additive like BM25 stats, so
    a duplicated segment would silently over-trigger removals; replace-
    on-replay closes that, same discipline as
    ``start_search_index_ingest``); (2) the corpus-hot line set is the
    additive total over ALL segments INCLUDING this one; (3) the batch's
    documents are rebuilt without the hot lines and appended to the
    curated table under their batch partition (idempotent under replay,
    since the hot set derives from the already-replaced segment).

    Streaming semantics, stated honestly: a line is removed from
    documents arriving in or after the micro-batch where its cumulative
    count crossed ``max_occurrences``; earlier documents already landed
    with it (re-cleaning history is a batch backfill with
    ``drop_repeated_lines``, not a streaming concern). The first batch
    therefore behaves exactly like the batch operator.

    Scale shape per batch: one groupBy on the batch's lines, one
    additive aggregate over the segment tree (term-partitioned growth —
    segment count equals batch count, same growth honesty note as the
    BM25 loop), one exclusion join whose hot side is boilerplate-sized
    (AQE broadcasts it), one per-doc rebuild. ``compact_every=N``
    compacts segment leaves every N batches. Loop rules:
    :func:`_start_ingest`.

    Since r9 (second half) the count-segment tree is MANIFEST-managed
    like every other streaming index: each batch's segment lands as an
    append inside a transaction whose replace scope is its own
    ``batch_id=`` partition (the ServingStore.append recipe — a
    checkpoint-rollback replay RETIRES the prior attempt's files instead
    of hard-deleting them), the hot-set read plans over one snapshot's
    explicit file list, and compaction goes through
    ``compact_index_tree``. The quintet soak caught the old layout's
    race for real: ``compact_parquet_tree`` swaps files under a
    directory-listing reader -> FAILED_READ_FILE.FILE_NOT_EXIST."""
    import os as _os

    from ..operators.dedup import doc_lines, rebuild_without_lines
    from ..sources.manifest import manifest_read, manifest_txn

    counts_path = _os.path.join(index_path, "line_counts")

    def body(spark, batch_df, batch_id, bootstrap):
        lines = doc_lines(batch_df, id_col, text_col)
        with manifest_txn(
            index_path, replace_prefixes=[f"line_counts/batch_id={int(batch_id)}"]
        ):
            (
                lines.filter(F.length("line") >= min_chars)
                .groupBy("line")
                .agg(F.count(F.lit(1)).alias("n_occ"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("batch_id")
                .parquet(counts_path)
            )
        hot = (
            manifest_read(spark, index_path, "line_counts")
            .groupBy("line")
            .agg(F.sum("n_occ").alias("_total"))
            .filter(F.col("_total") > max_occurrences)
            .select("line")
        )
        cleaned = rebuild_without_lines(lines, hot, id_col)
        _write_batch_partition(cleaned, out_path, batch_id)

    return _start_ingest(
        docs, checkpoint_dir, index_path, trigger, compact_every, gc_grace_sec, body
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    within_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: right events on the same key whose
    timestamp falls in ``[left_ts, left_ts + within_seconds]`` — e.g.
    "purchases within an hour of the click". Both inputs must be
    streaming DataFrames with DISTINCT timestamp column names.

    Scale semantics: Structured Streaming keeps both sides' unmatched
    rows in state; the watermark + the closed time-range condition bound
    that state (rows age out once the other side's watermark passes
    their join window) — without the range condition the state would
    grow forever. The join itself shuffles both streams on the key,
    exactly like the batch equi-join.

    The same call works on batch DataFrames (the condition degrades to a
    plain range predicate), which is what the parity test exploits.
    """
    from pyspark.sql import functions as F

    from ..functions.buckets import require_utc_session

    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    # downstream consumers round-trip the LTZ event time back to epoch
    # seconds via field extraction — only identity under a UTC session
    require_utc_session(left.sparkSession)
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[key_col] == right[key_col])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {within_seconds} SECONDS")
        )
    )
    return left.join(right, cond).drop(right[key_col])


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: join a streaming DataFrame to
    a batch dimension table. Structured Streaming re-evaluates the
    static side per micro-batch, so a dimension re-read through a
    catalog/file source picks up slow changes without restarting the
    stream.

    ``broadcast_dim=True`` (the default) hints the dimension broadcast —
    the right call for the classic small-dim case, keeping the stream
    side shuffle-free. Set it False for large dims and let AQE decide.
    """
    from pyspark.sql import functions as F

    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)
