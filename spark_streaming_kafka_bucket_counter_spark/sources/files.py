"""File-based sources: parquet test tables, the events file stream, document files.

Every parquet read whose schema Spark would take from one footer goes
through :func:`read_parquet`: the schema is read on the driver from that
footer and handed to the reader, so planning a read runs no Spark job
(Spark's own inference runs a one-task job per read just to open the
footer). Directories and globs keep Spark's inference.

Scale: the scan itself is a plain parquet scan — partition pruning,
predicate pushdown and column pruning are unchanged; at 100 TB the same
call reads a partitioned table root (a directory, so Spark infers its
schema), and everything downstream is unchanged.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _micros_ts(df: DataFrame) -> DataFrame:
    """Truncate a BIGINT-nanoseconds ``ts`` (parquet TIMESTAMP(NANOS)
    read under ``nanosAsLong``) to a microsecond timestamp — the same
    truncation DuckDB 1.x applies reading the file, so both engines see
    identical values. Batch and streaming readers share this one rule."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    return df


#: the characters that make Spark expand a read path as a glob
#: (``SparkHadoopUtil.isGlobPath``)
_GLOB_CHARS = frozenset("{}[]*?\\")


def footer_schema(spark: SparkSession, paths: Sequence[str]) -> StructType | None:
    """The schema Spark's parquet inference would give a read of
    ``paths``, resolved on the driver from one footer — no Spark job.

    Spark's non-merging inference opens exactly one footer: that of the
    first data file in path order (``ParquetUtils.splitFiles`` sorts the
    listing), which for explicit files is the lexicographically first
    path. This reads that footer through Hadoop's ``FileSystem`` and
    converts it with the code the inference job runs
    (``ParquetToSparkSchemaConverter`` over the session's SQL conf, then
    ``ParquetFileFormat.readSchemaFromFooter``), so ``nanosAsLong``,
    INT96, NTZ and an embedded Spark schema resolve exactly as in the job.

    Returns None where one footer is not what Spark reads — a glob, a
    first path that is a directory (or missing, so Spark raises its own
    ``PATH_NOT_FOUND``), or several paths under
    ``spark.sql.parquet.mergeSchema`` — and the caller lets Spark infer.
    Only the first path is checked: a directory later in path order
    holds only files that sort after its own path, hence after the first
    one, so the first path, when it is a file, is the one Spark opens.
    JVM errors reading the footer propagate.
    """
    if not paths or any(_GLOB_CHARS.intersection(p) for p in paths):
        return None

    def jclass(name: str):
        # one gateway round trip; ``spark._jvm.org.apache...`` costs one
        # per package segment
        return getattr(spark._jvm, name)

    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    if len(paths) > 1 and sql_conf.isParquetSchemaMergingEnabled():
        return None
    hconf = state.newHadoopConf()
    path = jclass("org.apache.hadoop.fs.Path")(min(paths))
    if not path.getFileSystem(hconf).isFile(path):
        return None
    spark_pq = "org.apache.spark.sql.execution.datasources.parquet."
    meta = jclass(spark_pq + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(path, hconf),
        jclass(
            "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS,
    )
    schema = jclass(spark_pq + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(path, meta),
        jclass(spark_pq + "ParquetToSparkSchemaConverter")(sql_conf),
    )
    return StructType.fromJson(json.loads(schema.json()))


def read_parquet(spark: SparkSession, *paths: str, base: str | None = None) -> DataFrame:
    """``spark.read.parquet(*paths)`` — with ``basePath`` ``base`` when
    given — whose schema comes from :func:`footer_schema` instead of an
    inference job. Partition columns under ``base`` are still discovered
    from the paths, exactly as in a plain read."""
    reader = spark.read if base is None else spark.read.option("basePath", base)
    schema = footer_schema(spark, paths)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing parquet TIMESTAMP(NANOS) columns.

    Spark 4 rejects nanosecond parquet timestamps outright; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they surface as BIGINT
    nanoseconds, which :func:`_micros_ts` truncates to microseconds. The
    conf is session-dynamic, set here defensively because a caller may
    hand us its own SparkSession. The table's schema comes from its one
    footer on the driver (:func:`read_parquet`), so building the read
    runs no Spark job.
    """
    spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return _micros_ts(df) if name == "events" else df


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table as a file stream, with ``ts`` normalized as
    in :func:`load_table`. The file source needs a directory and an
    explicit schema, so this reads the raw parquet schema (from the
    table's footer, :func:`read_parquet`) and glob-filters the directory
    to the one table. Sets ``nanosAsLong`` like
    :func:`load_table`; a caller that must leave the session untouched
    pins it around the stream's whole execution (``restored_conf``).
    """
    spark.conf.set(NANOS_AS_LONG, "true")
    raw_schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _micros_ts(stream)


def fan_out_scan(df: DataFrame, key_col: str | list[str]) -> DataFrame:
    """Scale-adaptive fan-out of a narrow input ahead of heavy per-row
    work (optimization guide §2.5, "input skew ... repartition
    immediately after the read").

    A small parquet table arrives as one or two input splits (the bench
    tables are single-row-group files), so the scan — and every narrow
    op chained onto it, which is exactly where tokenize / shingle /
    window-explode / entropy compute lives — runs as ONE task no matter
    how many cores the session has. Measured on the r12 bench before
    this helper: text_entropy spent 3.1 s in a single scan-stage task on
    a 32-core local session; hash-fanned to the session's default
    parallelism the same plan runs in ~0.7 s.

    Behavior is deliberately conditional so it is a SMALL-INPUT remedy,
    never a scale cost: when the scan already carries at least the
    session's default parallelism (any real table at cluster scale —
    thousands of row groups), or the frame is streaming, this is a
    no-op. Otherwise it hash-repartitions on ``key_col`` —
    deterministic under task retries, unlike round-robin over a
    non-deterministic input order (SPARK-38388) — to
    ``defaultParallelism`` partitions. Every catalog result is
    partitioning-independent by construction (integer-exact,
    order-insensitive aggregates; content-hash sampling), so the only
    observable effect is parallelism.

    Unknown-size frames (``createDataFrame``, memoized checkpoints,
    other non-file sources) are returned untouched, while the cache
    size gate (``operators._cache.persist(source=...)``) DOES persist
    them — the same "unknown means big" rule, applied from opposite
    ends. A caller feeding a small in-memory frame that wants the fan
    out should repartition it first.
    """
    if not provably_small_scan(df):
        return df
    # a list key hashes on the COMPOSITE of all named columns — callers
    # whose first column may be low-cardinality/null-heavy (profiling)
    # pass every projected column so the hash actually spreads
    # (ADVICE r12 #4)
    n = df.sparkSession.sparkContext.defaultParallelism
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    return df.repartition(n, *[F.col(k) for k in keys])


def provably_small_scan(df: DataFrame) -> bool:
    """True only when ``df`` is a non-streaming file-backed scan whose
    split count is provably below the session's default parallelism.

    Estimated from DRIVER-SIDE FILE METADATA only. The obvious
    df.rdd.getNumPartitions() is a trap under AQE: finalizing the plan
    to an RDD can EXECUTE the frame's upstream query stages (measured:
    curation_report re-ran its gate+window subtree once per
    decontaminate call through this guard). File count, topped up with
    size/maxPartitionBytes for the few-huge-files case, needs no job:
    at scale either the file count alone clears the bar or the byte
    estimate does. Non-file-backed frames (createDataFrame, memoized
    checkpoints) and unstatable sources report False — unknown size
    must never trigger a small-input remedy (ADVICE r12 #2).

    This is the shared smallness test behind two scale-adaptive
    behaviors: :func:`fan_out_scan` (small inputs are fanned out) and
    ``operators._cache.persist(source=...)`` (small inputs SKIP the
    persist — recomputing their subtree per consumer is an O(one-split)
    pass, cheaper than the cached plan's AQE-less execution)."""
    if df.isStreaming:
        return False
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files or len(files) >= n:
        return False
    mpb = _size_bytes(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        ),
        default=128 * 1024 * 1024,
    )
    total = 0
    for f in files:
        try:
            total += os.stat(f.removeprefix("file:")).st_size
        except OSError:
            # non-local / unstatable source: assume big
            return False
    return total // max(1, mpb) < n


def _size_bytes(value: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g',
    '512k', with an optional 'b' suffix, case-insensitive) — the conf
    accepts unit forms, and treating '64m' as unparseable silently fell
    back to 128MB, skewing fan_out_scan's split estimate toward
    repartitioning large tables (ADVICE r12 #5)."""
    s = value.strip().lower().removesuffix("b")
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


def cached_index_dir(
    kind: str, sf_dir: str, params: str, build, layout_version: int = 0
) -> str:
    """Build-once cache for persisted-index serving queries (IVF / BM25 /
    LSH): the catalog's index queries must be plain ``(spark, sf_dir) ->
    DataFrame`` callables, so the build step materializes into a temp dir
    keyed by (kind, absolute sf_dir, params) and is skipped when a
    completed build is already there — the build-once/query-many serving
    story, exercised end-to-end by the correctness gate.

    ``build(path)`` writes into a PRIVATE staging directory that is
    atomically renamed into the keyed slot only after the ``_BUILT``
    marker is inside it — an interrupted build leaves only an orphaned
    staging dir (never a half-built published index), and two processes
    racing the same key each build privately and exactly one rename
    wins (the loser discards its copy and serves the winner's). Input
    tables are static per sf_dir (driver-generated), which is what makes
    the cache sound.

    ``layout_version`` is the writer module's ``LAYOUT_VERSION`` constant
    (owned and bumped BESIDE the index writer whenever its on-disk layout
    or constants change) and is folded into the key — staleness is
    prevented by construction, not by remembering to hand-edit the
    ``params`` string at every call site (the r9 lesson: the IVFPQ format
    changed twice in one round with the params suffix unchanged).
    ``params`` still carries query-shape knobs (bucket counts, k, m).
    """
    import hashlib
    import shutil
    import tempfile
    from pathlib import Path

    # the key covers the SOURCE DATA IDENTITY (every table file's name,
    # size and mtime), not just the directory path — if the test tables
    # are ever regenerated with different content, the cache misses and
    # rebuilds instead of serving a stale index to the correctness gate
    src = "|".join(
        f"{p.name}:{st.st_size}:{st.st_mtime_ns}"
        for p in sorted(Path(sf_dir).glob("*.parquet"))
        for st in [p.stat()]
    )
    key = hashlib.md5(
        f"{kind}:L{layout_version}:{os.path.abspath(sf_dir)}:{params}:{src}".encode()
    ).hexdigest()[:12]
    cache = Path(tempfile.gettempdir()) / "ssbc_index_cache"
    root = cache / f"{kind}-{key}"
    if not (root / "_BUILT").exists():
        cache.mkdir(parents=True, exist_ok=True)
        stage = Path(tempfile.mkdtemp(dir=cache, prefix=f"_stage_{kind}-{key}-"))
        try:
            build(str(stage))
            (stage / "_BUILT").write_text(params + "\n")
            try:
                stage.rename(root)  # atomic publish
            except OSError:
                if not (root / "_BUILT").exists():
                    # not a concurrent winner — a stale half-built root
                    # (interrupted build) is squatting the slot; evict
                    # it and retry the publish once. The retry itself can
                    # race a second process republishing between our
                    # rmtree and rename — if the slot is completed by
                    # then, serve the winner's copy instead of raising
                    shutil.rmtree(root, ignore_errors=True)
                    try:
                        stage.rename(root)
                    except OSError:
                        if not (root / "_BUILT").exists():
                            raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    return str(root)


def open_or_none(path: str | None) -> str | None:
    """File-or-None loader (reference S9, utils.py:375-381)."""
    if not path:
        return None
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


# ---------------------------------------------------------------------------
# Multi-format ingest: JSONL / CSV round-trip
# ---------------------------------------------------------------------------

DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_CSV_LOSSLESS = {
    # The pinned lossless CSV dialect (probed on Spark 4, tested):
    # - escape='"' -> RFC-4180 doubled quotes instead of backslashes
    # - nullValue='\N' sentinel -> NULL and '' survive as distinct
    #   values (default dialect reads a quoted empty back as NULL)
    # - whitespace trimming OFF both ways (reader default TRIMS
    #   trailing spaces out of unquoted fields)
    #
    # Known, inherent limitation (pinned in tests): a field whose VALUE
    # is exactly the sentinel reads back as NULL — Spark's writer emits
    # data '\N' and NULL identically (quoteAll doesn't help; it quotes
    # the null representation too), the same property the Hive/Postgres
    # '\N' convention has always had. export_documents_files therefore
    # FAILS FAST if the corpus contains a colliding value, rather than
    # writing a silently lossy file.
    "header": True,
    "escape": '"',
    "nullValue": "\\N",
    "ignoreLeadingWhiteSpace": False,
    "ignoreTrailingWhiteSpace": False,
}


AVRO_DOCUMENTS_SCHEMA = (
    '{"type":"record","name":"document","fields":['
    '{"name":"doc_id","type":"long"},'
    '{"name":"text","type":["null","string"]},'
    '{"name":"lang","type":["null","string"]},'
    '{"name":"source","type":["null","string"]},'
    '{"name":"n_chars","type":["null","long"]}]}'
)


def export_documents_files(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Materialize a JSONL or CSV rendition of the ``documents`` table
    into the build-once cache (same fingerprinted keying as the serving
    indexes — regenerated parquet auto-misses). This is the raw-ingest
    fixture: training corpora arrive as JSON-lines / CSV long before
    they are parquet, and the round-trip queries put those readers
    under the oracle hash gate. Written as multiple part files on
    purpose — multiLine CSV is NOT splittable (one file = one task), so
    file count IS the read parallelism at scale."""
    if fmt not in ("jsonl", "jsonl_gz", "csv", "avro", "warc", "orc", "parquet_ext"):
        raise ValueError(f"unsupported export format: {fmt}")

    def build(path: str) -> None:
        df = load_table(spark, sf_dir, "documents").repartition(8)
        if fmt == "jsonl":
            df.write.mode("overwrite").json(path)
        elif fmt == "jsonl_gz":
            # whole-file gzip: the dominant wire format for shipped
            # corpora, and NOT splittable — one .json.gz = one read task,
            # so (like multiLine CSV and OCF files) part-file count IS
            # the read parallelism; the 8-way repartition is the lever
            df.write.mode("overwrite").option("compression", "gzip").json(path)
        elif fmt == "avro":
            _write_documents_ocf(df, path)
        elif fmt == "warc":
            _write_documents_warc(df, path)
        elif fmt == "orc":
            df.write.mode("overwrite").orc(path)
        elif fmt == "parquet_ext":
            _write_documents_parquet_ext(df, path)
        else:
            sentinel = _CSV_LOSSLESS["nullValue"]
            cond = None
            for c, t in df.dtypes:
                if t == "string":
                    e = F.col(c) == sentinel
                    cond = e if cond is None else cond | e
            collide = df.filter(cond).count() if cond is not None else 0
            if collide:
                raise ValueError(
                    f"{collide} row(s) contain the CSV null sentinel "
                    f"{sentinel!r} as data — the dialect cannot round-trip "
                    "them (writer emits data and NULL identically); "
                    "refusing to write a lossy file"
                )
            w = df.write.mode("overwrite")
            for k, v in _CSV_LOSSLESS.items():
                w = w.option(k, v)
            w.csv(path)

    # warc bumped in round 7: v2 added mixed record types + chunked
    # responses, v3 the charset families, v4 the statistical-rung
    # families (BOM-less UTF-16LE + CJK phrases, round 8), v5 the Big5
    # family (round 9); a stale export would fail the census oracles
    ver = "documents-v5" if fmt == "warc" else "documents-v1"
    return cached_index_dir(f"{fmt}-export", sf_dir, ver, build)


def _write_documents_ocf(df: DataFrame, path: str) -> None:
    """Executor-side Avro Object Container File export: each Arrow batch
    becomes one conformant ``.avro`` file (bounded memory — no partition
    buffering), named by content hash (idempotent re-runs overwrite the
    same file). Codec alternates deflate/null by hash so both decode
    paths run on every dataset. At cluster scale the same pattern
    writes to DFS; block boundaries inside each file are the finer
    split unit a production reader would fan out on."""
    import hashlib
    import os as _os

    from ..functions.avro_lite import encode_ocf

    schema_json = AVRO_DOCUMENTS_SCHEMA
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    _os.makedirs(path, exist_ok=True)

    def _write(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for row in zip(
                *[
                    pdf[c].astype(object).where(pd.notna(pdf[c]), None).tolist()
                    for c in cols
                ]
            ):
                rec = dict(zip(cols, row))
                rec["doc_id"] = int(rec["doc_id"])
                if rec["n_chars"] is not None:
                    rec["n_chars"] = int(rec["n_chars"])
                recs.append(rec)
            if not recs:
                continue
            codec = "deflate" if recs[0]["doc_id"] % 2 == 0 else "null"
            blob = encode_ocf(schema_json, recs, codec=codec)
            name = hashlib.md5(blob).hexdigest()[:16]
            with open(_os.path.join(path, f"part-{name}.avro"), "wb") as fh:
                fh.write(blob)
            yield pd.DataFrame({"file": [name], "n": [len(recs)]})

    written = df.select(*cols).mapInPandas(_write, "file string, n long").collect()
    if not written:
        # an empty corpus still publishes a valid (empty) container
        blob = encode_ocf(schema_json, [], codec="null")
        with open(_os.path.join(path, "part-empty.avro"), "wb") as fh:
            fh.write(blob)


def _write_documents_parquet_ext(df: DataFrame, path: str) -> None:
    """Executor-side EXTERNAL-writer parquet export: each Arrow batch
    becomes one part file written by pyarrow (not Spark's parquet-java),
    with the compression codec rotated zstd/gzip/snappy/lz4 by the
    batch's lead doc_id — the interchange reality of a 100 TB lake,
    where data lands from many writers and codec choices, and the
    reader must take them all in one directory scan (parquet carries
    the codec per column chunk, so mixed-codec directories are legal).
    lz4 is deliberately included: pyarrow writes LZ4_RAW, the frame
    variant that older parquet-java could NOT read — this gate pins
    that the deployed Spark still can. Content-hash filenames keep
    re-runs idempotent, same as the OCF/WARC exporters."""
    import hashlib
    import io
    import os as _os

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    _os.makedirs(path, exist_ok=True)
    codecs = ("zstd", "gzip", "snappy", "lz4")

    def _write(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        )
        for pdf in batches:
            if not len(pdf):
                continue
            table = pa.Table.from_pandas(
                pdf[cols], schema=schema, preserve_index=False
            )
            codec = codecs[int(pdf["doc_id"].iat[0]) % len(codecs)]
            buf = io.BytesIO()
            pq.write_table(table, buf, compression=codec)
            blob = buf.getvalue()
            name = hashlib.md5(blob).hexdigest()[:16]
            with open(_os.path.join(path, f"part-{name}.parquet"), "wb") as fh:
                fh.write(blob)
            yield pd.DataFrame({"file": [name], "n": [len(pdf)]})

    written = df.select(*cols).mapInPandas(_write, "file string, n long").collect()
    if not written:
        import pyarrow as pa
        import pyarrow.parquet as pq

        empty = pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
                "lang": pa.array([], pa.string()),
                "source": pa.array([], pa.string()),
                "n_chars": pa.array([], pa.int64()),
            }
        )
        pq.write_table(empty, _os.path.join(path, "part-empty.parquet"))


def read_documents_files(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """Read a JSONL/CSV/Avro-OCF documents rendition with the EXPLICIT
    schema (at 100 TB schema inference is a full extra pass; never
    infer) and the lossless dialect options matching
    :func:`export_documents_files`. The OCF path goes through Spark's
    ``binaryFile`` source + the pure-Python container decoder — the
    executed fallback for clusters without the spark-avro module (the
    same rationale as functions/avro_lite itself)."""
    if fmt in ("jsonl", "jsonl_gz"):
        # the gzip leg needs no reader options: Spark's text source
        # auto-decompresses by file extension
        return spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    if fmt == "orc":
        # columnar like parquet: pushdown/pruning/splittability all hold
        return spark.read.schema(DOCUMENTS_SCHEMA).orc(path)
    if fmt == "parquet_ext":
        # native reader over the externally-written mixed-codec tree
        return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
    if fmt == "avro":
        from ..functions.avro_lite import decode_ocf

        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .load(path)
        )

        def _decode(batches):
            import pandas as pd

            cols = ["doc_id", "text", "lang", "source", "n_chars"]
            for pdf in batches:
                rows = [
                    rec
                    for blob in pdf["content"]
                    for rec in decode_ocf(bytes(blob))[1]
                ]
                out = pd.DataFrame(rows, columns=cols)
                yield out.astype({"doc_id": "int64", "n_chars": "Int64"})

        return raw.select("content").mapInPandas(_decode, DOCUMENTS_SCHEMA)
    if fmt != "csv":
        raise ValueError(f"unsupported ingest format: {fmt}")
    r = spark.read.schema(DOCUMENTS_SCHEMA).option("multiLine", True)
    for k, v in _CSV_LOSSLESS.items():
        r = r.option(k, v)
    return r.csv(path)


#: fixed CJK payloads the WARC charset fixture appends so the East-Asian
#: statistical rungs have real script content to detect (ASCII doc text
#: is byte-identical under every EA codec — detection needs the script).
#: Quoted literally in the oracle SQL's length('...') arithmetic.
WARC_CJK_PHRASES = {
    "gb18030": "的一是不了我们在用它这个句子很好",
    "shift_jis": "これはテスト用のデータですましたする",
    "euc-kr": "이것은 데이터 테스트를 위한 문장입니다",
    # Traditional Chinese (round 9, Big5 rung): under cp950 six of these
    # characters take ASCII-range trail bytes (0x40-0x7E) — the isolated
    # high-byte shape the EUC adjacency gate cannot see, which is the
    # structure the Big5 pair-walk exists for
    "big5": "這是一個測試用的句子我們來看看結果",
}


def _write_documents_warc(df: DataFrame, path: str) -> None:
    """Executor-side Common-Crawl-style export: each Arrow batch becomes
    one ``.warc.gz`` of member-gzipped records. doc_id rides in
    WARC-Record-ID (``urn:ssbc:<id>``) and source in the target URI path
    (percent-encoded, so any source string round-trips); a NULL text is
    an empty fetch body — WARC has no NULL, so the ingest contract is
    COALESCE(text, '') on both engines.

    Round 7 — the fixture interleaves the record types real Common
    Crawl segments carry, on id-arithmetic rules a SQL oracle can
    replay: every doc gets a response (CHUNKED transfer framing for
    ``id%4==2``), ``id%3==0`` adds the request record that produced it,
    ``id%5==0`` adds a revisit record pointing back at the response
    (crawl-time dedup breadcrumb), ``id%7==0`` adds a warc-fields
    metadata record. Charset families exercise the reader's detection
    ladder: ``id%9==4`` bodies ship as BOM'd UTF-16 with NO charset
    declaration (BOM sniff), ``id%9==7`` ASCII-only bodies ship with a
    ``charset=windows-1252`` declaration (declared path; ASCII is
    deterministic from the text so the oracle can replay the rule),
    everything else is declared UTF-8.

    Round 8 — the statistical rungs join the fixture on the same
    id-arithmetic terms (ASCII-only gates keep every rule replayable in
    SQL): ``id%9==1`` (len>=4) ships BOM-LESS UTF-16LE undeclared (the
    NUL-parity rung); ``id%9==2`` appends a Chinese phrase and ships
    gb18030 undeclared; ``id%9==5`` appends a Japanese phrase and ships
    cp932 (Shift_JIS) undeclared; ``id%9==8`` appends a Korean phrase,
    ships cp949 — and LIES ``charset=latin-1`` (the classic mojibake
    page; the reader must distrust the declaration on multi-byte
    structure and land on euc-kr). Round 9: ``id%9==3`` appends a
    TRADITIONAL-Chinese phrase, ships cp950 (Big5) behind a lying
    ``charset=iso-8859-1`` — the rung whose ASCII-range trail bytes
    defeat the adjacency gate, exercising the Big5 pair-walk +
    traditional-anchor scoring. The phrases are module constants
    (:data:`WARC_CJK_PHRASES`) quoted literally in the oracles'
    ``length('...')`` arithmetic, so the SQL stays self-evidently in
    sync with the bytes."""
    import hashlib
    import os as _os
    from urllib.parse import quote

    from .warc import (
        build_warc_metadata,
        build_warc_request,
        build_warc_response,
        build_warc_revisit,
        encode_warc,
    )

    _os.makedirs(path, exist_ok=True)

    def _write(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            import codecs

            for did, text, src in zip(
                pdf["doc_id"], pdf["text"], pdf["source"]
            ):
                did = int(did)
                t = "" if text is None or text is pd.NA else str(text)
                if did % 9 == 4:  # BOM'd UTF-16, charset NOT declared
                    body = codecs.BOM_UTF16_LE + t.encode("utf-16-le")
                    ctype = "text/plain"
                elif did % 9 == 7 and t.isascii():  # declared legacy 8-bit
                    body = t.encode("cp1252")
                    ctype = "text/plain; charset=windows-1252"
                elif did % 9 == 1 and t.isascii() and len(t) >= 4:
                    # BOM-less UTF-16LE, undeclared: NUL-parity rung
                    body = t.encode("utf-16-le")
                    ctype = "text/plain"
                elif did % 9 == 2 and t and t.isascii():
                    # undeclared gb18030 (statistical rung)
                    body = (t + "\n" + WARC_CJK_PHRASES["gb18030"]).encode(
                        "gb18030"
                    )
                    ctype = "text/plain"
                elif did % 9 == 5 and t and t.isascii():
                    # undeclared Shift_JIS (WHATWG: cp932)
                    body = (t + "\n" + WARC_CJK_PHRASES["shift_jis"]).encode(
                        "cp932"
                    )
                    ctype = "text/plain"
                elif did % 9 == 8 and t and t.isascii():
                    # cp949 bytes behind a LYING latin-1 declaration
                    body = (t + "\n" + WARC_CJK_PHRASES["euc-kr"]).encode(
                        "cp949"
                    )
                    ctype = "text/plain; charset=latin-1"
                elif did % 9 == 3 and t and t.isascii():
                    # Big5 (cp950) behind a LYING iso-8859-1 declaration —
                    # the Traditional-Chinese mojibake page (round 9);
                    # the reader must distrust the declaration on the
                    # Big5 pair structure and land on big5, not cp1252
                    # or gb18030
                    body = (t + "\n" + WARC_CJK_PHRASES["big5"]).encode(
                        "cp950"
                    )
                    ctype = "text/plain; charset=iso-8859-1"
                else:
                    body = t.encode()
                    ctype = "text/plain; charset=utf-8"
                src_seg = (
                    quote(str(src), safe="")
                    if src is not None and src is not pd.NA
                    else None
                )
                uri = (
                    f"http://corpus.invalid/{src_seg}/doc/{did}"
                    if src_seg is not None
                    else f"http://corpus.invalid/doc/{did}"
                )
                rid = f"urn:ssbc:{did}"
                if did % 3 == 0:
                    recs.append(
                        build_warc_request(f"urn:ssbc:req:{did}", uri)
                    )
                recs.append(
                    build_warc_response(
                        rid, uri, body, chunked=did % 4 == 2,
                        content_type=ctype,
                    )
                )
                if did % 5 == 0:
                    recs.append(
                        build_warc_revisit(f"urn:ssbc:rev:{did}", uri, rid)
                    )
                if did % 7 == 0:
                    recs.append(
                        build_warc_metadata(
                            f"urn:ssbc:meta:{did}", uri,
                            {"fetchDurationMs": str(did % 1000)},
                        )
                    )
            if not recs:
                continue
            blob = encode_warc(recs, member_gzip=True)
            name = hashlib.md5(blob).hexdigest()[:16]
            with open(_os.path.join(path, f"part-{name}.warc.gz"), "wb") as fh:
                fh.write(blob)
            yield pd.DataFrame({"file": [name], "n": [len(recs)]})

    df.select("doc_id", "text", "source").mapInPandas(
        _write, "file string, n long"
    ).collect()


def _warc_rows_from_records(recs: list[dict], bad: int) -> list[tuple]:
    from urllib.parse import unquote

    rows = []
    for r in recs:
        if r.get("type") != "response":
            continue
        rid = r.get("record_id", "")
        if not rid.startswith("urn:ssbc:"):
            continue
        segs = r.get("target_uri", "").split("/")
        # http://corpus.invalid/<src>/doc/<id> vs .../doc/<id>
        src = unquote(segs[3]) if len(segs) == 6 else None
        rows.append((int(rid.rsplit(":", 1)[1]), r.get("body", ""), src, bad))
    return rows


_WARC_READ_SCHEMA = "doc_id long, text string, source string, n_malformed long"
_WARC_READ_COLS = ["doc_id", "text", "source", "n_malformed"]
_WARC_READ_TYPES = {"doc_id": "int64", "n_malformed": "int64"}

_WARC_CENSUS_SCHEMA = (
    "record_type string, record_id string, status long, method string, "
    "refers_to string, charset string, body_chars long, n_malformed long"
)
_WARC_CENSUS_COLS = [
    "record_type", "record_id", "status", "method", "refers_to",
    "charset", "body_chars", "n_malformed",
]
_WARC_CENSUS_TYPES = {
    "status": "Int64", "body_chars": "Int64", "n_malformed": "int64"
}


def _warc_census_rows(recs: list[dict], bad: int) -> list[tuple]:
    rows = []
    for r in recs:
        body = r.get("body")
        rows.append(
            (
                r.get("type", ""),
                r.get("record_id", ""),
                r.get("status"),
                r.get("method"),
                r.get("refers_to"),
                r.get("charset"),
                len(body) if body is not None else None,
                bad,
            )
        )
    return rows


def _read_warc(
    spark: SparkSession, path: str, split_bytes: int | None,
    row_fn, cols: list[str], types: dict, schema: str,
) -> DataFrame:
    from .warc import parse_warc

    if split_bytes is not None:
        files = sorted(
            (str(p), p.stat().st_size)
            for p in __import__("pathlib").Path(path).glob("*.warc.gz")
        )
        ranges = [
            (f, start, min(start + split_bytes, size))
            for f, size in files
            for start in range(0, size, split_bytes)
        ]
        plan = spark.createDataFrame(
            ranges, "file string, start long, end long"
        ).repartition(max(1, min(len(ranges), 64)))

        def _read_ranges(batches):
            import pandas as pd

            from .warc import read_member_range

            for pdf in batches:
                rows = []
                for f, s, e in zip(pdf["file"], pdf["start"], pdf["end"]):
                    members, bad = read_member_range(str(f), int(s), int(e))
                    for m in members:
                        recs, b2 = parse_warc(m)
                        rows += row_fn(recs, bad + b2)
                yield pd.DataFrame(rows, columns=cols).astype(types)

        return plan.mapInPandas(_read_ranges, schema)

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path)
    )

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                recs, bad = parse_warc(bytes(blob))
                rows += row_fn(recs, bad)
            yield pd.DataFrame(rows, columns=cols).astype(types)

    return raw.select("content").mapInPandas(_decode, schema)


def read_documents_warc(
    spark: SparkSession, path: str, split_bytes: int | None = None
) -> DataFrame:
    """Read a .warc.gz tree back to ``(doc_id, text, source,
    n_malformed)`` — response records only (the documents contract).

    Default: whole files via binaryFile + the tolerant WARC parser (one
    file = one task). ``split_bytes`` switches to the SPLITTABLE read —
    the member-gzip property exercised for real: the driver plans
    ``(file, start, end)`` byte ranges, and each task resynchronizes on
    a gzip magic inside its range (``warc.read_member_range``) so a
    multi-GB .warc.gz fans out across executors exactly once per
    record. Parity between the two paths is pytest-pinned and the
    catalog query runs the split path under the oracle gate."""
    return _read_warc(
        spark, path, split_bytes, _warc_rows_from_records,
        _WARC_READ_COLS, _WARC_READ_TYPES, _WARC_READ_SCHEMA,
    )


def read_warc_records(
    spark: SparkSession, path: str, split_bytes: int | None = None
) -> DataFrame:
    """Full-fidelity record census of a .warc.gz tree (round 7): EVERY
    record type — response / request / revisit / metadata / warcinfo /
    resource / conversion — as a uniform row ``(record_type, record_id,
    status, method, refers_to, body_chars, n_malformed)``. Real Common
    Crawl segments interleave these; a reader that only surfaces
    responses silently undercounts the segment and loses the
    crawl-time-dedup (revisit) and provenance (metadata) signals. Same
    whole-file / splittable-byte-range paths as the documents read."""
    return _read_warc(
        spark, path, split_bytes, _warc_census_rows,
        _WARC_CENSUS_COLS, _WARC_CENSUS_TYPES, _WARC_CENSUS_SCHEMA,
    )
