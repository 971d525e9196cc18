"""Queryable serving store with batch-id tagging and retention.

Reference: ``RecentSqlite3table`` (``audit_utils/models.py:507-735``) — an
SQLite table fed row-at-a-time from a multiprocessing queue, every row
tagged with a ``RST_ID`` batch counter (models.py:631-665), cleaned every
``clean_freq`` batches by ``DELETE ... WHERE RST_ID < rst_id -
clean_interval`` (models.py:702-735), and queried with arbitrary SQL over
HTTP (models.py:155-187).

Spark-first redesign:
- storage is a parquet directory **partitioned by rst_id**; one streaming
  micro-batch appends exactly one partition directory holding one
  parquet file, committed from the driver: the counts arrive as an
  Arrow table the pipeline already computed on the driver, or as a
  DataFrame brought over in one Arrow collect. The file carries
  Spark's footer keys, so it is indistinguishable to every reader from
  a Spark write — but no Spark write job (and none of Hadoop's
  per-write ``chmod`` spawns) runs per batch. Appends are file-level
  (no read-modify-write) and queries prune partitions on ``rst_id``
  predicates.
- scale: a batch's counts are O(distinct keys in the batch), so the
  driver commit holds far past the service's input rates; its bound is
  driver memory (``spark.driver.maxResultSize`` caps the collect).
  Maintenance (``delete``, Q3) rewrites through one Spark write on
  the executors, one file per rewritten partition, so every leaf of
  the store holds one live file and there is nothing to compact.
- ``RST_ID`` ≙ the ``batch_id`` Structured Streaming hands to
  ``foreachBatch`` — monotone and checkpoint-recovered, reproducing the
  reference's ``MAX(RST_ID)+1`` crash-recovery init (models.py:526-536)
  without the race.
- retention (R2) retires whole partitions from the snapshot —
  O(#batches), not O(#rows), vs the reference's row-scan DELETE.
- the manifest is the store's only truth: every mutation publishes a
  snapshot and every read resolves one, so a store without a manifest
  is empty. Stores written before round 9 upgrade once through
  ``tools/migrate_store.py``; the store refuses to open them.
- idempotence: re-running a batch after crash REPLACES its own
  partition at manifest level (scoped snapshot commit,
  :mod:`..sources.manifest`), giving effectively-once
  serving output on top of at-least-once delivery — strictly better than
  the reference's double-buffer accumulator flip (main.py:204-237) —
  while readers pinned to the prior snapshot keep a complete file set
  through the GC grace window.
- arbitrary SQL (Q2/H2) runs through ``spark.sql`` against a registered
  view — Spark SQL replaces SQLite as the strict-superset dialect. The
  surface is read-only: see :func:`reject_non_query` and
  :func:`reject_foreign_reads`.

There is one store kind, on disk: ``cli.run`` maps the reference's
``:memory:`` default (``main.py:61`` db_uri default) to a temporary
directory.
"""

from __future__ import annotations

import logging
import os
import shutil
import time
import uuid
from pathlib import Path

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

RST_COL = "RST_ID"
#: footer keys Spark's parquet writer sets (``ParquetWriteSupport``):
#: readers take the Spark schema from the first, so driver-written and
#: Spark-written files infer and merge to the same schema
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"
_SPARK_VERSION_METADATA = "org.apache.spark.version"

_log = logging.getLogger(__name__)


class CommandRejected(ValueError):
    """The read-only serving surface refused a SQL statement (HTTP 403).

    The reference served "full SQL calls" over HTTP (README:3,
    http_endpoint.py:88-92) where the blast radius was a throwaway
    SQLite file; here the same string reaches a SparkSession whose
    catalog and filesystem outlive the request, so the query surface
    runs queries only (:func:`reject_non_query`), and those queries
    read the store and the session's tables, never other files or JVM
    methods (:func:`reject_foreign_reads`).
    """


# Read-only Command subtypes that cannot mutate catalog or data — kept
# queryable for parity with interactive SQL shells. Matched on the parsed
# plan's class simple name (DescribeRelation, ShowTables, ExplainCommand,
# ShowCreateTable, ...).
_READONLY_COMMAND_PREFIXES = ("Describe", "Show", "Explain")


def reject_non_query(spark: SparkSession, sql: str) -> None:
    """Raise :class:`CommandRejected` unless ``sql`` parses to a read-only
    plan.

    Uses the session's own SQL parser (the exact grammar ``spark.sql``
    will run) rather than keyword sniffing, so CTEs, parenthesized set
    ops, ``VALUES``, ``TABLE t`` and ``FROM t SELECT`` all pass while
    every mutating statement kind is caught **before** execution —
    ``spark.sql`` runs DDL/commands eagerly, so the check cannot happen
    after the call.

    The classifier walks the ENTIRE parsed tree (``children`` +
    ``innerChildren``), not just the root: ``WITH x AS (...) INSERT INTO
    t ...`` parses to a top-level ``UnresolvedWith`` whose *child* is the
    ``InsertIntoStatement``, and a root-only check would wave it through
    and then execute the mutation. Three node families are mutating:

    - anything implementing the Catalyst ``Command`` trait (DDL, SET,
      ADD JAR, CACHE, DELETE/UPDATE/MERGE, ANALYZE, LOAD DATA, ...),
      minus the read-only Describe/Show/Explain subtypes — those are
      accepted WITHOUT descending into them, since e.g. ``EXPLAIN
      INSERT ...`` never executes the insert;
    - ``InsertInto*`` statements (INSERT [OVERWRITE] parses to
      ``InsertIntoStatement``, which is *not* a Command pre-analysis)
      and SQL-scripting ``CompoundBody`` blocks, which could smuggle
      commands;
    - ``*ExecuteImmediate`` (``EXECUTE IMMEDIATE '<any sql>'`` — neither
      a Command nor an InsertInto pre-analysis, and it would run an
      arbitrary second statement at execution time).

    A string that does not parse at all is let through untouched so
    ``spark.sql`` raises its native ``ParseException`` (better message,
    same safety: nothing executes).
    """
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except Exception:
        return  # unparseable: spark.sql will raise the real ParseException
    command_cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.Command"
    )
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if command_cls.isInstance(node):
            if name.startswith(_READONLY_COMMAND_PREFIXES):
                continue  # EXPLAIN/DESCRIBE never execute their payload
            raise CommandRejected(
                f"statement kind {name} is not a query; this surface is "
                "read-only"
            )
        if (
            name.startswith("InsertInto")
            or name == "CompoundBody"
            or "ExecuteImmediate" in name
        ):
            raise CommandRejected(
                f"statement kind {name} writes data; this surface is "
                "read-only"
            )
        # children covers CTE bodies (UnresolvedWith's child IS the
        # wrapped statement); innerChildren covers the cteRelations and
        # other out-of-band sub-plans.
        for getter in ("children", "innerChildren"):
            try:
                it = getattr(node, getter)().iterator()
                while it.hasNext():
                    stack.append(it.next())
            except Exception:
                pass  # expression leaves / API drift: nothing to descend


def _seq(seq) -> list:
    """A Scala ``Seq`` held by the JVM as a Python list of its elements."""
    return [seq.apply(i) for i in range(seq.length())]


def reject_foreign_reads(df: DataFrame, root: str | Path) -> DataFrame:
    """Return ``df`` unless its analyzed plan, subqueries included,
    reads files or runs JVM code the serving surface must not expose;
    then raise :class:`CommandRejected`. Two shapes are refused:

    - a file relation with no catalog table whose root paths lie
      outside ``root`` — SQL on files (``text.`/etc/passwd```, also
      spelled ``IDENTIFIER('text.`…`')``, or a ``spark.table`` name);
      the store's own view and the session's catalog tables pass;
    - a ``CallMethodViaReflection`` expression (``reflect``,
      ``java_method``, ``try_reflect``), which calls any static Java
      method.

    ``spark.sql`` and ``spark.table`` analyze a query without running
    it, so the check runs on their result before any row is produced.
    The root paths are matched JVM-side (carrying a 100-file list
    through Py4J costs ~40 ms); the expression walk is skipped for a
    deterministic plan, since ``CallMethodViaReflection`` is
    ``Nondeterministic``.
    """
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().analyzed()
    trees = [plan, *_seq(plan.subqueriesAll())]
    regex = jvm.java.util.regex.Pattern
    # a line (one root path) that does not start with the store's prefix
    outside = regex.compile(
        "(?:^|\n)(?!" + regex.quote(f"file:{os.path.abspath(root)}/") + ")"
    )
    for tree in trees:
        for leaf in _seq(tree.collectLeaves()):
            if leaf.nodeName() != "LogicalRelation" or leaf.catalogTable().isDefined():
                continue
            try:
                paths = leaf.relation().location().rootPaths()
            except Py4JError:
                continue  # not a file relation (JDBC, ...)
            lines = jvm.scala.collection.mutable.StringBuilder()
            paths.addString(lines, "\n")
            if outside.matcher(lines).find():
                raise CommandRejected(
                    "query reads files outside the serving store; this "
                    "surface is read-only"
                )
    if plan.deterministic():
        return df
    nodes = list(trees)
    exprs = []
    while nodes:
        node = nodes.pop()
        nodes += _seq(node.children())
        exprs += [e for e in _seq(node.expressions()) if not e.deterministic()]
    while exprs:
        expr = exprs.pop()
        if expr.nodeName() == "CallMethodViaReflection":
            raise CommandRejected(
                "query calls JVM methods through reflection; this surface "
                "is read-only"
            )
        exprs += [c for c in _seq(expr.children()) if not c.deterministic()]
    return df


class EmptyStoreError(ValueError):
    """A read found no committed batch: the store has no manifest yet
    (nothing was ever committed, or only a crashed first commit's
    files sit on disk) or its snapshot lists no files (everything was
    cleaned, deleted or reset). The HTTP surface answers ``[]``, as
    the reference's freshly reset table does."""


class LegacyStoreLayoutError(RuntimeError):
    """The store root holds a pre-manifest layout (symlinked ``RST_ID=``
    partitions, hidden ``_data_``/``_gc_`` version directories, or
    ``_compact_``/``_old_`` swap debris). Run ``tools/migrate_store.py
    PATH`` once to upgrade it; the store never reads or rewrites those
    layouts itself."""


#: root entries only the pre-manifest layouts wrote (the current
#: staging directory prefix, ``_commitstage_``, is not matched)
_LEGACY_PREFIXES = ("_data_", "_gc_", "_compact_", "_old_")


class ServingStore:
    """Parquet-backed, rst_id-partitioned serving table on the MANIFEST
    substrate (:mod:`..sources.manifest`). The manifest is the store's
    only truth: a store without one is empty, whatever ``RST_ID=``
    directories sit on disk (a crash during the very first commit
    leaves such a leaf; the replayed batch's commit retires it).

    Every mutation (append / delete / clean) runs inside a
    :func:`~..sources.manifest.manifest_txn` and publishes the next
    snapshot; reads resolve ONE snapshot and plan over its explicit
    file list, so a concurrent replace, delete, or retention clean can
    never yank a planned file. Displaced and dropped files RETIRE and
    are GC'd after ``gc_grace_sec``. A read never lists the root, takes
    the maintainer lease or changes the filesystem.

    Opening a root that still holds a pre-manifest layout raises
    :class:`LegacyStoreLayoutError` naming ``tools/migrate_store.py``.

    clean_interval / clean_freq semantics follow the reference defaults
    (keep 100 batches, clean every 10; main.py:71-72).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table_name: str = "default",
        clean_interval: int = 100,
        clean_freq: int = 10,
        gc_grace_sec: float = 300.0,
    ) -> None:
        self.spark = spark
        self.path = Path(path)
        self.table_name = table_name
        self.clean_interval = clean_interval
        self.clean_freq = clean_freq
        self.gc_grace_sec = gc_grace_sec
        self.path.mkdir(parents=True, exist_ok=True)
        self._batches_since_clean = 0
        with os.scandir(self.path) as it:
            legacy = sorted(
                e.name for e in it
                if (e.is_symlink() and e.name.startswith(f"{RST_COL}="))
                or (e.name.startswith(_LEGACY_PREFIXES)
                    and (e.is_dir() or e.is_symlink()))
            )
        if legacy:
            raise LegacyStoreLayoutError(
                f"serving store at {self.path} has a pre-manifest layout "
                f"({', '.join(legacy[:3])}); run "
                f"tools/migrate_store.py {self.path} once to upgrade it"
            )

    def _snapshot(self) -> dict | None:
        from ..sources.manifest import latest_manifest

        return latest_manifest(self.path)

    # -- K7/K8: tagged (bulk) insert ------------------------------------
    def append(self, counts: DataFrame | pa.Table, batch_id: int) -> None:
        """Append one micro-batch under partition ``RST_ID=batch_id``.

        ``counts`` is a DataFrame or an Arrow table already on the
        driver (the pipeline's driver-side count,
        :func:`~.pipeline.count_batch`). A DataFrame reaches the driver
        in ONE Arrow collect, taken before the maintainer lease, and
        keeps its own Spark schema (a schema derived from the collect
        would read ``TimestampNTZType`` as ``TimestampType`` and a
        collated string as ``StringType()``); an Arrow table takes the
        Spark schema :func:`~pyspark.sql.pandas.types.from_arrow_schema`
        derives from its Arrow schema (no JVM call). Either way the
        batch is ONE file: inside a manifest transaction whose replace
        scope is this batch's partition, pyarrow writes one snappy
        parquet file staged under a hidden ``_commitstage_`` directory
        and renamed into the leaf, with Spark's footer keys so every
        reader sees the schema a Spark-written file gives. No Spark
        write job runs: on a local
        filesystem without the native Hadoop library each Spark write
        spawns ``chmod`` subprocesses, the largest per-batch cost of a
        small batch. ``RST_ID`` lives in the directory name only, as
        with a partitioned Spark write.

        A checkpoint-rollback REPLAY retires the prior attempt's files
        at manifest level and publishes its own — exactly-once serving
        rows per batch id, while a reader pinned to the pre-replay
        snapshot keeps resolving the displaced files through the GC
        grace window. A crash before the commit leaves only orphans and
        staging debris, both swept by GC. An empty batch writes no leaf
        and still publishes (retiring a replayed attempt's files). A
        column type Arrow cannot convert raises. The batch must fit in
        driver memory (``spark.driver.maxResultSize`` bounds the
        collect). Logs one INFO record per commit on this module's
        logger: ``batch_id``, ``rows``, ``files``, ``collect_ms`` (~0
        for an Arrow table), ``write_ms``, ``publish_ms``.
        """
        from ..sources.manifest import manifest_txn

        b = int(batch_id)
        t0 = time.perf_counter()
        if isinstance(counts, DataFrame):
            schema, table = counts.schema, counts.toArrow()
        else:
            schema, table = from_arrow_schema(counts.schema), counts
        t1 = time.perf_counter()
        leaf = f"{RST_COL}={b}"
        with manifest_txn(self.path, replace_prefixes=[leaf]):
            t2 = time.perf_counter()
            files = self._write_leaf(table, schema, leaf)
            t3 = time.perf_counter()
        t4 = time.perf_counter()
        rec = {
            "batch_id": b, "rows": table.num_rows, "files": files,
            "collect_ms": round((t1 - t0) * 1e3, 1),
            "write_ms": round((t3 - t2) * 1e3, 1),
            "publish_ms": round((t4 - t1 - (t3 - t2)) * 1e3, 1),
        }
        _log.info("serving commit %s", rec, extra=rec)
        self._batches_since_clean += 1
        if self.clean_freq > 0 and self._batches_since_clean >= self.clean_freq:
            self.clean()
            self._batches_since_clean = 0

    def _write_leaf(self, table: pa.Table, schema: StructType, leaf: str) -> int:
        """Write ``table`` into ``leaf`` as one parquet file carrying
        ``schema`` in Spark's footer keys; returns the number of files
        (0 for an empty table, which writes nothing). The file is
        written whole under a hidden staging directory and then renamed
        into the leaf, so the leaf never holds a partial file —
        unmanaged-tree adoption would publish one as live."""
        import pyarrow.parquet as pq

        from ..sources.manifest import COMMIT_STAGE_PREFIX

        if not table.num_rows:
            return 0
        footer = {
            _SPARK_ROW_METADATA: schema.json(),
            _SPARK_VERSION_METADATA: self.spark.version,
        }
        job = uuid.uuid4()
        stage = self.path / f"{COMMIT_STAGE_PREFIX}{job.hex[:8]}"
        stage.mkdir()
        name = f"part-00000-{job}.c000.snappy.parquet"
        # pyarrow writes schema metadata as footer keys only together
        # with its own ARROW:schema key, which Spark ignores
        pq.write_table(table.replace_schema_metadata(footer), stage / name,
                       compression="snappy")
        (self.path / leaf).mkdir(exist_ok=True)
        os.replace(stage / name, self.path / leaf / name)
        stage.rmdir()
        return 1

    # -- catalog (D1-D3) -------------------------------------------------
    @staticmethod
    def _ids_of(m: dict | None) -> list[int]:
        ids = set()
        for f in m["files"] if m else ():
            head = f.split("/", 1)[0]
            if head.startswith(f"{RST_COL}="):
                ids.add(int(head.split("=", 1)[1]))
        return sorted(ids)

    def _batch_ids(self) -> list[int]:
        return self._ids_of(self._snapshot())

    def exists(self) -> bool:
        """D2: table-exists check (vs sqlite_master probe, models.py:226-250)."""
        return bool(self._batch_ids())

    def snapshot(self) -> dict | None:
        """The latest manifest snapshot (its files, retired files,
        zone maps and generation); None until the first commit."""
        return self._snapshot()

    def _view_from(self, m: dict | None, predicate: list | tuple = ()) -> DataFrame:
        if not m or not m["files"]:
            raise EmptyStoreError(f"serving store at {self.path} is empty")
        rels = m["files"]
        if predicate:
            from ..sources.manifest import files_matching

            # zone-map file pruning: conjuncts the caller will ALSO
            # apply as a row filter, so keeping one file as a schema
            # donor when everything is pruned stays correct
            rels = files_matching(m, "", predicate) or m["files"][:1]
        # basePath keeps the RST_ID partition column in the schema;
        # mergeSchema lets later batches widen the table (schema
        # evolution) with NULL backfill for older partitions. The
        # explicit per-file list IS the snapshot pin: files a
        # maintenance pass retires stay resolvable till GC.
        return (
            self.spark.read.option("basePath", str(self.path))
            .option("mergeSchema", "true")
            .parquet(*[str(self.path / f) for f in rels])
        )

    def view(self) -> DataFrame:
        """The serving table as a DataFrame; ``RST_ID`` is the partition
        column. Resolves the latest snapshot once — the plan holds a
        consistent file set no concurrent maintenance can break."""
        return self._view_from(self._snapshot())

    def view_where(self, params: dict) -> DataFrame:
        """:meth:`view` with zone-map FILE pruning for a per-field
        comparator spec (the c_general_select / HTTP-route shape): data
        columns that arrive in time order (bucket_start, epochs) are
        clustered across batch files, so a selective point/range query
        plans over a fraction of the store's files without opening the
        rest. The caller must still apply the row-level filter — the
        pruning only drops files that provably contain no match (and
        RST_ID itself stays partition-pruned as before)."""
        from ..functions.predicates import zone_conjuncts

        snap = self._snapshot()
        pruned = self._view_from(snap, predicate=zone_conjuncts(params))
        # schema evolution guard: if pruning dropped every file carrying
        # a later-added column the spec references, mergeSchema over the
        # survivors can't surface it and the caller's row filter would
        # raise UNRESOLVED_COLUMN where the full view returns [] — fall
        # back to the unpruned view (correct, merely unpruned)
        if any(f not in pruned.columns for f in params):
            return self._view_from(snap)
        return pruned

    def register(self) -> None:
        """Expose the store as a temp view for arbitrary SQL (Q2/H2)."""
        self.view().createOrReplaceTempView(self.table_name)

    def describe(self):
        """D3: schema of the serving table."""
        return self.view().schema

    # -- query surface (Q1/Q2/A4, H1-H9) --------------------------------
    def select_all(self) -> DataFrame:
        """Q1/H1: SELECT * (models.py:309-333)."""
        return self.view()

    def run_cmd(self, sql: str) -> DataFrame:
        """Q2/H2: arbitrary SQL against the registered serving view
        (run_cmd, models.py:155-187). Spark SQL parses/plans — no eval,
        no string-spliced execution.

        Query-only: mutating statements (DDL, INSERT, SET, ADD JAR, ...)
        raise :class:`CommandRejected` before anything executes (see
        :func:`reject_non_query`), and a query that reads files outside
        the store or calls JVM methods raises it before any row is
        produced (see :func:`reject_foreign_reads`).
        """
        reject_non_query(self.spark, sql)
        self.register()
        return reject_foreign_reads(self.spark.sql(sql), self.path)

    def rst(self) -> int:
        """H5: current batch counter — max committed RST_ID (models.py:667-700).

        File-level metadata read; no data scan.
        """
        ids = self._batch_ids()
        return ids[-1] if ids else -1

    def recent(self, n: int) -> DataFrame:
        """H6: rows of the n most recent batches (http_endpoint.py:170-176).

        Partition pruning turns this into reading exactly n directories.
        The newest batch id and the view come from ONE snapshot, so a
        commit landing between the two reads cannot shorten the answer.
        """
        m = self._snapshot()
        ids = self._ids_of(m)
        newest = ids[-1] if ids else -1
        return self._view_from(m).filter(F.col(RST_COL) > F.lit(newest - n))

    def batch(self, batch_id: int) -> DataFrame:
        """H7: a single batch by id (http_endpoint.py:178-184)."""
        return self.view().filter(F.col(RST_COL) == F.lit(batch_id))

    # -- retention (R1-R4) ----------------------------------------------
    def clean(self, clean_interval: int | None = None) -> int:
        """R2: drop batches with ``RST_ID < max - clean_interval``
        (models.py:702-735). RETIRE-then-GC: the dropped partitions
        leave the snapshot immediately — no new query sees them — but
        their files stay on disk through the GC grace window, so a
        reader that planned against the previous snapshot finishes its
        scan untouched. Returns the number of batches dropped.
        """
        from ..sources.manifest import gc_index_tree, manifest_txn

        keep = self.clean_interval if clean_interval is None else clean_interval
        if keep < 0:
            return 0
        ids = self._batch_ids()
        if not ids:
            return 0
        drop = [i for i in ids if i < ids[-1] - keep]
        if drop:
            with manifest_txn(
                self.path, replace_prefixes=[f"{RST_COL}={i}" for i in drop]
            ):
                pass  # the scopes' files retire; nothing is written
        gc_index_tree(self.path, self.gc_grace_sec)
        return len(drop)

    def delete(self, conditions: dict[str, object]) -> int:
        """Q3: DELETE with ANDed equality predicates (models.py:447-481).

        Lakehouse-style delete: one aggregate over the snapshot's view
        finds the partitions holding matching rows, and only those are
        rewritten (anti-filter of the same view -> one partitioned
        write, one file per rewritten partition); untouched batches are
        untouched files. All partition
        rewrites land in ONE snapshot — racing readers see pre- or
        post-delete rows, nothing between. Rows where a condition is
        NULL are kept. Returns #rows deleted.
        """
        from functools import reduce

        from ..sources.manifest import gc_index_tree, manifest_txn

        if not conditions:
            return 0
        cond = reduce(
            lambda a, b: a & b, [F.col(k) == F.lit(v) for k, v in conditions.items()]
        )
        with manifest_txn(self.path) as txn:
            # discovery under the lease: no commit can land between the
            # snapshot the rewrite reads and the one it replaces
            m = self._snapshot()
            view = self._view_from(m) if self._ids_of(m) else None
            hits = {} if view is None else dict(
                view.filter(cond).groupBy(RST_COL).count().collect()
            )
            if not hits:
                txn.abort()
            else:
                (
                    view.filter(F.col(RST_COL).isin(list(hits)))
                    .filter(~cond | cond.isNull())
                    .repartition(RST_COL)
                    .write.mode("append")
                    .partitionBy(RST_COL)
                    .parquet(str(self.path))
                )
                for bid in hits:
                    txn.replace(f"{RST_COL}={bid}")
        gc_index_tree(self.path, self.gc_grace_sec)
        return sum(hits.values())

    def reset(self) -> None:
        """H4/D5: '/r' — wipe all state (in-memory db reconnect semantics,
        README:159-176)."""
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True, exist_ok=True)
        self.spark.catalog.dropTempView(self.table_name)
