"""Per-dataset artifact memo for catalog queries that share expensive
intermediates (the DataFrame analog of the on-disk index cache in
``sources/files.py``).

Several catalog queries need the SAME derived artifact — the
LSH-verified near-dup pair set feeds ``dedup_minhash_lsh`` AND the
connected-components label map behind ``dedup_clusters`` /
``dedup_drop_near_duplicates``. The inputs are static per sf_dir
(driver-generated parquet), so building the artifact once per
(session, dataset) and reusing the materialized frame is the same
build-once/serve-many trade the IVF/BM25/LSH disk caches make — it
changes cost, never results (every query still hash-matches its oracle
independently).

Mechanics: the builder runs inside its own cache scope
(``operators._cache.scope``) and its result is materialized there with
an EAGER ``localCheckpoint`` (cuts lineage AND stores the rows
executor-local); leaving the scope releases every cache the build
persisted.

Lifecycle (round-6 hardening):
- the memo key folds in the SAME source fingerprint ``cached_index_dir``
  uses (every table file's name, size, mtime_ns) — regenerating the
  parquet under an sf_dir within one session misses the memo and
  rebuilds instead of serving stale artifacts;
- generations are LRU-bounded at 2 (bench + driver walk one dataset per
  session; a long-lived server alternating two sf_dirs keeps both warm
  instead of thrashing rebuilds);
- eviction releases each evicted frame's checkpoint blocks explicitly
  (``LogicalRDD.rdd().unpersist``) rather than waiting for Python GC +
  the ContextCleaner to reclaim executor storage — but DEFERRED by one
  eviction cycle (round-7 hardening, ADVICE r6): an evicted generation
  parks in a tombstone slot and its blocks are only dropped when the
  NEXT eviction pushes it out, so a caller still holding a previously
  returned frame across one dataset switch (long-lived server touching
  a 3rd dataset, or the same sf_dir regenerated mid-session) keeps a
  usable handle instead of hitting missing-block errors on a
  lineage-truncated frame. Returned frames must still not be held
  across TWO dataset switches — hold the memo's return only within one
  dataset's working set, or re-call :func:`dataset_memo` (cheap on hit)
  instead of caching it yourself.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators._cache import scope

# (session id, dataset fingerprint) -> {artifact key -> checkpointed frame}
_MEMO: OrderedDict[tuple[int, str], dict[str, DataFrame]] = OrderedDict()
_MAX_GENERATIONS = 2

# one-deep grace slot: the most recently evicted generation's frames stay
# materialized until the next eviction, so handles returned before a
# dataset switch survive it (see module docstring)
_TOMBSTONE: list[DataFrame] = []


def _dataset_key(spark: SparkSession, sf_dir: str) -> tuple[int, str]:
    root = os.path.abspath(sf_dir)
    src = "|".join(
        f"{p.name}:{st.st_size}:{st.st_mtime_ns}"
        for p in sorted(Path(root).glob("*.parquet"))
        for st in [p.stat()]
    )
    return (id(spark), f"{root}|{src}")


def _release(df: DataFrame) -> None:
    """Free a checkpointed frame's executor blocks deterministically.

    An eager ``localCheckpoint`` plans as a ``LogicalRDD`` over a
    persisted internal RDD; unpersisting THAT RDD drops the blocks now.
    Best-effort: on any internal-API drift the frames still get
    reclaimed by GC + ContextCleaner, just later.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def dataset_memo(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the memoized artifact for (session, dataset, key), building
    and materializing it on first use. ``dataset`` identity includes the
    source-file fingerprint, so regenerated data never serves stale
    frames."""
    gen_key = _dataset_key(spark, sf_dir)
    gen = _MEMO.get(gen_key)
    if gen is None:
        gen = _MEMO[gen_key] = {}
    _MEMO.move_to_end(gen_key)
    while len(_MEMO) > _MAX_GENERATIONS:
        _, stale = _MEMO.popitem(last=False)
        for tomb_df in _TOMBSTONE:
            _release(tomb_df)
        _TOMBSTONE[:] = stale.values()
    df = gen.get(key)
    if df is None:
        with scope():
            df = gen[key] = build().localCheckpoint(eager=True)
    return df


# driver-side plain-object artifacts (trained codebooks, bounded model
# params) — same (session, dataset-fingerprint) identity and LRU bound as
# the frame memo, but no executor blocks to manage
_OBJ_MEMO: OrderedDict[tuple[int, str], dict[str, object]] = OrderedDict()


def dataset_memo_obj(spark: SparkSession, sf_dir: str, key: str, build: Callable[[], object]) -> object:
    """Like :func:`dataset_memo` for small DRIVER-SIDE objects (e.g. the
    PQ codebook — m*ksub*dsub ints). Only memoize bounded-size artifacts:
    the value lives on the driver for the generation's lifetime."""
    gen_key = _dataset_key(spark, sf_dir)
    gen = _OBJ_MEMO.get(gen_key)
    if gen is None:
        gen = _OBJ_MEMO[gen_key] = {}
    _OBJ_MEMO.move_to_end(gen_key)
    while len(_OBJ_MEMO) > _MAX_GENERATIONS:
        _OBJ_MEMO.popitem(last=False)
    if key not in gen:
        with scope():
            gen[key] = build()
    return gen[key]
