"""Snapshot manifests for parquet trees that are read while they change:
the serving store (streaming/serving.py) and the on-disk LSH / IVF /
BM25 indexes.

Why this exists: Spark plans a parquet read by LISTING the directory
tree, then executes against the listed file paths. Any maintenance that
deletes or renames a listed file between those two moments — a batch
replay, a delete rewrite, a retention clean — surfaces to a concurrent
reader as ``FAILED_READ_FILE.FILE_NOT_EXIST``. Pushing a retry loop
onto every consumer does not survive 100× scale.

The manifest inverts the contract — the same shape the table formats
(Iceberg's snapshot + manifest list, Delta's transaction log) use:

* every mutation runs inside :func:`manifest_txn`, which records
  exactly the files that write produced and publishes them as the next
  ``_manifest/v{N}.json`` snapshot — an atomic tmp + rename, so any
  snapshot a reader resolves is complete;
* readers resolve the LATEST snapshot once and plan directly over those
  explicit file paths (``basePath`` preserves the partition columns, so
  ``RST_ID``/``tb``/``band``/``cid`` pruning is unchanged);
* a logical overwrite RETIRES the files under its replace prefixes in
  the manifest instead of deleting them; GC removes retired files only
  after a grace window, so a reader pinned to any recent snapshot never
  observes a missing file — no reader-side retry, no coordination;
* files never published (a write that crashed before its commit) are
  ORPHANS: invisible to readers, never adopted into a snapshot —
  scan-diff adoption would silently double additive stats like BM25
  tf/df/N — and deleted by GC once older than the grace window. Replay
  regenerates their content.

Single-MAINTAINER contract, enforced: every mutation holds a lease
file (``_manifest/_lease``, O_EXCL create; broken automatically when
the holder pid is dead on this host or the lease ages past
:data:`LEASE_TIMEOUT_SEC`) and the snapshot publish itself is
fail-if-exists (``os.link``), so a misconfigured second maintainer
raises :class:`ConcurrentMaintainerError` instead of silently
corrupting the snapshot chain. Readers need nothing.

Pre-existing UNMANAGED trees (built by older writers, no ``_manifest``)
are ADOPTED on first mutation: the transaction's pre-scan file set
becomes generation 1's live set alongside the new write, so resuming an
index that predates the manifest layer never vanishes its legacy data
(and never lets GC sweep it as orphans). Orphan non-adoption only
applies once a manifest exists — then unpublished files really are
crash debris.

Scale notes: a publish costs O(live files) — one JSON dump plus one
tree scan — and readers pay one JSON parse. That holds comfortably to
~10^5 files (a few MB of manifest); the indexes here stay far under it
because segment count equals batch count by contract, and the serving
store writes one file per batch. Past that, the standard next step is the
Iceberg shape (a manifest LIST pointing at per-subtree manifest
files), which this layout can grow into without changing the reader
contract — snapshot resolution stays one fetch of the newest
generation.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid
from pathlib import Path
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from .files import read_parquet

MANIFEST_DIR = "_manifest"
#: manifest generations to retain beyond the grace window (debugging
#: trail; readers only ever resolve the latest)
KEEP_GENERATIONS = 4
LEASE_NAME = "_lease"
#: hidden root-level staging directory: a file is written here, then
#: renamed into its leaf; a crash leaves the directory for GC
COMMIT_STAGE_PREFIX = "_commitstage_"
#: a dead maintainer's lease is broken after this long even when its
#: pid can't be probed (cross-host; pid-liveness handles same-host)
LEASE_TIMEOUT_SEC = 1800.0


class ConcurrentMaintainerError(RuntimeError):
    """A second maintainer tried to mutate a manifest-managed index.

    The single-maintainer contract is load-bearing: two concurrent
    publishers would race generation numbers and one's snapshot (and
    the files only it references) would silently vanish. Raising here
    turns an operator mistake (a maintenance pass run beside a live
    ingest loop) into a loud, retryable failure instead of corruption."""


def _lease_path(root: str | Path) -> Path:
    return _mdir(root) / LEASE_NAME


def _lease_is_stale(lease: Path, timeout_sec: float) -> bool:
    """A lease is stale when its holder pid is provably dead ON THE
    SAME HOST (the lease records its hostname — a pid number existing
    or not on a DIFFERENT host means nothing, r9 review catch), or the
    file has aged past the timeout. Live holders heartbeat the mtime
    (see :func:`_maintainer_lease`), so the timeout only fires on a
    crashed or wedged holder, not on a long-running mutation."""
    try:
        _token, pid, host, _ts = lease.read_text().split()
        pid = int(pid)
        st = lease.stat()
    except (OSError, ValueError):
        return True  # unreadable/malformed/vanished: treat as breakable
    if st.st_mtime <= time.time() - timeout_sec:
        return True
    if host == _HOSTNAME:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return True  # holder died on this host; recover now
        except OSError:
            pass
    return False


_HOSTNAME = os.uname().nodename if hasattr(os, "uname") else "unknown"


def _break_stale_lease(lease: Path) -> None:
    """Atomically claim the right to break a stale lease: rename it to
    a unique name first — exactly ONE breaker's rename succeeds, so two
    waiters can never each unlink (the unlink-then-create TOCTOU where
    the second waiter removes the FIRST waiter's fresh lease, r9 review
    catch)."""
    broken = lease.with_name(lease.name + ".broken." + uuid.uuid4().hex)
    os.rename(lease, broken)  # FileNotFoundError -> someone else won
    with contextlib.suppress(OSError):
        os.unlink(broken)


@contextlib.contextmanager
def _maintainer_lease(root: str | Path) -> Iterator[None]:
    """Hold the index's single-maintainer lease for one mutation.
    O_EXCL create is the acquisition; a live second maintainer raises
    :class:`ConcurrentMaintainerError` immediately (no blocking — the
    caller misconfigured, waiting won't fix it). While held, a daemon
    heartbeat refreshes the lease mtime every timeout/4, so mutations
    longer than the timeout (a full BM25 merge at scale) never have a
    LIVE lease broken out from under them — the timeout only ever
    breaks a holder that crashed (heartbeat died with the process) or
    wedged. The timeout is :data:`LEASE_TIMEOUT_SEC`, read per call."""
    timeout_sec = LEASE_TIMEOUT_SEC
    mdir = _mdir(root)
    mdir.mkdir(parents=True, exist_ok=True)
    lease = _lease_path(root)
    token = uuid.uuid4().hex
    for _ in range(3):  # stale-break then retry, bounded
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                fh.write(f"{token} {os.getpid()} {_HOSTNAME} {time.time()}")
            break
        except FileExistsError:
            if _lease_is_stale(lease, timeout_sec):
                try:
                    _break_stale_lease(lease)
                except OSError:
                    pass  # another waiter broke it; retry acquisition
                continue
            raise ConcurrentMaintainerError(
                f"index {root} is being mutated by another maintainer "
                f"(lease {lease}); one writer at a time"
            )
    else:
        raise ConcurrentMaintainerError(
            f"could not acquire maintainer lease {lease} after stale-breaks"
        )
    stop = threading.Event()

    def _heartbeat() -> None:
        while not stop.wait(max(1.0, timeout_sec / 4.0)):
            try:
                if lease.read_text().split()[0] != token:
                    return  # not ours any more; stop touching it
                os.utime(lease)
            except OSError:
                return

    hb = threading.Thread(target=_heartbeat, daemon=True)
    hb.start()
    try:
        yield
    finally:
        stop.set()
        hb.join(timeout=2.0)
        # release only our own lease (a stale-break may have handed it on)
        try:
            if lease.read_text().split()[0] == token:
                os.unlink(lease)
        except (OSError, IndexError):
            pass


def _mdir(root: str | Path) -> Path:
    return Path(root) / MANIFEST_DIR


def _is_hidden(rel_parts: tuple[str, ...]) -> bool:
    return any(p.startswith(("_", ".")) for p in rel_parts)


def latest_manifest(root: str | Path) -> dict | None:
    """The newest complete snapshot, or None for an unmanaged tree.
    Generations are monotonically named ``v{N:012d}.json``; the write
    path is tmp + rename, so any ``v*.json`` present is complete."""
    mdir = _mdir(root)
    try:
        names = [n for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")]
    except OSError:
        return None
    if not names:
        return None
    with open(mdir / max(names)) as fh:
        return json.load(fh)


def manifest_at(root: str | Path, generation: int) -> dict | None:
    """A SPECIFIC snapshot generation, or None if that generation's
    manifest has been pruned. Time travel for index reads: pass the
    result as ``snapshot=`` to the index query functions and every read
    resolves that generation's exact file list — valid for as long as
    GC's grace window (plus :data:`KEEP_GENERATIONS`) keeps the files
    and the manifest alive, which is precisely the contract a serving
    consumer needs to run a multi-query analysis against ONE consistent
    index state while ingestion keeps appending."""
    path = _mdir(root) / f"v{generation:012d}.json"
    try:
        with open(path) as fh:
            return json.load(fh)
    except OSError:
        return None


def scan_parquet_files(root: str | Path) -> set[str]:
    """Relative POSIX paths of every VISIBLE ``*.parquet`` under root
    (hidden ``_``/``.`` components excluded — staging dirs, the manifest
    dir itself, ``_SUCCESS`` debris)."""
    rootp = Path(root)
    out: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(rootp):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        rel = Path(dirpath).relative_to(rootp).parts
        if _is_hidden(rel):
            continue
        prefix = "/".join(rel)
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.add(f"{prefix}/{f}" if prefix else f)
    return out


#: string min/max longer than this are dropped from zone maps: parquet
#: writers may TRUNCATE long byte-array statistics, and a truncated max
#: understates the true upper bound — pruning with it would wrongly skip
#: files. Values at or under the cap are always stored exact.
_STAT_STR_CAP = 60


def _file_stats(path: Path) -> dict | None:
    """Zone-map entry for one parquet file, from its FOOTER only (no
    data read): {"rows": n, "cols": {name: {"mn","mx","nulls"} |
    {"allnull": true}}}. Top-level primitive columns only (nested chunk
    paths contain '.'); a column whose min/max is unusable in any row
    group (missing, NaN, unorderable, oversized string) is omitted —
    pruning treats missing as "may match". Returns None if the footer
    can't be read (the file is then simply never pruned)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    rows = md.num_rows
    agg: dict[str, dict] = {}
    bad: set[str] = set()

    def _norm(v):
        if isinstance(v, bytes):
            try:
                v = v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, bool) or isinstance(v, int):
            return int(v)
        if isinstance(v, float):
            return v if v == v else None  # NaN is unorderable
        if isinstance(v, str):
            return v if len(v) <= _STAT_STR_CAP else None
        return None  # timestamps/decimals/etc: not JSON-portable

    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            name = c.path_in_schema
            if "." in name or name in bad:
                continue
            st = c.statistics
            ent = agg.setdefault(name, {"mn": None, "mx": None, "nulls": 0, "vals": 0})
            nulls = st.null_count if st is not None and st.null_count is not None else None
            if nulls is None:
                bad.add(name)
                continue
            ent["nulls"] += nulls
            if nulls == c.num_values and not st.has_min_max:
                continue  # chunk entirely null: no min/max needed
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            mn, mx = _norm(st.min), _norm(st.max)
            if mn is None or mx is None or type(mn) is not type(mx):
                bad.add(name)
                continue
            ent["vals"] += 1
            if ent["vals"] == 1:
                ent["mn"], ent["mx"] = mn, mx
            else:
                if type(ent["mn"]) is not type(mn):
                    bad.add(name)
                    continue
                ent["mn"] = min(ent["mn"], mn)
                ent["mx"] = max(ent["mx"], mx)
    cols: dict[str, dict] = {}
    for name, ent in agg.items():
        if name in bad:
            continue
        if ent["vals"] == 0:
            if ent["nulls"] == rows:
                cols[name] = {"allnull": True}
            continue
        cols[name] = {"mn": ent["mn"], "mx": ent["mx"], "nulls": ent["nulls"]}
    return {"rows": rows, "cols": cols}


def _harvest_stats(rootp: Path, rels: Sequence[str]) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for rel in rels:
        st = _file_stats(rootp / rel)
        if st is not None:
            out[rel] = st
    return out


def _satisfiable(fstat: dict | None, col: str, op: str, value) -> bool:
    """Can any row of a file with zone-map entry `fstat` match
    `col op value`? Conservative: unknown stats -> True."""
    if fstat is None:
        return True
    cs = fstat.get("cols", {}).get(col)
    if cs is None:
        return True
    if op not in ("=", "<", "<=", ">", ">=", "in"):
        # Validate the operator BEFORE any pruning short-circuit: an op
        # outside the documented set must degrade to "keep", even for an
        # all-null column (e.g. a future null-test op DOES match).
        return True
    if cs.get("allnull"):
        return False  # known comparisons never match NULL
    mn, mx = cs["mn"], cs["mx"]

    def _nan(v) -> bool:
        return isinstance(v, float) and v != v

    if _nan(value) or (
        op == "in"
        and isinstance(value, (list, tuple, set, frozenset))
        and any(_nan(v) for v in value)
    ):
        # Python orders nothing against NaN (all comparisons False,
        # which would wrongly PRUNE), while Spark orders NaN above every
        # double — so a NaN predicate value is "unknown", never a skip
        return True
    if op == "in":
        if not isinstance(value, (list, tuple, set, frozenset)):
            return True  # not a value set: stats can't reason about it
        try:
            return any(mn <= v <= mx for v in value)
        except TypeError:
            return True
    try:
        if op == "=":
            return mn <= value <= mx
        if op in (">=", ">"):
            # NaN DATA values make upper-bound pruning unsound for float
            # columns: parquet writers (pyarrow) exclude NaN from
            # min/max statistics, but Spark orders NaN ABOVE every
            # double — a file whose finite mx < value may still contain
            # NaN rows that DO match ``col > value`` / ``col >= value``.
            # A float mx therefore never prunes on the upper bound.
            # (=, <, <=, in stay sound: NaN rows match none of them.)
            if isinstance(mx, float):
                return True
            return mx >= value if op == ">=" else mx > value
        if op == "<=":
            return mn <= value
        if op == "<":
            return mn < value
    except TypeError:
        return True  # cross-type comparison: stats don't apply
    return True  # op == "in" with an unorderable set already returned


def files_matching(m: dict, sub: str = "",
                   predicate: Sequence[tuple] = ()) -> list[str]:
    """The snapshot's live files under ``sub`` that MAY contain rows
    matching every ``(col, op, value)`` conjunct (ops: = < <= > >= in),
    judged purely from the snapshot's zone maps — no file is opened.
    Pruning is correctness-neutral: a kept file may still contain no
    matching rows (the query's own filter handles that); a skipped file
    provably contains none. Columns without recorded stats (partition
    columns, nested/complex types, oversized strings, pre-stats
    generations) never cause a skip."""
    want = sub.rstrip("/") + "/" if sub else ""
    stats = m.get("stats", {})
    out = []
    for f in m["files"]:
        if not f.startswith(want):
            continue
        fstat = stats.get(f)
        if all(_satisfiable(fstat, c, op, v) for (c, op, v) in predicate):
            out.append(f)
    return out


def _publish(root: str | Path, files: Sequence[str], retired: dict[str, float],
             generation: int, meta: dict | None = None,
             stats: dict | None = None) -> dict:
    """Write one snapshot generation. The write is tmp + hard-link, so
    it is both atomic (any ``v*.json`` a reader opens is complete) and
    FAIL-IF-EXISTS: a second maintainer that raced past the lease and
    computed the same next generation number raises
    :class:`ConcurrentMaintainerError` instead of silently replacing a
    sibling's snapshot (whose files would then be GC'd as orphans)."""
    mdir = _mdir(root)
    mdir.mkdir(parents=True, exist_ok=True)
    m = {
        "generation": generation,
        "created_unix": time.time(),
        "files": sorted(files),
        "retired": dict(sorted(retired.items())),
    }
    if meta:
        m["meta"] = meta
    if stats:
        live = set(files)
        m["stats"] = {f: stats[f] for f in sorted(stats) if f in live}
    tmp = mdir / f"_tmp_{uuid.uuid4().hex[:8]}.json"
    tmp.write_text(json.dumps(m))
    final = mdir / f"v{generation:012d}.json"
    try:
        os.link(tmp, final)
    except FileExistsError:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise ConcurrentMaintainerError(
            f"snapshot generation {generation} already exists under {mdir}; "
            "a concurrent maintainer published it first"
        ) from None
    os.unlink(tmp)
    return m


def _commit(root: str | Path, added: set[str],
            replace_prefixes: Sequence[str] = (),
            adopt: Sequence[str] = (),
            meta_updates: dict | None = None) -> dict:
    """Publish the next snapshot: ``added`` files become live; live
    files under ``replace_prefixes`` that predate this write are
    RETIRED (kept on disk for pinned readers until GC's grace window
    expires) — append-mode writes + a scoped commit is the reader-safe
    spelling of a partition overwrite. Live files the writer itself
    hard-deleted (a full ``mode("overwrite")`` rebuild) drop out; a
    rebuild is not reader-atomic under any scheme — build into a fresh
    directory and swap paths instead. On-disk files that are neither
    live, retired, nor in ``added`` stay orphans by design — EXCEPT on
    the very first commit over a pre-existing unmanaged tree, where
    ``adopt`` (the txn's pre-scan) seeds generation 1's live set so
    legacy data survives the transition to manifest management.
    ``meta_updates`` merge into the snapshot's ``meta`` dict, which is
    otherwise carried forward verbatim."""
    rootp = Path(root)
    prev = latest_manifest(rootp)
    prev_files = list(prev["files"]) if prev else sorted(adopt)
    retired = dict(prev["retired"]) if prev else {}
    meta = dict(prev.get("meta", {})) if prev else {}
    if meta_updates:
        meta.update(meta_updates)
    now = time.time()

    def _in_scope(f: str) -> bool:
        return any(f == p or f.startswith(p.rstrip("/") + "/")
                   for p in replace_prefixes)

    kept: list[str] = []
    for f in prev_files:
        if f in added:
            continue
        if not (rootp / f).exists():
            continue  # hard-deleted by the writer; nothing to protect
        if _in_scope(f):
            retired[f] = now
        else:
            kept.append(f)
    retired = {f: t for f, t in retired.items()
               if f not in added and (rootp / f).exists()}
    gen = (prev["generation"] + 1) if prev else 1
    # zone maps: carry the previous snapshot's per-file stats forward for
    # kept files, harvest footers ONLY for files new to this snapshot
    # (added, plus the adopted set on a first commit) — a commit costs
    # O(new files) footer reads, never a re-walk of the live set
    stats = dict(prev.get("stats", {})) if prev else {}
    new_rels = [f for f in (set(added) | ({*prev_files} if not prev else set()))
                if f not in stats and (rootp / f).exists()]
    stats.update(_harvest_stats(rootp, sorted(new_rels)))
    return _publish(rootp, kept + sorted(added), retired, gen, meta=meta,
                    stats=stats)


class ManifestTxnHandle:
    """Mutable view of an open :func:`manifest_txn`. Callers that do
    more than plain writes use it to shape the commit:

    * :meth:`replace` — add a replace scope discovered mid-transaction
      (e.g. per affected segment);
    * :meth:`set_meta` — merge a key into the snapshot's ``meta`` dict
      (carried forward across later snapshots until overwritten);
    * :attr:`live_files` — the file set a reader would see right now
      (prior snapshot's live files, or the pre-scan of an unmanaged
      tree being adopted) — what a rewrite should treat as current.
    """

    def __init__(self, live_files: set[str], root: Path, pre: set[str]):
        self.live_files = set(live_files)
        self._root = root
        self._pre = set(pre)
        self._scopes: list[str] = []
        self._meta: dict = {}
        self._aborted = False

    def current_live(self, sub: str = "") -> set[str]:
        """The live set AS OF NOW inside the open transaction — prior
        live files plus files the transaction has written so far
        (optionally restricted to a subtree). Multi-step mutations
        (rewrite postings, then re-derive stats from the REWRITTEN
        postings) read this instead of the published snapshot, which
        won't exist until commit.

        A scoped call walks ONLY that subtree: callers that iterate
        leaves (the BM25 segment merge) would otherwise pay O(leaves x
        whole-tree walk) in stat calls — the dominant cost of a
        metadata-cheap maintenance pass on remote filesystems."""
        if sub:
            want = sub.rstrip("/") + "/"
            subdir = self._root / sub.rstrip("/")
            scanned = (
                {want + f for f in scan_parquet_files(subdir)}
                if subdir.is_dir()
                else set()
            )
            now_live = self.live_files | (scanned - self._pre)
            return {f for f in now_live if f.startswith(want)}
        return self.live_files | (scan_parquet_files(self._root) - self._pre)

    def replace(self, prefix: str) -> None:
        self._scopes.append(prefix)

    def set_meta(self, key: str, value) -> None:
        self._meta[key] = value

    def abort(self) -> None:
        """Mark the transaction a no-op: nothing is published on exit
        (files already written become orphans for GC). For early-outs
        that discover there is nothing to mutate — publishing an empty
        generation would bump the chain (and adopt unmanaged trees)
        for no reason."""
        self._aborted = True


@contextlib.contextmanager
def manifest_txn(root: str | Path,
                 replace_prefixes: Sequence[str] = ()) -> Iterator[ManifestTxnHandle]:
    """Wrap one logical index mutation (any number of Spark writes):

        with manifest_txn(path):                         # append
            df.write.mode("append").parquet(...)
        with manifest_txn(path, replace_prefixes=[...]): # replace scope
            df.write.mode("append").parquet(...)
        with manifest_txn(path) as txn:                  # scopes found
            ...write files...; txn.replace(prefix)       # mid-write

    The files that appear between entry and exit — and ONLY those —
    become live in the next snapshot; with ``replace_prefixes`` (or
    scopes added via the handle) the scope's previous files retire. On
    the FIRST transaction over a pre-existing unmanaged tree, the
    pre-scan file set is adopted as generation 1's live set — legacy
    data written before manifest management stays visible and GC-safe.
    If the body raises, nothing is published and the partial files are
    orphans for GC — a reader can never observe a half-written
    mutation. Holds the maintainer lease for the duration; a concurrent
    maintainer raises :class:`ConcurrentMaintainerError`."""
    rootp = Path(root)
    with _maintainer_lease(rootp):
        pre = scan_parquet_files(rootp)
        prev = latest_manifest(rootp)
        txn = ManifestTxnHandle(
            set(prev["files"]) if prev else set(pre), rootp, pre
        )
        yield txn
        if txn._aborted:
            return
        _commit(
            rootp,
            scan_parquet_files(rootp) - pre,
            tuple(replace_prefixes) + tuple(txn._scopes),
            adopt=sorted(pre),
            meta_updates=txn._meta or None,
        )


def manifest_read(spark: SparkSession, root: str | Path, sub: str = "",
                  snapshot: dict | None = None) -> DataFrame:
    """Plan a parquet read over the latest snapshot's files under
    ``sub`` (a relative subtree, e.g. ``"postings"``). ``basePath``
    anchors partition-column discovery, so partition pruning and DPP
    behave exactly as a directory read. Unmanaged trees (no manifest —
    built by older code or external writers) fall back to the plain
    directory read. A query spanning several subtrees resolves
    :func:`latest_manifest` ONCE and passes it as ``snapshot`` so all
    its reads pin the same generation. The schema is the first listed
    file's, read from its footer on the driver
    (:func:`~.files.read_parquet`), so planning the read runs no Spark job."""
    rootp = Path(root)
    m = snapshot if snapshot is not None else latest_manifest(rootp)
    base = rootp / sub if sub else rootp
    if m is None:
        return spark.read.parquet(str(base))
    want = sub.rstrip("/") + "/" if sub else ""
    paths = [str(rootp / f) for f in m["files"] if f.startswith(want)]
    if not paths:
        # A manifest exists but lists no live files under the subtree.
        # NEVER fall back to the directory read: retired files awaiting
        # GC still sit there, and reading them would resurrect rows a
        # replace scope just retired. Schema comes from a retired/orphan file if one is
        # still on disk (schema-only — no rows are exposed); once GC
        # has emptied the subtree this raises the same PATH_NOT_FOUND
        # an empty directory read would.
        ghosts = [str(rootp / f) for f in scan_parquet_files(rootp)
                  if f.startswith(want) and (rootp / f).exists()]
        if ghosts:
            schema = read_parquet(spark, *ghosts, base=str(base)).schema
            return spark.createDataFrame([], schema)
        from pyspark.errors import AnalysisException

        raise AnalysisException(
            f"[PATH_NOT_FOUND] manifest snapshot generation "
            f"{m['generation']} has no live files under {base}"
        )
    return read_parquet(spark, *paths, base=str(base))


def _unlink_with_crc(rootp: Path, rel: str) -> None:
    p = rootp / rel
    try:
        os.unlink(p)
    except OSError:
        pass
    crc = p.parent / f".{p.name}.crc"
    try:
        os.unlink(crc)
    except OSError:
        pass


def gc_index_tree(root: str | Path, grace_sec: float = 300.0) -> int:
    """Delete (a) retired files whose grace window expired and (b)
    orphans — on-disk files no snapshot references, debris of writes
    that crashed before their commit — older than the grace window (by
    mtime; they were never reader-visible, the grace only avoids racing
    an in-flight sibling writer under a misused multi-writer setup).
    Prunes emptied leaf dirs and stale manifest generations. Returns
    files deleted. Readers pin a snapshot at plan time; any snapshot
    published within the last ``grace_sec`` still resolves every file
    it lists. Holds the maintainer lease (GC deletes files — the one
    operation a racing maintainer must never interleave with)."""
    rootp = Path(root)
    if latest_manifest(rootp) is None:
        return 0  # unmanaged tree: nothing is known-orphan, touch nothing
    with _maintainer_lease(rootp):
        return _gc(rootp, grace_sec)


def _gc(rootp: Path, grace_sec: float) -> int:
    m = latest_manifest(rootp)
    if m is None:
        return 0
    now = time.time()
    cutoff = now - grace_sec
    live = set(m["files"])
    drop = [f for f, t in m["retired"].items() if t < cutoff and f not in live]
    known = live | set(m["retired"])
    for f in scan_parquet_files(rootp) - known:
        try:
            if (rootp / f).stat().st_mtime <= cutoff:
                drop.append(f)
        except OSError:
            pass
    for f in drop:
        _unlink_with_crc(rootp, f)
    if drop:
        retired = {f: t for f, t in m["retired"].items() if f not in drop}
        # carry zone maps forward: a GC publish changes no live file
        m = _publish(rootp, m["files"], retired, m["generation"] + 1,
                     meta=m.get("meta"), stats=m.get("stats"))
        # prune dirs the deletions emptied (bottom-up; never the root)
        for dirpath, dirnames, filenames in os.walk(rootp, topdown=False):
            d = Path(dirpath)
            if d == rootp or _is_hidden(d.relative_to(rootp).parts):
                continue
            try:
                d.rmdir()  # fails (kept) unless truly empty
            except OSError:
                pass
    # staging debris from a driver-side commit that crashed before its
    # publish (hidden from readers and scans; safe to sweep once aged)
    import shutil

    for name in os.listdir(rootp):
        p = rootp / name
        if name.startswith(COMMIT_STAGE_PREFIX) and p.is_dir():
            try:
                if p.stat().st_mtime <= cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    # manifest history: keep the latest KEEP_GENERATIONS plus anything
    # still inside the grace window
    mdir = _mdir(rootp)
    names = sorted(n for n in os.listdir(mdir)
                   if n.startswith("v") and n.endswith(".json"))
    for n in names[:-KEEP_GENERATIONS] if len(names) > KEEP_GENERATIONS else []:
        p = mdir / n
        try:
            if p.stat().st_mtime < cutoff:
                os.unlink(p)
        except OSError:
            pass
    return len(drop)
