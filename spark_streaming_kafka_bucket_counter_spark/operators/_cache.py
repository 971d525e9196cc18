"""Cache lifetime: every ``persist()`` in the package lives exactly as
long as the query or index build that made it.

DataFrames are lazy, so an operator that persists an intermediate
(inverted index, candidate set, normalized projection) cannot
unpersist it before returning — the consumer has not run yet — and a
cache left behind leaks executor storage across calls in a long-lived
session (bench loop, serving endpoint, ingest stream). The owner of a
cache is therefore a *scope*, and there are two boundaries that open
one:

- :func:`scoped` — the lazy boundary. The ``@query`` registry and each
  public operator that returns a frame backed by its own persist carry
  it. If a scope is already open the call joins it; otherwise it opens
  one and releases it when the returned DataFrame is garbage-collected
  (one ``weakref.finalize``; CPython refcounting makes that prompt).
  Frames derived from the result inside the same scope need no wiring:
  the caches outlive every select, join or union the query builds.
- :func:`scope` — the eager boundary: a context manager that always
  opens a fresh scope and releases it on exit. Index builders,
  training loops and memo builds use it.

:func:`persist` is the package's only ``.persist(`` call, and it
raises outside a scope: a cache with no owner would either leak or,
if it were tied to the wrong frame, silently run uncached. A failing
test is the cheaper signal. Releasing a frame that a loop already
unpersisted is a no-op, and unpersisting a frame whose plan re-executes
later is safe (Spark recomputes), so an early release costs time, never
correctness.

Size gate (r13): with ``source=`` the persist is skipped when the
source is a provably-small file scan
(:func:`~..sources.files.provably_small_scan`). Measured r13
(interleaved persist-on/off A/B at sf0.1/local[32], SCALE.md): on a
small input these persists LOSE 0.1-0.9 s per query — the cached
subtree executes without AQE and the InMemoryRelation build adds a
materialization pass, while recomputing a one-split subtree per
consumer is nearly free. At real input scale the same persist saves
whole corpus passes per consumer, so unknown-size sources persist.
``SPARK_GRAFT_FORCE_PERSIST=1`` forces the persist (plan evidence,
tests). Two measured exceptions stay ungated: ``bigram_backoff_logprob``
(persist ON 1.554 s vs OFF 1.635 s — three consumers amortize the
build) and ``bm25_topk``'s matched-docs ``tf`` aggregate (a tiny frame
read by two consumers; a winner in the same A/B).

Observability: releasing a scope that persisted anything emits one
DEBUG record on this module's logger with attributes ``registered``
(frames persisted in the scope) and ``unread`` (frames whose cache was
never built, i.e. no action read them before release — a persist that
served nothing). The check asks the JVM cache manager per frame, so it
runs only when DEBUG is enabled; no handler is installed.
"""

from __future__ import annotations

import contextlib
import functools
import logging
import os
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame

from ..sources.files import provably_small_scan

_log = logging.getLogger(__name__)

# the innermost open scope: the JVM Datasets persisted in it. Holding
# the Java handle (not the Python frame) keeps a scope's own result
# collectable when the result is itself one of its caches.
_SCOPE: ContextVar[list | None] = ContextVar("cache_scope", default=None)


def _unread(jdf) -> bool:
    cached = jdf.sparkSession().sharedState().cacheManager().lookupCachedData(jdf)
    if not cached.isDefined():  # already unpersisted by its loop
        return False
    builder = cached.get().cachedRepresentation().cacheBuilder()
    return not builder.isCachedColumnBuffersLoaded()


def _release(frames: list) -> None:
    if not frames:
        return
    if _log.isEnabledFor(logging.DEBUG):
        rec = {"registered": len(frames), "unread": sum(map(_unread, frames))}
        _log.debug("cache scope released %s", rec, extra=rec)
    for jdf in frames:
        try:
            jdf.unpersist(False)
        except Exception:
            # JVM already gone (interpreter shutdown) or session stopped.
            pass


def persist(df: DataFrame, source: DataFrame | None = None, level=None) -> DataFrame:
    """``df.persist(level)``, owned by the innermost open scope.

    With ``source``, skipped (``df`` returned as is) when ``source`` is
    a provably-small file scan — see the module docstring."""
    frames = _SCOPE.get()
    if frames is None:
        raise RuntimeError(
            "persist() outside a cache scope: decorate the caller with "
            "@scoped or run it under `with scope():`"
        )
    if (
        source is not None
        and os.environ.get("SPARK_GRAFT_FORCE_PERSIST") != "1"
        and provably_small_scan(source)
    ):
        return df
    out = df.persist() if level is None else df.persist(level)
    frames.append(out._jdf)
    return out


@contextlib.contextmanager
def scope():
    """Open a fresh scope; release its caches on exit, raised or not."""
    frames: list = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        _release(frames)


def scoped(fn):
    """Join the open scope, or own a new one tied to the returned
    DataFrame's lifetime (released at once if ``fn`` raises)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if _SCOPE.get() is not None:
            return fn(*args, **kwargs)
        frames: list = []
        token = _SCOPE.set(frames)
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _release(frames)
            raise
        finally:
            _SCOPE.reset(token)
        if frames:
            if not isinstance(out, DataFrame):
                _release(frames)
                raise TypeError(
                    f"{fn.__qualname__} persisted {len(frames)} frame(s) but "
                    f"returned {type(out).__name__}, not a DataFrame to own them"
                )
            weakref.finalize(out, _release, frames)
        return out

    return wrapper
