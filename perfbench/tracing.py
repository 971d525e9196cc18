"""Span recorder for the traced benchmark run.

Wrappers replace public callables (module attributes or instance
methods) with a timing shim. Each call records one span: name, layer,
start, end, parent span and a context id (micro-batch or request).
Spans stay in memory; the service writes them out when it stops and
:func:`fold` reduces them to self time per layer.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, layer, name, t0, t1, ctx)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str, ctx=None):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1][0] if st else None
        ctx = ctx if ctx is not None else (st[-1][1] if st else None)
        st.append((sid, ctx))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append((sid, parent, layer, name, t0, t1, ctx))

    def add(self, layer: str, name: str, t0: float, t1: float, ctx=None, parent=None) -> int:
        """Record a span measured elsewhere (Spark progress phases)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append((sid, parent, layer, name, t0, t1, ctx))
        return sid

    def wrap(self, owner, attr: str, layer: str, ctx_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording shim. ``ctx_arg``
        names the positional argument that carries the context id."""
        fn = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            ctx = args[ctx_arg] if ctx_arg is not None and len(args) > ctx_arg else None
            with self.span(layer, name, ctx):
                return fn(*args, **kwargs)

        setattr(owner, attr, shim)

    def wrap_cm(self, owner, attr: str, layer: str) -> None:
        """Wrap a context-manager factory: its ``__enter__`` and
        ``__exit__`` become two spans (``<attr>.enter``/``<attr>.exit``)."""
        factory = getattr(owner, attr)
        tracer = self

        @functools.wraps(factory)
        def shim(*args, **kwargs):
            return _TimedCM(tracer, layer, attr, factory(*args, **kwargs))

        setattr(owner, attr, shim)

    def per_span_cost_s(self, n: int = 20_000) -> float:
        """Measured cost of one span on this host (recorded, then
        dropped), used to report the tracer's own overhead."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", "probe"):
                pass
        return (time.perf_counter() - t0) / n


class _TimedCM:
    def __init__(self, tracer: Tracer, layer: str, attr: str, cm) -> None:
        self._t, self._layer, self._attr, self._cm = tracer, layer, attr, cm

    def __enter__(self):
        with self._t.span(self._layer, f"{self._layer}.{self._attr}.enter"):
            return self._cm.__enter__()

    def __exit__(self, *exc):
        with self._t.span(self._layer, f"{self._layer}.{self._attr}.exit"):
            return self._cm.__exit__(*exc)


def fold(spans: list[tuple]) -> dict[str, dict]:
    """Self time per layer: each span's duration minus the part of its
    interval its child spans cover. Also per-name call counts and total
    durations."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, _l, _n, t0, t1, _c in spans:
        if parent is not None:
            children.setdefault(parent, []).append((t0, t1))
    layers: dict[str, dict] = {}
    for sid, _p, layer, name, t0, t1, _c in spans:
        covered = _union_len(children.get(sid, ()), t0, t1)
        rec = layers.setdefault(layer, {"self_s": 0.0, "total_s": 0.0, "spans": 0, "names": {}})
        rec["self_s"] += (t1 - t0) - covered
        rec["total_s"] += t1 - t0
        rec["spans"] += 1
        nm = rec["names"].setdefault(name, {"n": 0, "total_s": 0.0})
        nm["n"] += 1
        nm["total_s"] += t1 - t0
    return layers


def _union_len(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
