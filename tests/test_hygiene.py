"""Session hygiene: catalog queries must not leave session state behind.

The Structured-Streaming catalog queries pin three session confs while
their drain executes and used to leave ``nanosAsLong`` set (plus a /tmp
checkpoint dir per call) — surprising for any embedder calling a
"query". Pinned here, for every drain query: confs restored, no
checkpoint-dir leak; the drain helper's partial-sink guard; and that the
helper stays the only drain in ``plans/``.
"""

from __future__ import annotations

import glob
import os
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.sql.streaming import StreamingQuery

from spark_streaming_kafka_bucket_counter_spark.plans import queries as catalog
from spark_streaming_kafka_bucket_counter_spark.session import restored_conf
from spark_streaming_kafka_bucket_counter_spark.sources.files import stream_events
from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (
    drain_to_table,
)

SF_SMALL = "/root/testdata/sf0.001"

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_TZ = "spark.sql.session.timeZone"
_SHUFFLE = "spark.sql.shuffle.partitions"

DRAIN_QUERIES = (
    "streaming_sessionize",
    "streaming_count_sliding",
    "streaming_click_purchase_join",
    "streaming_dedup_events",
    "stateful_running_count",
)

PLANS_DIR = (
    Path(__file__).resolve().parents[1]
    / "spark_streaming_kafka_bucket_counter_spark"
    / "plans"
)


def _conf_or_none(spark, key):
    try:
        return spark.conf.get(key)
    except Exception:
        return None


def _checkpoint_dirs():
    tmp = tempfile.gettempdir()
    return set(glob.glob(os.path.join(tmp, "ssbc_ckpt_*"))) | set(
        glob.glob(os.path.join(tmp, "temporary-*"))
    )


@pytest.fixture()
def distinct_confs(spark):
    """Session confs that differ from every value a drain pins: nanos
    unset, a UTC-equivalent zone spelled differently from the pinned
    ``UTC``, and a shuffle count no drain picks. Restored afterwards —
    the session is shared by the whole suite."""
    with restored_conf(spark, _NANOS, _TZ, _SHUFFLE):
        spark.conf.unset(_NANOS)
        spark.conf.set(_TZ, "Etc/UTC")
        spark.conf.set(_SHUFFLE, "7")
        yield {k: _conf_or_none(spark, k) for k in (_NANOS, _TZ, _SHUFFLE)}


def test_restored_conf_sets_back_and_unsets(spark):
    before = _conf_or_none(spark, _NANOS)
    with restored_conf(spark, _NANOS):
        spark.conf.set(_NANOS, "true")
        assert spark.conf.get(_NANOS) == "true"
    assert _conf_or_none(spark, _NANOS) == before


@pytest.mark.parametrize("name", DRAIN_QUERIES)
def test_drain_query_leaves_session_and_tmp_as_found(spark, distinct_confs, name):
    assert distinct_confs[_NANOS] != "true"
    dirs_before = _checkpoint_dirs()
    df = catalog.QUERIES[name](spark, SF_SMALL)
    assert df.count() > 0
    assert {k: _conf_or_none(spark, k) for k in distinct_confs} == distinct_confs
    assert _checkpoint_dirs() == dirs_before


def test_drain_timeout_stops_query_and_never_reads_sink(
    spark, distinct_confs, monkeypatch
):
    stopped = []
    real_stop = StreamingQuery.stop

    def stop(q):
        stopped.append(q.name)
        real_stop(q)

    def read_sink(*_args, **_kwargs):
        raise AssertionError("the drain read a partial sink")

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda q, timeout=None: False)
    monkeypatch.setattr(StreamingQuery, "stop", stop)
    monkeypatch.setattr(spark, "table", read_sink)
    dirs_before = _checkpoint_dirs()
    with pytest.raises(RuntimeError, match="guard_probe"):
        drain_to_table(
            spark, "guard_probe", lambda: stream_events(spark, SF_SMALL).select("user_id")
        )
    assert len(stopped) == 1 and stopped[0].startswith("guard_probe_")
    assert not any(q.name == stopped[0] for q in spark.streams.active)
    assert {k: _conf_or_none(spark, k) for k in distinct_confs} == distinct_confs
    assert _checkpoint_dirs() == dirs_before


def test_plans_run_no_drain_of_their_own():
    """Spark-free: every streaming drain in ``plans/`` goes through
    ``drain_to_table``, so the conf pins, checkpoint cleanup and
    partial-sink guard exist once."""
    direct = re.compile(r"awaitTermination\(|\.format\(\s*[\"']memory[\"']\s*\)")
    offenders = [
        f"{path.relative_to(PLANS_DIR)}:{lineno}"
        for path in sorted(PLANS_DIR.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if direct.search(line)
    ]
    assert offenders == []


def test_one_persist_site_and_no_legacy_cache_helpers():
    """Spark-free: ``operators/_cache.py`` holds the package's only
    ``.persist(`` call, so every cache is registered in a scope and has
    exactly one owner; the per-frame lifetime helpers it replaced are
    gone, name and all."""
    import ast

    pkg = PLANS_DIR.parent
    persist_calls, legacy = [], []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(pkg)
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
            ):
                persist_calls.append(f"{rel}:{node.lineno}")
        legacy += [
            f"{rel}:{name}"
            for name in ("unpersist_with", "adopt_lifetime", "persist_for_scale")
            if name in src
        ]
    assert persist_calls and all(
        c.startswith("operators/_cache.py:") for c in persist_calls
    ), persist_calls
    assert legacy == []


# Paper-surface functions and methods no served root calls: the
# reference's sinks and producer (K2-K4), the H3 Avro route body, the
# Q3 delete, the D3 schema lookup, the S9 file loader and the A5
# update-mode counter. Plus ``manifest_at``, the one way to open a past
# generation's snapshot (COVERAGE "LSH index persistence" row): its
# result is what the index query functions' ``snapshot=`` takes, where
# ``latest_manifest`` gives only the newest. What they call counts as
# reached too.
SERVED_ELSEWHERE = {
    "sources.files": ("open_or_none",),
    "sources.kafka": ("count_json_payload", "kafka_sink_writer"),
    "sources.manifest": ("manifest_at",),
    "streaming.api": ("custom_sql_avro", "delete"),
    "streaming.pipeline": ("start_merged_counter",),
    "streaming.serving": ("ServingStore.describe",),
    "streaming.sinks": ("jdbc_upsert_batch", "merge_sql", "upsert_sql"),
}


def test_streaming_and_sources_have_no_unserved_entry_points():
    """Spark-free: every top-level function, and every method of a
    top-level class, in ``streaming/`` and ``sources/`` is reached from
    a served root (CLI, HTTP routes, ``@query`` catalog,
    ``__spark_entry__.py``, ``bench.py``, ``perfbench/``, ``tools/``)
    or named above, so an unserved entry point cannot creep back in
    (``tools/unreached.py``)."""
    import importlib.util

    root = PLANS_DIR.parents[1]
    spec = importlib.util.spec_from_file_location("unreached", root / "tools" / "unreached.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    pkg = PLANS_DIR.parent.name
    allowed = {
        (f"{pkg}.{mod}", name) for mod, names in SERVED_ELSEWHERE.items() for name in names
    }
    for mod, name in sorted(allowed):
        src = (root / (mod.replace(".", "/") + ".py")).read_text()
        cls, _, fn = name.rpartition(".")
        decls = [f"\nclass {cls}", f"\n    def {fn}("] if cls else [f"\ndef {fn}("]
        assert all(d in src for d in decls), f"stale allow-list entry {mod}.{name}"
    left = [
        f"{mod}.{name}"
        for mod, name in tool.unreached(allowed)
        if mod.startswith((f"{pkg}.streaming.", f"{pkg}.sources."))
    ]
    assert left == []


_IMPORT_EACH = """
import importlib, pkgutil, sys
import {pkg} as pkg

names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
         if not m.name.endswith(".__main__")]
failed = []
for name in names:
    for mod in [m for m in sys.modules if m.split(".")[0] == pkg.__name__]:
        del sys.modules[mod]
    try:
        importlib.import_module(name)
    except Exception as e:
        failed.append(f"{{name}}: {{type(e).__name__}}: {{e}}")
print(len(names))
print("\\n".join(failed))
"""


def test_every_module_imports_on_its_own():
    """Spark-free: each package module (``__main__`` aside) imports with
    no other package module loaded before it, in ``pkgutil.walk_packages``
    order, so no import cycle depends on which module a caller names
    first. One subprocess; the package's modules are dropped from
    ``sys.modules`` before each import."""
    import subprocess
    import sys

    root = PLANS_DIR.parents[1]
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_EACH.format(pkg=PLANS_DIR.parent.name)],
        cwd=root, capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": str(root)},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    count, *failed = out.stdout.splitlines()
    assert int(count) > 40
    assert [f for f in failed if f] == []
