"""The service process of the benchmark: the system under test.

It composes the package's public pieces the way ``cli.run`` does
(``parse_and_bucket`` -> ``start_bucket_counter`` -> ``ServingStore`` ->
``streaming.http.serve``), but keeps control of the trigger so the
stream can keep running on a file source. For the ``catalog`` workload
it runs catalog queries instead.

It talks to the load process (``run.py``) over its standard streams:
commands arrive as JSON lines on stdin, and replies leave on stdout as
JSON lines prefixed with ``@@PB``. Anything else on stdout is log noise.

    python3 perfbench/service.py --workload mixed --work DIR --trace 0 \
        --params '{"cores": 4, ...}'
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from model import BUCKET_FIELD, BUCKET_S, CHECKSUM_SQL, CONVERSION, TABLE  # noqa: E402
from tracing import Tracer, fold  # noqa: E402

from spark_streaming_kafka_bucket_counter_spark.session import get_spark  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.sources import manifest  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.streaming import api, http, serving  # noqa: E402
from spark_streaming_kafka_bucket_counter_spark.streaming.pipeline import (  # noqa: E402
    parse_and_bucket,
    start_bucket_counter,
)
from spark_streaming_kafka_bucket_counter_spark.streaming.serving import ServingStore  # noqa: E402

GROUP_COLS = list(CONVERSION)
# a fixed-size heap (initial = max) keeps the JVM's resident set from
# depending on when the collector chose to grow the heap
DRIVER_HEAP = "1g"
# the JVM keeps getting faster at the catalog over the first ~4 passes;
# timing starts after 3, when a pass is within ~10% of the settled time
WARM_PASSES = 3


def send(msg: dict) -> None:
    sys.stdout.write("@@PB " + json.dumps(msg) + "\n")
    sys.stdout.flush()


def recv() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("load process went away")
    return json.loads(line)


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``pid`` and all its descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_records(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": _epoch(p.timestamp),
            "dur": {k: v / 1000.0 for k, v in (p.durationMs or {}).items()},
        })
    return out


class Service:
    def __init__(self, workload: str, work: str, traced: bool, params: dict) -> None:
        self.workload = workload
        self.work = work
        self.params = params
        self.tracer = Tracer() if traced else None
        self.progress: list[dict] = []
        self.phases: dict[str, float] = {}
        self.extra: dict = {}

    # -- helpers -------------------------------------------------------
    def _span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def _instrument_modules(self) -> None:
        t = self.tracer
        for fn in ("rst", "recent_values", "direct_value", "select_range",
                   "custom_sql", "custom_select"):
            t.wrap(api, fn, "api")
        t.wrap_cm(manifest, "manifest_txn", "manifest")
        t.wrap(manifest, "latest_manifest", "manifest")
        t.wrap(manifest, "gc_index_tree", "manifest")
        t.wrap(serving, "reject_non_query", "serving")

    def _instrument_store(self, store: ServingStore) -> None:
        t = self.tracer
        t.wrap(store, "append", "serving", ctx_arg=1)
        t.wrap(store, "clean", "serving")
        t.wrap(store, "view", "serving")
        t.wrap(store, "view_where", "serving")

    def _instrument_server(self, server) -> None:
        handler = server.RequestHandlerClass
        orig = handler.do_GET
        tracer = self.tracer

        def do_GET(req):  # noqa: N802 (stdlib API)
            with tracer.span("http", f"http.{_route_name(req.path)}", ctx=("req", id(req))):
                orig(req)

        handler.do_GET = do_GET

    def _session(self):
        cores = int(self.params["cores"])
        tmp = os.path.join(self.work, "tmp")
        with self._span("session", "session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf={
                    "spark.driver.memory": DRIVER_HEAP,
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            self.phases["session_s"] = time.perf_counter() - t0
        self.spark = spark
        sc = spark.sparkContext
        self.extra["parallelism"] = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        }
        return spark

    def _stream(self, src: str, max_files: int | None):
        reader = self.spark.readStream.schema("value string")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        return parse_and_bucket(
            reader.text(src).select("value"), CONVERSION, BUCKET_FIELD, BUCKET_S, "epoch"
        )

    def _warm_up(self) -> None:
        """Drive one small stream and every read route through a
        scratch store, so codegen and the Python paths are warm before
        timing."""
        t0 = time.perf_counter()
        wdir = os.path.join(self.work, "warm")
        store = ServingStore(self.spark, os.path.join(wdir, "store"), table_name=TABLE)
        q = start_bucket_counter(
            self._stream(os.path.join(wdir, "src"), 1), store, GROUP_COLS,
            os.path.join(wdir, "ckpt"), trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        t1 = time.perf_counter()
        self.phases["warm_stream_s"] = t1 - t0
        b = store.rst()
        api.rst(store)
        api.recent_values(store, 1)
        api.direct_value(store, b)
        api.select_range(store, "bucket_start", "0", "None")
        api.custom_sql(store, CHECKSUM_SQL)
        api.custom_select(store, json.dumps({"etype": ["eq", "click"]}))
        self.phases["warm_reads_s"] = time.perf_counter() - t1

    # -- workloads -----------------------------------------------------
    def run_stream(self) -> None:
        p = self.params
        self._session()
        if self.tracer:
            self._instrument_modules()
        self._warm_up()
        store = ServingStore(
            self.spark, os.path.join(self.work, "store"), table_name=TABLE,
            clean_interval=int(p["clean_interval"]), clean_freq=int(p["clean_freq"]),
        )
        if self.tracer:
            self._instrument_store(store)
        src, ckpt = os.path.join(self.work, "src"), os.path.join(self.work, "ckpt")
        query = start_bucket_counter(
            self._stream(src, None), store, GROUP_COLS, ckpt,
            trigger={"processingTime": f"{int(1000 * p['trigger_s'])} milliseconds"},
        )
        server, _ = http.serve(store)
        if self.tracer:
            self._instrument_server(server)
        send({"ev": "ready", "t": time.time(), "port": server.server_address[1],
              "ckpt": ckpt, "phases": self.phases})
        recv()  # go
        recv()  # stop
        exc = query.exception()
        self.progress = progress_records(query)
        query.stop()
        self.extra["stream_error"] = None if exc is None else str(exc)
        snap = store.snapshot()
        mdir = os.path.join(store.path, manifest.MANIFEST_DIR)
        newest = max((n for n in os.listdir(mdir) if n.startswith("v")), default=None)
        self.extra["store"] = {
            "live_files": len(snap["files"]) if snap else 0,
            "generation": snap["generation"] if snap else 0,
            "manifest_bytes": os.path.getsize(os.path.join(mdir, newest)) if newest else 0,
        }
        server.shutdown()
        server.server_close()

    def run_catalog(self) -> None:
        from spark_streaming_kafka_bucket_counter_spark.plans import queries as catalog

        p = self.params
        spark = self._session()
        names, sf_dir = p["queries"], p["sf_dir"]
        sc = spark.sparkContext
        counts: dict[str, int] = {}
        t0 = time.perf_counter()
        # warm passes: the first row-counts every query (the oracle
        # check), the others run the timed path
        for k in range(WARM_PASSES):
            for name in names:
                with self._span("catalog", "catalog.warm"):
                    df = catalog.QUERIES[name](spark, sf_dir)
                    if k == 0:
                        counts[name] = df.count()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        self.phases["warm_s"] = time.perf_counter() - t0
        send({"ev": "ready", "t": time.time(), "phases": self.phases})
        cmd = recv()
        deadline = time.perf_counter() + cmd["seconds"]
        passes: list[dict] = []
        while not passes or time.perf_counter() < deadline:
            k = len(passes)
            rec = {}
            tp = time.perf_counter()
            for name in names:
                group = f"{name}#{k}"
                sc.setJobGroup(group, group)
                with self._span("catalog", "catalog.build"):
                    t1 = time.perf_counter()
                    df = catalog.QUERIES[name](spark, sf_dir)
                    t2 = time.perf_counter()
                with self._span("catalog", "catalog.exec"):
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                rec[name] = {
                    "build_s": t2 - t1,
                    "exec_s": t3 - t2,
                    "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                }
            sc.setJobGroup("perfbench", "perfbench")
            passes.append({"pass_s": time.perf_counter() - tp, "queries": rec})
        self.extra["catalog"] = {
            "counts": counts,
            "oracles": {n: catalog.ORACLES[n] for n in names},
            "passes": passes,
        }
        recv()

    # -- result --------------------------------------------------------
    def result(self) -> dict:
        out = {
            "ev": "result",
            "phases": self.phases,
            "progress": self.progress,
            "peak_rss_mb": tree_peak_rss_mb(os.getpid()),
            **self.extra,
        }
        if self.tracer is not None:
            t = self.tracer
            # Spark's own progress becomes the pipeline layer: one span
            # per trigger, parent of that batch's store.append span
            by_batch = {}
            for rec in self.progress:
                t0 = rec["start"] - time.time() + time.perf_counter()
                by_batch[rec["batch"]] = t.add(
                    "pipeline", "pipeline.trigger", t0,
                    t0 + rec["dur"].get("triggerExecution", 0.0), ctx=rec["batch"],
                )
            spans = [
                (sid, by_batch.get(ctx) if name == "serving.append" and parent is None
                 else parent, layer, name, t0, t1, ctx)
                for sid, parent, layer, name, t0, t1, ctx in t.spans
            ]
            dump = os.path.join(self.work, "spans.json")
            with open(dump, "w") as fh:
                json.dump([list(s[:6]) + [repr(s[6])] for s in spans], fh)
            out["trace"] = {
                "fold": fold(spans),
                "spans": len(spans),
                "per_span_cost_s": t.per_span_cost_s(),
                "dump": dump,
                "by_name": _by_name(spans),
            }
        return out


def _route_name(path: str) -> str:
    if path.startswith("/c/"):
        return "c_eoe" if path.rstrip("/").endswith("/EOE") else "c_sql"
    return path.strip("/").split("/", 1)[0] or "root"


def _by_name(spans) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for _sid, _p, _layer, name, t0, t1, _c in spans:
        out.setdefault(name, []).append(t1 - t0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--params", default="{}")
    a = ap.parse_args()
    svc = Service(a.workload, a.work, bool(a.trace), json.loads(a.params))
    if a.workload == "catalog":
        svc.run_catalog()
    else:
        svc.run_stream()
    send(svc.result())
    svc.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
