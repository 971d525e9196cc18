#!/usr/bin/env python3
"""Seconds-long self-check of the benchmark harness, without Spark.

    python3 perfbench/selfcheck.py

Replays each benchmarked workload against a scripted stand-in for the
service process and its HTTP endpoint, then asserts that the result
line carries exactly the metrics ``BENCHMARK.json`` names, each with its
unit, for ``--trace 0`` and ``--trace 1``, and that every named
end-to-end metric in the detail line has a unit and a sample count. It
also checks the pieces the verdict rests on: the model's row digest
against a direct CRC32, the self-time fold, and that a store answer that
disagrees with the model is caught.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import zlib
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import model  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, fold  # noqa: E402

NAMED = {
    "mixed": {"freshness_p50_s", "freshness_p90_s", "read_p50_s", "read_p90_s",
              "freshness_mean_s", "reads_per_s", "ingest_eps"},
    "catalog": {"catalog_s", "query_p50_s", "query_p90_s", "query_mean_s", "queries_per_s"},
}
COMMON = {"setup_s", "peak_rss_mb", "error_frac"}


class FakeService:
    """Scripted service: answers the protocol, writes a source log that
    puts one file in each batch, and reports progress."""

    lock = threading.Lock()  # the poller and the reader both commit

    def __init__(self, workload, work, trace, params, deadline):
        self.workload, self.work, self.trace, self.params = workload, work, trace, params
        self.ckpt = os.path.join(work, "ckpt")
        self.t_spawn = time.time() - 1.5
        FakeService.current = self

    def expect(self, ev):
        if ev == "ready":
            return {"t": time.time(), "port": 0, "ckpt": self.ckpt, "phases": {"session_s": 1.0}}
        return self.result()

    def commit(self, files) -> None:
        d = os.path.join(self.ckpt, "sources", "0")
        os.makedirs(d, exist_ok=True)
        with self.lock:
            for b in files:
                final = os.path.join(d, str(b))
                if os.path.exists(final):
                    continue
                with open(final + ".tmp", "w") as fh:
                    fh.write("v1\n")
                    fh.write(json.dumps({"path": f"file:///x/events-{b:06d}.json",
                                         "batchId": b}) + "\n")
                os.replace(final + ".tmp", final)

    def batches(self) -> dict[int, list[int]]:
        return run.source_log(self.ckpt)

    def result(self):
        now = time.time()
        progress = [{"batch": b, "rows": 1000 + b, "start": now - 10 + b,
                     "dur": {"triggerExecution": 0.5 + b / 100, "addBatch": 0.3}}
                    for b in self.batches()]
        res = {"phases": {}, "progress": progress, "peak_rss_mb": 900.0 + self.trace,
               "parallelism": {"master": "local[4]"}, "store": {"live_files": 3}}
        if self.workload == "catalog":
            passes = [{"pass_s": 1.0 + k / 10, "queries": {
                n: {"build_s": 0.1, "exec_s": 0.1 + k / 100, "jobs": 2}
                for n in self.params["queries"]}} for k in range(3)]
            res["catalog"] = {"counts": {}, "oracles": {}, "passes": passes}
        if self.trace:
            t = Tracer()
            with t.span("session", "session.get_spark"):
                with t.span("serving", "serving.view"):
                    pass
            res["trace"] = {"fold": fold(t.spans), "spans": len(t.spans),
                            "per_span_cost_s": 1e-6, "dump": os.path.join(self.work, "s.json"),
                            "by_name": {"session.get_spark": [0.1]}}
        return res

    def send(self, **cmd):
        pass

    def close(self):
        pass

    def log_tail(self):
        return ""


class FakeHTTP:
    """Answers every route from the model: one landed file per batch,
    every landed file committed at once. ``corrupt`` perturbs batch 0."""

    corrupt = False

    def __call__(self, port, path, timeout=60.0):
        svc = FakeService.current
        time.sleep(0.002)
        source = model.EventSource(7, svc.params["events_per_file"])
        if path == "/rst":
            landed = len(os.listdir(os.path.join(svc.work, "src")))
            svc.commit(range(landed))
        batches = svc.batches()
        rows = [x for b in run.model_rows(source, batches).values() for x in b]
        last = max(batches, default=-1)
        if path == "/rst":
            return 200, json.dumps({"rst_id": last}).encode(), 0.001
        if path == "/c/" + model.CHECKSUM_SQL:
            want = model.expected_checksums(model.batch_counts(source, batches))
            out = [{"RST_ID": b, "n": n, "c": c, "h": h + (b == 0 and self.corrupt)}
                   for b, (n, c, h) in want.items()]
        elif path.startswith("/c/SELECT"):
            lo, hi = map(int, re.search(r"BETWEEN (\d+) AND (\d+)", path).groups())
            sums = Counter()
            for x in rows:
                if lo <= x[5] <= hi:
                    sums[x[0]] += x[4]
            out = [{"etype": t, "n": n} for t, n in sums.items()]
        else:
            if path.startswith("/rv/"):
                keep = lambda x: x[5] > last - int(path[4:])  # noqa: E731
            elif path.startswith("/dv/"):
                keep = lambda x: x[5] == int(path[4:])  # noqa: E731
            elif path.startswith("/sr/"):
                b = int(path.rsplit(":", 1)[1])
                keep = lambda x: x[2] == b  # noqa: E731
            else:
                spec = json.loads(path[3:-len("/EOE")])
                t, (lo, hi) = spec["etype"][1], spec["bucket_start"][1]
                keep = lambda x: x[0] == t and lo <= x[2] <= hi  # noqa: E731
            out = [dict(zip(("etype", "uid", "bucket_start", "bucket_end", "count", "RST_ID"), x))
                   for x in rows if keep(x)]
        return 200, json.dumps(out).encode(), 0.01


def run_fake(workload: str, trace: int, seconds: float = 1.0) -> tuple[dict, dict]:
    r = run.Run(workload, 7, seconds, trace)
    metrics = getattr(r, workload)()
    return {"correct": not r.errors, "attempted": r.attempted, "failed": r.failed,
            "metrics": metrics}, r.detail


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    workloads = [w["name"] for w in bench["workloads"]]

    run.Service = FakeService
    run.oracle_row_counts = lambda data, counts, oracles: []
    run.WORKLOADS["mixed"].update(drain_s=1.0, warm_s=0.5)
    run.WORKLOADS["catalog"].update(sf=0.001)

    run.get = FakeHTTP()
    for w in workloads:
        for trace, want in ((0, e2e), (1, layer)):
            res, detail = run_fake(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            assert res["correct"], f"{w}: {detail['errors']}"
            assert res["attempted"] >= 1
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (w, k)
            named = detail["named"]
            assert set(named) == NAMED[w] | COMMON, (w, sorted(named))
            for k, v in named.items():
                assert v["unit"] and isinstance(v["n"], int) and v["n"] >= 1, (w, k, v)
            assert detail["stamps"]["versions"]["pyspark"]
            assert "loadavg_start" in detail["stamps"] and "busy_frac" in detail["stamps"]
        print(f"selfcheck {w}: ok ({len(e2e)} end-to-end, {len(layer)} per-layer metrics)")

    FakeHTTP.corrupt = True
    res, detail = run_fake("mixed", 0)
    assert not res["correct"] and "batch 0" in detail["errors"][0], detail["errors"]
    FakeHTTP.corrupt = False
    print("selfcheck: a store that disagrees with the model fails the run")

    keys = ("etype", "uid", "bucket_start", "bucket_end", "count", "RST_ID")
    rows = run.model_rows(model.EventSource(3, 50), {b: [b] for b in range(4)})

    def body(*batches, bump=0):
        return json.dumps([dict(zip(keys, x[:4] + (x[4] + bump, x[5])))
                           for b in batches for x in rows[b]]).encode()

    seen = {b: 100.0 + b for b in range(4)}
    assert not run.check_reads([("dv", "/dv/1", body(1), (1, 1), 101.0)], rows, 3, seen)
    assert run.check_reads([("dv", "/dv/1", body(1, bump=1), (1, 1), 101.0)], rows, 3, seen)
    print("selfcheck: a read that disagrees with the model fails the run")
    # /rv/3 sent when batch 2 was newest: batch 3, committed while the
    # request ran, may cut the answer to batches 1..2, but only then
    assert not run.check_reads([("rv", "/rv/3", body(0, 1, 2), (2, 3), 102.5)], rows, 3, seen)
    short: list[str] = []
    assert not run.check_reads([("rv", "/rv/3", body(1, 2), (2, 3), 103.0)], rows, 3, seen, short)
    assert short == ["/rv/3"]
    assert run.check_reads([("rv", "/rv/3", body(1, 2), (2, 3), 102.0)], rows, 3, seen)
    assert run.check_reads([("rv", "/rv/3", b"[]", (2, 3), 103.0)], rows, 3, seen)
    print("selfcheck: a short /rv answer passes only when a commit explains it")
    # batches below the retention floor may be gone, the others may not
    assert not run.check_reads([("dv", "/dv/0", b"[]", (3, 0), 103.0)], rows, 3, seen, floor=1)
    assert run.check_reads([("dv", "/dv/1", b"[]", (3, 1), 103.0)], rows, 3, seen, floor=1)
    sums = Counter()
    for b in (1, 2, 3):
        for x in rows[b]:
            sums[x[0]] += x[4]
    cut = json.dumps([{"etype": t, "n": n} for t, n in sums.items()]).encode()
    sql = "/c/SELECT ... BETWEEN 0 AND 3"
    assert not run.check_reads([("c_sql", sql, cut, (3, 0), 103.0)], rows, 3, seen, floor=1)
    assert run.check_reads([("c_sql", sql, cut, (3, 0), 103.0)], rows, 3, seen)
    print("selfcheck: only batches below the retention floor may be missing")

    src = model.EventSource(3, 50)
    c = src.counts(0)
    direct = sum(zlib.crc32(f"{t}|{u}|{bs}|{bs + 20}|{n}".encode()) for (t, u, bs), n in c.items())
    assert model.expected_checksums({0: c})[0] == (len(c), 50, direct)
    assert sum(c.values()) == 50 and c == Counter(src.counts(0))

    t = Tracer()
    t.add("a", "outer", 0.0, 10.0)
    outer = t.spans[0][0]
    t.add("b", "inner1", 1.0, 4.0, parent=outer)
    t.add("b", "inner2", 3.0, 6.0, parent=outer)
    f = fold(t.spans)
    assert abs(f["a"]["self_s"] - 5.0) < 1e-9 and abs(f["b"]["self_s"] - 6.0) < 1e-9, f
    print("selfcheck: model digest and self-time fold ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
