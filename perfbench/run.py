#!/usr/bin/env python3
"""End-to-end benchmark of the bucket-counter service.

    python3 perfbench/run.py --workload {mixed,catalog} \
        --seed N --seconds S --trace {0,1}

This file is the load process. It owns the seed, writes the input files,
runs the HTTP clients and checks every answer against a pure-Python
model. The system under test runs in a separate service process
(``service.py``), started and stopped here for every run. See
``perfbench/README.md`` for the workloads, the metrics and which layer
metric should move which end-to-end metric.

Standard output: one detail line (``{"detail": ...}``: every named
metric with unit and sample count, the stamps and the correctness
verdict), then, as the last line, the result object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import http.client
import importlib.util
import json
import math
import os
import platform
import random
import selectors
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import model  # noqa: E402
from model import EventSource  # noqa: E402

PACKAGE = "spark_streaming_kafka_bucket_counter_spark"
RUN_DEADLINE_S = 170.0

# bench.py's CORE list without its index-serving entries
# (dedup_minhash_lsh, sim_ivf_topk, corpus_curation_stack): those build
# and cache indexes on first use, which would make a run's cost depend on
# what an earlier run left behind.
CATALOG_QUERIES = [
    "bucket_count_epoch",
    "bucket_count_multikey",
    "bucket_count_iso",
    "json_decode_count",
    "merged_count_by_type",
    "sql_join_revenue_by_nation",
    "sql_topk_orders",
    "retention_recent_batches",
    "text_entropy",
]

WORKLOADS = {
    # open loop: one small file every period_s, one closed-loop reader
    # plus a /rst poller; reference retention defaults. A fixed trigger
    # interval, as the reference uses, leaves the machine headroom, so
    # freshness is not a queue that a little host steal makes explode.
    # The first warm_s of load are not timed: freshness falls by ~20%
    # over the first ~15 s of a stream as the JVM warms up
    "mixed": {"events_per_file": 40, "period_s": 0.04, "poll_s": 0.05, "warm_s": 15.0,
              "trigger_s": 1.0,
              "clean_interval": 100, "clean_freq": 10, "drain_s": 20.0},
    # catalog subset on generated tables, warm passes then timed passes
    "catalog": {"sf": 0.01},
}

ROUTES = ("rst", "rv", "dv", "sr", "c_sql", "c_eoe")
# how soon after a short /rv answer the /rst poller must have seen the
# commit that explains it (see check_reads)
RV_SLACK_S = 0.5
# the longest the file generator may stall before a run is invalid
MAX_STALL_S = 1.0


class BenchError(RuntimeError):
    pass


# -- stamps ------------------------------------------------------------------
def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def jiffies() -> tuple[int, int, int]:
    """(busy, total, steal) machine-wide CPU jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]
    return sum(vals) - idle, sum(vals), vals[7]


def cpu_fracs(j0, j1) -> dict:
    """Busy and hypervisor-steal shares of the CPU time between two samples."""
    total = max(1, j1[1] - j0[1])
    return {"busy_frac": (j1[0] - j0[0]) / total, "steal_frac": (j1[2] - j0[2]) / total}


def versions() -> dict:
    import duckdb
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__}


# -- statistics --------------------------------------------------------------
def pct(values, q: float) -> float:
    """Nearest-rank percentile; ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise BenchError("no samples")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def metric(value, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


# -- the service process -----------------------------------------------------
class Service:
    """The service process, with a JSON-line channel over its stdio."""

    def __init__(self, workload: str, work: str, trace: int, params: dict, deadline: float):
        self.deadline = deadline
        self.log_path = os.path.join(work, "service.log")
        env = dict(os.environ)
        env.update({
            "TMPDIR": os.path.join(work, "tmp"),
            # the JVMs would otherwise keep perf counters in /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONUNBUFFERED": "1",
        })
        self._log = open(self.log_path, "w")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "service.py"), "--workload", workload,
             "--work", work, "--trace", str(trace), "--params", json.dumps(params)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=ROOT, env=env, start_new_session=True,
        )
        self._buf = b""
        self._sel = selectors.DefaultSelector()
        self._sel.register(self.proc.stdout, selectors.EVENT_READ)

    def expect(self, ev: str) -> dict:
        fd = self.proc.stdout.fileno()
        while True:
            while b"\n" not in self._buf:
                left = self.deadline - time.time()
                if left <= 0 or not self._sel.select(timeout=left):
                    raise BenchError(f"timed out waiting for service event {ev!r}")
                chunk = os.read(fd, 1 << 16)
                if not chunk:
                    raise BenchError(f"service exited (code {self.proc.wait()}) before {ev!r}")
                self._buf += chunk
            line, self._buf = self._buf.split(b"\n", 1)
            if line.startswith(b"@@PB "):
                msg = json.loads(line[5:])
                if msg.get("ev") != ev:
                    raise BenchError(f"expected {ev!r}, service sent {msg.get('ev')!r}")
                return msg

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd).encode() + b"\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        """Wait for a clean exit; kill the whole process group otherwise."""
        try:
            self.proc.wait(timeout=max(1.0, min(30.0, self.deadline - time.time())))
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.5)
        try:
            self.proc.wait(timeout=10)
        finally:
            self._sel.close()
            self._log.close()

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path) as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""


# -- HTTP --------------------------------------------------------------------
def get(port: int, path: str, timeout: float = 60.0):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    t0 = time.perf_counter()
    try:
        conn.request("GET", quote(path, safe="/"))
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    except OSError as exc:
        status, body = 0, str(exc).encode()
    finally:
        conn.close()
    return status, body, time.perf_counter() - t0


def checksum_read(port: int) -> dict[int, tuple[int, int, int]]:
    status, body, _ = get(port, "/c/" + model.CHECKSUM_SQL)
    if status != 200:
        raise BenchError(f"checksum read failed: {status} {body[:200]!r}")
    return {r["RST_ID"]: (r["n"], r["c"], r["h"]) for r in json.loads(body)}


def source_log(ckpt: str) -> dict[int, list[int]]:
    """batch id -> input file indexes, from the checkpoint's file-source log."""
    out: dict[int, set[int]] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], set()).add(model.file_index(e["path"]))
    return {b: sorted(v) for b, v in out.items()}


def check_store(port: int, source: EventSource, ckpt: str, clean_interval: int,
                clean_freq: int) -> list[str]:
    """Retained batches must equal the model's count of their files, and
    be what retention keeps: the newest ``clean_interval + 1`` batches at
    least, at most ``clean_freq`` more, with no gap."""
    got = checksum_read(port)
    files_by_batch = source_log(ckpt)
    want = model.expected_checksums(model.batch_counts(
        source, {b: files_by_batch.get(b, []) for b in got}))
    errors = [f"batch {b}: store {got[b]} != model {want[b]}" for b in sorted(got) if got[b] != want[b]]
    if not got:
        return errors + ["store holds no batch"]
    newest = max(got)
    lo, hi = min(clean_interval + 1, newest + 1), clean_interval + clean_freq + 1
    if set(got) != set(range(newest - len(got) + 1, newest + 1)) or not lo <= len(got) <= hi:
        errors.append(f"retention kept batches {min(got)}..{newest} ({len(got)}), "
                      f"expected the newest {lo} to {hi}")
    return errors


class RouteMix:
    """Seeded route draws. Each draw carries ``L``, the newest batch the
    load process had seen committed when it sent the request, so the
    answer can be checked against the model afterwards even while the
    stream keeps committing (see :func:`check_reads`)."""

    def __init__(self, seed: int, last_visible, bucket):
        self.rnd = random.Random(seed)
        self.last_visible = last_visible  # () -> newest visible batch id
        self.bucket = bucket  # (rnd) -> a bucket_start held by visible batches

    def draw(self, route: str) -> tuple[str, tuple]:
        r, last = self.rnd, self.last_visible()
        if route == "rst":
            return "/rst", (last, None)
        if route == "rv":
            k = r.randint(1, 3)
            return f"/rv/{k}", (last, k)
        if route == "dv":
            i = r.randint(0, last)
            return f"/dv/{i}", (last, i)
        if route == "sr":
            b = self.bucket(r)
            return f"/sr/bucket_start/{b}:{b}", (last, b)
        if route == "c_sql":
            lo = r.randint(0, last)
            return (f"/c/SELECT etype, SUM(`count`) AS n FROM {model.TABLE} "
                    f"WHERE RST_ID BETWEEN {lo} AND {last} GROUP BY etype"), (last, lo)
        if route == "c_eoe":
            t, b = r.choice(model.EVENT_TYPES), self.bucket(r)
            spec = {"etype": ["eq", t], "bucket_start": ["range", [b - model.BUCKET_S, b]]}
            return f"/c/{json.dumps(spec, separators=(',', ':'))}/EOE", (last, (t, b))
        raise ValueError(route)


def _row_filter(route: str, arg):
    if route == "sr":
        return lambda x: x[2] == arg
    if route == "c_eoe":
        t, b = arg
        return lambda x: x[0] == t and b - model.BUCKET_S <= x[2] <= b
    return lambda x: True


def check_reads(checks, rows_by_batch: dict[int, list[tuple]], newest: int,
                seen: dict[int, float], short: list[str] | None = None,
                floor: int = 0) -> list[str]:
    """Every answer must equal the model. Batches up to the request's
    ``L`` were committed when it was sent, so they must all be there,
    except those below ``floor``, which retention may have dropped;
    later ones may be there; each batch present must match exactly.
    ``seen`` maps a batch to the time the ``/rst`` poller first saw it.
    ``/rv`` answers cut short by a commit race are appended to ``short``."""
    errors = []
    short = [] if short is None else short
    for route, path, body, (last, arg), t_resp in checks:
        got = normalise(route, body)
        if route == "rst":
            ok = last <= got["rst_id"] <= newest
        elif route == "c_sql":
            # retention drops the oldest batches first, so the answer
            # covers lo' .. L for some lo' from lo up to the floor
            want = Counter()
            for b in range(arg, last + 1):
                for x in rows_by_batch.get(b, ()):
                    want[x[0]] += x[4]
            ok = False
            for b in range(arg, max(arg, floor) + 1):
                ok = ok or got == sorted((t, n) for t, n in want.items() if n)
                for x in rows_by_batch.get(b, ()):
                    want[x[0]] -= x[4]
        else:
            keep = _row_filter(route, arg)
            by: dict[int, list[tuple]] = {}
            for x in got:
                by.setdefault(x[5], []).append(x)
            if route == "rv":
                # ServingStore.recent reads the view and rst() from two
                # snapshots, so k commits between them shorten the answer
                # by k batches to the newest of the view. That is
                # tolerated only if batch m + k, which rst() returned, was
                # visible by the time the answer came back
                m = max(by, default=last)
                k = min(arg, m + 1) - len(by)
                ok = m >= last and set(by) == set(range(m - len(by) + 1, m + 1))
                if ok and k > 0:
                    short.append(path)
                    ok = seen.get(m + k, math.inf) <= t_resp + RV_SLACK_S
            elif route == "dv":
                ok = set(by) == {arg} or (not by and arg < floor)
            else:
                need = {b for b in range(floor, last + 1)
                        if any(map(keep, rows_by_batch.get(b, ())))}
                ok = need <= set(by) and max(by, default=-1) <= newest
            ok = ok and all(rows == [x for x in rows_by_batch.get(b, []) if keep(x)]
                            for b, rows in by.items())
        if not ok:
            errors.append(f"{path[:80]}: response differs from the model")
    return errors


def model_rows(source: EventSource, files_by_batch: dict[int, list[int]]) -> dict[int, list[tuple]]:
    """batch -> sorted store rows (etype, uid, bucket_start, bucket_end, count, RST_ID)."""
    return {b: sorted((t, u, bs, bs + model.BUCKET_S, n, b) for (t, u, bs), n in c.items())
            for b, c in model.batch_counts(source, files_by_batch).items()}


def first_visible(polls) -> dict[int, float]:
    """batch -> time of the first /rst answer at or past it."""
    seen: dict[int, float] = {}
    for t, rst in polls:
        for b in range(max(seen, default=-1) + 1, rst + 1):
            seen[b] = t
    return seen


def normalise(route: str, body: bytes):
    data = json.loads(body)
    if route == "rst":
        return data
    if route == "c_sql":
        return sorted((d["etype"], d["n"]) for d in data)
    return sorted((d["etype"], d["uid"], d["bucket_start"], d["bucket_end"], d["count"],
                   d["RST_ID"]) for d in data)


class Reader(threading.Thread):
    """A closed-loop client cycling through the route mix."""

    def __init__(self, port: int, draw, stop: threading.Event):
        super().__init__(daemon=True)
        self.port, self.draw, self.stop_ev = port, draw, stop
        self.samples: list[tuple[str, int, float, int, float]] = []  # route, status, s, bytes, end
        self.checks: list[tuple[str, str, bytes, tuple]] = []

    def run(self) -> None:
        k = 0
        while not self.stop_ev.is_set():
            route = ROUTES[k % len(ROUTES)]
            k += 1
            path, spec = self.draw(route)
            status, body, dt = get(self.port, path)
            t_end = time.time()
            self.samples.append((route, status, dt, len(body), t_end))
            if status == 200:
                self.checks.append((route, path, body, spec, t_end))


def windows(t0: float, seconds: float, fresh_at, samples, cpu,
            width: float = 5.0) -> list[dict]:
    """Freshness p50, reads completed and machine busy/steal shares per
    ``width`` seconds of a run, to tell drift inside a run from
    differences between runs."""
    out = []
    for k in range(int(seconds // width)):
        a, b = t0 + k * width, t0 + (k + 1) * width
        fw = [f for t, f in fresh_at if a <= t < b]
        js = [j for t, j in cpu if a <= t < b]
        out.append({"t_s": k * width, "fresh_p50_s": pct(fw, 50) if fw else None,
                    "reads": sum(1 for s in samples if a <= s[4] < b),
                    **(cpu_fracs(js[0], js[-1]) if len(js) > 1 else {})})
    return out


def read_stats(samples) -> tuple[dict, list[float], int]:
    per_route: dict[str, dict] = {}
    lat = [s[2] for s in samples if s[1] == 200]
    errors = sum(1 for s in samples if s[1] != 200)
    for route in ROUTES:
        rs = [s for s in samples if s[0] == route]
        ok = [s[2] for s in rs if s[1] == 200]
        if ok:
            per_route[route] = {
                "p50_s": pct(ok, 50), "p90_s": pct(ok, 90), "n": len(rs),
                "errors": sum(1 for s in rs if s[1] != 200),
                "bytes": sum(s[3] for s in rs) / len(rs),
            }
    return per_route, lat, errors


# -- workloads ---------------------------------------------------------------
class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: int):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.params = dict(WORKLOADS[workload])
        self.cores = os.cpu_count() or 1
        self.deadline = time.time() + RUN_DEADLINE_S
        self.work = os.path.join(ROOT, ".perfbench_work", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("src", "stage", "tmp", "spark-local", "warm/src"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        self.detail: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                             "trace": trace, "params": self.params}
        self.errors: list[str] = []
        self.detail["errors"] = self.errors
        self.attempted = 0
        self.failed = 0

    def stage_warm(self) -> None:
        EventSource(self.seed + 1, 200).write(0, os.path.join(self.work, "warm", "src"))

    def start(self, **extra) -> Service:
        self.load_start = loadavg()
        self.svc = Service(self.workload, self.work, self.trace,
                           {"cores": self.cores, **self.params, **extra}, self.deadline)
        ready = self.svc.expect("ready")
        self.setup_s = ready["t"] - self.svc.t_spawn
        self.detail["setup_phases"] = ready["phases"]
        self.ready = ready
        self.j0 = jiffies()
        return self.svc

    def finish(self) -> dict:
        self.svc.send(cmd="stop")
        res = self.svc.expect("result")
        self.wall_s = time.time() - self.svc.t_spawn
        cpu = cpu_fracs(self.j0, jiffies())
        self.svc.close()
        self.detail["stamps"] = {
            "parallelism": res.get("parallelism"), "loadavg_start": self.load_start,
            **cpu, "versions": versions(),
        }
        self.peak_rss_mb = res["peak_rss_mb"]
        return res

    # mixed -------------------------------------------------------------
    def mixed(self) -> dict:
        p = self.params
        source = EventSource(self.seed, p["events_per_file"])
        self.stage_warm()
        svc = self.start()
        port = self.ready["port"]
        stop_read, stop_poll = threading.Event(), threading.Event()
        polls: list[tuple[float, int]] = []
        cpu: list[tuple[float, tuple]] = []  # (time, jiffies), one per poll
        lands: list[tuple[float, float]] = []  # (scheduled, landed)
        src, stg = os.path.join(self.work, "src"), os.path.join(self.work, "stage")

        def generator(t0: float, n: int) -> None:
            for i in range(n):
                due = t0 + i * p["period_s"]
                time.sleep(max(0.0, due - time.time()))
                source.write(i, src, stg)
                lands.append((due, time.time()))

        def poller() -> None:
            while not stop_poll.is_set():
                status, body, _ = get(port, "/rst")
                if status == 200:
                    polls.append((time.time(), json.loads(body)["rst_id"]))
                cpu.append((time.time(), jiffies()))
                time.sleep(p["poll_s"])

        def committed_bucket(rnd) -> int:
            # a bucket of a file landed ~3 s ago, so normally committed
            i = max(0, len(lands) - int(3.0 / p["period_s"]) - rnd.randint(0, 10))
            return min(k[2] for k in source.counts(i))

        mix = RouteMix(self.seed, lambda: polls[-1][1], committed_bucket)

        n_files = int((p["warm_s"] + self.seconds) / p["period_s"])
        t0 = time.time() + 0.1
        t_meas = t0 + p["warm_s"]  # start of the timed window
        gen = threading.Thread(target=generator, args=(t0, n_files), daemon=True)
        pol = threading.Thread(target=poller, daemon=True)
        reader = Reader(port, mix.draw, stop_read)
        svc.send(cmd="go", seconds=self.seconds)
        gen.start()
        pol.start()
        # the reader starts once the first batch is visible, so it never
        # times the empty store
        while not polls or polls[-1][1] < 0:
            if time.time() > t_meas:
                raise BenchError("no batch became visible")
            time.sleep(0.01)
        reader.start()
        gen.join(timeout=p["warm_s"] + self.seconds + 30)
        t_gen_end = time.time()
        reader_stop_at = t_meas + self.seconds
        time.sleep(max(0.0, reader_stop_at - time.time()))
        # the reader stops with the schedule; the poller waits for the drain
        stop_read.set()
        reader.join(timeout=60)
        # drain: wait until the last landed file is committed
        files_by_batch: dict[int, list[int]] = {}
        drain_deadline = time.time() + p["drain_s"]
        while time.time() < drain_deadline:
            files_by_batch = source_log(self.ready["ckpt"])
            done = {i for b, fs in files_by_batch.items()
                    if polls and b <= polls[-1][1] for i in fs}
            if len(done) >= len(lands):
                break
            time.sleep(0.2)
        stop_poll.set()
        pol.join(timeout=10)
        self.errors += check_store(port, source, self.ready["ckpt"],
                                   p["clean_interval"], p["clean_freq"])
        res = self.finish()
        files_by_batch = source_log(self.ready["ckpt"])
        newest = max(files_by_batch, default=-1)
        batch_of = {i: b for b, fs in files_by_batch.items() for i in fs}
        seen = first_visible(polls)
        fresh_at, missing = [], 0  # (landed, freshness)
        for i, (_due, landed) in enumerate(lands):
            b = batch_of.get(i)
            if b is None or b not in seen:
                missing += 1
            else:
                fresh_at.append((landed, seen[b] - landed))
        fresh = [f for t, f in fresh_at if t >= t_meas]
        short: list[str] = []
        # no batch at or past newest - clean_interval is ever dropped
        self.errors += check_reads(reader.checks, model_rows(source, files_by_batch),
                                   newest, seen, short,
                                   floor=max(0, newest - p["clean_interval"]))
        self.detail["rv_short_answers"] = len(short)
        lag = [landed - due for due, landed in lands]
        backlog = self.backlog(lands, polls, batch_of, seen, t_meas, t_gen_end)
        timed = [x for x in reader.samples if x[4] >= t_meas]
        per_route, lat, _ = read_stats(timed)
        errors = sum(1 for x in reader.samples if x[1] != 200)
        self.failed += errors + missing
        self.attempted += len(reader.samples) + len(lands)
        if res.get("stream_error"):
            self.errors.append(f"stream failed: {res['stream_error'][:300]}")
        self.validity(lag, backlog, missing)
        read_window = reader_stop_at - t_meas
        named = {
            "freshness_p50_s": metric(pct(fresh, 50), "s", len(fresh)),
            "freshness_p90_s": metric(pct(fresh, 90), "s", len(fresh)),
            "freshness_mean_s": metric(sum(fresh) / len(fresh), "s", len(fresh)),
            "read_p50_s": metric(pct(lat, 50), "s", len(lat)),
            "read_p90_s": metric(pct(lat, 90), "s", len(lat)),
            "reads_per_s": metric(len(timed) / read_window, "1/s", len(timed)),
            "ingest_eps": metric(len(lands) * p["events_per_file"] / (t_gen_end - t0), "1/s",
                                 len(lands)),
        }
        self.detail["http"] = per_route
        self.detail["load"] = {
            "gen_lag_s": {"p50": pct(lag, 50), "p99": pct(lag, 99), "max": max(lag),
                          "n": len(lag)},
            "backlog_files": backlog,
            "polls": len(polls),
        }
        self.detail["windows"] = windows(t0, p["warm_s"] + self.seconds, fresh_at,
                                        reader.samples, cpu)
        self.layers_from_progress([b for b in res["progress"] if b["rows"] > 0])
        return self.summary(named, fresh, res)

    @staticmethod
    def backlog(lands, polls, batch_of, seen, t0, t1) -> dict:
        """Files landed but not yet visible, sampled at each poll."""
        first_seen_file = {i: seen[b] for i, b in batch_of.items() if b in seen}
        samples = []
        for t, _rst in polls:
            if t0 <= t <= t1:
                landed = sum(1 for _d, lt in lands if lt <= t)
                visible = sum(1 for v in first_seen_file.values() if v <= t)
                samples.append((t, landed - visible))
        if not samples:
            return {"first_third": 0.0, "last_third": 0.0, "max": 0, "n": 0}
        k = max(1, len(samples) // 3)
        first = sum(s[1] for s in samples[:k]) / k
        last = sum(s[1] for s in samples[-k:]) / k
        return {"first_third": first, "last_third": last,
                "max": max(s[1] for s in samples), "n": len(samples)}

    def validity(self, lag, backlog, missing) -> None:
        period = self.params["period_s"]
        reasons = []
        # a single short stall of the load process (host steal) is not
        # falling behind: the generator catches up at once
        late = sum(1 for x in lag if x > period)
        if late > 0.05 * len(lag) or max(lag) > MAX_STALL_S:
            reasons.append(f"generator fell behind: {late} of {len(lag)} files more than "
                           f"{period} s late, the latest by {max(lag):.3f} s")
        if backlog["last_third"] > 2 * backlog["first_third"] + 4:
            reasons.append(f"backlog grew from {backlog['first_third']:.1f} to "
                           f"{backlog['last_third']:.1f} files")
        if missing:
            reasons.append(f"{missing} landed files were never committed")
        if reasons:
            self.detail["invalid"] = reasons
            self.errors += [f"invalid open-loop run: {r}" for r in reasons]

    # catalog -----------------------------------------------------------
    def catalog(self) -> dict:
        sf = self.params["sf"]
        data = os.path.join(self.work, "data")
        gen = load_module("gen_scale", os.path.join(ROOT, "tools", "gen_scale.py"))
        gen.SEED = self.seed
        gen.generate(sf, data)
        self.start(queries=CATALOG_QUERIES, sf_dir=data)
        self.svc.send(cmd="go", seconds=self.seconds)
        res = self.finish()
        cat = res["catalog"]
        self.errors += oracle_row_counts(data, cat["counts"], cat["oracles"])
        passes = cat["passes"]
        # a query's time is its best pass: host interference only ever
        # slows a pass down, and the best of a run's passes is the least
        # disturbed one. Latency is taken over the queries' best times
        times = {name: [ps["queries"][name]["build_s"] + ps["queries"][name]["exec_s"]
                        for ps in passes] for name in CATALOG_QUERIES}
        best = [min(t) for t in times.values()]
        pass_s = [ps["pass_s"] for ps in passes]
        self.attempted += len(passes) * len(CATALOG_QUERIES)
        named = {
            "catalog_s": metric(pct(pass_s, 50), "s", len(pass_s)),
            "query_p50_s": metric(pct(best, 50), "s", len(best)),
            "query_p90_s": metric(pct(best, 90), "s", len(best)),
            "query_mean_s": metric(sum(best) / len(best), "s", len(best)),
            "queries_per_s": metric(len(best) / sum(best), "1/s", len(best)),
        }
        layer = {}
        for name in CATALOG_QUERIES:
            qs = [ps["queries"][name] for ps in passes]
            layer[name] = {
                "build_s": pct([q["build_s"] for q in qs], 50),
                "exec_s": pct([q["exec_s"] for q in qs], 50),
                "jobs": pct([q["jobs"] for q in qs], 50),
                "best_s": min(times[name]),
                "times_s": times[name],
                "n": len(qs),
            }
        self.detail["catalog"] = layer
        return self.summary(named, best, res)

    # shared ------------------------------------------------------------
    def layers_from_progress(self, batches: list[dict]) -> None:
        if not batches:
            return
        phases = sorted({k for b in batches for k in b["dur"]})
        pipe = {f"{k}_ms": {"p50": 1000 * pct([b["dur"].get(k, 0.0) for b in batches], 50),
                             "p90": 1000 * pct([b["dur"].get(k, 0.0) for b in batches], 90)}
                for k in phases}
        pipe["batches"] = len(batches)
        pipe["rows_per_batch"] = sum(b["rows"] for b in batches) / len(batches)
        self.detail["pipeline"] = pipe

    def summary(self, named: dict, lat: list[float], res: dict) -> dict:
        named["setup_s"] = metric(self.setup_s, "s", 1)
        named["peak_rss_mb"] = metric(self.peak_rss_mb, "MB", 1)
        named["error_frac"] = metric(self.failed / max(1, self.attempted), "frac",
                                     self.attempted)
        self.detail["named"] = named
        self.detail["store"] = res.get("store")
        e2e = {
            "setup_s": metric(self.setup_s, "s"),
            "latency_p50_s": metric(pct(lat, 50), "s"),
            "latency_p90_s": metric(pct(lat, 90), "s"),
            "latency_mean_s": metric(sum(lat) / len(lat), "s"),
            "peak_rss_mb": metric(self.peak_rss_mb, "MB"),
        }
        self.detail["e2e"] = e2e
        if "trace" in res:
            self.detail["trace"] = trace_detail(res["trace"], self.wall_s)
        if self.trace:
            return per_layer_metrics(e2e, self.detail)
        return e2e


LAYERS = ("session", "pipeline", "serving", "manifest", "api", "http", "catalog")


def trace_detail(tr: dict, wall_s: float) -> dict:
    fold = tr["fold"]
    by_name = {n: {"p50_s": pct(v, 50), "p90_s": pct(v, 90), "n": len(v), "total_s": sum(v)}
               for n, v in tr["by_name"].items()}
    return {
        "wall_s": wall_s,
        "layers": {k: {"self_s": v["self_s"], "total_s": v["total_s"], "spans": v["spans"]}
                   for k, v in fold.items()},
        "calls": by_name,
        "spans": tr["spans"],
        "overhead_s": tr["spans"] * tr["per_span_cost_s"],
        "per_span_cost_s": tr["per_span_cost_s"],
        "dump": os.path.relpath(tr["dump"], ROOT),
    }


def per_layer_metrics(e2e: dict, detail: dict) -> dict:
    tr = detail.get("trace")
    if tr is None:
        raise BenchError("traced run produced no spans")
    out = {}
    for layer in LAYERS:
        rec = tr["layers"].get(layer, {"self_s": 0.0, "spans": 0})
        out[f"{layer}.self_frac"] = metric(rec["self_s"] / tr["wall_s"], "frac")
        out[f"{layer}.spans"] = metric(rec["spans"], "count")
    out["trace.overhead_s"] = metric(tr["overhead_s"], "s")
    for k, v in e2e.items():
        out[f"traced.{k}"] = dict(v)
    return out


def oracle_row_counts(data: str, counts: dict[str, int], oracles: dict[str, str]) -> list[str]:
    """Each query's Spark row count against its DuckDB oracle twin."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    errors = []
    for name, n in counts.items():
        want = con.execute(f"SELECT COUNT(*) FROM ({oracles[name]})").fetchone()[0]
        if want != n:
            errors.append(f"catalog {name}: spark {n} rows, oracle {want}")
    con.close()
    return errors


def load_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
            os.path.join(ROOT, "tools", "gen_scale.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(a.workload, a.seed, a.seconds, a.trace)
    try:
        metrics = getattr(run, a.workload)()
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        svc = getattr(run, "svc", None)
        if svc is not None:
            print(svc.log_tail(), file=sys.stderr)
            svc.close()
        return 1
    with open(os.path.join(run.work, "detail.json"), "w") as fh:
        json.dump(run.detail, fh, indent=1)
    print(json.dumps({"detail": run.detail}))
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
