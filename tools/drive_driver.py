#!/usr/bin/env python3
"""End-to-end driver-contract simulation — the grading flow, runnable
locally: a BARE SparkSession (none of session.py's confs, exactly like
the external harness) imports ``__spark_entry__``, smoke-checks
``entry()``, then runs every ``queries()`` entry against its
``oracle_sql()`` twin via DuckDB (row count + sorted column names +
order-insensitive value hash, through tests/oracle_harness.compare).

Usage:
    python3 tools/drive_driver.py                       # full catalog, sf0.01
    python3 tools/drive_driver.py name1 name2 ...       # subset re-check
    SPARK_GRAFT_SIM_SF=/tmp/ssbc_scale/gen-sf0.01 \\
        python3 tools/drive_driver.py                   # second distribution

The second-distribution run (tools/gen_scale.py data) is not optional
polish: it caught a cross-engine ROUND() divergence the fixed test data
never exercised (see label_centroids). Exit code = number of mismatches.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

# The grading driver runs at sf0.01 where Spark's 1g local-mode default
# heap is plenty; the sf1 scale sweep is not — in local mode executors
# share the driver JVM, and 8 concurrent tasks over 6M-row joins OOM a
# 1g heap (observed: JVM SIGSEGV mid-catalog, every later query failing
# on the dead gateway). driver-memory must be set BEFORE the JVM
# launches, hence the env hook rather than a builder conf.
_mem = os.environ.get("SPARK_GRAFT_SIM_MEM")
if _mem:
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", f"--driver-memory {_mem} pyspark-shell"
    )

import duckdb
from pyspark.sql import SparkSession

SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process, in KiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _session_memory_mb() -> dict[str, int]:
    """Peak RSS of the driver python process and its JVM child — the
    catalog-scale session memory audit (r6 VERDICT ask #8): every round
    adds session-lifetime caches (LRU memo frames, the 5000-entry
    codegen class cache, persisted index caches), and the codegen-cache
    lesson says those only bite at full-catalog scale, so a full
    drive_driver pass measures and guards them."""
    me = os.getpid()
    jvm_kb = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parts = fh.read().split()
                if parts[1] == "(java)" and int(parts[3]) == me:
                    jvm_kb = max(jvm_kb, _vm_hwm_kb(int(pid)))
            except (OSError, IndexError, ValueError):
                continue
    except OSError:
        pass
    return {
        "python_peak_mb": _vm_hwm_kb(me) // 1024,
        "jvm_peak_mb": jvm_kb // 1024,
    }


# committed high-water marks for a FULL catalog pass (MiB); regenerate by
# running the full pass and copying the printed numbers when a round
# legitimately grows the session (say why in SCALE.md). The guard trips
# at +25% — the "session caches grew past what the catalog budgeted"
# signal, enforced only on full runs over the standard driver dataset.
# Recorded r13 over two full passes at the 207-query catalog
# (207q/235s: py 1708 / jvm 3214; 207q/217s: py 1725 / jvm 3163) —
# larger of each kept. Python TIGHTENED 4425 -> 1725 (VERDICT r12 ask
# #7): the r9-r12 ratchet was the DuckDB oracle inlining its plain
# CTEs (the 2x2x2 OPQ oracle re-expanded the fixed-point vector view
# ~132x — 4019 MiB / 19 s for that one oracle alone); the hot
# multi-referenced CTEs are now AS MATERIALIZED in the oracle builders
# (operators/pq.py `_pq_ctes` note), dropping that oracle to 1312 MiB /
# 1.3 s with identical rows and the full-pass python peak below even
# the r10 band (2372). JVM unchanged-in-band.
# Justification: SCALE.md r13 memory-guard note.
_MEM_HWM_MB = {
    "/root/testdata/sf0.01": {"python_peak_mb": 1725, "jvm_peak_mb": 3214}
}
# the DuckDB version the marks above were recorded under: the python peak
# is the oracle's, so a DuckDB upgrade re-bases them (ADVICE r13 #4)
_MEM_HWM_DUCKDB = "1.0.0"


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as e
    from oracle_harness import compare

    subset = set(sys.argv[1:])
    if not subset:
        rows = e.entry(spark).collect()
        assert rows, "entry() returned no rows"
        print(f"entry smoke OK: {len(rows)} rows", flush=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    t0, bad = time.time(), 0
    for name in sorted(qs):
        if subset and name not in subset:
            continue
        try:
            if name in oracles:
                ok, detail = compare(spark, con, qs[name], oracles[name], SF)
                if not ok:
                    bad += 1
                    print(name, "MISMATCH", detail, flush=True)
                else:
                    # always one line per query: a full-catalog run at a
                    # big sf can take hours, and a silent loop is
                    # indistinguishable from a hung one
                    print(name, "OK", f"{time.time() - t0:.0f}s", flush=True)
            else:
                print(name, "rows-only:", qs[name](spark, SF).count(), flush=True)
        except Exception as exc:  # keep sweeping; an error IS a finding
            bad += 1
            msg = str(exc).replace("\n", " ")[:300]
            print(name, "ERROR", f"{type(exc).__name__}: {msg}", flush=True)
    n = len(subset or qs)
    print(f"done {n} queries, {bad} mismatches, {int(time.time() - t0)}s vs {SF}")
    mem = _session_memory_mb()
    print(
        f"session memory peak: python {mem['python_peak_mb']} MiB, "
        f"jvm {mem['jvm_peak_mb']} MiB (duckdb {duckdb.__version__}; "
        f"marks recorded under {_MEM_HWM_DUCKDB})",
        flush=True,
    )
    if not subset:
        hwm = _MEM_HWM_MB.get(SF)
        if hwm and min(hwm.values()) > 0:
            for k, limit in hwm.items():
                if mem[k] > limit * 1.25:
                    bad += 1
                    print(
                        f"MEMORY REGRESSION: {k} {mem[k]} MiB > {limit} MiB "
                        "+25% — a session-lifetime cache grew past the "
                        "catalog budget (see SCALE.md memory audit)",
                        flush=True,
                    )
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
