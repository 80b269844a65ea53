"""Fixed cost of one Python task, measured against a JVM-only task.

Times three jobs on a fresh ``get_spark`` session, each repeated
``--reps`` times after ``--warm`` untimed runs, and prints one JSON line:

- ``jvm_1task_ms``: ``range(1)`` on one partition, collected (no Python);
- ``arrow_1task_ms`` / ``arrow_3task_ms``: a no-op ``mapInArrow`` over one
  and three partitions;
- ``py_task_overhead_ms``: ``arrow_1task_ms - jvm_1task_ms``, the fixed
  cost of running one Python task;
- ``worker_invalidate_caches_ms``: the median time, measured inside the
  worker by a separate untimed job, of one ``importlib.invalidate_caches()``
  call, which PySpark's worker makes at the start of every task;
- ``worker_pids_distinct`` / ``worker_pids_seen``: distinct Python worker
  pids against timed task runs; fewer distinct pids than runs means
  PySpark reuses workers across jobs;
- ``guard_installed``: whether the workers run with the engine's
  zipimport guard (``byzer_retrieval_spark._zipimport_guard``).

The UDF references the engine package, so each worker imports it when it
unpickles the function, exactly as it does for the engine's own UDFs.

Run from the repository root: ``python BENCH/pyworker_probe.py``
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow as pa  # noqa: E402

import byzer_retrieval_spark  # noqa: E402
from byzer_retrieval_spark.session import get_spark  # noqa: E402

_SCHEMA = "pid long"
_REPORT_SCHEMA = "pid long, guard boolean, inval_ms double, pyspark string"


def _noop(batches):
    # naming the package makes the worker import it on unpickling
    assert byzer_retrieval_spark.__name__
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})


def _report(batches):
    """Untimed: what the worker runs with, and what one
    ``invalidate_caches()`` costs it."""
    import importlib
    import zipimport

    import pyspark

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    inval_ms = (time.perf_counter() - t0) * 1000.0
    guard = (
        zipimport.zipimporter.invalidate_caches.__module__
        == byzer_retrieval_spark.__name__ + "._zipimport_guard"
    )
    yield pa.RecordBatch.from_pydict(
        {
            "pid": [os.getpid()],
            "guard": [guard],
            "inval_ms": [inval_ms],
            "pyspark": [pyspark.__file__],
        }
    )


def _timed(fn, warm: int, reps: int):
    for _ in range(warm):
        fn()
    out, rows = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        r = fn()
        out.append((time.perf_counter() - t0) * 1000.0)
        rows.extend(r or [])
    return statistics.median(out), rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--warm", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="pyworker-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def jvm():
        spark.range(0, 1, 1, 1).collect()

    def arrow(n):
        return lambda: spark.range(0, n, 1, n).mapInArrow(_noop, _SCHEMA).collect()

    jvm_ms, _ = _timed(jvm, args.warm, args.reps)
    a1_ms, rows1 = _timed(arrow(1), args.warm, args.reps)
    a3_ms, rows3 = _timed(arrow(3), args.warm, args.reps)
    pids = [r["pid"] for r in rows1 + rows3]
    rows = [
        r.asDict()
        for _ in range(3)
        for r in spark.range(0, 3, 1, 3).mapInArrow(_report, _REPORT_SCHEMA).collect()
    ]
    rec = {
        "python": sys.version.split()[0],
        "master": spark.sparkContext.master,
        "loadavg": os.getloadavg()[0],
        "reps": args.reps,
        "jvm_1task_ms": round(jvm_ms, 1),
        "arrow_1task_ms": round(a1_ms, 1),
        "arrow_3task_ms": round(a3_ms, 1),
        "py_task_overhead_ms": round(a1_ms - jvm_ms, 1),
        "worker_invalidate_caches_ms": round(
            statistics.median(r["inval_ms"] for r in rows), 2
        ),
        "worker_pids_seen": len(pids),
        "worker_pids_distinct": len(set(pids)),
        "guard_installed": all(r["guard"] for r in rows),
        "worker_pyspark": sorted({r["pyspark"] for r in rows}),
    }
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
