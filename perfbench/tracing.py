"""Benchmark-side tracing and process measurement.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
records one around every call into a layer's public function, by
wrapping those functions in this process for the traced run only. No
engine file is changed. ``self_times`` turns the spans into each
layer's self time: its duration minus the part its child spans cover.

``RssSampler`` follows the resident memory of this process, the Spark
JVM it started, and the JVM's Python daemon and workers.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import threading
import time
from collections import defaultdict
from typing import Dict, List, Optional, Tuple

# layer → functions whose calls it owns, as (module, attribute path)
LAYERS: Dict[str, List[Tuple[str, str]]] = {
    "api.plan": [("byzer_retrieval_spark.api", "RetrievalEngine.search"),
                 ("byzer_retrieval_spark.api", "RetrievalEngine.batch_search")],
    "context.query_ctx": [("byzer_retrieval_spark.api", "RetrievalEngine.query_ctx")],
    "context.term_dfs": [("byzer_retrieval_spark.operators.context",
                          "IndexContext.term_dfs")],
    "query.parse": [("byzer_retrieval_spark.plans.query", "parse_keyword")],
    "filtering.fuzzy_expand": [
        ("byzer_retrieval_spark.operators.filtering", "expand_fuzzy"),
        ("byzer_retrieval_spark.operators.filtering", "expand_fuzzy_many")],
    "filtering.filtered_docs": [("byzer_retrieval_spark.operators.filtering",
                                 "filtered_docs")],
    "wand.plan": [("byzer_retrieval_spark.operators.wand", "search_fast")],
    "batch.plan": [("byzer_retrieval_spark.operators.batch", "batch_search_winners")],
    "mutate.upsert": [("byzer_retrieval_spark.operators.mutate", "upsert")],
    "mutate.delete": [("byzer_retrieval_spark.operators.mutate", "delete_by_ids")],
    "mutate.compact": [("byzer_retrieval_spark.operators.mutate", "compact")],
}


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index, op id)
        self.spans: List[list] = []
        self._stack: List[int] = []
        self.op_id = -1
        self.active = False  # spans are kept only inside a timed op
        self.ctx_hits = 0
        self.ctx_calls = 0

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            idx = tracer.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.end(idx)

        return traced

    def install(self) -> None:
        """Wrap every function in ``LAYERS``, in its home module and in
        each engine module that imported it by name."""
        for layer, targets in LAYERS.items():
            for mod_name, path in targets:
                owner = importlib.import_module(mod_name)
                *cls_path, attr = path.split(".")
                for part in cls_path:
                    owner = getattr(owner, part)
                fn = getattr(owner, attr)
                wrapped = self._wrap_ctx(fn) if attr == "query_ctx" else self.wrap(layer, fn)
                setattr(owner, attr, wrapped)
                if cls_path:
                    continue
                for mod in list(sys.modules.values()):
                    if (getattr(mod, "__name__", "").startswith("byzer_retrieval_spark")
                            and getattr(mod, attr, None) is fn):
                        setattr(mod, attr, wrapped)

    def _wrap_ctx(self, fn):
        """query_ctx also counts context-cache hits: a hit returns the
        context object the engine had cached for the snapshot."""
        tracer = self
        traced = self.wrap("context.query_ctx", fn)

        @functools.wraps(fn)
        def counted(engine, database="default", table="default"):
            before = engine._ctx_cache.get((database, table))
            ctx = traced(engine, database, table)
            if not tracer.active:
                return ctx
            tracer.ctx_calls += 1
            tracer.ctx_hits += int(before is not None and before[1] is ctx)
            return ctx

        return counted

    def self_times(self) -> Tuple[Dict[str, float], Dict[int, float]]:
        """(total self seconds per span name, wall seconds per op)."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: Dict[str, float] = defaultdict(float)
        ops: Dict[int, float] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            out[name] += (t1 - t0) - child[i]
            if parent < 0:
                ops[op] = ops.get(op, 0.0) + (t1 - t0)
        return dict(out), ops


def _status(pid: int) -> Dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def _children(pid: int) -> List[int]:
    """Children of every thread of ``pid`` (the JVM forks from worker
    threads, not from its main thread)."""
    out: List[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


class RssSampler:
    """Peak resident memory of the engine's processes: this process, the
    Spark JVM it started, and the JVM's Python daemons with their
    workers, summed and sampled every ``interval`` seconds; plus the
    high-water marks of the JVM and of the largest Python worker. Other
    short-lived children of the JVM are left out: until they exec a
    command, they show the JVM's own pages."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.jvm_hwm_kb = 0
        self.worker_hwm_kb = 0
        self._jvm: Optional[int] = None
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    @staticmethod
    def _argv(pid: int) -> List[bytes]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().split(b"\0")
        except OSError:
            return [b""]

    def sample(self) -> None:
        me = os.getpid()
        if self._jvm is None:
            self._jvm = next((p for p in _children(me)
                              if self._argv(p)[0].endswith(b"java")), None)
        daemons = [p for p in _children(self._jvm)
                   if b"pyspark.daemon" in self._argv(p)] if self._jvm else []
        workers = [w for d in daemons for w in _children(d)]
        total = 0
        for pid in [me, self._jvm, *daemons, *workers]:
            if pid is None:
                continue
            try:
                st = _status(pid)
            except OSError:
                continue  # the process ended between listing and reading
            rss, hwm = (int(st.get(k, "0 kB").split()[0]) for k in ("VmRSS", "VmHWM"))
            total += rss
            if pid == self._jvm:
                self.jvm_hwm_kb = max(self.jvm_hwm_kb, hwm)
            elif pid in workers:
                self.worker_hwm_kb = max(self.worker_hwm_kb, hwm)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


def spark_counts(sc, group: str) -> Tuple[int, int, int, int]:
    """(jobs, stages, completed tasks, failed tasks) of a job group.
    Skipped stages report 0 completed tasks, so they add no tasks."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed
