"""Closed-loop benchmark of the public ``RetrievalEngine`` API.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload point_query --seed 1 --seconds 10 --trace 0

One client, closed loop (each call waits for its reply). Workloads:

- ``point_query``: single ``search(q).collect()`` calls on a static
  index, in shuffled decks of ten query classes (see ``inputs.DECK``).
- ``mixed_rw``: cycles of ``upsert`` (50 new + 50 updated rows),
  ``delete_by_ids`` (10 rows), one 50-query ``batch_search`` and
  ``compact``; each write is followed by three single searches.

A run measures whole decks or cycles until ``--seconds`` of op time
have passed, checks every op's result untimed, and prints two lines: a
JSON object describing the run (host, settings, every metric it has),
then the result line with the metrics that ``BENCHMARK.json`` lists
(end-to-end ones with ``--trace 0``, per-layer ones with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

HEAP = "2g"            # driver heap limit (-Xmx)
# G1 sizes its young generation by pause-time goals, so how much heap a
# run touches depends on GC timing; under the parallel collector the peak
# resident memory of identical runs stays within a few percent (README)
GC = "-XX:+UseParallelGC"
SHARDS = 3
SETUPS = 3             # set-ups per run; setup_s takes their median
N_DOCS = 2000
BATCH = 50
LIMIT = 10
# after each of the three writes in a cycle; the first misses the
# context cache, so 3 of 9 reads are misses and p90 falls on the
# middle one, p50 among the cached reads
MIXED_READS = ("rare", "phrase", "sel_filter")
FIELDS = ["content"]
MIN_ACCOUNTED = 0.9     # share of traced op time the layer spans must cover


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def pct(values, q):
    """Percentile ``q`` (0-100) of ``values``, linear between ranks."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def dir_bytes(path):
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return total, files


def source_bytes(rows):
    cols = ("repo", "path", "commit", "lang", "content")
    return sum(len(r[c].encode()) for r in rows for c in cols)


class Bench:
    def __init__(self, args, root):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        # one core stays free for the driver JVM, GC and this process
        self.slots = max(1, len(os.sched_getaffinity(0)) - 1)
        self.metrics = {}       # name → (value, unit)
        self.attempted = 0
        self.failed = 0
        self.lat = {}           # op kind → [seconds]
        self.op_time = 0.0
        self.ops = 0
        self.queries = 0
        self.write_rows = 0
        self.op_plans = {}      # op id → executed plan string
        self.check_s = 0.0      # wall time spent checking results
        self.tracer = None
        self.trace_ok = True    # layer spans cover MIN_ACCOUNTED of op time
        self.space_at_cycle = {}  # mixed_rw: space after the first cycle's writes

    # ---- environment ------------------------------------------------
    def prepare_env(self):
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        # no JVM writes outside the checkout: temp files go to the work
        # directory and the hsperfdata file under /tmp is switched off
        java_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LAUNCHER_OPTS"] = java_tmp
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '{GC} {java_tmp}' pyspark-shell")
        sys.path.insert(0, self.root)

    def put(self, name, value, unit):
        self.metrics[name] = (value, unit)

    # ---- set-up -----------------------------------------------------
    def setup(self):
        from byzer_retrieval_spark.api import RetrievalEngine
        from byzer_retrieval_spark.operators.indexer import IndexConfig
        from byzer_retrieval_spark.session import get_spark
        from inputs import Inputs
        import pandas as pd

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.slots}]",
                               shuffle_partitions=SHARDS)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        spark_start = time.perf_counter() - t0

        corpus_s, build_s, phases = [], [], []
        for rep in range(SETUPS):
            t = time.perf_counter()
            inputs = Inputs(self.args.seed, self.args.docs)
            src = self.spark.createDataFrame(pd.DataFrame(
                [{k: r[k] for k in ("repo", "path", "commit", "lang", "content")}
                 for r in inputs.rows.values()]))
            corpus_s.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(self.engine.root)
            self.engine = RetrievalEngine(self.spark, os.path.join(self.work, f"idx{rep}"))
            t = time.perf_counter()
            m = self.engine.build(src, cfg=IndexConfig(num_shards=SHARDS), resume=False)
            build_s.append(time.perf_counter() - t)
            phases.append(m.get("phase_timings", {}))
        self.inputs = inputs
        self.check_filters()

        from checks import Model
        self.model = Model(list(inputs.rows.values()))
        self.metrics.update(self.space())

        t = time.perf_counter()
        self.warm_up()
        warmup = time.perf_counter() - t

        setup_total = [c + b for c, b in zip(corpus_s, build_s)]
        self.put("setup_s", spark_start + statistics.median(setup_total) + warmup, "s")
        self.put("setup.spark_start_s", spark_start, "s")
        self.put("setup.corpus_s", statistics.median(corpus_s), "s")
        self.put("setup.build_s", statistics.median(build_s), "s")
        self.put("setup.warmup_s", warmup, "s")
        for name in ("hot_term_detect", "stage_docids", "docs_write",
                     "postings_write", "stats_refresh"):
            self.put(f"indexer.{name}_s",
                     statistics.median(p.get(name, 0.0) for p in phases), "s")

    def check_filters(self):
        """Every filter the queries use matches real rows; the selective
        one (a single repo) matches at most 1% of the corpus."""
        from collections import Counter
        from inputs import BROAD_FILTER, REPOS
        from byzer_retrieval_spark.plans.query import filters_to_predicate

        rows = list(self.inputs.rows.values())
        per_repo = Counter(r["repo"] for r in rows)
        shares = [per_repo[repo] / len(rows) for repo in REPOS]
        broad = sum(map(filters_to_predicate(BROAD_FILTER), rows)) / len(rows)
        if not (min(shares) > 0 and max(shares) <= 0.01 and broad > 0.3):
            raise RuntimeError(f"filter shares off: selective {min(shares)}-"
                               f"{max(shares)}, broad {broad}")
        self.put("selective_filter_share", max(shares), "ratio")
        self.put("broad_filter_share", broad, "ratio")

    def space(self):
        """Index bytes by table, and over the live source bytes."""
        store = self.engine.store()
        out = {}
        for part in ("docs", "postings", "stats", "tombstones"):
            b, files = dir_bytes(getattr(store, f"{part}_path"))
            out[f"storage.{part}_bytes"] = (b, "bytes")
            if part == "postings":
                out["storage.postings_files"] = (files, "count")
        total = sum(v for v, unit in out.values() if unit == "bytes")
        out["index_bytes_per_source_byte"] = (
            total / source_bytes(self.inputs.rows.values()), "ratio")
        return out

    def warm_up(self):
        if self.args.workload == "point_query":
            from inputs import DECK

            for cls in DECK:  # one of each class: first runs pay one-off costs
                self.search(self.inputs.query(cls), timed=False)
        else:
            self.cycle(timed=False, writes_only=True)

    # ---- ops --------------------------------------------------------
    def op(self, kind, fn, timed=True):
        """Run one call; returns its result, or None if it raised."""
        if not timed:
            return fn()
        n = self.attempted
        self.attempted += 1
        self.sc.setJobGroup(f"op{n}", kind)
        tr = self.tracer
        t = time.perf_counter()
        try:
            if tr is not None:
                tr.op_id, tr.active = n, True
                with tr.span("op"):
                    out = fn()
            else:
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            dt = time.perf_counter() - t
            if tr is not None:
                tr.active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.op_time += dt
        self.ops += 1
        self.lat.setdefault(kind, []).append(dt)
        return out

    def collect(self, make_df):
        """Plan, then run: traced runs split the call into its lazy API
        part, forcing the executed plan, and the Spark job."""
        tr = self.tracer
        if tr is None or not tr.active:
            return make_df().collect()
        df = make_df()
        with tr.span("spark.compile"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        self.op_plans[tr.op_id] = plan
        with tr.span("spark.exec"):
            return df.collect()

    def fail(self, what):
        print(f"wrong result: {what}", file=sys.stderr)
        self.failed += 1

    def search(self, q, timed=True, kind=None):
        from byzer_retrieval_spark.plans.query import SearchQuery
        from checks import same_ranking

        sq = SearchQuery(keyword=q.keyword, fields=FIELDS, filters=q.filters, limit=LIMIT)
        rows = self.op(kind or f"class.{q.cls}",
                       lambda: self.collect(lambda: self.engine.search(sq)), timed)
        if rows is None or not timed:
            return
        t = time.perf_counter()
        self.queries += 1
        got = [(r["_id"], r["_score"]) for r in rows]
        want = self.model.search(q.keyword, q.filters, LIMIT + 20)
        if not same_ranking(got, want, LIMIT):
            self.fail(f"search {q.keyword!r} {q.filters}")
        self.check_s += time.perf_counter() - t

    def batch(self, qs, timed=True):
        from byzer_retrieval_spark.plans.query import SearchQuery
        from checks import same_ranking

        sqs = [SearchQuery(keyword=q.keyword, fields=FIELDS, filters=q.filters,
                           limit=LIMIT) for q in qs]
        rows = self.op("batch", lambda: self.collect(
            lambda: self.engine.batch_search(sqs)), timed)
        if rows is None or not timed:
            return
        t = time.perf_counter()
        self.queries += len(qs)
        by_q = {i: [] for i in range(len(qs))}
        for r in rows:
            by_q[r["query_id"]].append((r["_id"], r["_score"]))
        for i, q in enumerate(qs):
            got = sorted(by_q[i], key=lambda h: (-h[1], h[0]))
            if not same_ranking(got, self.model.search(q.keyword, q.filters, LIMIT + 20), LIMIT):
                self.fail(f"batch member {q.keyword!r} {q.filters}")
        self.check_s += time.perf_counter() - t

    def cycle(self, timed=True, writes_only=False):
        """One mixed_rw cycle; a timed one checks each write by its
        returned count and by ``get_by_ids``, each read against the
        version model. The warm-up runs only the writes: the first
        upsert is the one op that is much slower cold."""
        import pandas as pd

        inp, eng = self.inputs, self.engine
        new = inp.new_rows(BATCH)
        upd = inp.update_rows(inp.pick_live(BATCH))
        rows = new + upd
        df = self.spark.createDataFrame(pd.DataFrame(
            [{k: r[k] for k in ("repo", "path", "commit", "lang", "content")} for r in rows]))
        old_versions = self.model.version_count([r["_id"] for r in upd])
        res = self.op("upsert", lambda: eng.upsert(df), timed)
        if res is not None and timed:
            if not (BATCH <= res.get("tombstoned", -1) <= old_versions):
                self.fail(f"upsert tombstoned {res}, expected {BATCH}..{old_versions}")
        self.model.put(rows)
        for r in rows:
            inp.rows[r["_id"]] = r
        if not writes_only:
            self.reads(timed)

        gone = inp.pick_live(10, exclude=[r["_id"] for r in rows])
        versions = self.model.version_count(gone)
        n = self.op("delete", lambda: eng.delete_by_ids(gone), timed)
        if n is not None and timed and not (len(gone) <= n <= versions):
            self.fail(f"delete_by_ids returned {n}, expected {len(gone)}..{versions}")
        self.model.delete(gone)
        for i in gone:
            inp.rows.pop(i)
        if writes_only:
            return

        if not self.space_at_cycle:
            self.space_at_cycle = self.space()
        self.reads(timed)
        self.batch(inp.batch(BATCH), timed)
        if timed:
            # after the reads, so that the first read pays the context miss
            t = time.perf_counter()
            present = [r["_id"] for r in rows[:5] + rows[-5:]]
            found = {r["_id"] for r in eng.get_by_ids(present + gone).collect()}
            if found != set(present):
                self.fail("get_by_ids after upsert/delete")
            self.check_s += time.perf_counter() - t

        res = self.op("compact", eng.compact, timed)
        if res is not None and timed and "snapshot_id" not in res:
            self.fail(f"compact returned {res}")
        self.model.compact()
        self.reads(timed)
        if timed:
            self.write_rows += len(rows) + len(gone)

    def reads(self, timed):
        """Single searches after a write: the first misses the context
        cache, because the write committed a new snapshot."""
        for cls in MIXED_READS:
            self.search(self.inputs.query(cls), timed, kind="search")

    # ---- measure ----------------------------------------------------
    def measure(self, timed=True):
        """Whole decks or cycles until ``--seconds`` of op time have
        passed; an untimed pass runs one, unchecked."""
        while True:
            if self.args.workload == "point_query":
                for q in self.inputs.deck():
                    self.search(q, timed)
            else:
                self.cycle(timed)
            if not timed or self.op_time >= self.args.seconds:
                break
        if self.space_at_cycle:
            # mixed_rw: space after the first cycle's writes, before compaction
            self.metrics["index_bytes_per_source_byte"] = \
                self.space_at_cycle["index_bytes_per_source_byte"]
            self.metrics["storage.postings_files_mid_cycle"] = \
                self.space_at_cycle["storage.postings_files"]

    def end_to_end(self):
        searches = [t for k, v in self.lat.items()
                    if k.startswith("class.") or k == "search" for t in v]
        self.put("queries_per_s", self.queries / self.op_time, "q/s")
        self.put("search_p50_ms", 1e3 * pct(searches, 50), "ms")
        self.put("search_p90_ms", 1e3 * pct(searches, 90), "ms")
        self.put("search_samples", len(searches), "count")
        for kind in ("batch", "upsert", "delete", "compact"):
            if kind in self.lat:
                self.put(f"{kind}_p50_ms", 1e3 * statistics.median(self.lat[kind]), "ms")
        if self.write_rows:
            write_s = sum(sum(self.lat[k]) for k in ("upsert", "delete", "compact"))
            self.put("write_rows_per_s", self.write_rows / write_s, "rows/s")
        for k, v in self.lat.items():
            if k.startswith("class."):
                self.put(f"{k}_ms", 1e3 * statistics.median(v), "ms")
        self.put("failed_op_ratio", self.failed / max(1, self.attempted), "ratio")

    def per_layer(self, untraced_mean):
        from tracing import spark_counts

        tr = self.tracer
        self_s, op_wall = tr.self_times()
        n = len(op_wall)
        for name, s in self_s.items():
            if name != "op":
                self.put(f"{name}_ms", 1e3 * s / n, "ms")
        total = sum(op_wall.values())
        share = 1 - self_s.get("op", 0.0) / total
        self.put("trace.accounted_share", share, "ratio")
        if share < MIN_ACCOUNTED:
            print(f"perfbench: layer spans cover {share:.3f} of op time, "
                  f"below {MIN_ACCOUNTED}", file=sys.stderr)
            self.trace_ok = False
        self.put("trace.overhead_ms", 1e3 * (total / n - untraced_mean), "ms")
        self.put("context.ctx_cache_hit_ratio", tr.ctx_hits / max(1, tr.ctx_calls), "ratio")
        jobs = stages = tasks = failed = 0
        for op in op_wall:
            j, s, t, f = spark_counts(self.sc, f"op{op}")
            jobs, stages, tasks, failed = jobs + j, stages + s, tasks + t, failed + f
        self.put("spark.jobs_per_op", jobs / n, "count")
        self.put("spark.stages_per_op", stages / n, "count")
        self.put("spark.tasks_per_op", tasks / n, "count")
        self.put("spark.failed_tasks", failed, "count")
        plans = [self.op_plans[o] for o in op_wall if o in self.op_plans]
        self.put("spark.exchanges_per_op", sum(
            len(re.findall(r"(?<!Broadcast)Exchange ", p)) for p in plans) / max(1, len(plans)),
            "count")
        self.put("spark.cogroup_ops", sum("FlatMapCoGroupsIn" in p for p in plans), "count")

    # ---- run --------------------------------------------------------
    def run(self):
        from tracing import RssSampler

        self.t_start = time.perf_counter()
        load_before = loadavg()
        rss = RssSampler()
        rss.start()
        try:
            self.setup()
            if self.args.trace:
                # an untimed pass first, so that the untraced and the
                # traced pass are equally warm and their difference is
                # the tracing overhead
                self.measure(timed=False)
                self.measure()
                untraced_mean = self.op_time / max(1, self.ops)
                from tracing import Tracer

                self.tracer = Tracer()
                self.tracer.install()
                self.lat, self.op_time, self.ops = {}, 0.0, 0
                self.queries = self.write_rows = 0
                self.measure()
                self.per_layer(untraced_mean)
            else:
                self.measure()
            self.end_to_end()
            self.heap_peak()
        finally:
            rss.stop()
            self.put("peak_rss_mb", rss.peak_kb / 1024, "MB")
            self.put("proc.jvm_peak_rss_mb", rss.jvm_hwm_kb / 1024, "MB")
            self.put("proc.pyworker_peak_rss_mb", rss.worker_hwm_kb / 1024, "MB")
            self.stop_spark()
        info = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "seconds": self.args.seconds,
            "nproc": len(os.sched_getaffinity(0)), "task_slots": self.slots, "heap": HEAP, "gc": GC,
            "corpus_docs": self.args.docs, "shards": SHARDS,
            "loadavg_before": load_before, "loadavg_after": loadavg(),
            "attempted": self.attempted, "failed": self.failed, "trace_ok": self.trace_ok,
            "check_s": self.check_s, "wall_s": time.perf_counter() - self.t_start,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }
        return info

    def heap_peak(self):
        """Peak used bytes of the JVM heap, summed over its pools."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        used = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP")
        self.put("proc.jvm_heap_peak_mb", used / 2**20, "MB")

    def stop_spark(self):
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["point_query", "mixed_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=N_DOCS, help="corpus size")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "byzer_retrieval_spark", "api.py")):
        print("perfbench: run from the root of a checkout that holds "
              "byzer_retrieval_spark/", file=sys.stderr)
        return 2
    bench = Bench(args, root)
    bench.prepare_env()
    try:
        info = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))
        except OSError:
            pass  # another run's directory is still there

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    metrics = info["metrics"]
    missing = [m for m in listed if m not in metrics]
    correct = info["failed"] == 0 and info["trace_ok"] and not missing
    print(json.dumps(info))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {m: metrics[m] for m in listed if m in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
