"""Where a single keyword search spends its time: the whole search, the
scorer job alone, and the stored-field fetch.

Builds perfbench's corpus (``--seed``, 2000 files, 3 shards) on
``local[3]``, runs one untimed query of every perfbench query class, then
``--decks`` shuffled decks of 20 queries. Per query it measures:

- ``search_ms``: ``search(q).collect()``;
- ``jobs``: the Spark jobs that search ran, planning included (one job
  group per query);
- ``scorer_ms``: ``search_wand(ctx, q).collect()``, the per-shard scorer
  job alone, which returns (shard_id, __docid, score);
- ``fetch_ms``: a driver-side pyarrow read of those winners' stored
  fields from their shard's docs files (``__docid`` range plus ``isin``).

It prints one JSON line: the medians per query class and over all
queries, and ``same_ranks``, the number of queries whose scorer winners,
fetched and cut by (score desc, _id asc), rank exactly as ``search()``.
It uses only APIs that exist both before and after the scorer task read
its winners' stored fields itself, so it runs on either tree.

Run from the repository root:
``python BENCH/stored_fetch_probe.py --seed 11 --decks 3``
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402

from byzer_retrieval_spark.api import RetrievalEngine  # noqa: E402
from byzer_retrieval_spark.operators.indexer import IndexConfig  # noqa: E402
from byzer_retrieval_spark.operators.wand import search_wand  # noqa: E402
from byzer_retrieval_spark.plans.query import SearchQuery  # noqa: E402
from byzer_retrieval_spark.session import get_spark  # noqa: E402
from inputs import DECK, Inputs  # noqa: E402

LIMIT = 10


def fetch(docs_path, winners, limit):
    """Stored rows of the winners, read per shard with pyarrow, cut to
    the global top-k by (score desc, _id asc)."""
    parts = []
    for shard, grp in winners.groupby("shard_id"):
        ids = grp["__docid"].to_numpy(np.int64)
        d = ds.dataset(os.path.join(docs_path, f"shard_id={shard}"), format="parquet")
        f = ds.field("__docid")
        tbl = d.to_table(
            filter=(f >= int(ids.min())) & (f <= int(ids.max())) & f.isin(pa.array(ids)),
            use_threads=False,
        ).to_pandas()
        parts.append(tbl.merge(grp[["__docid", "score"]], on="__docid"))
    if not parts:
        return []
    rows = pd.concat(parts).sort_values(["score", "_id"], ascending=[False, True])
    return list(rows["_id"][:limit])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--decks", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="stored-fetch-probe", master="local[3]",
                      shuffle_partitions=3)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="stored_fetch_probe_")
    try:
        inputs = Inputs(args.seed, 2000)
        src = spark.createDataFrame(pd.DataFrame(
            [{k: r[k] for k in ("repo", "path", "commit", "lang", "content")}
             for r in inputs.rows.values()]))
        eng = RetrievalEngine(spark, root)
        eng.build(src, cfg=IndexConfig(num_shards=3), resume=False)
        docs_path = eng.store().docs_path

        def run(q, n):
            sq = SearchQuery(keyword=q.keyword, fields=["content"],
                             filters=q.filters, limit=LIMIT)
            group = f"probe-{n}"
            sc.setJobGroup(group, q.cls)
            t0 = time.perf_counter()
            got = [r["_id"] for r in eng.search(sq).collect()]
            search_ms = (time.perf_counter() - t0) * 1000.0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(f"{group}-parts", q.cls)
            t0 = time.perf_counter()
            winners = search_wand(eng.query_ctx(), sq).toPandas()
            scorer_ms = (time.perf_counter() - t0) * 1000.0
            t0 = time.perf_counter()
            fetched = fetch(docs_path, winners, LIMIT)
            fetch_ms = (time.perf_counter() - t0) * 1000.0
            return q.cls, search_ms, jobs, scorer_ms, fetch_ms, fetched == got

        for i, cls in enumerate(DECK):
            run(inputs.query(cls), f"warm-{i}")
        res = [run(q, f"{d}-{i}") for d in range(args.decks)
               for i, q in enumerate(inputs.deck())]
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def medians(rows):
        return {
            "n": len(rows),
            "search_ms": round(statistics.median(r[1] for r in rows), 1),
            "jobs": round(statistics.mean(r[2] for r in rows), 2),
            "scorer_ms": round(statistics.median(r[3] for r in rows), 1),
            "fetch_ms": round(statistics.median(r[4] for r in rows), 1),
        }

    by_cls = defaultdict(list)
    for r in res:
        by_cls[r[0]].append(r)
    print(json.dumps({
        "seed": args.seed,
        "master": sc.master,
        "loadavg": os.getloadavg()[0],
        "all": medians(res),
        "classes": {c: medians(rows) for c, rows in sorted(by_cls.items())},
        "same_ranks": f"{sum(r[5] for r in res)}/{len(res)}",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
