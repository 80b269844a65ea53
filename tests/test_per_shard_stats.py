"""per_shard_stats scoring mode (round 5, VERDICT r4 stretch item 10):
score every shard with its OWN df/N/avgdl — reference numNodes>1
parity, where each worker is an independent Lucene index whose local
stats shape idf/tfnorm and the master merges by score
(RetrievalFlightServer.java:456-460). The oracle for this mode needs no
new math: it is the merge of ordinary BM25Oracles built per shard."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from byzer_retrieval_spark.api import RetrievalEngine
from byzer_retrieval_spark.operators.indexer import IndexConfig
from byzer_retrieval_spark.operators.scorer_df import search_df
from byzer_retrieval_spark.operators.wand import search_fast
from byzer_retrieval_spark.oracle import BM25Oracle
from byzer_retrieval_spark.plans.query import SearchQuery


def _sharded_rows(spark, n=24):
    """Rows whose 'hot' df is SKEWED across the engine's own 2-shard
    routing (pmod(xxhash64(_id), 2)): every shard-0 doc contains 'hot'
    (local idf ≈ 0) while exactly one long shard-1 doc does (local idf
    large) — so per-shard and global stats must rank differently."""
    ids = [f"d{i}" for i in range(n)]
    sdf = spark.createDataFrame([(i,) for i in ids], "id string").select(
        "id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("s")
    )
    shard_of = {r["id"]: int(r["s"]) for r in sdf.collect()}
    s0 = [i for i in ids if shard_of[i] == 0]
    s1 = [i for i in ids if shard_of[i] == 1]
    assert len(s0) >= 4 and len(s1) >= 4, (len(s0), len(s1))
    rows = []
    for j, i in enumerate(s0):
        rows.append({"_id": i, "content": f"hot w{j % 5} w{j % 3} tail"})
    rows.append({"_id": s1[0], "content": "hot " + " ".join(["pad"] * 12)})
    for i in s1[1:]:
        rows.append({"_id": i, "content": "cold base base"})
    return rows, shard_of, s0, s1


@pytest.fixture(scope="module")
def pss_engine(spark, tmp_path_factory):
    rows, shard_of, s0, s1 = _sharded_rows(spark)
    eng = RetrievalEngine(spark, str(tmp_path_factory.mktemp("idx_pss")))
    eng.build(
        spark.createDataFrame(rows),
        cfg=IndexConfig(
            num_shards=2,
            analyzed_fields=("content",),
            id_columns=(),
            per_shard_stats=True,
        ),
        resume=False,
    )
    return eng, rows, shard_of, s0, s1


def _merged_oracle(rows, shard_of, kw, limit):
    """Reference numNodes>1 semantics: each shard scores with its own
    stats, the master merges by (score desc, id asc)."""
    out = []
    for s in sorted(set(shard_of.values())):
        sub = BM25Oracle(
            [r for r in rows if shard_of[r["_id"]] == s],
            text_field="content",
            key_field="_id",
        )
        out.extend(sub.search(kw, limit=limit))
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out[:limit]


def test_per_shard_stats_matches_sharded_oracles(pss_engine):
    eng, rows, shard_of, s0, s1 = pss_engine
    q = SearchQuery(keyword="hot", fields=["content"], limit=len(rows))
    got = [(r["_id"], r["_score"]) for r in eng.search(q).collect()]
    exp = _merged_oracle(rows, shard_of, "hot", len(rows))
    assert [g[0] for g in got] == [e[0] for e in exp]
    np.testing.assert_allclose(
        [g[1] for g in got], [e[1] for e in exp], rtol=1e-9
    )
    # the divergence is REAL: per-shard stats put the lone long shard-1
    # 'hot' doc first (local df=1 → big idf); global stats bury it
    # (same idf as the dense shard-0 docs, worst dl)
    assert got[0][0] == s1[0]
    global_exp = BM25Oracle(rows, text_field="content", key_field="_id").search(
        "hot", limit=len(rows)
    )
    assert global_exp[0][0] != s1[0]
    assert [g[0] for g in got] != [e[0] for e in global_exp]


def test_per_shard_stats_phrase_and_multiterm(pss_engine):
    """Phrases (shard-keyed idf_p join) and multi-term queries follow
    the same per-shard semantics."""
    eng, rows, shard_of, s0, s1 = pss_engine
    for kw in ['"cold base"', "hot cold", '"base base" w1']:
        q = SearchQuery(keyword=kw, fields=["content"], limit=len(rows))
        got = [(r["_id"], r["_score"]) for r in eng.search(q).collect()]
        exp = _merged_oracle(rows, shard_of, kw, len(rows))
        assert [g[0] for g in got] == [e[0] for e in exp], kw
        np.testing.assert_allclose(
            [g[1] for g in got], [e[1] for e in exp], rtol=1e-9, err_msg=kw
        )


def test_per_shard_stats_wand_and_declarative_agree(pss_engine):
    """Round 5: the WAND fast path serves per-shard-stats mode too (its
    bounds are shard-local; only the (df, N, avgdl) inputs change to
    per-shard values) — both scorer paths must match the merged
    per-shard oracle, scores within fp tolerance."""
    eng, rows, shard_of, _, _ = pss_engine
    q = SearchQuery(keyword="hot cold", fields=["content"], limit=5)
    ctx = eng.ctx()
    exp = _merged_oracle(rows, shard_of, "hot cold", 5)
    fast = [(r["_id"], r["_score"]) for r in search_fast(ctx, q).collect()]
    direct = [(r["_id"], r["_score"]) for r in search_df(ctx, q).collect()]
    assert [f[0] for f in fast] == [d[0] for d in direct] == [e[0] for e in exp]
    for (fid, fsc), (_, esc) in zip(fast, exp):
        assert abs(fsc - esc) < 1e-6, (fid, fsc, esc)
    batch = eng.batch_search([q]).collect()
    assert [(r["_id"]) for r in batch] == [e[0] for e in exp]


def test_per_shard_stats_batch_mixed(pss_engine):
    """Round 5: a mixed batch (plain terms, MUST, NOT, phrase, prefix)
    rides the ONE-job batch scorer in per-shard-stats mode — every
    member must match its merged per-shard oracle, scores included
    (constant-score prefix members are stats-independent; the BM25
    members pick up the shard-local df/N/avgdl)."""
    eng, rows, shard_of, _, _ = pss_engine
    kws = ["hot", '"cold base"', "+hot cold", "w* tail", "hot -cold"]
    qs = [SearchQuery(keyword=k, fields=["content"], limit=8) for k in kws]
    by_q: dict = {}
    for r in eng.batch_search(qs).collect():
        by_q.setdefault(r["query_id"], []).append((r["_id"], r["_score"]))
    for qid, kw in enumerate(kws):
        exp = _merged_oracle(rows, shard_of, kw, 8)
        got = by_q.get(qid, [])
        assert [g[0] for g in got] == [e[0] for e in exp], kw
        np.testing.assert_allclose(
            [g[1] for g in got], [e[1] for e in exp], rtol=1e-9, err_msg=kw
        )


def test_per_shard_stats_survive_upsert(pss_engine, spark):
    """Mutations recompute the per-(field, shard) stats: after an
    upsert the engine still matches the merged sub-oracles built from
    the post-upsert rows."""
    eng, rows, shard_of, s0, s1 = pss_engine
    new_row = {"_id": s0[0], "content": "cold cold pad"}
    eng.upsert(spark.createDataFrame([new_row]))
    rows2 = [new_row if r["_id"] == s0[0] else r for r in rows]
    q = SearchQuery(keyword="hot cold", fields=["content"], limit=len(rows2))
    # pre-compact: the superseded doc version still counts in the
    # per-shard df/N/sum_dl (Lucene: deleted docs shape stats until
    # merge), so ranks must match the live-rows oracle but scores may
    # drift slightly
    got = [(r["_id"], r["_score"]) for r in eng.search(q).collect()]
    exp = _merged_oracle(rows2, shard_of, "hot cold", len(rows2))
    assert [g[0] for g in got] == [e[0] for e in exp]
    # post-compact: dead versions are gone — per-shard stats are exact
    # for the live rows and scores match the oracle bit-for-bit-ish
    eng.compact()
    got = [(r["_id"], r["_score"]) for r in eng.search(q).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    np.testing.assert_allclose(
        [g[1] for g in got], [e[1] for e in exp], rtol=1e-9
    )


def test_per_shard_stats_grouped_frame_cuts_ties_by_id(pss_engine, spark):
    """After an upsert __docid order is no longer _id order, so the
    grouped frame's task keeps a constant-score prefix's boundary ties
    and must cut them by (score desc, _id asc) before it reads the
    stored fields: new docs with the smallest _ids but the highest
    __docids of shard 0 hold the top-k."""
    eng, rows, shard_of, s0, s1 = pss_engine
    cand = spark.createDataFrame(
        [(f"a{j}",) for j in range(16)], "id string"
    ).select("id", F.pmod(F.xxhash64("id"), F.lit(2)).alias("s"))
    new = sorted(r["id"] for r in cand.collect() if r["s"] == 0)[:3]
    assert len(new) == 3
    eng.upsert(spark.createDataFrame([{"_id": i, "content": "hot new"} for i in new]))
    ctx = eng.query_ctx()
    assert not ctx.docid_id_order and ctx.tombstones_df() is None
    q = SearchQuery(keyword="ho*", fields=["content"], limit=3)
    df = eng.search(q)
    got = [r["_id"] for r in df.collect()]
    assert "FlatMapGroupsInArrow" in df._jdf.queryExecution().executedPlan().toString()
    assert got == [r["_id"] for r in search_df(ctx, q).collect()] == new
