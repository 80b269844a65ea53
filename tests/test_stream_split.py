"""The zero-exchange stream scorer needs every postings file read whole by
one scan task. A postings file of many row groups, on a session with more
task slots than postings files, must still score exactly like the
DataFrame path, also after a query on another table of the same engine."""

import io
import os
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest

from byzer_retrieval_spark.api import RetrievalEngine
from byzer_retrieval_spark.operators.indexer import IndexConfig
from byzer_retrieval_spark.plans.query import SearchQuery
from byzer_retrieval_spark.sources.corpus import gen_rows

N_DOCS = 11000
BLOCK_SIZE = 64 << 10
# task slots the query session plans file scans for, whatever the host
SLOTS = 16
# a second table whose postings files all sit below the 4 MB pin floor
SMALL = "small"

QUERIES = ["def return", "+def -import", '"def return"', "+def +return"]
# terms at the tail of the term-sorted postings file: a split of that file
# lands among their blocks
TAIL_QUERIES = ["def while", "+def +while", "+while -def", "import with"]


@pytest.fixture(scope="module")
def split_engine(spark, tmp_path_factory):
    """One postings file of about 4.6 MB in ~89 row groups, plus a small
    table in the same root. Left to the default, Spark caps splits at
    max(openCostInBytes = 1 MB, totalBytes / SLOTS), so this file would be
    read by several tasks; the small table's 4 MB pin would split it in
    two."""
    eng = RetrievalEngine(spark, str(tmp_path_factory.mktemp("split")))
    spark.conf.set("parquet.block.size", str(BLOCK_SIZE))
    try:
        eng.build(
            spark.createDataFrame(gen_rows(N_DOCS)),
            cfg=IndexConfig(num_shards=1, hot_term_split_threshold=64),
            resume=False,
        )
    finally:
        spark.conf.unset("parquet.block.size")
    eng.build(
        spark.createDataFrame(gen_rows(200)),
        table=SMALL,
        cfg=IndexConfig(num_shards=2, hot_term_split_threshold=64),
        resume=False,
    )
    eng.query_spark.conf.set("spark.sql.leafNodeDefaultParallelism", str(SLOTS))
    return eng


def _ranked(eng, keyword, table="default"):
    q = SearchQuery(keyword=keyword, fields=["content"], limit=10)
    df = eng.search(q, table=table)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return [(r["_id"], round(r["_score"], 5)) for r in df.collect()], buf.getvalue()


def _slow(eng, keyword):
    q = SearchQuery(keyword=keyword, fields=["content"], limit=10)
    return [(r["_id"], round(r["_score"], 5)) for r in eng.search_slow(q).collect()]


def test_layout_would_split_without_pin(split_engine):
    files = [
        f for f in pq.ParquetDataset(split_engine.store().postings_path).files
        if f.endswith(".parquet")
    ]
    assert 0 < len(files) < SLOTS
    for f in files:
        assert pq.ParquetFile(f).metadata.num_row_groups > 4
        assert os.path.getsize(f) > 4 << 20


@pytest.mark.parametrize("keyword", QUERIES)
def test_stream_path_matches_slow_path(split_engine, keyword):
    got, plan = _ranked(split_engine, keyword)
    # the stream path is the one under test
    assert "MapInArrow" in plan and "hashpartitioning" not in plan
    assert got == _slow(split_engine, keyword)


def test_pin_follows_the_queried_table(split_engine):
    """big, small, big: the cached big table's pin must come back after
    the small table set its own."""
    _ranked(split_engine, "def return")
    _ranked(split_engine, "def return", table=SMALL)
    wrong = []
    for keyword in TAIL_QUERIES:
        got, plan = _ranked(split_engine, keyword)
        assert "MapInArrow" in plan and "hashpartitioning" not in plan
        if got != _slow(split_engine, keyword):
            wrong.append(keyword)
    assert not wrong, wrong
