"""The zero-exchange stream scorer needs every postings file read whole by
one scan task. A postings file of many row groups, on a session with more
task slots than postings files, must still score exactly like the
DataFrame path."""

import os

import pyarrow.parquet as pq
import pytest

from byzer_retrieval_spark.api import RetrievalEngine
from byzer_retrieval_spark.operators.indexer import IndexConfig
from byzer_retrieval_spark.plans.query import SearchQuery
from byzer_retrieval_spark.sources.corpus import gen_rows

N_DOCS = 6000
BLOCK_SIZE = 64 << 10
# task slots the query session plans file scans for, whatever the host
SLOTS = 16

QUERIES = ["def return", "+def -import", '"def return"', "+def +return"]


@pytest.fixture(scope="module")
def split_engine(spark, tmp_path_factory):
    """One postings file of about 2.5 MB in ~47 row groups. Left to the
    default, Spark caps splits at max(openCostInBytes = 1 MB,
    totalBytes / SLOTS), so this file would be read by three tasks."""
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
    eng.query_spark.conf.set("spark.sql.leafNodeDefaultParallelism", str(SLOTS))
    return eng


def test_layout_would_split_without_pin(split_engine):
    files = [
        f for f in pq.ParquetDataset(split_engine.store().postings_path).files
        if f.endswith(".parquet")
    ]
    assert 0 < len(files) < SLOTS
    for f in files:
        assert pq.ParquetFile(f).metadata.num_row_groups > 4
        assert os.path.getsize(f) > 2 << 20


@pytest.mark.parametrize("keyword", QUERIES)
def test_stream_path_matches_slow_path(split_engine, keyword):
    assert split_engine.query_ctx()._stream_safe
    q = SearchQuery(keyword=keyword, fields=["content"], limit=10)
    got = [(r["_id"], round(r["_score"], 5)) for r in split_engine.search(q).collect()]
    slow = [
        (r["_id"], round(r["_score"], 5))
        for r in split_engine.search_slow(q).collect()
    ]
    assert got == slow
