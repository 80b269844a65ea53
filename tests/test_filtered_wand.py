"""Filtered WAND fast path: rank identity vs the DataFrame scorer and
the brute-force oracle, with filters executed inside the shard scorer
(reference: Occur.FILTER inside the collector, Utils.java:303), plus
analyzed-field filter leaves and tombstone deny-gating."""

import pytest

from byzer_retrieval_spark.operators.scorer_df import search_df
from byzer_retrieval_spark.operators.wand import search_fast, search_wand
from byzer_retrieval_spark.oracle import BM25Oracle
from byzer_retrieval_spark.plans.query import SearchQuery


@pytest.fixture(scope="module")
def oracle(corpus_rows):
    return BM25Oracle(corpus_rows, text_field="content", key_field="_id")


def _ids(df):
    return [(r["_id"], round(r["_score"], 9)) for r in df.collect()]


def test_filtered_query_takes_fast_path(corpus_engine):
    q = SearchQuery(
        keyword="def return",
        fields=["content"],
        filters={"and": [{"field": "lang", "value": "python"}]},
        limit=10,
    )
    assert search_wand(corpus_engine.ctx(), q) is not None


def test_filtered_rank_identity(corpus_engine, oracle):
    filt = {"and": [{"field": "lang", "value": "python"}]}
    q = SearchQuery(keyword="def return", fields=["content"], filters=filt, limit=10)
    ctx = corpus_engine.ctx()
    fast = _ids(search_fast(ctx, q))
    slow = _ids(search_df(ctx, q))
    exp = oracle.search("def return", filters=filt, limit=10)
    assert [f[0] for f in fast] == [e[0] for e in exp] == [s[0] for s in slow]
    assert len(fast) > 0


def test_filtered_nested_tree_rank_identity(corpus_engine, oracle):
    filt = {
        "and": [
            {"or": [{"field": "lang", "value": "python"},
                    {"field": "lang", "value": "java"}]},
            {"field": "lang", "min": "a", "max": "q"},
        ]
    }
    q = SearchQuery(keyword="class import", fields=["content"], filters=filt, limit=10)
    ctx = corpus_engine.ctx()
    fast = _ids(search_fast(ctx, q))
    slow = _ids(search_df(ctx, q))
    exp = oracle.search("class import", filters=filt, limit=10)
    assert [f[0] for f in fast] == [e[0] for e in exp] == [s[0] for s in slow]


def test_analyzed_field_filter_leaf(corpus_engine):
    """A filter on an analyzed (Store.NO) field is a full-text predicate
    (SchemaUtils.java:170-173) — both scorer paths must resolve it via
    postings membership instead of raising AnalysisException."""
    q = SearchQuery(
        keyword="def",
        fields=["content"],
        filters={"and": [{"field": "content", "value": "return"}]},
        limit=10,
    )
    ctx = corpus_engine.ctx()
    fast = _ids(search_fast(ctx, q))
    slow = _ids(search_df(ctx, q))
    assert fast == slow
    assert len(fast) > 0


def test_analyzed_field_range_filter_rejected(corpus_engine):
    q = SearchQuery(
        keyword="def",
        fields=["content"],
        filters={"and": [{"field": "content", "min": 1, "max": 2}]},
        limit=10,
    )
    with pytest.raises(ValueError, match="analyzed"):
        search_fast(corpus_engine.ctx(), q).collect()


def test_no_driver_side_tombstone_literals():
    """Nothing collects tombstones to the driver as a list of ids: query
    paths anti-join against IndexContext.tombstones_df() and compact()
    against the tombstone table itself."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "byzer_retrieval_spark"
    offenders = [
        f"{p.relative_to(root)}:{i}"
        for p in root.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"tombstone_ids\(", line)
    ]
    assert not offenders, offenders
