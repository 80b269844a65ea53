"""A term the postings hold but the stats table lacks (stats/postings
drift) must fail the scorers with an error that names the field, the
term and the stats table, not a bare KeyError inside an executor. The
scorer closures run here on local pandas data, without Spark jobs."""

import re

import numpy as np
import pandas as pd
import pytest

from byzer_retrieval_spark.operators.batch import _make_batch_scorer
from byzer_retrieval_spark.operators.context import TermDfs
from byzer_retrieval_spark.operators.wand import _make_shard_scorer

TERMS = ("def", "return")


@pytest.fixture(scope="module")
def shard0(corpus_engine):
    """(ctx, field_stats, postings rows of shard 0 for TERMS)."""
    ctx = corpus_engine.query_ctx()
    pdf = pd.read_parquet(f"{ctx.store.postings_path}/shard_id=0")
    pdf = pdf[(pdf["field"] == "content") & pdf["term"].isin(TERMS)]
    pdf = pdf.assign(shard_id=np.int32(0)).reset_index(drop=True)
    assert set(pdf["term"]) == set(TERMS)
    field_stats = {"content": (float(ctx.n_docs("content")), ctx.avgdl("content"))}
    return ctx, field_stats, pdf


def _drifted(ctx):
    dfs = ctx.term_dfs(["content"], list(TERMS))
    assert isinstance(dfs, TermDfs) and ("content", "return") in dfs
    del dfs[("content", "return")]
    return dfs


def _message(ctx):
    return re.escape(
        f"no df for term 'return' of field 'content' in the stats table "
        f"{ctx.store.stats_path}"
    )


def _wand(field_stats, df_map, ctx, phrase=False):
    return _make_shard_scorer(
        field_stats,
        () if phrase else TERMS,
        (),
        (),
        10,
        ctx.k1,
        ctx.b,
        "none",
        (("p0", TERMS, "should", 0),) if phrase else (),
        df_map=df_map,
    )


@pytest.mark.parametrize("phrase", [False, True], ids=["terms", "phrase"])
def test_wand_scorer_names_missing_df(shard0, phrase):
    ctx, field_stats, pdf = shard0
    full = ctx.term_dfs(["content"], list(TERMS))
    assert len(_wand(field_stats, full, ctx, phrase)((0,), pdf))
    with pytest.raises(LookupError, match=_message(ctx)):
        _wand(field_stats, _drifted(ctx), ctx, phrase)((0,), pdf)


def test_batch_scorer_names_missing_df(shard0):
    ctx, field_stats, pdf = shard0
    spec = {
        "qid": 0,
        "fields": frozenset(["content"]),
        "scoring": TERMS,
        "must": (),
        "must_not": (),
        "k": 10,
        "const_specs": (),
        "phrases": (),
        "groups": (),
        "bool_groups": (),
        "gated": False,
    }

    def run(df_map):
        grouped, _ = _make_batch_scorer(
            field_stats, [spec], ctx.k1, ctx.b, df_map=df_map
        )
        return grouped((0,), pdf)

    assert len(run(ctx.term_dfs(["content"], list(TERMS))))
    with pytest.raises(LookupError, match=_message(ctx)):
        run(_drifted(ctx))
