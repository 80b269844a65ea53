"""Batch query fan-out: MANY keyword queries in ONE Spark job.

The reference's filter()/search() accept a LIST of SearchQuery
(L1 multi-query fan-out, RetrievalMaster.java:201-250) but execute them
per-query; a Spark job has a ~0.5-1 s scheduling floor, so per-query
execution caps throughput at ~1 query/sec regardless of cluster size.
This operator amortizes the floor: the postings scan is filtered ONCE to
the union of all queries' terms, shards cogroup once, and the per-shard
scorer decodes each term's postings ONCE and then scores every query
against the in-memory arrays (numpy gather + bincount per query —
microseconds each). Output: per-query global top-k.

Batchable shapes (reference parity: filter() accepts ANY SearchQuery,
RetrievalMaster.java:201-250): term clauses (implicit OR, +MUST,
-MUST_NOT), ``(a b)`` / ``+(a b)`` / ``-(a b)`` groups, ``foo*`` prefix
and ``foo~N`` fuzzy clauses (constant-score, like the WAND path),
``"a b"`` exact and ``"a b"~N`` sloppy PHRASES (round-4: the positions
column rides the same postings scan — read only when the batch has at
least one phrase — and each phrase's occurrence verification runs on
the once-decoded member postings via the same ``_phrase_match`` the
WAND path uses), and per-query FILTER trees — each query's allow set
rides the same shard cogroup as the posting blocks, tagged by
query_id, so filtered and unfiltered queries mix freely in one batch.
Match-all and vector/hybrid queries are the only fallback shapes
(api.batch_search runs those per-query and unions the results; a
match-all's per-query plan is fully LAZY — no eager driver work — so
the union still collects as ONE Spark job; only vector/hybrid
fallbacks pay extra jobs, for their ANN probe checks).

Scale: the scan cost is the union of the batch's term postings (shared
terms decode once); per-shard memory is bounded by those postings; the
shuffle moves ≤ Σ_q k_q rows per shard plus the filtered queries' allow
sets (partitioned exactly like the postings — no driver round-trip).
Stored-field materialization is ONE broadcast join of all winners on
(shard_id, __docid): shard_id is the docs table's partition column, so
dynamic partition pruning scans only winner shards, and the __docid
equi-join prunes row groups within them. At 10^12 docs this is the only
way to serve thousands of queries: throughput scales with executors
while the scheduling floor is paid once per BATCH, not per query.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from byzer_retrieval_spark.operators.context import IndexContext
from byzer_retrieval_spark.operators.decode import decode_rows
from byzer_retrieval_spark.operators.wand import (
    _shard_stream_runner,
    scan_blocks,
)
from byzer_retrieval_spark.plans.query import (
    ParsedKeyword,
    SearchQuery,
    parse_keyword,
)

_OUT_SCHEMA = "query_id int, shard_id int, __docid long, score double"

# gate rows with this query_id are the tombstone DENY set shared by
# every ungated query (filtered queries' allow sets already exclude
# tombstones)
_DENY_QID = -1


def is_batchable(parsed: ParsedKeyword, query: SearchQuery) -> bool:
    """Whether a query fits the one-job batch scorer. Match-all/empty
    have no scoring clauses to share; vector/hybrid queries need the
    KNN recall and (for hybrids) RRF fusion — dropping the vector
    silently would return different rankings than api.search. As of
    round 5 EVERY keyword shape batches: +(...) gates with any member
    kind and group-local +/- (nested BooleanQuery bool_groups) ride
    the same member machinery the WAND scorer uses."""
    return not (
        parsed.match_all
        or parsed.empty
        or (bool(query.vector) and query.vector_field)
        or not (
            parsed.scoring_terms
            or parsed.scoring_prefixes
            or parsed.scoring_fuzzies
            or parsed.scoring_phrases
            or parsed.scoring_nears
            or parsed.scoring_bool_groups
        )
    )


def _make_batch_scorer(
    field_stats: Dict[str, Tuple[float, float]],
    specs: List[dict],
    k1: float,
    b: float,
    phrase_terms: frozenset = frozenset(),
    docid_id_order: bool = False,
    per_shard_stats: bool = False,
    df_map: Optional[Dict[Tuple[str, str], float]] = None,
):
    """specs per query: {qid, fields, scoring, must, must_not, k,
    const_specs: ((kind, matcher_type, matcher), ...),
    phrases: ((kind, terms, slop), ...), groups, gated}.

    ``const_specs`` are the constant-score multi-term clauses (prefix
    stems and pre-expanded fuzzy term sets): a matching doc contributes
    1.0 per matching field-clause — same semantics as the WAND path's
    prefix/termset handling (Lucene CONSTANT_SCORE rewrite).
    ``phrases`` are exact (slop=0) / sloppy phrase clauses, verified by
    the WAND path's ``_phrase_match`` over the once-decoded member
    positions (``phrase_terms`` = union of member terms across the
    batch — only those rows pay the position decode). ``groups`` are
    +(a b) must-ANY gates. ``gated`` queries only score docs in their
    allow set (Occur.FILTER in the collector)."""

    def score_shard(pdf: pd.DataFrame, gate_pdf: Optional[pd.DataFrame]) -> pd.DataFrame:
        from byzer_retrieval_spark.functions.encoding import varbyte_decode
        from byzer_retrieval_spark.operators.decode import (
            absolute_positions,
            decode_position_deltas,
        )
        from byzer_retrieval_spark.operators.wand import _phrase_match

        shard_id = int(pdf["shard_id"].iloc[0])

        def fs(fld: str) -> Tuple[float, float]:
            # per-shard-stats mode (round 5): THIS shard's (N, avgdl)
            v = field_stats[fld]
            return v[shard_id] if per_shard_stats else v

        deny = np.empty(0, dtype=np.int64)
        allow_of: Dict[int, np.ndarray] = {}
        if gate_pdf is not None and len(gate_pdf):
            g_qid = gate_pdf["query_id"].to_numpy()
            g_doc = gate_pdf["__docid"].to_numpy(np.int64)
            deny = g_doc[g_qid == _DENY_QID]
            for qid in np.unique(g_qid[g_qid != _DENY_QID]):
                allow_of[int(qid)] = np.unique(g_doc[g_qid == qid])

        # ---- decode every (field, term) ONCE --------------------------
        # keyed per FIELD so each query scores/gates only ITS fields.
        # Phrase-member terms additionally decode their positions, ONCE,
        # shared by every phrase clause in the batch that uses them.
        #
        # Terms a query references EXACTLY (scoring / MUST / NOT /
        # groups / phrase members) take the per-term BM25 decode loop.
        # Every OTHER scanned row reached the scan only through a
        # prefix stem or a fuzzy expansion — constant-score MEMBERSHIP
        # is all any clause needs from those, so they take one
        # fully-vectorized bulk decode (single varbyte pass over the
        # joined gap blobs, term-sorted token index) instead: a hot
        # stem like `sym_1*` can match 10^5 distinct terms and the
        # per-term groupby loop was the round-4 batch bottleneck
        # (59 s for 50 prefix queries at a 600k corpus → sub-second).
        needed_exact = set(phrase_terms)
        for spec in specs:
            needed_exact.update(spec["scoring"])
            needed_exact.update(spec["must"])
            needed_exact.update(spec["must_not"])
            for grp in spec["groups"]:
                needed_exact.update(m[1] for m in grp if m[0] == "term")
            for _gk, g_sh, g_mu, g_no in spec["bool_groups"]:
                needed_exact.update(
                    m[1] for m in g_sh + g_mu + g_no if m[0] == "term"
                )
        em = pdf["term"].isin(needed_exact)
        cpdf = pdf[~em]
        pdf = pdf[em]

        # fld → (sorted unique terms, token-range starts, flat doc ids):
        # a clause's members are a binary-search range (prefix) or a
        # searchsorted membership probe (fuzzy set) over the term index,
        # and its docs a contiguous slice of the flat token array.
        const_idx: Dict[str, tuple] = {}
        for fld, g in cpdf.groupby("field", sort=False):
            g = g.sort_values("term", kind="stable")
            blobs = g["doc_gaps"].tolist()
            blens = np.fromiter(
                (len(x) for x in blobs), dtype=np.int64, count=len(blobs)
            )
            big = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            vals = varbyte_decode(big.tobytes()).astype(np.int64)
            if vals.size == 0:
                continue
            cum_term = np.concatenate(
                ([0], np.cumsum((big & 0x80) == 0))
            )
            ends = np.cumsum(blens)
            row_n = cum_term[ends] - cum_term[ends - blens]
            starts = np.concatenate(([0], np.cumsum(row_n[:-1])))
            c = np.cumsum(vals)
            base = c[starts] - vals[starts]
            docs_flat = (c - np.repeat(base, row_n)) + np.repeat(
                g["first_doc"].to_numpy(np.int64), row_n
            )
            uterms, row_tidx = np.unique(
                g["term"].to_numpy(), return_inverse=True
            )
            tok_per_term = np.bincount(
                row_tidx, weights=row_n, minlength=uterms.size
            ).astype(np.int64)
            const_idx[fld] = (
                uterms,
                np.concatenate(([0], np.cumsum(tok_per_term))),
                docs_flat,
            )

        by_term: Dict[str, List[Tuple[str, np.ndarray, np.ndarray]]] = {}
        pdata: Dict[str, Dict[str, tuple]] = {}    # fld → term → (docs,tfs,dls,pos)
        dfs_of: Dict[str, Dict[str, float]] = {}   # fld → term → df
        for (fld, term), g in pdf.groupby(["field", "term"], sort=False):
            g = g.sort_values("first_doc")
            n_docs, avgdl = fs(fld)
            # df_map: the driver-read term map (global stats); the
            # per_shard_stats scan carries a shard-keyed df column
            df = (
                df_map[(fld, term)]
                if df_map is not None
                else float(g["df"].iloc[0])
            )
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            docs, tfs, dls, _ = decode_rows(
                g["doc_gaps"], g["tfs"], g["dls"], g["first_doc"]
            )
            part = idf * (tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl)))
            by_term.setdefault(term, []).append((fld, docs, part))
            dfs_of.setdefault(fld, {})[term] = df
            if term in phrase_terms:
                pos = absolute_positions(
                    decode_position_deltas(g["positions"]), tfs
                )
                pdata.setdefault(fld, {})[term] = (docs, tfs, dls, pos)
        term_names = list(by_term)

        clause_cache: Dict[tuple, List[np.ndarray]] = {}

        def clause_docs(matcher_type: str, matcher, q_fields) -> List[np.ndarray]:
            """per-FIELD matched doc arrays for a const clause — exact
            bucket (by_term) plus the vectorized const index; memoized,
            so a stem repeated across the batch resolves once."""
            ck = (matcher_type, matcher, q_fields)
            hit = clause_cache.get(ck)
            if hit is not None:
                return hit
            if matcher_type == "prefix":
                terms = [t for t in term_names if t.startswith(matcher)]
            else:
                terms = [t for t in term_names if t in matcher]
            per_field: Dict[str, List[np.ndarray]] = {}
            for t in terms:
                for fld, docs, _ in by_term.get(t, ()):
                    if fld in q_fields:
                        per_field.setdefault(fld, []).append(docs)
            for fld in q_fields:
                entry = const_idx.get(fld)
                if entry is None:
                    continue
                uterms, tok_starts, docs_flat = entry
                if matcher_type == "prefix":
                    lo = np.searchsorted(uterms, matcher)
                    hi = np.searchsorted(uterms, matcher + "\uffff")
                    if hi > lo:
                        per_field.setdefault(fld, []).append(
                            docs_flat[tok_starts[lo] : tok_starts[hi]]
                        )
                else:
                    ms = np.asarray(sorted(matcher))
                    if ms.size:
                        ix = np.searchsorted(uterms, ms)
                        ok = ix < uterms.size
                        ok[ok] &= uterms[ix[ok]] == ms[ok]
                        for i in ix[ok]:
                            per_field.setdefault(fld, []).append(
                                docs_flat[tok_starts[i] : tok_starts[i + 1]]
                            )
            out = [
                np.unique(np.concatenate(arrs)) for arrs in per_field.values()
            ]
            clause_cache[ck] = out
            return out

        # (fld, terms, slop) → (pdocs, ptf): a phrase clause shared by
        # many queries in the batch verifies its occurrences ONCE per
        # shard — hot-term phrases were ~1 s per _phrase_match call at
        # a 600k corpus, paid per QUERY before this cache (round 4)
        pm_cache: Dict[tuple, tuple] = {}

        def _pm(fld: str, terms: tuple, slop: int):
            hit = pm_cache.get((fld, terms, slop))
            if hit is None:
                hit = pm_cache[(fld, terms, slop)] = _phrase_match(
                    pdata[fld], terms, slop
                )
            return hit

        # (fld, terms, slop) → (pdocs, part): the phrase SCORE part
        # array is also query-independent (idf_sum, dl gather, tfnorm
        # depend only on field/shard stats) — round 6: 100 queries
        # sharing one hot phrase re-ran the searchsorted dl gather +
        # tfnorm arithmetic per query on ~10^4-row arrays
        pm_parts: Dict[tuple, tuple] = {}

        def _pm_part(fld: str, terms: tuple, slop: int):
            hit = pm_parts.get((fld, terms, slop))
            if hit is None:
                pdocs, ptf = _pm(fld, terms, slop)
                if pdocs.size == 0:
                    part = np.empty(0, dtype=np.float64)
                else:
                    n_docs, avgdl = fs(fld)
                    dfs = dfs_of[fld]
                    idf_sum = sum(
                        math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                        for t in terms
                    )
                    d0 = pdata[fld][terms[0]]
                    dl = d0[2][np.searchsorted(d0[0], pdocs)].astype(np.float64)
                    ptff = ptf.astype(np.float64)
                    part = idf_sum * (
                        ptff / (ptff + k1 * (1.0 - b + b * dl / avgdl))
                    )
                hit = pm_parts[(fld, terms, slop)] = (pdocs, part)
            return hit

        # ---- group-member evaluation (round 5): +(...) gates and
        # nested-boolean groups accept ANY member kind — term members
        # read the shared decode, prefix/set members the vectorized
        # const index (clause_cache), phrase members the pm_cache
        def member_docs(m, q_fields) -> List[np.ndarray]:
            if m[0] == "term":
                return [
                    docs
                    for fld, docs, _ in by_term.get(m[1], ())
                    if fld in q_fields
                ]
            if m[0] in ("prefix", "set"):
                return clause_docs(m[0], m[1], q_fields)
            out = []
            for fld in sorted(q_fields):
                d = pdata.get(fld)
                if d is None or any(t not in d for t in m[1]):
                    continue
                pdocs, _ = _pm(fld, m[1], m[2])
                if pdocs.size:
                    out.append(pdocs)
            return out

        def member_docs_parts(m, q_fields) -> List[Tuple[np.ndarray, np.ndarray]]:
            """(docs, score parts) per field-clause — term members score
            BM25, prefix/set constant 1.0, phrase members
            Σidf·tfnorm(phrase_tf) (same formulas as the top-level
            clauses)."""
            if m[0] == "term":
                return [
                    (docs, part)
                    for fld, docs, part in by_term.get(m[1], ())
                    if fld in q_fields
                ]
            if m[0] in ("prefix", "set"):
                return [
                    (d, np.full(d.size, 1.0))
                    for d in clause_docs(m[0], m[1], q_fields)
                ]
            out = []
            for fld in sorted(q_fields):
                d = pdata.get(fld)
                if d is None or any(t not in d for t in m[1]):
                    continue
                pdocs, part = _pm_part(fld, m[1], m[2])
                if pdocs.size:
                    out.append((pdocs, part))
            return out

        out_q, out_d, out_s = [], [], []
        for spec in specs:
            q_fields = spec["fields"]
            doc_arrs, part_arrs = [], []
            must_doc_sets = []
            excl_arrs = []
            for t in spec["scoring"]:
                for fld, docs, part in by_term.get(t, ()):
                    if fld in q_fields:
                        doc_arrs.append(docs)
                        part_arrs.append(part)
            for t in spec["must"]:
                hits = [
                    docs
                    for fld, docs, _ in by_term.get(t, ())
                    if fld in q_fields
                ]
                must_doc_sets.append(
                    np.unique(np.concatenate(hits))
                    if hits
                    else np.empty(0, dtype=np.int64)
                )
            for kind, mtype, matcher in spec["const_specs"]:
                fdocs = clause_docs(mtype, matcher, q_fields)
                if kind == "not":
                    excl_arrs.extend(fdocs)
                    continue
                # should/must both SCORE: 1.0 per matching field-clause
                for d in fdocs:
                    doc_arrs.append(d)
                    part_arrs.append(np.full(d.size, 1.0))
                if kind == "must":
                    must_doc_sets.append(
                        np.unique(np.concatenate(fdocs))
                        if fdocs
                        else np.empty(0, dtype=np.int64)
                    )
            for kind, terms, slop in spec["phrases"]:
                # per field: verify occurrences over the shared decoded
                # positions; score = Σ_members idf · tfnorm(phrase_tf)
                # (Lucene PhraseWeight — same formula as wand.merge_extras)
                p_field_docs: List[np.ndarray] = []
                for fld in spec["fields"]:
                    d = pdata.get(fld)
                    if d is None or any(t not in d for t in terms):
                        continue
                    pdocs, part = _pm_part(fld, terms, slop)
                    if pdocs.size == 0:
                        continue
                    p_field_docs.append(pdocs)
                    if kind in ("should", "must"):
                        doc_arrs.append(pdocs)
                        part_arrs.append(part)
                if kind == "not":
                    excl_arrs.extend(p_field_docs)
                elif kind == "must":
                    must_doc_sets.append(
                        np.unique(np.concatenate(p_field_docs))
                        if p_field_docs
                        else np.empty(0, dtype=np.int64)
                    )
            group_sets = []
            for grp in spec["groups"]:
                hits = []
                for m in grp:
                    hits.extend(member_docs(m, q_fields))
                group_sets.append(
                    np.unique(np.concatenate(hits))
                    if hits
                    else np.empty(0, dtype=np.int64)
                )
            # nested boolean groups (round 5): positive groups' member
            # docs enter uniq with ZERO main score (their contribution
            # is conditional on the whole group matching — added after
            # the bincount, exactly like wand.bool_group_adjust)
            bgs = spec["bool_groups"]
            top_arr_cnt = len(doc_arrs)
            for gkind, g_sh, g_mu, g_no in bgs:
                if gkind == "not":
                    continue
                for m in dict.fromkeys(g_sh + g_mu):
                    for d in member_docs(m, q_fields):
                        doc_arrs.append(d)
                        part_arrs.append(np.zeros(d.size))
            if not doc_arrs:
                continue
            all_docs = np.concatenate(doc_arrs)
            all_parts = np.concatenate(part_arrs)
            uniq, inv = np.unique(all_docs, return_inverse=True)
            scores = np.bincount(inv, weights=all_parts, minlength=uniq.size)
            if bgs:
                top_hit = (
                    np.isin(
                        uniq, np.concatenate(doc_arrs[:top_arr_cnt])
                    )
                    if top_arr_cnt
                    else np.zeros(uniq.size, dtype=bool)
                )
                matched_pos = np.zeros(uniq.size, dtype=bool)
                bg_gate = np.ones(uniq.size, dtype=bool)
                add = np.zeros(uniq.size)

                def _mdocs(mem):
                    ds = member_docs(mem, q_fields)
                    return (
                        np.unique(np.concatenate(ds))
                        if ds
                        else np.empty(0, dtype=np.int64)
                    )

                for gkind, g_sh, g_mu, g_no in bgs:
                    if g_mu:
                        mm = np.ones(uniq.size, dtype=bool)
                        for mem in dict.fromkeys(g_mu):
                            mm &= np.isin(uniq, _mdocs(mem))
                    else:
                        mm = np.zeros(uniq.size, dtype=bool)
                        for mem in dict.fromkeys(g_sh):
                            mm |= np.isin(uniq, _mdocs(mem))
                    for mem in dict.fromkeys(g_no):
                        mm &= ~np.isin(uniq, _mdocs(mem))
                    if gkind == "not":
                        bg_gate &= ~mm
                        continue
                    gsc = np.zeros(uniq.size)
                    for mem in dict.fromkeys(g_mu + g_sh):
                        for d, p in member_docs_parts(mem, q_fields):
                            gsc[np.searchsorted(uniq, d)] += p
                    add += np.where(mm, gsc, 0.0)
                    matched_pos |= mm
                    if gkind == "must":
                        bg_gate &= mm
                scores = scores + add
                # has-match: >= 1 top-level clause OR a matched
                # positive group (Lucene nested BooleanQuery)
                bg_gate &= top_hit | matched_pos
            mask = np.ones(uniq.size, dtype=bool)
            if bgs:
                mask &= bg_gate
            for hits in must_doc_sets:
                mask &= np.isin(uniq, hits)
            for hits in group_sets:
                mask &= np.isin(uniq, hits)
            for t in spec["must_not"]:
                ex = [
                    docs
                    for fld, docs, _ in by_term.get(t, ())
                    if fld in q_fields
                ]
                if ex:
                    mask &= ~np.isin(uniq, np.unique(np.concatenate(ex)))
            for ex in excl_arrs:
                mask &= ~np.isin(uniq, ex)
            if spec["gated"]:
                allow = allow_of.get(spec["qid"])
                # allow set empty in this shard → nothing can match
                mask &= (
                    np.isin(uniq, allow)
                    if allow is not None
                    else np.zeros(uniq.size, dtype=bool)
                )
            elif deny.size:
                # tombstone deny gate BEFORE the top-k cut — a deleted
                # doc must not displace a live one from the shard top-k
                mask &= ~np.isin(uniq, deny)
            docs_f, scores_f = uniq[mask], scores[mask]
            k = spec["k"]
            if docs_f.size > k:
                if docid_id_order:
                    # __docid asc == _id asc in every shard (fresh
                    # build): per-shard top-k by (score desc, __docid
                    # asc) is EXACTLY the shard's possible global
                    # winners — no boundary-tie keep. Without this a
                    # constant-score clause (prefix/fuzzy) ties
                    # thousands of docs at the k-th score and every one
                    # of them rode the shuffle + broadcast join (the
                    # round-4 fuzzy-batch bottleneck: 40 s for 50
                    # queries → ~3 s).
                    sel = np.argpartition(-scores_f, k - 1)[:k]
                    kth = scores_f[sel].min()
                    keep = np.nonzero(scores_f >= kth)[0]
                    order = np.lexsort((docs_f[keep], -scores_f[keep]))
                    sel = keep[order[:k]]
                    docs_f, scores_f = docs_f[sel], scores_f[sel]
                else:
                    sel = np.argpartition(-scores_f, k - 1)[:k]
                    kth = scores_f[sel].min()
                    # keep boundary ties for the global (score, _id) sort
                    keep = scores_f >= kth
                    docs_f, scores_f = docs_f[keep], scores_f[keep]
            out_q.append(np.full(docs_f.size, spec["qid"], dtype=np.int32))
            out_d.append(docs_f)
            out_s.append(scores_f)
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "shard_id": [], "__docid": [], "score": []}
            ).astype(
                {"query_id": np.int32, "shard_id": np.int32,
                 "__docid": np.int64, "score": np.float64}
            )
        qv = np.concatenate(out_q)
        return pd.DataFrame(
            {
                "query_id": qv,
                "shard_id": np.full(qv.size, shard_id, dtype=np.int32),
                "__docid": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    def grouped(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return score_shard(pdf, None)

    def cogrouped(key, pdf: pd.DataFrame, gate_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(
                {"query_id": [], "shard_id": [], "__docid": [], "score": []}
            ).astype(
                {"query_id": np.int32, "shard_id": np.int32,
                 "__docid": np.int64, "score": np.float64}
            )
        return score_shard(pdf, gate_pdf)

    return grouped, cogrouped


def _batch_per_shard(ctx: IndexContext, queries: List[SearchQuery]):
    """The shared front of the batch executors: parse + spec every
    query, expand fuzzies in one job, build the single postings scan +
    gate cogroup, and return (per_shard winners frame, specs). Both
    ``batch_search`` (stored-field output) and ``batch_search_winners``
    (keyed winners for hybrid fusion) compose on top."""
    from byzer_retrieval_spark.operators.filtering import (
        expand_fuzzy,
        expand_fuzzy_many,
        filtered_docs,
    )

    import json as _json

    # ---- pre-pass: parse every query and expand ALL distinct fuzzy
    # specs in ONE Spark job (round 5 — each expand_fuzzy call is a
    # small driver-side job; 100 distinct fuzzies in a 1,000-query
    # batch paid 100 serial jobs before the one batch job)
    parsed_list = []
    fuzzy_items_all: List[tuple] = []
    for qid, q in enumerate(queries):
        parsed = parse_keyword(q.keyword, ctx.analyzer)
        if not is_batchable(parsed, q):
            raise ValueError(
                f"query {qid} is not batchable (vector/match-all); "
                "use api.search for it"
            )
        flds = [
            f for f in (q.fields or ctx.analyzed_fields) if f in ctx.analyzed_fields
        ]
        parsed_list.append((q, parsed, flds))
        ft = tuple(flds)
        for w, n in parsed.all_fuzzies:
            fuzzy_items_all.append((ft, w, int(n)))
        for g in parsed.any_groups_ext:
            for m in g:
                if m[0] == "fuzzy":
                    fuzzy_items_all.append((ft, m[1], int(m[2])))
        for _gk, g_sh, g_mu, g_no in parsed.bool_groups:
            for m in g_sh + g_mu + g_no:
                if m[0] == "fuzzy":
                    fuzzy_items_all.append((ft, m[1], int(m[2])))
    fuzzy_memo: Dict[tuple, frozenset] = {
        item: frozenset(terms)
        for item, terms in expand_fuzzy_many(ctx, fuzzy_items_all).items()
    }

    specs = []
    gate_groups: Dict[str, tuple] = {}  # canonical filter json → (tree, qids)
    gate_parts: List[DataFrame] = []
    for qid, (q, parsed, flds) in enumerate(parsed_list):
        # constant-score clauses: prefixes stay lazy (matched against
        # the scanned dictionary in-task, like the WAND path); fuzzies
        # expand against the term dictionary up front (Lucene's
        # FuzzyQuery automaton walk)
        const_specs: List[Tuple[str, str, object]] = []
        for kind, stems in (
            ("must", parsed.must_prefixes),
            ("should", parsed.dedup_should_prefixes),
            ("not", parsed.not_prefixes),
        ):
            for stem in dict.fromkeys(stems):
                const_specs.append((kind, "prefix", stem))
        for kind, fz in (
            ("must", parsed.must_fuzzies),
            ("should", parsed.dedup_should_fuzzies),
            ("not", parsed.not_fuzzies),
        ):
            for w, n in dict.fromkeys(fz):
                # every DISTINCT (fields, word, edits) spec was expanded
                # in the ONE pre-pass job; the expand_fuzzy fallback is
                # defensive only
                ek = (tuple(flds), w, int(n))
                if ek not in fuzzy_memo:
                    fuzzy_memo[ek] = frozenset(expand_fuzzy(ctx, flds, w, n))
                terms = fuzzy_memo[ek]
                const_specs.append((kind, "set", terms))
        # phrase clauses (exact slop=0 + sloppy NEAR), deduped the same
        # way wand.search_wand builds its phrase_specs
        phrase_specs: List[Tuple[str, Tuple[str, ...], int]] = (
            [("must", p, 0) for p in dict.fromkeys(parsed.must_phrases)]
            + [("should", p, 0) for p in parsed.dedup_should_phrases]
            + [("not", p, 0) for p in dict.fromkeys(parsed.not_phrases)]
            + [("must", p, s) for p, s in dict.fromkeys(parsed.must_near_phrases)]
            + [("should", p, s) for p, s in parsed.dedup_should_nears]
            + [("not", p, s) for p, s in dict.fromkeys(parsed.not_near_phrases)]
        )

        # group members (any kind) → scorer descriptors: terms stay
        # ("term", t); phrases register their member terms for the
        # positions scan; fuzzies pre-expand through the batch memo
        def _conv_member(m):
            if m[0] == "term":
                return ("term", m[1])
            if m[0] == "phrase":
                return ("phrase", tuple(m[1]), int(m[2]))
            if m[0] == "prefix":
                return ("prefix", m[1])
            ek = (tuple(flds), m[1], int(m[2]))
            if ek not in fuzzy_memo:
                fuzzy_memo[ek] = frozenset(expand_fuzzy(ctx, flds, m[1], m[2]))
            return ("set", fuzzy_memo[ek])

        groups_m = tuple(
            tuple(_conv_member(m) for m in g) for g in parsed.any_groups_ext
        )
        bool_groups_m = tuple(
            (
                gkind,
                tuple(_conv_member(m) for m in g_sh),
                tuple(_conv_member(m) for m in g_mu),
                tuple(_conv_member(m) for m in g_no),
            )
            for gkind, g_sh, g_mu, g_no in parsed.bool_groups
        )
        gated = bool(q.filters)
        if gated:
            # queries sharing one filter tree share ONE allow-set scan
            # (plan built after the loop): a 1,000-query batch with a
            # handful of distinct trees was paying a union of 60+
            # near-identical docs-scan branches — Catalyst analysis
            # time scaled with the batch, not the distinct trees
            gk = _json.dumps(q.filters, sort_keys=True)
            gate_groups.setdefault(gk, (q.filters, []))[1].append(qid)
        specs.append(
            {
                "qid": qid,
                "fields": frozenset(flds),
                "scoring": tuple(parsed.scoring_terms),
                "must": tuple(set(parsed.must)),
                "must_not": tuple(set(parsed.must_not)),
                "k": q.limit,
                "const_specs": tuple(const_specs),
                "phrases": tuple(phrase_specs),
                "groups": groups_m,
                "bool_groups": bool_groups_m,
                "gated": gated,
            }
        )
    for _gk, (ftree, qids) in gate_groups.items():
        allowed = ctx.exclude_tombstones(filtered_docs(ctx, ftree))
        gate_parts.append(
            allowed.select(
                F.explode(
                    F.array(*[F.lit(int(q)) for q in qids])
                ).alias("query_id"),
                F.col("shard_id").cast("int").alias("shard_id"),
                "__docid",
            )
        )

    def _scan_inputs(sub_specs):
        """(fields, exact terms, prefix stems, phrase member terms) a
        spec subset needs from the postings scan — derived from the
        specs themselves so gated and ungated sub-batches each scan
        only their own terms."""
        flds: List[str] = []
        terms: List[str] = []
        stems: List[str] = []
        ph: List[str] = []

        def conv(m):
            if m[0] == "term":
                terms.append(m[1])
            elif m[0] == "phrase":
                ph.extend(m[1])
                terms.extend(m[1])
            elif m[0] == "prefix":
                stems.append(m[1])
            else:
                terms.extend(sorted(m[1]))

        for spec in sub_specs:
            flds.extend(sorted(spec["fields"]))
            terms.extend(spec["scoring"])
            terms.extend(spec["must"])
            terms.extend(spec["must_not"])
            for _kind, mtype, matcher in spec["const_specs"]:
                if mtype == "prefix":
                    stems.append(matcher)
                else:
                    terms.extend(sorted(matcher))
            for _kind, p_terms, _slop in spec["phrases"]:
                ph.extend(p_terms)
                terms.extend(p_terms)
            for grp in spec["groups"]:
                for m in grp:
                    conv(m)
            for _gkind, g_sh, g_mu, g_no in spec["bool_groups"]:
                for m in g_sh + g_mu + g_no:
                    conv(m)
        return (
            list(dict.fromkeys(flds)),
            list(dict.fromkeys(terms)),
            list(dict.fromkeys(stems)),
            frozenset(ph),
        )

    tomb = ctx.tombstones_df()

    def _frame(sub_specs, sub_gate_parts, stream):
        """One per-shard winners frame for a spec subset, over the
        scan and df source of wand.scan_blocks: the zero-exchange
        mapInArrow stream (round 6, see wand._shard_stream_runner for
        the correctness argument) or the exchange-based
        groupBy/cogroup shape for gated / per-shard-stats / tombstoned
        runs."""
        fields, all_terms, prefix_stems, phrase_terms = _scan_inputs(
            sub_specs
        )
        block_cols = [
            "shard_id", "field", "term", "first_doc", "doc_gaps", "tfs",
            "dls",
        ]
        if phrase_terms:
            # positions read ONLY when the sub-batch has a phrase clause
            block_cols.append("positions")
        blocks, df_map, field_stats = scan_blocks(
            ctx, fields, all_terms, prefix_stems, block_cols
        )
        grouped, cogrouped = _make_batch_scorer(
            field_stats, sub_specs, ctx.k1, ctx.b, phrase_terms,
            ctx.docid_id_order, per_shard_stats=ctx.per_shard_stats,
            df_map=df_map,
        )
        if stream:
            return blocks.mapInArrow(
                _shard_stream_runner(grouped), schema=_OUT_SCHEMA
            )

        # gate side: per-query allow sets (tagged query_id) + the shared
        # tombstone deny set for ungated queries — ONE cogroup on
        # shard_id, same discipline as wand.search_wand
        g_parts = list(sub_gate_parts)
        if tomb is not None and any(not s["gated"] for s in sub_specs):
            g_parts.append(
                tomb.select("__docid")
                .distinct()
                .select(
                    F.lit(_DENY_QID).alias("query_id"),
                    F.shiftright("__docid", ctx.doc_bits)
                    .cast("int")
                    .alias("shard_id"),
                    "__docid",
                )
            )
        if g_parts:
            gate_df = g_parts[0]
            for g in g_parts[1:]:
                gate_df = gate_df.unionByName(g)
            return (
                blocks.groupby("shard_id")
                .cogroup(gate_df.groupby("shard_id"))
                .applyInPandas(cogrouped, schema=_OUT_SCHEMA)
            )
        return blocks.groupBy("shard_id").applyInPandas(
            grouped, schema=_OUT_SCHEMA
        )

    # A handful of filtered members no longer drags the whole batch
    # through the gate cogroup (round 6): ungated specs ride the
    # zero-exchange stream frame, gated specs keep their cogroup —
    # the two frames union into the same downstream rank/join.
    can_stream = tomb is None and not ctx.per_shard_stats
    gated_specs = [s for s in specs if s["gated"]]
    ungated_specs = [s for s in specs if not s["gated"]]
    if can_stream and not gated_specs:
        return _frame(specs, [], stream=True), specs
    if can_stream and gated_specs and ungated_specs:
        per_shard = _frame(ungated_specs, [], stream=True).unionByName(
            _frame(gated_specs, gate_parts, stream=False)
        )
        return per_shard, specs
    return _frame(specs, gate_parts, stream=False), specs


def _limits_df(ctx: IndexContext, specs) -> DataFrame:
    # per-query limits via a broadcast join — a WHEN-chain over 1,000
    # query ids made the Catalyst expression tree (and optimize time)
    # scale with the batch size
    return ctx.spark.createDataFrame(
        [(int(s["qid"]), int(s["k"])) for s in specs],
        "query_id int, __klim int",
    )


def batch_search_winners(
    ctx: IndexContext, queries: List[SearchQuery]
) -> DataFrame:
    """Per-query global top-k carrying the docs PHYSICAL key:
    (query_id, shard_id, __docid, _id, _score) — the batched analog of
    wand.search_winners (round 5). Hybrid batch fusion consumes this so
    the FINAL stored-field join stays one DPP-pruned broadcast join for
    the whole batch; the _id fetch here is itself a column-pruned
    (shard_id, __docid) broadcast join."""
    per_shard, specs = _batch_per_shard(ctx, queries)
    docs = ctx.docs().select("shard_id", "__docid", "_id")
    joined = docs.join(F.broadcast(per_shard), ["shard_id", "__docid"])
    ranked = joined.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("_id").asc()
            )
        ),
    ).join(F.broadcast(_limits_df(ctx, specs)), "query_id")
    return ranked.filter(F.col("__rn") <= F.col("__klim")).select(
        "query_id",
        "shard_id",
        "__docid",
        "_id",
        F.col("score").alias("_score"),
    )


def batch_search(
    ctx: IndexContext, queries: List[SearchQuery]
) -> DataFrame:
    """Execute a batch of keyword queries in ONE job.

    Returns (query_id, _score, stored fields...) — per query the global
    top-k ordered (score desc, _id asc), query_id = position in
    ``queries``. Raises ValueError for queries outside the batchable
    shape (vector/match-all) — api.batch_search falls back to
    api.search for those and merges the results.
    """
    per_shard, specs = _batch_per_shard(ctx, queries)

    # ---- ONE stored-field materialization for the whole batch ---------
    # broadcast the ≤ Σ_q shards·k winners; shard_id is the docs
    # table's partition column → dynamic partition pruning scans only
    # winner shards (captured plan: BENCH/PLANS.md), and the __docid
    # equi-join prunes row groups within them. The per-query (score
    # desc, _id asc) tie-break ranks AFTER the join — no second join.
    docs = ctx.docs()
    joined = docs.join(F.broadcast(per_shard), ["shard_id", "__docid"])
    ranked = joined.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("_id").asc()
            )
        ),
    )
    ranked = ranked.join(F.broadcast(_limits_df(ctx, specs)), "query_id")
    stored = ctx.stored_columns()
    return (
        ranked.filter(F.col("__rn") <= F.col("__klim"))
        .orderBy("query_id", F.col("score").desc(), F.col("_id").asc())
        .select("query_id", F.col("score").alias("_score"), *stored)
    )
