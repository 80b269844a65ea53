"""Block-max WAND top-k: the fast query path (north_star core).

What Lucene does inside ``indexSearcher.search(query, limit)``
(reference: RetrievalWorker.java:368, TOP_SCORES mode): score docs
term-at-a-time/doc-at-a-time while SKIPPING whole posting blocks whose
per-block maximum possible score cannot beat the current k-th best
(impacts + block-max WAND). Spark has no such operator, so this module
implements it as an ``applyInPandas`` per-shard scorer over our
compressed posting blocks — numpy-vectorized, bounded memory, with a
bounded top-k selection per shard.

Algorithm: a *vectorized two-phase block-max pruning* variant of BMW
(lossless — provably rank-identical to exhaustive scoring):

  upper bounds:  ub(block)   = idf · tfnorm(max_tf, min_dl)  [stored stats]
                 range_ub(b) = ub(b) + Σ_{other clauses} term_max_ub
                 (the classic WAND term-level bound for other clauses)
  phase 1:  exactly score the doc ranges of the few highest-range_ub
            blocks → threshold θ0 = k-th best exact (gated) score found
  phase 2:  every block with range_ub < θ0 is SKIPPED (its docs provably
            score < θ0 ≤ true k-th best); survivors + overlapping blocks
            are decoded and scored exactly; top-k per shard emitted.

Proof of losslessness: a doc d skipped in phase 2 lies only in blocks
with range_ub < θ0, so score(d) ≤ range_ub < θ0 ≤ θ_true — d cannot be
in the true top-k even under tie-breaking (strict inequality). Gating
(MUST / MUST_NOT) only removes docs, so pruning bounds remain valid.

Scale: per-shard work is bounded by that shard's postings for the query
terms; shards score in parallel (one Arrow group per shard — same
scatter-gather as the reference's master→worker fan-out,
RetrievalMaster.java:141-147, with Spark's scheduler as the master).
Each shard emits its top-k PLUS any equal-score boundary ties (ties are
never truncated per shard: upsert delta doc_ids break the doc_id==_id
order, so equal scores at the k boundary must be settled by the global
(score desc, _id asc) orderBy) — the merge is O(shards·(k + ties)).
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from byzer_retrieval_spark.operators.context import IndexContext
from byzer_retrieval_spark.operators.decode import decode_rows
from byzer_retrieval_spark.plans.query import SearchQuery, parse_keyword

# below this many blocks per shard, exhaustive scoring beats
# bookkeeping. The BYZER_PRUNE_MIN_BLOCKS env override (set huge to
# force the exhaustive path for A/B) is resolved ON THE DRIVER at
# query time and captured into the scorer closure — on a real cluster
# executors re-import modules against their own environment, so an
# import-time read would silently ignore the override there.
import os as _os

PRUNE_MIN_BLOCKS = 32


def _prune_min_blocks() -> int:
    return int(_os.environ.get("BYZER_PRUNE_MIN_BLOCKS", PRUNE_MIN_BLOCKS))


def _conj_enabled() -> bool:
    """A/B switch for the conjunctive MUST block restriction (round 4)
    — driver-resolved like _prune_min_blocks. Lossless either way."""
    return _os.environ.get("BYZER_CONJ_RESTRICT", "1") != "0"

_OUT_SCHEMA = "shard_id int, __docid long, score double"


def _merge_intervals(firsts: np.ndarray, lasts: np.ndarray):
    order = np.argsort(firsts, kind="stable")
    f, l = firsts[order], lasts[order]
    keep_f, keep_l = [], []
    for a, b in zip(f, l):
        if keep_l and a <= keep_l[-1]:
            keep_l[-1] = max(keep_l[-1], b)
        else:
            keep_f.append(a)
            keep_l.append(b)
    return np.asarray(keep_f, dtype=np.int64), np.asarray(keep_l, dtype=np.int64)


def _intersect_intervals(f1: np.ndarray, l1: np.ndarray,
                         f2: np.ndarray, l2: np.ndarray):
    """Intersection of two MERGED (sorted, disjoint) interval lists.
    Python two-pointer over per-shard block lists (≤ thousands)."""
    out_f, out_l = [], []
    i = j = 0
    n1, n2 = len(f1), len(f2)
    while i < n1 and j < n2:
        a, b = max(f1[i], f2[j]), min(l1[i], l2[j])
        if a <= b:
            out_f.append(a)
            out_l.append(b)
        if l1[i] < l2[j]:
            i += 1
        else:
            j += 1
    return np.asarray(out_f, dtype=np.int64), np.asarray(out_l, dtype=np.int64)


def _point_ranges(points: np.ndarray):
    """Sorted distinct doc ids → merged [first, last] ranges of
    CONSECUTIVE runs — vectorized (no Python loop; _merge_intervals is
    for small block lists, this is for candidate-doc sets)."""
    if points.size == 0:
        return points, points
    breaks = np.nonzero(np.diff(points) > 1)[0]
    rf = points[np.concatenate(([0], breaks + 1))]
    rl = points[np.concatenate((breaks, [points.size - 1]))]
    return rf, rl


def _in_intervals(docs: np.ndarray, f: np.ndarray, l: np.ndarray) -> np.ndarray:
    if f.size == 0:
        return np.zeros(docs.shape, dtype=bool)
    idx = np.searchsorted(f, docs, side="right") - 1
    ok = idx >= 0
    out = np.zeros(docs.shape, dtype=bool)
    out[ok] = docs[ok] <= l[idx[ok]]
    return out


def _overlap_mask(firsts: np.ndarray, lasts: np.ndarray,
                  rf: np.ndarray, rl: np.ndarray) -> np.ndarray:
    """blocks [firsts,lasts] overlapping any merged range [rf,rl]."""
    if rf.size == 0:
        return np.zeros(firsts.shape, dtype=bool)
    # block overlaps some range iff the first range with rl >= first
    # starts at or before last
    j = np.searchsorted(rl, firsts, side="left")
    ok = j < rf.size
    out = np.zeros(firsts.shape, dtype=bool)
    out[ok] = rf[j[ok]] <= lasts[ok]
    return out


def _sloppy_anchor_ok(
    terms: Tuple[str, ...], pos_by_term: Dict[str, list], p0: int, slop: int
) -> bool:
    """Injective (distinct-position) sloppy-phrase check for ONE anchor.

    True iff some window start ``w`` in [p0-slop, p0] admits an
    assignment of one physical position per phrase slot — slot 0 pinned
    to the anchor ``p0``, a repeated term's positions each used at most
    once — with every slot j's adjusted position (p - j) inside
    [w, w+slop]. The greedy smallest-feasible-position scan over
    ascending slots is optimal for these staircase intervals
    ([w+j, w+j+slop] has both endpoints non-decreasing in j — classic
    exchange argument), so failure here means NO assignment exists.
    Mirrors Lucene SloppyPhraseMatcher's repeating-terms handling
    (advanceRepeats: colliding repeat positions are advanced apart).
    Only called for phrases that actually repeat a term; distinct-term
    phrases stay on the fully vectorized path.
    """
    uniq = list(dict.fromkeys(terms))
    for w in range(p0 - slop, p0 + 1):
        ok = True
        for t in uniq:
            slots = [j for j, u in enumerate(terms) if u == t]
            used = set()
            if t == terms[0]:
                slots = slots[1:]  # slot 0 is pinned to the anchor
                used.add(p0)
            feasible = True
            for j in slots:
                lo, hi = w + j, w + j + slop
                pick = next(
                    (
                        p
                        for p in pos_by_term.get(t, ())
                        if lo <= p <= hi and p not in used
                    ),
                    None,
                )
                if pick is None:
                    feasible = False
                    break
                used.add(pick)
            if not feasible:
                ok = False
                break
        if ok:
            return True
    return False


def _phrase_match(
    datas: Dict[str, tuple], terms: Tuple[str, ...], slop: int = 0
) -> Tuple[np.ndarray, np.ndarray]:
    """Phrase occurrences from per-term decoded postings.

    ``datas[t] = (docs, tfs, dls, abs_pos)``. Returns (docs, phrase_tf)
    for docs with >= 1 occurrence. All-vectorized: candidate start
    positions are (doc_rank << 32 | start_pos) keys intersected across
    the phrase's term sequence. slop=0 is Lucene's exact PhraseQuery
    (matches counted by distinct start position); slop>0 is the NEAR
    variant (round 4 — Lucene SloppyPhraseMatcher parity for phrases
    of DISTINCT terms): an anchor position p0 of terms[0] matches when
    some length-``slop`` window of offset-adjusted positions covers p0
    and one position of EVERY member, i.e. ∃ a choice of one position
    per term with max(pos_j - j) - min(pos_j - j) <= slop — exactly
    Lucene's minimal-match condition for any arity (the r3 matcher was
    per-member ±slop around the anchor, lenient beyond 2 terms).
    phrase_tf sums per-anchor weights 1/(matchLength+1) where
    matchLength is the anchor's MINIMAL window length (round 5 —
    Lucene SloppyPhraseMatcher sloppyFreq parity; the r4 engine
    weighted every anchor 1). Repeated terms (round 4):
    the multiplicity gate + window intersection give a SUPERSET, and
    each surviving anchor is re-verified with an injective greedy
    assignment (``_sloppy_anchor_ok``) so no two slots of a repeated
    term collide on one physical position — Lucene SloppyPhraseMatcher's
    repeating-terms semantics (SloppyPhraseMatcher.java advanceRepeats).
    """
    cand = None
    from collections import Counter as _Counter

    mult = _Counter(terms)
    for t in dict.fromkeys(terms):
        docs_t, tfs_t = datas[t][0], datas[t][1]
        d = docs_t if slop == 0 or mult[t] == 1 else docs_t[tfs_t >= mult[t]]
        cand = d if cand is None else cand[np.isin(cand, d)]
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)

    def _adjusted(j: int, t: str):
        """(doc_rank keys, offset-adjusted positions) of term t at
        phrase slot j, restricted to candidate docs."""
        docs, tfs, dls, pos = datas[t]
        pmask = np.isin(docs, cand)
        tok_mask = np.repeat(pmask, tfs)
        doc_tok = np.repeat(docs, tfs)[tok_mask]
        return np.searchsorted(cand, doc_tok).astype(np.int64), pos[tok_mask] - j

    if slop == 0:
        keys = None
        for j, t in enumerate(terms):
            dr, base = _adjusted(j, t)
            ok = base >= 0
            kj = (dr[ok] << np.int64(32)) | base[ok]
            keys = kj if keys is None else np.intersect1d(keys, kj)
            if keys.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.int64)
        didx = (keys >> np.int64(32)).astype(np.int64)
        ptf = np.bincount(didx, minlength=cand.size)
        hit = ptf > 0
        return cand[hit], ptf[hit]

    # sloppy path (round 5 — Lucene sloppyFreq parity): each matching
    # anchor contributes 1/(L+1) where L is its MINIMAL window length —
    # the smallest L <= slop such that a length-L window of
    # offset-adjusted positions covers the anchor and one (injective)
    # position of every member. L=0 is the exact-phrase case (weight 1,
    # consistent with the slop==0 path above). Computed by re-running
    # the window intersection at L = 0..slop and assigning each anchor
    # the first L that matches — slop is tiny, so this costs at most
    # (slop+1)x the old single-pass check. Windows are keyed by their
    # START w (shifted by OFF so packing stays non-negative: adjusted
    # positions are >= -(len-1)).
    OFF = np.int64(slop + len(terms))
    members = [_adjusted(j, t) for j, t in enumerate(terms)][1:]
    dr0, adj0 = _adjusted(0, terms[0])
    a_keys = (dr0 << np.int64(32)) | (adj0 + OFF)
    rep = len(set(terms)) < len(terms)

    if len(terms) == 2 and not rep:
        # two distinct terms (the common NEAR shape, round 6): the
        # window condition ∃w∈[a-L,a]: w ≤ m' ≤ w+L collapses to
        # |a - m'| ≤ L, so each anchor's minimal matchLength is just
        # the distance to its nearest same-doc member position — one
        # searchsorted over the packed (doc_rank << 32 | adjusted+OFF)
        # keys instead of the per-L window/unique/intersect loop
        # (identical weights by the equivalence above; pinned by the
        # sloppy-parity tests). Keys are ascending (docs sorted,
        # positions ascending per doc) — sort defensively anyway.
        dr_m, adj_m = members[0]
        m_keys = np.sort((dr_m << np.int64(32)) | (adj_m + OFF))
        if m_keys.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        ins = np.searchsorted(m_keys, a_keys)
        big = np.int64(1) << np.int64(40)  # > any position distance
        left = np.maximum(ins - 1, 0)
        right = np.minimum(ins, m_keys.size - 1)
        dl_ = np.where(
            (ins > 0) & ((m_keys[left] >> np.int64(32)) == dr0),
            a_keys - m_keys[left],
            big,
        )
        dr_ = np.where(
            (ins < m_keys.size) & ((m_keys[right] >> np.int64(32)) == dr0),
            m_keys[right] - a_keys,
            big,
        )
        lmin = np.minimum(dl_, dr_)
        matched = lmin <= slop
        if not matched.any():
            return np.empty(0, np.int64), np.empty(0, np.float64)
        didx = (a_keys[matched] >> np.int64(32)).astype(np.int64)
        ptf = np.bincount(
            didx,
            weights=1.0 / (lmin[matched].astype(np.float64) + 1.0),
            minlength=cand.size,
        )
        hit = ptf > 0
        return cand[hit], ptf[hit]
    weights = np.zeros(a_keys.size)
    pending = np.ones(a_keys.size, dtype=bool)
    posmap: Optional[Dict[str, dict]] = None
    mask32 = np.int64((1 << 32) - 1)
    for L in range(slop + 1):
        if not pending.any():
            break
        offs = np.arange(-L, 1, dtype=np.int64)  # w in [adj-L, adj]
        wset = None  # windows satisfied by EVERY member slot j >= 1
        for dr, adj in members:
            ws = ((adj + OFF)[:, None] + offs[None, :]).ravel()
            doc_rep = np.repeat(dr, offs.size)
            kj = np.unique((doc_rep << np.int64(32)) | ws)
            wset = kj if wset is None else np.intersect1d(wset, kj)
            if wset.size == 0:
                break
        if wset is None or wset.size == 0:
            continue
        # anchor matches at L iff some satisfied window starts in
        # [a-L, a] (that window then contains the anchor and one
        # position of every member); the packed-key subtraction never
        # underflows the doc bits because a - L >= OFF - (len-1) - L
        # >= 1
        pa = a_keys[pending]
        lo = np.searchsorted(wset, pa - L, side="left")
        safe = np.minimum(lo, wset.size - 1)
        hit_a = (lo < wset.size) & (wset[safe] <= pa)
        if rep and hit_a.any():
            # repeated-term phrase: the window intersection lets one
            # physical position serve two slots of the repeated term,
            # so it is only a necessary condition — re-verify each
            # surviving anchor with the injective greedy assignment AT
            # THIS window length (an anchor failing injectivity at L
            # may still match at a larger L and stays pending).
            if posmap is None:
                posmap = {}
                for t in dict.fromkeys(terms):
                    docs_t, tfs_t, _, pos_t = datas[t]
                    m = np.isin(docs_t, cand)
                    tok_m = np.repeat(m, tfs_t)
                    dt = np.repeat(docs_t, tfs_t)[tok_m]
                    pt = pos_t[tok_m]
                    starts = np.searchsorted(dt, cand, side="left")
                    ends = np.searchsorted(dt, cand, side="right")
                    posmap[t] = {
                        int(sd): pt[s0:s1].tolist()
                        for sd, s0, s1 in zip(
                            cand.tolist(), starts.tolist(), ends.tolist()
                        )
                        if s1 > s0
                    }
            cand_keys = pa[hit_a]
            ok = np.fromiter(
                (
                    _sloppy_anchor_ok(
                        terms,
                        {
                            t: posmap[t].get(int(cand[key >> 32]), [])
                            for t in dict.fromkeys(terms)
                        },
                        int(key & mask32) - int(OFF),
                        L,
                    )
                    for key in cand_keys.tolist()
                ),
                dtype=bool,
                count=cand_keys.size,
            )
            hit_idx = np.nonzero(hit_a)[0]
            hit_a[hit_idx[~ok]] = False
        idx_pending = np.nonzero(pending)[0]
        matched_idx = idx_pending[hit_a]
        weights[matched_idx] = 1.0 / (L + 1)
        pending[matched_idx] = False
    matched = weights > 0
    if not matched.any():
        return np.empty(0, np.int64), np.empty(0, np.float64)
    didx = (a_keys[matched] >> np.int64(32)).astype(np.int64)
    ptf = np.bincount(didx, weights=weights[matched], minlength=cand.size)
    hit = ptf > 0
    return cand[hit], ptf[hit]


def _make_shard_scorer(
    field_stats: Dict[str, Tuple[float, float]],  # field → (n_docs, avgdl)
    scoring_terms: Tuple[str, ...],
    must_terms: Tuple[str, ...],
    not_terms: Tuple[str, ...],
    k: int,
    k1: float,
    b: float,
    gate_mode: str = "none",
    phrase_specs: Tuple[Tuple[str, Tuple[str, ...], str, int], ...] = (),
    prefix_specs: Tuple[Tuple[str, str, str], ...] = (),
    termset_specs: Tuple[Tuple[str, Tuple[str, ...], str], ...] = (),
    any_groups: Tuple[Tuple[str, ...], ...] = (),
    prune_min_blocks: Optional[int] = None,
    conj_restrict: Optional[bool] = None,
    docid_id_order: bool = False,
    bool_group_specs: Tuple[Tuple[str, Tuple, Tuple, Tuple], ...] = (),
    per_shard_stats: bool = False,
    df_map: Optional[Dict[Tuple[str, str], float]] = None,
):
    """idf is derived in-task from ``df_map`` (the driver-read term
    map, see scan_blocks), or from the scan's ``df`` column when
    ``df_map`` is None.

    ``per_shard_stats`` (round 5 — reference numNodes>1 parity on the
    FAST path): ``field_stats`` values are {shard_id: (n_docs, avgdl)}
    instead of (n_docs, avgdl), and the ``df`` column is already
    per-shard — every shard then scores like an independent index. All
    pruning stays lossless because every bound this scorer computes is
    already shard-local; only the (N, avgdl, df) inputs change.

    ``gate_mode`` selects how the cogrouped gate docids apply:
    'allow' — only gate members may score (filtered search: Lucene's
    Occur.FILTER in the collector); 'deny' — gate members are excluded
    (tombstones); 'none' — ungated (plain groupBy, no cogroup).
    Gating only removes docs, so block-max pruning stays lossless.

    ``phrase_specs``: (key, terms, kind in should|must|not, slop) per
    phrase clause (slop=0 exact, slop>0 NEAR — see _phrase_match). Phrases are scored exactly (positions decoded in-task,
    occurrence-key intersection). SHOULD-kind extras keep block-max
    pruning ON: a phrase clause's per-block upper bound is derived from
    its rarest member term's blocks (phrase_tf <= member tf, so
    idf_sum · tfnorm(member max_tf, min_dl) bounds the phrase score,
    and every phrase-matching doc lies in that member's postings — the
    member's block intervals cover the clause), and prefix/fuzzy
    clauses bound at their constant 1.0. Extras then decode only the
    blocks overlapping the survivor ranges — a rare-term + hot-phrase
    query skips the phrase postings outside the candidate ranges
    entirely. MUST/NOT extras disable θ0 pruning (an unverified MUST
    phrase would inflate the phase-1 threshold; an unapplied NOT would
    let an excluded doc seed it — both break the θ0 lower-bound proof),
    but MUST clauses impose an independent lossless *conjunctive* block
    restriction (round 4): every decode is limited to blocks
    overlapping the intersection of the MUST clauses' interval unions
    (a doc outside it fails a MUST clause and is gated out regardless
    of truncated evidence), so ``+"hot hot"`` no longer decodes the hot
    members' full doc postings.

    ``prefix_specs``: (key, stem, kind) per ``foo*`` clause — Lucene
    PrefixQuery with the default CONSTANT_SCORE rewrite: a matching doc
    contributes 1.0 per field-clause.

    ``termset_specs``: (key, expanded-terms, kind) — pre-expanded
    multi-term clauses (fuzzy ``foo~N`` after its dictionary walk),
    scored constant 1.0 per matching field-clause like prefixes.

    ``any_groups``: ``+(a b)`` gates — a doc must match >= 1 member of
    each group (members also score as ordinary SHOULD clauses). Safe
    under block pruning: both phases select, for EVERY clause, all
    blocks overlapping the candidate doc ranges, so membership evidence
    is complete for every emitted doc; gating only removes docs.

    ``bool_group_specs`` (round 5 — group-local +/- first-class in the
    WAND scorer): one entry per nested BooleanQuery group ``(+a -b c)``
    as (gkind, should, must, not_) where gkind is the group's own sign
    ('should'|'must'|'not') and each member is ("t", term) for a term
    clause or ("k", key) referencing a phrase/prefix/fuzzy spec carried
    with kind "group" (such specs contribute neither to the main score
    sum nor to n_must — their docs + per-doc parts are tracked
    separately). Semantics = Lucene's nested BooleanQuery
    (RetrievalWorker.java:339 via SimpleQueryParser): the group matches
    a doc iff all must members match, no not_ member matches, and
    (when must is empty) >= 1 should member matches; the sum of the
    matching must+should member scores joins the doc's score ONLY when
    the group matches; a 'must' group gates, a 'not' group excludes,
    and a doc matching only a should/must group still matches the
    query. Conditional contributions break the monotone upper-bound
    math, so θ0 pruning is disabled for these queries (the conjunctive
    MUST restriction and the per-shard top-k cut still apply) — same
    exhaustive-scoring cost as the declarative path but distributed
    per shard with no groupBy shuffle, and batchable.
    """
    if prune_min_blocks is None:
        prune_min_blocks = _prune_min_blocks()  # driver-resolved
    if conj_restrict is None:
        conj_restrict = _conj_enabled()
    scoring_set = set(scoring_terms)
    # nested-boolean-group TERM members: decoded like clauses but their
    # contributions are tracked per term (conditional add), not summed
    bg_term_set = {
        m[1]
        for _, g_sh, g_mu, g_no in bool_group_specs
        for m in g_sh + g_mu + g_no
        if m[0] == "t"
    }
    # (key, kind) of every extra clause — uniform across the 3-tuple
    # prefix/termset specs and 4-tuple phrase specs
    extra_kinds = (
        tuple((k, kind) for k, _, kind in prefix_specs)
        + tuple((k, kind) for k, _, kind in termset_specs)
        + tuple((k, kind) for k, _, kind, _ in phrase_specs)
    )
    n_must = len(set(must_terms)) + len(
        {key for key, kind in extra_kinds if kind == "must"}
    )
    not_set = set(not_terms)
    _EMPTY = np.empty(0, dtype=np.int64)

    def score_shard(key, pdf, gate_docs=_EMPTY):
        shard_id = int(key[0])

        def fs(fld: str) -> Tuple[float, float]:
            # per-shard-stats mode: THIS shard's (N, avgdl)
            v = field_stats[fld]
            return v[shard_id] if per_shard_stats else v

        if gate_mode == "allow" and gate_docs.size == 0:
            return pd.DataFrame({"shard_id": [], "__docid": [], "score": []}).astype(
                {"shard_id": np.int32, "__docid": np.int64, "score": np.float64}
            )

        # ---- split rows into scoring clauses and exclusion terms -------
        is_not = pdf["term"].isin(not_set).to_numpy() if len(pdf) else np.zeros(0, bool)
        excl = np.empty(0, dtype=np.int64)
        if is_not.any():
            nb = pdf[is_not]
            docs, _, _, _ = decode_rows(
                nb["doc_gaps"], nb["tfs"], nb["dls"], nb["first_doc"]
            )
            excl = np.unique(docs)

        cl: List[dict] = []
        # only the query's scoring terms (and nested-group term members)
        # become clauses (phrase-member terms ride along in pdf solely
        # for position verification)
        sc_pdf = pdf[pdf["term"].isin(scoring_set | bg_term_set)]
        for (fld, term), g in sc_pdf.groupby(["field", "term"], sort=False):
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
            max_tf = g["max_tf"].to_numpy(np.float64)
            min_dl = g["min_dl"].to_numpy(np.float64)
            ub = idf * (max_tf / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl)))
            cl.append(
                dict(
                    field=fld, term=term, idf=idf, avgdl=avgdl,
                    firsts=g["first_doc"].to_numpy(np.int64),
                    lasts=g["last_doc"].to_numpy(np.int64),
                    ub=ub,
                    gaps=g["doc_gaps"].tolist(),
                    tfs=g["tfs"].tolist(),
                    dls=g["dls"].tolist(),
                    top=term in scoring_set,
                    bg=term in bg_term_set,
                )
            )
        if not cl and not extra_kinds:
            return pd.DataFrame({"shard_id": [], "__docid": [], "score": []}).astype(
                {"shard_id": np.int32, "__docid": np.int64, "score": np.float64}
            )

        # ---- conjunctive MUST restriction (round 4) -------------------
        # Any output doc must match EVERY MUST clause, so every decode
        # can be restricted to blocks overlapping the INTERSECTION of
        # the MUST clauses' interval unions. Lossless independently of
        # the θ0 proof: a doc outside the intersection fails some MUST
        # clause (it lies in none of that clause's postings blocks for
        # any field), so the gate excludes it — the only docs that lose
        # score/membership evidence are docs the gate drops anyway.
        # This is what makes `+"hot hot"` cheap: the doc-level decode of
        # the hot members collapses to the members' block intersection
        # (r3 only restricted the POSITION decode).
        def _union(blks):
            if not blks:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
            return _merge_intervals(
                np.concatenate([f for f, _ in blks]),
                np.concatenate([l for _, l in blks]),
            )

        shard_fields = sorted(set(pdf["field"]) & set(field_stats))
        restrictions = []  # one (rf, rl) interval union per MUST clause
        for t in set(must_terms) if conj_restrict else ():
            restrictions.append(
                _union([(c["firsts"], c["lasts"]) for c in cl if c["term"] == t])
            )
        for pkey, matcher, kind in (
            [(pk, ("prefix", st), kd) for pk, st, kd in prefix_specs]
            + [(pk, ("set", ts), kd) for pk, ts, kd in termset_specs]
        ):
            if kind != "must" or not conj_restrict:
                continue
            blks = []
            for fld_e in shard_fields:
                fp_e = pdf[pdf["field"] == fld_e]
                g = (
                    fp_e[fp_e["term"].str.startswith(matcher[1])]
                    if matcher[0] == "prefix"
                    else fp_e[fp_e["term"].isin(set(matcher[1]))]
                )
                if len(g):
                    blks.append(
                        (
                            g["first_doc"].to_numpy(np.int64),
                            g["last_doc"].to_numpy(np.int64),
                        )
                    )
            restrictions.append(_union(blks))
        for pkey, p_terms, kind, slop in phrase_specs:
            if kind != "must" or not conj_restrict:
                continue
            # a phrase doc lies in EVERY member's intervals (per field);
            # clause restriction = union over fields of the per-field
            # member-interval intersection
            per_field = []
            for fld in shard_fields:
                fp = pdf[pdf["field"] == fld]
                inter = None
                for t in dict.fromkeys(p_terms):
                    g = fp[fp["term"] == t]
                    if not len(g):
                        inter = (
                            np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.int64),
                        )
                        break
                    u = _merge_intervals(
                        g["first_doc"].to_numpy(np.int64),
                        g["last_doc"].to_numpy(np.int64),
                    )
                    inter = (
                        u if inter is None else _intersect_intervals(*inter, *u)
                    )
                    if inter[0].size == 0:
                        break
                if inter is not None and inter[0].size:
                    per_field.append(inter)
            restrictions.append(_union([(f, l) for f, l in per_field]))
        conj = None
        if restrictions:
            conj = restrictions[0]
            for r in restrictions[1:]:
                conj = _intersect_intervals(*conj, *r)
            if conj[0].size == 0:
                # some MUST clause matches nothing in this shard
                return pd.DataFrame(
                    {"shard_id": [], "__docid": [], "score": []}
                ).astype(
                    {"shard_id": np.int32, "__docid": np.int64,
                     "score": np.float64}
                )

        def merge_extras(uniq, scores, must_cnt, ranges=None):
            """Fold phrase- and prefix-clause matches into the
            term-level result: phrase scores add Σidf·tfnorm(phrase_tf)
            per field (Lucene PhraseWeight: idf summed over member term
            stats); prefix clauses add constant 1.0 per matching
            field-clause (Lucene CONSTANT_SCORE rewrite). MUST clauses
            raise must_cnt once per clause, NOT clauses extend the
            exclusion set.

            ``ranges`` = (rf, rl) survivor doc ranges from block-max
            pruning: extras then decode ONLY the blocks overlapping
            them (lossless: every doc that can appear in the output
            lies in the ranges, and each of its blocks overlaps)."""
            from byzer_retrieval_spark.operators.decode import (
                absolute_positions,
                decode_position_deltas,
            )

            def in_ranges(g: pd.DataFrame) -> pd.DataFrame:
                if ranges is None or not len(g):
                    return g
                return g[
                    _overlap_mask(
                        g["first_doc"].to_numpy(np.int64),
                        g["last_doc"].to_numpy(np.int64),
                        ranges[0],
                        ranges[1],
                    )
                ]

            nonlocal excl
            needed = {t for _, terms, _, _ in phrase_specs for t in terms}
            per_key_docs: Dict[Tuple[str, str], List[np.ndarray]] = {}
            add_docs: List[np.ndarray] = []
            add_parts: List[np.ndarray] = []
            # kind == "group" extras (nested-boolean-group members):
            # their docs extend uniq (zero main score) and their parts
            # are returned per clause key for the conditional add
            key_contrib: Dict[str, List[Tuple[np.ndarray, np.ndarray]]] = {}
            bg_docs: List[np.ndarray] = []
            for fld in sorted(set(pdf["field"]) & set(field_stats)):
                fp = pdf[pdf["field"] == fld]
                # pass 1 for phrase members: CHEAP doc-level decode only
                # (no positions) — the expensive per-occurrence position
                # decode below is restricted to blocks overlapping the
                # members' doc intersection, so a phrase with one rarer
                # member skips the hot members' position payload almost
                # entirely (positions cost ~tf× the doc-level decode)
                doc_data: Dict[str, tuple] = {}
                dfs: Dict[str, float] = {}
                for t in needed & set(fp["term"]):
                    g = in_ranges(fp[fp["term"] == t]).sort_values("first_doc")
                    if not len(g):
                        continue
                    docs, tfs, dls, _ = decode_rows(
                        g["doc_gaps"], g["tfs"], g["dls"], g["first_doc"]
                    )
                    doc_data[t] = (g, docs, tfs, dls)
                    dfs[t] = (
                        df_map[(fld, t)]
                        if df_map is not None
                        else float(g["df"].iloc[0])
                    )

                def phrase_datas(terms: Tuple[str, ...]):
                    """Per-member (docs, tfs, dls, pos). When the
                    member-doc intersection is SELECTIVE (< half the
                    rarest member), positions decode only for blocks
                    overlapping it — a phrase with one rarer member
                    skips the hot members' position payload. Otherwise
                    (hot-hot phrases) the pass-1 doc arrays are reused
                    and positions decode for every block — identical
                    cost to the unrestricted path. None when no doc
                    holds all members."""
                    cand = None
                    for t in dict.fromkeys(terms):
                        d = doc_data[t][1]
                        cand = d if cand is None else cand[np.isin(cand, d)]
                        if cand.size == 0:
                            return None
                    min_docs = min(doc_data[t][1].size for t in dict.fromkeys(terms))
                    out: Dict[str, tuple] = {}
                    if cand.size * 2 >= min_docs:
                        for t in dict.fromkeys(terms):
                            g, docs, tfs, dls = doc_data[t]
                            pos = absolute_positions(
                                decode_position_deltas(g["positions"]), tfs
                            )
                            out[t] = (docs, tfs, dls, pos)
                        return out
                    crf, crl = _point_ranges(cand)
                    for t in dict.fromkeys(terms):
                        g, _, _, _ = doc_data[t]
                        keep = _overlap_mask(
                            g["first_doc"].to_numpy(np.int64),
                            g["last_doc"].to_numpy(np.int64),
                            crf,
                            crl,
                        )
                        g2 = g[keep]
                        if not len(g2):
                            return None
                        docs2, tfs2, dls2, _ = decode_rows(
                            g2["doc_gaps"], g2["tfs"], g2["dls"], g2["first_doc"]
                        )
                        pos2 = absolute_positions(
                            decode_position_deltas(g2["positions"]), tfs2
                        )
                        out[t] = (docs2, tfs2, dls2, pos2)
                    return out

                n_docs, avgdl = fs(fld)
                for pkey, matcher, kind in (
                    [(pk, ("prefix", st), kd) for pk, st, kd in prefix_specs]
                    + [(pk, ("set", ts), kd) for pk, ts, kd in termset_specs]
                ):
                    g = in_ranges(
                        fp[fp["term"].str.startswith(matcher[1])]
                        if matcher[0] == "prefix"
                        else fp[fp["term"].isin(set(matcher[1]))]
                    )
                    if not len(g):
                        continue
                    docs, _, _, _ = decode_rows(
                        g["doc_gaps"], g["tfs"], g["dls"], g["first_doc"]
                    )
                    pdocs = np.unique(docs)
                    if pdocs.size == 0:
                        continue
                    per_key_docs.setdefault((pkey, kind), []).append(pdocs)
                    if kind in ("should", "must"):
                        add_docs.append(pdocs)
                        add_parts.append(np.full(pdocs.size, 1.0))
                    elif kind == "group":
                        bg_docs.append(pdocs)
                        key_contrib.setdefault(pkey, []).append(
                            (pdocs, np.full(pdocs.size, 1.0))
                        )
                for pkey, terms, kind, slop in phrase_specs:
                    if any(t not in doc_data for t in terms):
                        continue
                    datas = phrase_datas(terms)
                    if datas is None:
                        continue
                    pdocs, ptf = _phrase_match(datas, terms, slop)
                    if pdocs.size == 0:
                        continue
                    per_key_docs.setdefault((pkey, kind), []).append(pdocs)
                    if kind in ("should", "must", "group"):
                        idf_sum = sum(
                            math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                            for t in terms
                        )
                        d0 = datas[terms[0]]
                        dl = d0[2][np.searchsorted(d0[0], pdocs)].astype(np.float64)
                        ptff = ptf.astype(np.float64)
                        parts = idf_sum * (
                            ptff / (ptff + k1 * (1.0 - b + b * dl / avgdl))
                        )
                        if kind == "group":
                            bg_docs.append(pdocs)
                            key_contrib.setdefault(pkey, []).append(
                                (pdocs, parts)
                            )
                        else:
                            add_docs.append(pdocs)
                            add_parts.append(parts)
            not_docs = [
                d
                for (pkey, kind), ds in per_key_docs.items()
                if kind == "not"
                for d in ds
            ]
            if not_docs:
                excl = np.union1d(excl, np.concatenate(not_docs))
            new_docs = add_docs + bg_docs
            uniq2 = (
                np.union1d(uniq, np.concatenate(new_docs)) if new_docs else uniq
            )
            scores2 = np.zeros(uniq2.size)
            must2 = np.zeros(uniq2.size, dtype=np.int64)
            if uniq.size:
                idx = np.searchsorted(uniq2, uniq)
                scores2[idx] = scores
                must2[idx] = must_cnt
            for d, p in zip(add_docs, add_parts):
                scores2[np.searchsorted(uniq2, d)] += p
            for (pkey, kind), ds in per_key_docs.items():
                if kind != "must":
                    continue
                u = np.unique(np.concatenate(ds))
                must2[np.searchsorted(uniq2, u)] += 1
            # per-clause matched-doc sets for +(...) group gates whose
            # members are extra clauses
            key_docs = {
                pkey: np.unique(np.concatenate(ds))
                for (pkey, kind), ds in per_key_docs.items()
                if kind != "not"
            }
            extra_top = (
                np.unique(np.concatenate(add_docs)) if add_docs else _EMPTY
            )
            return uniq2, scores2, must2, key_docs, key_contrib, extra_top

        # group members are term strings or extra-clause keys ("__ps0"
        # etc.); term hits come from exact(), key hits from
        # merge_extras' per-clause doc sets
        tracked = set(must_terms) | {m for g in any_groups for m in g}

        def exact(selections: List[np.ndarray]):
            """Exact scores over selected blocks; returns (docs, scores,
            must_cnt, hit_of, bg_contrib, top_hits) on the unique doc
            set — hit_of maps each tracked term to its matched doc ids;
            bg_contrib maps each nested-group term member to its
            per-(field-clause) (docs, parts) for the conditional add;
            top_hits = docs matched by >= 1 top-level scoring clause
            (group-member-only docs enter uniq with zero score)."""
            doc_parts, score_parts = [], []
            top_docs: List[np.ndarray] = []
            term_docs: Dict[str, List[np.ndarray]] = {}
            bg_contrib: Dict[str, List[Tuple[np.ndarray, np.ndarray]]] = {}
            for c, sel in zip(cl, selections):
                if sel.size == 0:
                    continue
                docs, tfs, dls, _ = decode_rows(
                    [c["gaps"][i] for i in sel],
                    [c["tfs"][i] for i in sel],
                    [c["dls"][i] for i in sel],
                    c["firsts"][sel],
                )
                part = c["idf"] * (
                    tfs / (tfs + k1 * (1.0 - b + b * dls / c["avgdl"]))
                )
                doc_parts.append(docs)
                if c["top"]:
                    score_parts.append(part)
                    if bool_group_specs:
                        top_docs.append(docs)
                else:
                    # group-member-only clause: in uniq, zero main score
                    score_parts.append(np.zeros(docs.size))
                if c["bg"]:
                    bg_contrib.setdefault(c["term"], []).append((docs, part))
                if c["term"] in tracked:
                    term_docs.setdefault(c["term"], []).append(docs)
            if not doc_parts:
                z = np.empty(0, dtype=np.int64)
                return z, np.empty(0), np.empty(0, dtype=np.int64), {}, {}, z
            all_docs = np.concatenate(doc_parts)
            all_parts = np.concatenate(score_parts)
            uniq, inv = np.unique(all_docs, return_inverse=True)
            scores = np.bincount(inv, weights=all_parts, minlength=uniq.size)
            hit_of = {
                t: np.unique(np.concatenate(arrs)) for t, arrs in term_docs.items()
            }
            must_cnt = np.zeros(uniq.size, dtype=np.int64)
            for t in set(must_terms):
                if t in hit_of:
                    must_cnt += np.isin(uniq, hit_of[t])
            top_hits = (
                np.unique(np.concatenate(top_docs)) if top_docs else _EMPTY
            )
            return uniq, scores, must_cnt, hit_of, bg_contrib, top_hits

        _NO_KEYS: Dict[str, np.ndarray] = {}

        def gate(uniq, scores, must_cnt, hit_of, key_docs=_NO_KEYS):
            mask = must_cnt == n_must
            for g in any_groups:
                # must-ANY: union member hit sets (missing member = no
                # hits in this shard); an all-miss group gates out every
                # doc, including ones merge_extras folded in
                parts = [hit_of[m] for m in g if m in hit_of] + [
                    key_docs[m] for m in g if m in key_docs
                ]
                hits = (
                    np.unique(np.concatenate(parts))
                    if parts
                    else np.empty(0, dtype=np.int64)
                )
                mask &= np.isin(uniq, hits)
            if excl.size:
                mask &= ~np.isin(uniq, excl)
            if gate_mode == "allow":
                mask &= np.isin(uniq, gate_docs)
            elif gate_mode == "deny" and gate_docs.size:
                mask &= ~np.isin(uniq, gate_docs)
            return mask

        def bool_group_adjust(
            uniq, scores, bg_contrib, key_docs, key_contrib, top_hits
        ):
            """Conditional nested-BooleanQuery evaluation (round 5):
            returns (adjusted scores, gate mask). Mirrors the
            declarative scorer's per-group aggregates exactly — one
            masked score-sum per group over the tracked member
            contributions."""

            def mem_docs(m):
                if m[0] == "t":
                    lst = bg_contrib.get(m[1], [])
                    return (
                        np.unique(np.concatenate([d for d, _ in lst]))
                        if lst
                        else _EMPTY
                    )
                return key_docs.get(m[1], _EMPTY)

            def mem_parts(m):
                arr = np.zeros(uniq.size)
                lst = (
                    bg_contrib.get(m[1], [])
                    if m[0] == "t"
                    else key_contrib.get(m[1], [])
                )
                for d, p in lst:
                    arr[np.searchsorted(uniq, d)] += p
                return arr

            add = np.zeros(uniq.size)
            matched_pos = np.zeros(uniq.size, dtype=bool)
            gmask = np.ones(uniq.size, dtype=bool)
            for gkind, g_sh, g_mu, g_no in bool_group_specs:
                if g_mu:
                    m = np.ones(uniq.size, dtype=bool)
                    for mem in dict.fromkeys(g_mu):
                        m &= np.isin(uniq, mem_docs(mem))
                else:
                    m = np.zeros(uniq.size, dtype=bool)
                    for mem in dict.fromkeys(g_sh):
                        m |= np.isin(uniq, mem_docs(mem))
                for mem in dict.fromkeys(g_no):
                    m &= ~np.isin(uniq, mem_docs(mem))
                if gkind == "not":
                    gmask &= ~m
                    continue
                # the group's score = Σ matching must+should member
                # scores, added ONLY for docs the group matches
                gsc = np.zeros(uniq.size)
                for mem in dict.fromkeys(g_mu + g_sh):
                    gsc += mem_parts(mem)
                add += np.where(m, gsc, 0.0)
                matched_pos |= m
                if gkind == "must":
                    gmask &= m
            # a doc must match >= 1 top-level scoring clause OR a
            # matched positive group (Lucene: a BooleanQuery with only
            # non-matching optional clauses matches nothing)
            gmask &= np.isin(uniq, top_hits) | matched_pos
            return scores + add, gmask

        total_blocks = sum(c["firsts"].size for c in cl)
        if conj is None:
            all_sel = [np.arange(c["firsts"].size) for c in cl]
        else:
            all_sel = [
                np.nonzero(_overlap_mask(c["firsts"], c["lasts"], *conj))[0]
                for c in cl
            ]

        # SHOULD-kind extras join pruning as pseudo-clauses with block
        # intervals + upper bounds: (firsts, lasts, ub_per_block, cmax)
        prunable_extras = bool(extra_kinds) and all(
            kind == "should" for _, kind in extra_kinds
        )
        use_prune = (
            total_blocks > prune_min_blocks
            and bool(cl)
            and (not extra_kinds or prunable_extras)
            # conditional group contributions break the monotone
            # upper-bound proof — θ0 pruning stays off for these
            and not bool_group_specs
        )
        extra_cl: List[tuple] = []
        if use_prune and extra_kinds:
            # ONE pruning pseudo-clause PER FIELD per spec — matching
            # how scoring works (a prefix/fuzzy clause contributes 1.0
            # per matching FIELD-clause, and term clauses in ``cl`` are
            # per-(field, term) too); a single per-spec entry would
            # understate the clause max on multi-field queries and
            # prune illegally
            for fld_e in sorted(set(pdf["field"]) & set(field_stats)):
                fp_e = pdf[pdf["field"] == fld_e]
                for pkey, matcher, kind in (
                    [(pk, ("prefix", st), kd) for pk, st, kd in prefix_specs]
                    + [(pk, ("set", ts), kd) for pk, ts, kd in termset_specs]
                ):
                    g = (
                        fp_e[fp_e["term"].str.startswith(matcher[1])]
                        if matcher[0] == "prefix"
                        else fp_e[fp_e["term"].isin(set(matcher[1]))]
                    )
                    if len(g):
                        extra_cl.append(
                            (
                                g["first_doc"].to_numpy(np.int64),
                                g["last_doc"].to_numpy(np.int64),
                                np.full(len(g), 1.0),
                                1.0,
                            )
                        )
            for pkey, terms, kind, slop in phrase_specs:
                # per field: the clause's intervals/bounds come from one
                # member term (every phrase doc lies in every member's
                # postings, so any member's intervals cover the clause).
                # slop=0 uses the RAREST member (each exact occurrence
                # consumes a distinct position of EVERY member, so
                # phrase_tf <= member tf for all members); slop>0 must
                # use terms[0] (one position of a later member can serve
                # several p0 anchors, but p0 anchors are distinct
                # positions of terms[0], so phrase_tf <= tf(terms[0])).
                for fld in sorted(set(pdf["field"]) & set(field_stats)):
                    fp = pdf[pdf["field"] == fld]
                    n_docs, avgdl = fs(fld)
                    dfs: Dict[str, float] = {}
                    for t in dict.fromkeys(terms):
                        tg = fp[fp["term"] == t]
                        if not len(tg):
                            break
                        dfs[t] = (
                            df_map[(fld, t)]
                            if df_map is not None
                            else float(tg["df"].iloc[0])
                        )
                    else:
                        idf_sum = sum(
                            math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                            for t in terms
                        )
                        bound_term = (
                            min(dict.fromkeys(terms), key=lambda t: dfs[t])
                            if slop == 0
                            else terms[0]
                        )
                        g = fp[fp["term"] == bound_term]
                        max_tf = g["max_tf"].to_numpy(np.float64)
                        min_dl = g["min_dl"].to_numpy(np.float64)
                        ub = idf_sum * (
                            max_tf
                            / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))
                        )
                        extra_cl.append(
                            (
                                g["first_doc"].to_numpy(np.int64),
                                g["last_doc"].to_numpy(np.int64),
                                ub,
                                float(ub.max()),
                            )
                        )

        if use_prune:
            # ---- phase 0: bounds --------------------------------------
            term_max = np.array([float(c["ub"].max()) for c in cl])
            extra_total = float(sum(cm for *_, cm in extra_cl))
            # Σ other clauses' max ub (extras included)
            others = term_max.sum() + extra_total - term_max
            range_ubs = [c["ub"] + others[i] for i, c in enumerate(cl)]

            # ---- phase 1: seed threshold from the best few blocks -----
            flat_ub = np.concatenate(range_ubs)
            flat_ci = np.concatenate(
                [np.full(c["firsts"].size, i) for i, c in enumerate(cl)]
            )
            flat_bi = np.concatenate([np.arange(c["firsts"].size) for c in cl])
            m = min(flat_ub.size, max(4, -(-4 * k // 128)))
            top_idx = np.argpartition(-flat_ub, m - 1)[:m]
            sf = np.concatenate(
                [cl[ci]["firsts"][bi : bi + 1] for ci, bi in zip(flat_ci[top_idx], flat_bi[top_idx])]
            )
            sl = np.concatenate(
                [cl[ci]["lasts"][bi : bi + 1] for ci, bi in zip(flat_ci[top_idx], flat_bi[top_idx])]
            )
            rf, rl = _merge_intervals(sf, sl)
            if conj is not None:
                rf, rl = _intersect_intervals(rf, rl, *conj)
            sel1 = [
                np.nonzero(_overlap_mask(c["firsts"], c["lasts"], rf, rl))[0]
                for c in cl
            ]
            u1, s1, mc1, h1, _, _ = exact(sel1)
            if u1.size:
                m1 = gate(u1, s1, mc1, h1) & _in_intervals(u1, rf, rl)
                vals = s1[m1]
            else:
                vals = np.empty(0)
            if vals.size >= k:
                theta0 = np.partition(vals, vals.size - k)[vals.size - k]
            else:
                theta0 = -math.inf

            # ---- phase 2: skip blocks that provably can't reach θ0 ----
            if theta0 > -math.inf:
                surv_f, surv_l = [], []
                for i, c in enumerate(cl):
                    keep = range_ubs[i] >= theta0
                    if keep.any():
                        surv_f.append(c["firsts"][keep])
                        surv_l.append(c["lasts"][keep])
                for ef, el, eub, ecmax in extra_cl:
                    keep = (
                        eub + (term_max.sum() + extra_total - ecmax)
                    ) >= theta0
                    if keep.any():
                        surv_f.append(ef[keep])
                        surv_l.append(el[keep])
                if surv_f:
                    rf2, rl2 = _merge_intervals(
                        np.concatenate(surv_f), np.concatenate(surv_l)
                    )
                    if conj is not None:
                        rf2, rl2 = _intersect_intervals(rf2, rl2, *conj)
                else:
                    rf2 = rl2 = np.empty(0, dtype=np.int64)
                all_sel = [
                    np.nonzero(_overlap_mask(c["firsts"], c["lasts"], rf2, rl2))[0]
                    for c in cl
                ]
                uniq, scores, must_cnt, hit_of, _, _ = exact(all_sel)
                key_docs = {}
                if extra_kinds:
                    # extras decode ONLY blocks overlapping the
                    # survivor ranges (the phrase-postings saving)
                    uniq, scores, must_cnt, key_docs, _, _ = merge_extras(
                        uniq, scores, must_cnt, ranges=(rf2, rl2)
                    )
                if uniq.size:
                    mask = gate(uniq, scores, must_cnt, hit_of, key_docs) & _in_intervals(uniq, rf2, rl2)
                else:
                    mask = np.zeros(0, dtype=bool)
            else:
                uniq, scores, must_cnt, hit_of, _, _ = exact(all_sel)
                key_docs = {}
                if extra_kinds:
                    uniq, scores, must_cnt, key_docs, _, _ = merge_extras(
                        uniq, scores, must_cnt, ranges=conj
                    )
                mask = gate(uniq, scores, must_cnt, hit_of, key_docs) if uniq.size else np.zeros(0, dtype=bool)
        else:
            uniq, scores, must_cnt, hit_of, bg_contrib, top_hits = exact(all_sel)
            key_docs = {}
            key_contrib: Dict[str, list] = {}
            if extra_kinds:
                # extras (incl. MUST/NOT phrases) decode only the blocks
                # overlapping the conjunctive MUST ranges when present
                (
                    uniq, scores, must_cnt, key_docs, key_contrib, extra_top
                ) = merge_extras(uniq, scores, must_cnt, ranges=conj)
                if bool_group_specs and extra_top.size:
                    top_hits = np.union1d(top_hits, extra_top)
            mask = gate(uniq, scores, must_cnt, hit_of, key_docs) if uniq.size else np.zeros(0, dtype=bool)
            if bool_group_specs and uniq.size:
                scores, gmask = bool_group_adjust(
                    uniq, scores, bg_contrib, key_docs, key_contrib, top_hits
                )
                mask &= gmask

        docs_f, scores_f = uniq[mask], scores[mask]
        if docs_f.size > k:
            part = np.argpartition(-scores_f, k - 1)[:k]
            kth = scores_f[part].min()
            if docid_id_order:
                # fresh build: __docid asc == _id asc within the shard,
                # so top-k by (score desc, __docid asc) is EXACTLY the
                # shard's possible global winners — constant-score
                # clauses (prefix/fuzzy) no longer ship thousands of
                # boundary-tied docs per shard (round-4 scale fix).
                keep = np.nonzero(scores_f >= kth)[0]
                order = np.lexsort((docs_f[keep], -scores_f[keep]))
                sel = keep[order[:k]]
                docs_f, scores_f = docs_f[sel], scores_f[sel]
            else:
                # bounded top-k: keep EVERY doc whose score ties or
                # beats the k-th best. After an upsert doc_id order !=
                # _id order (delta ids above the shard high-water
                # mark), so equal-score ties at the k boundary must be
                # settled by a (score desc, _id asc) cut on the docs'
                # _id (_winner_rows), not here.
                keep = scores_f >= kth
                docs_f, scores_f = docs_f[keep], scores_f[keep]
        order = np.lexsort((docs_f, -scores_f))
        docs_f, scores_f = docs_f[order], scores_f[order]
        return pd.DataFrame(
            {
                "shard_id": np.full(docs_f.size, shard_id, dtype=np.int32),
                "__docid": docs_f,
                "score": scores_f,
            }
        )

    return score_shard


def _shard_stream_runner(task):
    """mapInArrow wrapper running a per-shard task ``task(key, table)``
    (Arrow in, Arrow out) straight off the partition-pruned postings
    scan — ZERO exchanges (round 6, guide §2.4). The scan's rows arrive
    file-by-file; each contiguous run of one shard_id value is scored as
    its own group (the trailing run carries across Arrow batches).

    Correctness without the shard exchange: every doc's complete
    evidence (all its postings for every candidate term, including
    positions) lives in ONE parquet file — builds write one file set
    per shard and mutations append whole-doc deltas — and the caller
    pins ``spark.sql.files.maxPartitionBytes`` above the largest
    postings file so no file ever splits across tasks. A shard split
    across several groups (multi-file shards after upserts, or packing
    order) only partitions its DOCS across groups; per-group exact
    scoring + per-group top-k then emits a SUPERSET of the shard's
    possible global winners (global top-k ⊆ union of per-group top-k
    for any doc partition under one total order), so the task's own
    (score desc, _id asc) cut and the global top-k downstream settle
    the final ranking exactly. df/idf are global (the driver's term
    map, see scan_blocks), so partial groups score identically."""

    def gen(batches):
        pa.set_cpu_count(1)
        carry = None

        def run(tbl):
            out = task((tbl.column("shard_id")[0],), tbl)
            if out.num_rows:
                yield from out.to_batches()

        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl])
            tbl = tbl.combine_chunks()
            if tbl.num_rows == 0:
                carry = None
                continue
            shard = tbl.column("shard_id").to_numpy()
            neq = shard != shard[-1]
            tail_start = int(np.nonzero(neq)[0][-1]) + 1 if neq.any() else 0
            carry = tbl.slice(tail_start)
            if tail_start == 0:
                continue
            head = shard[:tail_start]
            change = np.nonzero(head[1:] != head[:-1])[0] + 1
            bounds = np.concatenate(([0], change, [tail_start]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                yield from run(tbl.slice(int(s), int(e - s)))
        if carry is not None and carry.num_rows:
            yield from run(carry)

    return gen


def _shard_task(score_shard, k, docs=None):
    """The one task body of the three scorer frames (stream, grouped
    ``per_shard_stats``, gate cogroup): ``task(key, blocks, gate)``
    scores a shard group's posting blocks (``gate``: its allow/deny
    ``__docid`` table, or None) and emits its winners (shard_id,
    __docid, score) or, with ``docs`` = (docs files by shard, their
    Arrow schema, the output Arrow schema), their rows (_winner_rows)."""

    def task(key, blocks, gate):
        pa.set_cpu_count(1)
        shard = key[0].as_py()
        gate = () if gate is None else (gate.column("__docid").to_numpy(),)
        win = score_shard((shard,), blocks.to_pandas(), *gate)
        if docs is None:
            return pa.Table.from_pandas(win, preserve_index=False)
        return _winner_rows(shard, win, k, *docs)

    return task


def _winner_rows(shard, win, k, files, file_schema, out_schema):
    """``_score`` plus the docs columns of a shard group's winners, read
    from the shard's own docs files with pyarrow: a ``__docid`` ``isin``
    plus the ids' min/max range, which prunes row groups (docs are
    sorted by ``__docid``). More than k winners means the scorer kept
    its boundary ties (``docid_id_order`` False after upserts): ``_id``
    is read alone and the group cut to k by (score desc, _id asc) before
    the rest is read. That is exact on partial shard groups too, since
    the global top-k lies in the union of the per-group top-k under one
    total order."""
    import pyarrow.dataset as ds

    docids, scores = win["__docid"].to_numpy(np.int64), win["score"].to_numpy()
    if not docids.size:
        return out_schema.empty_table()
    d = ds.dataset(files[shard], schema=file_schema, format="parquet")

    def read(cols):
        f = ds.field("__docid")
        hit = (f >= int(docids.min())) & (f <= int(docids.max())) & f.isin(docids)
        tbl = d.to_table(columns=cols, filter=hit, use_threads=False)
        order = np.argsort(docids)
        at = np.searchsorted(docids[order], tbl.column("__docid").to_numpy())
        return tbl.append_column("_score", pa.array(scores[order[at]]))

    if docids.size > k:
        ids = read(["__docid", "_id"]).sort_by(
            [("_score", "descending"), ("_id", "ascending")]
        ).slice(0, k)
        docids, scores = ids["__docid"].to_numpy(), ids["_score"].to_numpy()
    names = out_schema.names
    tbl = read(["__docid"] + [c for c in names if c not in ("_score", "shard_id", "__docid")])
    tbl = tbl.append_column("shard_id", pa.array(np.full(tbl.num_rows, shard, np.int32)))
    return tbl.select(names).cast(out_schema)


def scan_blocks(ctx: IndexContext, fields, terms, stems, cols):
    """The postings scan a keyword query — or a batch of them — scores,
    and where its df comes from: (blocks, df_map, field_stats).

    The term predicate (exact terms ``isin`` plus prefix ``startswith``
    stems) pushes down to the term-sorted postings row groups. With
    global stats df is the driver-read term map (``term_dfs``) captured
    into the scorer closure, so the scan is a plain select; rows reached
    only through a prefix stem have no entry and their constant-score
    clauses never read one. ``per_shard_stats`` indexes score each shard
    with its own df (reference numNodes>1 parity), summed per (field,
    term, shard) from the same scan: a window, or — when prefix stems
    make the scanned term set unbounded and the window's exchange+sort
    of the whole scan costs more (measured q_prefix 0.5s → 0.86s) — a
    groupBy joined back as a broadcast. The term predicate prunes by
    term, never by shard, so the scan holds every block of a candidate
    term and the sums are exact."""
    term_pred = F.col("term").isin(terms) if terms else F.lit(False)
    for stem in stems:
        term_pred = term_pred | F.col("term").startswith(stem)
    base = ctx.postings().filter(F.col("field").isin(fields) & term_pred)
    if not ctx.per_shard_stats:
        field_stats = {
            f: (float(ctx.n_docs(f)), float(ctx.avgdl(f))) for f in fields
        }
        return base.select(*cols), ctx.term_dfs(fields, terms), field_stats
    field_stats = {
        f: {
            int(s): (float(st["n_docs"]), float(st["avgdl"]))
            for s, st in ctx.shard_field_stats(f).items()
        }
        for f in fields
    }
    if stems:
        stats = base.groupBy("field", "term", "shard_id").agg(
            F.sum("df_block").alias("df")
        )
        blocks = base.select(*cols).join(
            F.broadcast(stats), ["field", "term", "shard_id"]
        )
    else:
        blocks = base.select(*cols, "df_block").withColumn(
            "df",
            F.sum("df_block").over(
                Window.partitionBy("field", "term", "shard_id")
            ),
        ).drop("df_block")
    return blocks, None, field_stats


def search_wand(
    ctx: IndexContext, query: SearchQuery, columns=None
) -> Optional[DataFrame]:
    """Fast keyword scorer job, filtered or not: one task per shard group
    (_shard_task) emitting its winners (shard_id, __docid, score) or,
    with ``columns``, ``_score`` plus those docs columns. Returns None
    when this path doesn't apply (match-all or empty queries → DataFrame
    path).

    Filters are executed INSIDE the scorer (reference: filtered keyword
    queries run Occur.FILTER inside the same Lucene collector,
    Utils.java:303): the filter tree resolves to per-shard allowed doc
    ids (operators/filtering.gate_frame) that cogroup with the posting
    blocks — non-scoring, applied before the per-shard top-k, no driver
    round-trip. Tombstones ride the same mechanism as a deny gate.
    """
    from byzer_retrieval_spark.operators.filtering import gate_frame

    parsed = parse_keyword(query.keyword, ctx.analyzer)
    if parsed.match_all or parsed.empty:
        return None
    if (
        not parsed.scoring_terms
        and not parsed.scoring_phrases
        and not parsed.scoring_prefixes
        and not parsed.scoring_fuzzies
        and not parsed.scoring_nears
        and not parsed.scoring_bool_groups
    ):
        return None
    fields = [f for f in (query.fields or ctx.analyzed_fields) if f in ctx.analyzed_fields]
    k = query.limit
    all_terms = list(
        dict.fromkeys(parsed.scoring_terms + parsed.must_not + parsed.phrase_terms)
    )
    phrase_list = (
        [(f"__pm{i}", p, "must", 0) for i, p in enumerate(dict.fromkeys(parsed.must_phrases))]
        + [(f"__ps{i}", p, "should", 0) for i, p in enumerate(parsed.dedup_should_phrases)]
        + [(f"__pn{i}", p, "not", 0) for i, p in enumerate(dict.fromkeys(parsed.not_phrases))]
        + [(f"__nm{i}", p, "must", s) for i, (p, s) in enumerate(dict.fromkeys(parsed.must_near_phrases))]
        + [(f"__ns{i}", p, "should", s) for i, (p, s) in enumerate(parsed.dedup_should_nears)]
        + [(f"__nn{i}", p, "not", s) for i, (p, s) in enumerate(dict.fromkeys(parsed.not_near_phrases))]
    )
    prefix_list = (
        [(f"__xm{i}", p, "must") for i, p in enumerate(dict.fromkeys(parsed.must_prefixes))]
        + [(f"__xs{i}", p, "should") for i, p in enumerate(parsed.dedup_should_prefixes)]
        + [(f"__xn{i}", p, "not") for i, p in enumerate(dict.fromkeys(parsed.not_prefixes))]
    )
    fuzzy_items = (
        [(f"__zm{i}", p, "must") for i, p in enumerate(dict.fromkeys(parsed.must_fuzzies))]
        + [(f"__zs{i}", p, "should") for i, p in enumerate(parsed.dedup_should_fuzzies)]
        + [(f"__zn{i}", p, "not") for i, p in enumerate(dict.fromkeys(parsed.not_fuzzies))]
    )

    # ---- nested boolean groups (round 5): group-local +/- members ----
    # Term members become tracked clauses; phrase/prefix/fuzzy members
    # become kind-"group" specs keyed per group — neither joins the
    # top-level scoring/must/not sets (their match + score are
    # conditional on the whole group matching).
    bg_specs: List[tuple] = []
    bg_terms: List[str] = []
    for gi, (gkind, g_sh, g_mu, g_no) in enumerate(parsed.bool_groups):
        key_lists: Dict[str, List[tuple]] = {"should": [], "must": [], "not": []}
        for role, members in (("should", g_sh), ("must", g_mu), ("not", g_no)):
            for mj, m in enumerate(members):
                if m[0] == "term":
                    key_lists[role].append(("t", m[1]))
                    bg_terms.append(m[1])
                elif m[0] == "phrase":
                    key = f"__bg{gi}{role[0]}p{mj}"
                    phrase_list.append((key, m[1], "group", m[2]))
                    bg_terms.extend(m[1])
                    key_lists[role].append(("k", key))
                elif m[0] == "prefix":
                    key = f"__bg{gi}{role[0]}x{mj}"
                    prefix_list.append((key, m[1], "group"))
                    key_lists[role].append(("k", key))
                else:
                    key = f"__bg{gi}{role[0]}z{mj}"
                    fuzzy_items.append((key, (m[1], m[2]), "group"))
                    key_lists[role].append(("k", key))
        bg_specs.append(
            (
                gkind,
                tuple(key_lists["should"]),
                tuple(key_lists["must"]),
                tuple(key_lists["not"]),
            )
        )
    if bg_terms:
        all_terms = list(dict.fromkeys(all_terms + bg_terms))

    phrase_specs = tuple(phrase_list)
    prefix_specs = tuple(prefix_list)
    # fuzzy clauses expand against the term dictionary first (tiny
    # stats-table scan ≙ Lucene's FuzzyQuery automaton walk), then ride
    # as constant-score term-set clauses. All distinct specs expand in
    # ONE job via expand_fuzzy_many (round 6 — a single query with
    # several fuzzies paid one small driver job per spec before).
    from byzer_retrieval_spark.operators.filtering import expand_fuzzy_many

    fuzzy_expansions = expand_fuzzy_many(
        ctx, [(tuple(fields), w, int(n)) for _, (w, n), _ in fuzzy_items]
    )
    termset_specs = tuple(
        (key, fuzzy_expansions[(tuple(fields), w, int(n))], kind)
        for key, (w, n), kind in fuzzy_items
    )

    # +(...) group members may be phrases/prefixes/fuzzies: the scorer
    # gate references their CLAUSE keys (terms stay term strings)
    key_of = {}
    for kkey, p, kind, s in phrase_specs:
        key_of.setdefault(("phrase", p, s), kkey)
    for kkey, st, kind in prefix_specs:
        key_of.setdefault(("prefix", st), kkey)
    for kkey, (w, n_), kind in fuzzy_items:
        key_of.setdefault(("fuzzy", w, n_), kkey)
    scorer_groups = tuple(
        tuple(m[1] if m[0] == "term" else key_of[m] for m in g)
        for g in parsed.any_groups_ext
    )

    # term predicate: exact terms + prefix stems + fuzzy expansions —
    # all push down to the postings scan (In / StringStartsWith on
    # term-sorted row groups). A MUST term absent from the corpus simply
    # never satisfies the must-count gate (no postings → no rows),
    # matching Lucene.
    fuzzy_terms = [t for _, ts, _ in termset_specs for t in ts]
    in_terms = list(dict.fromkeys(all_terms + fuzzy_terms))
    block_cols = [
        "shard_id", "field", "term", "first_doc", "last_doc",
        "max_tf", "min_dl", "doc_gaps", "tfs", "dls",
    ]
    if phrase_specs:
        # positions read ONLY for phrase queries (column pruning keeps
        # the extra varbyte column off every non-phrase scan)
        block_cols.append("positions")
    blocks, df_map, field_stats = scan_blocks(
        ctx, fields, in_terms, [stem for _, stem, _ in prefix_specs],
        block_cols,
    )

    gate_df, gate_mode = gate_frame(ctx, query.filters, ctx.doc_bits)
    scorer = _make_shard_scorer(
        field_stats,
        tuple(parsed.scoring_terms),
        tuple(parsed.must),
        tuple(parsed.must_not),
        k,
        ctx.k1,
        ctx.b,
        gate_mode,
        phrase_specs,
        prefix_specs,
        termset_specs,
        scorer_groups,
        docid_id_order=ctx.docid_id_order,
        bool_group_specs=tuple(bg_specs),
        per_shard_stats=ctx.per_shard_stats,
        df_map=df_map,
    )
    docs, schema = None, _OUT_SCHEMA
    if columns is not None:
        from pyspark.sql.pandas.types import from_arrow_schema

        files = ctx.docs_schema()  # shard_id is the partition directory
        out = pa.schema([("_score", pa.float64())] + [
            ("shard_id", pa.int32()) if c == "shard_id" else files.field(c)
            for c in columns
        ])
        docs, schema = (ctx.docs_files(), files, out), from_arrow_schema(out)
    task = _shard_task(scorer, k, docs)

    def ungated(key, t):
        return task(key, t, None)

    # Three frames. Ungated global-stats queries (no filters, no
    # tombstones) score straight off the partition-pruned scan via
    # mapInArrow (round 6, guide §2.4): zero exchanges, correct for
    # partial shard groups — see _shard_stream_runner; api.query_ctx
    # pins spark.sql.files.maxPartitionBytes above the largest postings
    # file so no file splits across tasks. per_shard_stats queries
    # group the scan by shard (their df column is shard-keyed); gated
    # queries cogroup it with the per-shard allow/deny doc ids.
    if gate_mode == "none" and not ctx.per_shard_stats:
        return blocks.mapInArrow(_shard_stream_runner(ungated), schema=schema)
    if gate_mode == "none":
        return blocks.groupBy("shard_id").applyInArrow(ungated, schema=schema)
    return (
        blocks.groupby("shard_id")
        .cogroup(gate_df.groupby("shard_id"))
        .applyInArrow(task, schema=schema)
    )


def search_fast(
    ctx: IndexContext, query: SearchQuery, columns=None
) -> Optional[DataFrame]:
    """WAND per shard → global (score desc, _id asc) top-k of ``_score``
    plus the docs ``columns`` (default: the stored columns; ``_id``
    among them) in ONE Spark job: postings scan → scorer task, which
    reads its winners' columns from its own shard's docs files →
    TakeOrderedAndProject. None when the fast path doesn't apply."""
    rows = search_wand(ctx, query, columns or ctx.stored_columns())
    if rows is None:
        return None
    return rows.orderBy(F.col("_score").desc(), F.col("_id").asc()).limit(
        query.limit
    )


def search_winners(ctx: IndexContext, query: SearchQuery) -> Optional[DataFrame]:
    """Global top-k WITH the docs physical key: (shard_id, __docid,
    _id, _score) — the recall frame hybrid fusion carries through
    rrf_fuse_keyed to its final stored-field join. The scorer task
    reads only ``_id`` from the docs files."""
    top = search_fast(ctx, query, ["shard_id", "__docid", "_id"])
    return None if top is None else top.select("shard_id", "__docid", "_id", "_score")
