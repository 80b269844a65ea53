"""Untimed result checks against the engine's brute-force BM25 oracle.

The engine keeps Lucene's statistics: a deleted or superseded version
still counts in df/N/avgdl until ``compact`` rewrites the segment. The
``Model`` therefore scores over every physical version and keeps only
live ones in the answer; after ``compact`` only live versions remain.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

from byzer_retrieval_spark.oracle import BM25Oracle

Hit = Tuple[str, float]


class Model:
    """Physical versions of every document since the last compaction."""

    def __init__(self, rows: Sequence[dict]):
        self.versions: List[dict] = [dict(r) for r in rows]
        self.live: Dict[str, int] = {r["_id"]: i for i, r in enumerate(self.versions)}
        self._oracle = None

    def put(self, rows: Sequence[dict]) -> None:
        for r in rows:
            self.live[r["_id"]] = len(self.versions)
            self.versions.append(dict(r))
        self._oracle = None

    def delete(self, ids: Sequence[str]) -> None:
        for i in ids:
            self.live.pop(i, None)
        self._oracle = None

    def version_count(self, ids: Sequence[str]) -> int:
        wanted = set(ids)
        return sum(1 for v in self.versions if v["_id"] in wanted)

    def compact(self) -> None:
        self.versions = [self.versions[i] for i in sorted(self.live.values())]
        self.live = {v["_id"]: i for i, v in enumerate(self.versions)}
        self._oracle = None

    def search(self, keyword: str, filters: dict, limit: int) -> List[Hit]:
        if self._oracle is None:
            keyed = [dict(v, __vkey=str(i)) for i, v in enumerate(self.versions)]
            self._oracle = BM25Oracle(keyed, key_field="__vkey")
        live_keys = {str(i) for i in self.live.values()}
        hits = self._oracle.search(keyword, filters, limit=len(self.versions))
        out = [(self.versions[int(k)]["_id"], s) for k, s in hits if k in live_keys]
        out.sort(key=lambda h: (-h[1], h[0]))
        return out[:limit]


def same_ranking(got: Sequence[Hit], want: Sequence[Hit], limit: int,
                 rel: float = 1e-6) -> bool:
    """Rank-identical up to float noise. ``want`` is the oracle's list
    cut at more than ``limit``, so the run of tied scores at the top-k
    edge is whole: there ``got`` may hold any members of the run, and
    everywhere else exactly the same ids."""
    def tie(a: float, b: float) -> bool:
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)

    if len(got) != min(limit, len(want)):
        return False
    if not all(tie(g[1], w[1]) for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(got):
        j = i
        while j + 1 < len(want) and tie(want[j + 1][1], want[i][1]):
            j += 1
        g = {h[0] for h in got[i:j + 1]}
        w = {h[0] for h in want[i:j + 1]}
        if not (g == w or (j + 1 >= len(got) and g <= w)):
            return False
        i = j + 1
    return True
