"""Seeded inputs: a synthetic source-code corpus and query streams.

Everything here is a pure function of the ``--seed`` the benchmark
receives, so one seed gives the same corpus, the same writes and the
same queries on every tree. The generator is the benchmark's own (it
imports nothing from the engine), so a change to the engine's test
corpus cannot change what the benchmark measures.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np

# Zipf-skewed token vocabulary of a code corpus: the first five terms
# occur in more than half of the documents (block-max WAND territory).
VOCAB = [
    "import", "return", "def", "class", "self",
    "if", "for", "public", "void", "else",
    "while", "int", "str", "none", "true",
    "false", "try", "except", "raise", "lambda",
    "static", "final", "var", "let", "const",
    "func", "fn", "struct", "impl", "trait",
    "match", "case", "break", "continue", "pass",
    "yield", "async", "await", "with", "assert",
]
HOT = VOCAB[:5]
MID = VOCAB[5:30]
LANGS = ["python", "java", "scala", "go", "rust", "markdown"]
EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go",
       "rust": "rs", "markdown": "md"}
REPOS = [f"org{a}/repo{b}" for a in range(7) for b in range(23)]  # 161
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1)
_ZIPF /= _ZIPF.sum()

# Broad filter: three of six languages, about half the corpus.
BROAD_FILTER = {"or": [{"field": "lang", "value": v}
                       for v in ("python", "java", "go")]}

# Query classes of the single-query stream and how many of each a deck
# of 20 holds. The deck is shuffled by the seed; a run measures whole
# decks, so every run has the same class mix. The one slow class
# (fuzzy) is 1 in 20: p90 falls between the 18th and 19th of 20 ranked
# latencies, inside the bulk, never on the fuzzy class boundary.
DECK = {
    "rare": 3, "hot": 2, "or": 3, "must_not": 2, "phrase": 2,
    "sloppy": 2, "prefix": 2, "fuzzy": 1, "sel_filter": 2,
    "broad_filter": 1,
}
DECK_SIZE = sum(DECK.values())


def doc_id(repo: str, path: str, commit: str) -> str:
    """The engine's ``_id`` for id columns (repo, path, commit)."""
    return hashlib.sha256(f"{repo}|{path}|{commit}".encode()).hexdigest()


@dataclass
class Query:
    cls: str
    keyword: str
    filters: Dict = field(default_factory=dict)


class Inputs:
    """Corpus rows plus the seeded generators drawn from them.

    ``rows`` holds the current live version of every document (the
    benchmark's model of the table); writes in ``mixed_rw`` go through
    ``new_rows`` / ``update_rows`` so the model and the engine see the
    same data.
    """

    def __init__(self, seed: int, n_docs: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.next_serial = 0
        self.rows: Dict[str, dict] = {}
        self._used_syms: set = set()
        for row in self.new_rows(n_docs):
            self.rows[row["_id"]] = row

    # ---- corpus -----------------------------------------------------
    def _content(self, serial: int) -> str:
        n = int(self.rng.integers(30, 401))
        toks = list(np.array(VOCAB, dtype=object)[
            self.rng.choice(len(VOCAB), size=n, p=_ZIPF)])
        toks[3] = f"sym_{serial}_0"
        toks[min(10, n - 1)] = f"sym_{serial}_1"
        return "\n".join(" ".join(toks[j:j + 10]) for j in range(0, n, 10))

    def new_rows(self, n: int) -> List[dict]:
        out = []
        for _ in range(n):
            s = self.next_serial
            self.next_serial += 1
            # round-robin repos: every repo holds 1/161 of the corpus,
            # so the selective filter's share is fixed, not drawn
            repo = REPOS[(s * 37 + self.seed) % len(REPOS)]
            lang = LANGS[int(self.rng.integers(len(LANGS)))]
            path = f"src/mod{s % 13}/file_{s}.{EXT[lang]}"
            commit = hashlib.sha1(f"{self.seed}/{s}".encode()).hexdigest()[:12]
            out.append({"repo": repo, "path": path, "commit": commit,
                        "lang": lang, "content": self._content(s),
                        "_id": doc_id(repo, path, commit), "serial": s})
        return out

    def update_rows(self, ids: List[str]) -> List[dict]:
        """New content for existing documents (same ``_id``)."""
        out = []
        for i in ids:
            old = self.rows[i]
            out.append(dict(old, content=self._content(old["serial"])))
        return out

    def pick_live(self, n: int, exclude=()) -> List[str]:
        pool = sorted(set(self.rows) - set(exclude))
        idx = self.rng.choice(len(pool), size=n, replace=False)
        return [pool[i] for i in idx]

    # ---- queries ----------------------------------------------------
    def _fresh_sym(self) -> str:
        """A unique-id term never queried before in this run."""
        while True:
            row = self.rows[self.pick_live(1)[0]]
            sym = f"sym_{row['serial']}_{int(self.rng.integers(2))}"
            if sym not in self._used_syms:
                self._used_syms.add(sym)
                return sym

    def _doc_tokens(self) -> List[str]:
        return self.rows[self.pick_live(1)[0]]["content"].split()

    def _pick(self, pool: List[str], k: int = 1) -> List[str]:
        return [pool[i] for i in self.rng.choice(len(pool), size=k, replace=False)]

    def query(self, cls: str) -> Query:
        if cls == "rare":
            return Query(cls, self._fresh_sym())
        if cls == "hot":
            return Query(cls, self._pick(HOT)[0])
        if cls == "or":
            return Query(cls, " ".join(self._pick(MID, 2) + [self._fresh_sym()]))
        if cls == "must_not":
            return Query(cls, f"+{self._pick(HOT)[0]} -{self._pick(MID)[0]}")
        if cls in ("phrase", "sloppy"):
            # two mid-frequency terms that occur at this distance in a
            # live document, so the phrase matches
            gap = 1 if cls == "phrase" else 2
            while True:
                toks = self._doc_tokens()
                starts = [j for j in range(len(toks) - gap)
                          if toks[j] in MID and toks[j + gap] in MID]
                if starts:
                    j = starts[int(self.rng.integers(len(starts)))]
                    break
            if cls == "phrase":
                return Query(cls, f'"{toks[j]} {toks[j + 1]}"')
            return Query(cls, f'"{toks[j]} {toks[j + 2]}"~2 {self._pick(MID)[0]}')
        if cls == "prefix":
            serial = int(self.rng.integers(10, 100))
            return Query(cls, f"sym_{serial}* {self._pick(MID)[0]}")
        if cls == "fuzzy":
            word = self._pick([w for w in MID if len(w) >= 4])[0]
            cut = int(self.rng.integers(1, len(word)))
            return Query(cls, f"{word[:cut]}{word[cut + 1:]}~1 {self._fresh_sym()}")
        if cls == "sel_filter":
            row = self.rows[self.pick_live(1)[0]]
            return Query(cls, " ".join(self._pick(MID, 2)),
                         {"and": [{"field": "repo", "value": row["repo"]}]})
        if cls == "broad_filter":
            return Query(cls, f"{self._pick(MID)[0]} {self._fresh_sym()}",
                         BROAD_FILTER)
        raise ValueError(f"unknown query class {cls!r}")

    def deck(self) -> List[Query]:
        """One shuffled deck of ``DECK_SIZE`` single queries."""
        classes = [c for c, n in DECK.items() for _ in range(n)]
        order = self.rng.permutation(len(classes))
        return [self.query(classes[i]) for i in order]

    def batch(self, size: int) -> List[Query]:
        """A batch of mixed-class queries (decks cut to ``size``)."""
        out: List[Query] = []
        while len(out) < size:
            out.extend(self.deck())
        return out[:size]
