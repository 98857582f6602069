"""Reference computations the benchmark checks the program against.

All of them are recomputed here from the generated inputs, in plain
Python, NumPy or DuckDB; none reads a stored copy of an earlier output.

- ``same_rows``: order-insensitive equality of two result sets, cell by
  cell after the normalisation the repo's oracle gate uses.
- ``LshModel``: the MinHash-LSH near-duplicate scheme as documented
  (3-word shingles, 32-bit md5 shingle hashes, 16 hashes (a*x+b) mod
  2^31-1 from a fixed LCG, 4 bands of 4 rows bucketed by md5, exact
  Jaccard >= 0.8), and the dedup-index lifecycle over it: an arriving
  document drops when it verifies against an indexed document or a
  smaller-id document of its own batch; a takedown removes indexed
  documents and brings back dropped documents whose every recorded
  justification is gone.
- ``components``: union-find over pairs.
- ``exact_topk``: brute-force cosine top-k in NumPy.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np

# --- result-set equality ---------------------------------------------------------


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalized(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns in name order and rows sorted, every cell as text."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def same_rows(a_cols, a_rows, b_cols, b_rows) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    ac, ar = normalized(list(a_cols), a_rows)
    bc, br = normalized(list(b_cols), b_rows)
    if ac != bc:
        return f"columns differ: {ac} vs {bc}"
    if len(ar) != len(br):
        return f"row counts differ: {len(ar)} vs {len(br)}"
    for x, y in zip(ar, br):
        if x != y:
            return f"first differing row: {x} vs {y}"
    return None


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """(column names, row tuples) of a pyarrow Table."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


# --- MinHash LSH and the dedup-index lifecycle --------------------------------------

M31 = 2_147_483_647
NUM_HASHES = 16
ROWS_PER_BAND = 4
THRESHOLD = 0.8


def _coefficients() -> np.ndarray:
    out, x = [], 1
    for _ in range(NUM_HASHES):
        x = (1103515245 * x + 12345) % M31
        a = x | 1
        x = (1103515245 * x + 12345) % M31
        out.append((a, x))
    return np.array(out, dtype=np.int64)


COEF = _coefficients()


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def band_rows(shingles: frozenset[str]) -> list[tuple[int, str]]:
    """(band, bucket) of one document."""
    x = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % M31
                  for s in shingles], dtype=np.int64)
    mh = ((COEF[:, :1] * x[None, :] + COEF[:, 1:]) % M31).min(axis=1)
    return [(b, hashlib.md5(",".join(str(int(v)) for v in
                                     mh[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]).encode()).hexdigest())
            for b in range(NUM_HASHES // ROWS_PER_BAND)]


def jaccard(a: frozenset, b: frozenset) -> float:
    c = len(a & b)
    return c * 1.0 / (len(a) + len(b) - c)


class LshModel:
    """Index membership replayed from the raw texts."""

    def __init__(self):
        self.sh: dict[int, frozenset[str]] = {}
        self.bands: dict[int, list[tuple[int, str]]] = {}
        self.indexed: set[int] = set()
        self.ledger: dict[int, set[int]] = {}
        self._buckets: dict[tuple[int, str], set[int]] = defaultdict(set)

    def _add_doc(self, doc_id: int, text: str) -> None:
        self.sh[doc_id] = shingle_set(text)
        self.bands[doc_id] = band_rows(self.sh[doc_id])

    def _index(self, doc_id: int) -> None:
        self.indexed.add(doc_id)
        for bb in self.bands[doc_id]:
            self._buckets[bb].add(doc_id)

    def seed(self, docs) -> None:
        """The frozen corpus: every document is indexed as is."""
        for d, t in docs:
            self._add_doc(d, t)
            self._index(d)

    def candidates(self, ids) -> set[tuple[int, int]]:
        """Band-collision pairs (a < b) among ``ids``."""
        buckets = defaultdict(list)
        for d in ids:
            for bb in self.bands[d]:
                buckets[bb].append(d)
        return {(a, b) for ds in buckets.values() for a in ds for b in ds if a < b}

    def increment(self, docs) -> set[int]:
        """Apply one arriving batch; returns the ids it dropped."""
        for d, t in docs:
            self._add_doc(d, t)
        ids = [d for d, _ in docs]
        justify: dict[int, set[int]] = defaultdict(set)
        for d in ids:
            for c in {c for bb in self.bands[d] for c in self._buckets[bb]}:
                if jaccard(self.sh[d], self.sh[c]) >= THRESHOLD:
                    justify[d].add(c)
        for a, b in self.candidates(ids):
            if jaccard(self.sh[a], self.sh[b]) >= THRESHOLD:
                justify[b].add(a)
        for d in ids:
            if d in justify:
                self.ledger[d] = justify[d]
            else:
                self._index(d)
        return set(justify)

    def delete(self, removed) -> set[int]:
        """Take indexed documents down; returns the ids brought back."""
        removed = set(removed)
        for d in removed:
            self.indexed.discard(d)
            for bb in self.bands[d]:
                self._buckets[bb].discard(d)
        back = set()
        for d, partners in list(self.ledger.items()):
            if partners & removed:
                partners -= removed
                if not partners:
                    del self.ledger[d]
                    back.add(d)
        for d in back:
            self._index(d)
        return back

    def band_store(self) -> list[tuple[int, int, str]]:
        return sorted((d, b, k) for d in self.indexed for b, k in self.bands[d])

    def ledger_rows(self) -> list[tuple[int, int]]:
        return sorted((d, p) for d, ps in self.ledger.items() for p in ps)


def components(nodes, pairs) -> dict[int, int]:
    """doc -> smallest doc id of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


# --- nearest neighbours -----------------------------------------------------------


def exact_topk(vecs: np.ndarray, ids: np.ndarray, query_ids, k: int) -> dict[int, list[int]]:
    """Brute-force cosine top-k (self excluded, ties to the smaller id)."""
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = unit @ unit[pos[q]]
        order = np.lexsort((ids, -sims))
        out[q] = [int(ids[i]) for i in order if ids[i] != q][:k]
    return out
