"""Independent reference answers the benchmark checks the store against.

``ShadowStore`` is a NumPy model of a ``VectorStore``: it applies the same
writes and answers the same reads by brute force, without Spark.  The
``check_*`` functions compare an answer from the program with the model and
raise ``Mismatch`` on a wrong one.
"""

from __future__ import annotations

import json

import numpy as np

L2_TOL = 1e-4       # float32 distance accumulated in another order
FUZZY_TOL = 1e-6    # InDel distance is a ratio of small integers


class Mismatch(AssertionError):
    """The program returned a wrong answer."""


def lcs_len(a: str, b: str) -> int:
    """Longest common subsequence length, bit-parallel over ``a``
    (Allison-Dix / Hyyrö): one big-int step per character of ``b``."""
    if not a or not b:
        return 0
    masks: dict[str, int] = {}
    for i, ch in enumerate(a):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    full = (1 << len(a)) - 1
    v = full
    for ch in b:
        u = v & masks.get(ch, 0)
        v = ((v + u) | (v - u)) & full
    return len(a) - bin(v).count("1")


def indel_distance(query: str, doc: str) -> float:
    """``100 - InDel ratio``, the store's fuzzy distance."""
    total = len(query) + len(doc)
    if total == 0:
        return 0.0
    dist = total - 2 * lcs_len(query, doc)
    return 100.0 - 100.0 * (1.0 - dist / total)


def check_topk(got: list[tuple[int, float]], expected: dict[int, float],
               k: int, tol: float, what: str, n_total: int | None = None
               ) -> None:
    """``got`` is the program's ranked ``(id, distance)`` list and
    ``expected`` the exact distance of every candidate id, or of the
    returned ids only when ``n_total`` (the store size) is given, which
    checks the answer's distances and order but not its completeness.

    Accepts any order among distances within ``tol`` of each other (the two
    sides round differently), but requires ascending ids among exact ties,
    the (distance, id) tie-break."""
    want_len = min(k, len(expected) if n_total is None else n_total)
    if len(got) != want_len:
        raise Mismatch(f"{what}: {len(got)} hits, expected {want_len}")
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids):
        raise Mismatch(f"{what}: duplicate ids {ids}")
    for i, d in got:
        if i not in expected:
            raise Mismatch(f"{what}: id {i} is not in the store")
        if abs(d - expected[i]) > tol * max(1.0, abs(expected[i])):
            raise Mismatch(f"{what}: id {i} distance {d} != {expected[i]}")
    for (i0, _), (i1, _) in zip(got, got[1:]):
        e0, e1 = expected[i0], expected[i1]
        if e0 > e1 + tol * max(1.0, abs(e1)) or (e0 == e1 and i0 > i1):
            raise Mismatch(f"{what}: ({e0}, {i0}) ranked before ({e1}, {i1})")
    if not got:
        return
    kth = expected[got[-1][0]]
    bar = kth - tol * max(1.0, abs(kth))
    returned = set(ids)
    missed = [i for i, d in expected.items() if d < bar and i not in returned]
    if missed:
        raise Mismatch(f"{what}: closer ids {missed[:5]} missing")


class ShadowStore:
    """id → (float32 vector, doc dict, doc json) with the store's id rule:
    ``insert`` allocates ``max(id) + 1`` onward, holes are never reused."""

    def __init__(self, dim: int):
        self.dim = dim
        self.vecs: dict[int, np.ndarray] = {}
        self.docs: dict[int, dict] = {}
        self.json: dict[int, str] = {}
        self._mat: tuple[np.ndarray, np.ndarray] | None = None

    def __len__(self) -> int:
        return len(self.vecs)

    def max_id(self) -> int | None:
        return max(self.vecs) if self.vecs else None

    def _put(self, i: int, vec: np.ndarray, doc: dict) -> None:
        self.vecs[i] = np.asarray(vec, dtype=np.float32)
        self.docs[i] = doc
        self.json[i] = json.dumps(doc)
        self._mat = None

    def insert(self, vecs: np.ndarray, docs: list[dict]) -> list[int]:
        top = self.max_id()
        start = 0 if top is None else top + 1
        for j, (v, d) in enumerate(zip(vecs, docs)):
            self._put(start + j, v, d)
        return list(range(start, start + len(docs)))

    def upsert(self, ids: list[int], vecs: np.ndarray, docs: list[dict]) -> None:
        for i, v, d in zip(ids, vecs, docs):
            self._put(int(i), v, d)

    def delete(self, ids: list[int]) -> None:
        for i in ids:
            self.vecs.pop(i, None)
            self.docs.pop(i, None)
            self.json.pop(i, None)
        self._mat = None

    def matrix(self) -> tuple[np.ndarray, np.ndarray]:
        if self._mat is None:
            ids = np.fromiter(sorted(self.vecs), dtype=np.int64)
            mat = (np.stack([self.vecs[i] for i in ids]) if len(ids)
                   else np.empty((0, self.dim), np.float32))
            self._mat = (ids, mat)
        return self._mat

    def l2(self, q: np.ndarray) -> dict[int, float]:
        ids, mat = self.matrix()
        d = np.sqrt(((mat.astype(np.float64) - q.astype(np.float64)) ** 2)
                    .sum(axis=1))
        return dict(zip(ids.tolist(), d.tolist()))

    def logical_bytes(self) -> int:
        """Bytes of live user data: 8-byte id, float32 vector, JSON doc."""
        return sum(8 + 4 * self.dim + len(s.encode()) for s in self.json.values())

    # -- checks of the store's answers ------------------------------------

    def check_record(self, r, what: str) -> None:
        if r.id not in self.vecs:
            raise Mismatch(f"{what}: id {r.id} is not in the store")
        if not np.array_equal(np.asarray(r.vec, np.float32), self.vecs[r.id]):
            raise Mismatch(f"{what}: vec of id {r.id} differs")
        if r.doc != self.docs[r.id]:
            raise Mismatch(f"{what}: doc of id {r.id} {r.doc} != "
                           f"{self.docs[r.id]}")

    def check_search(self, queries: np.ndarray, k: int, got) -> None:
        if len(got) != len(queries):
            raise Mismatch(f"search: {len(got)} result lists for "
                           f"{len(queries)} queries")
        for qi, (q, recs) in enumerate(zip(queries, got)):
            for r in recs:
                self.check_record(r, "search")
            check_topk([(r.id, r.distance) for r in recs], self.l2(q), k,
                       L2_TOL, f"search q{qi}")

    def check_search_by_doc(self, query_docs: list[dict], k: int, got,
                            complete: bool) -> None:
        """``complete`` scores every stored doc (about a second per query
        at 20k docs); otherwise only the returned ones are re-scored."""
        if len(got) != len(query_docs):
            raise Mismatch("search_by_doc: wrong number of result lists")
        for qi, (qd, recs) in enumerate(zip(query_docs, got)):
            qs = json.dumps(qd)
            for r in recs:
                self.check_record(r, "search_by_doc")
            pool = self.json if complete else {r.id: self.json[r.id]
                                               for r in recs}
            expected = {i: indel_distance(qs, s) for i, s in pool.items()}
            check_topk([(r.id, r.distance) for r in recs], expected, k,
                       FUZZY_TOL, f"search_by_doc q{qi}",
                       None if complete else len(self))

    def check_select_ids(self, ids: list[int], got) -> None:
        want = sorted(i for i in set(ids) if i in self.vecs)
        if [r.id for r in got] != want:
            raise Mismatch(f"select_ids: {[r.id for r in got]} != {want}")
        for r in got:
            self.check_record(r, "select_ids")

    def check_query_by_doc(self, key: str, values: list, got) -> None:
        vals = {str(v) for v in values}
        want = sorted(i for i, d in self.docs.items()
                      if key in d and str(d[key]) in vals)
        if [r.id for r in got] != want:
            raise Mismatch(f"query_by_doc: {len(got)} rows, expected "
                           f"{len(want)}")
        for r in got:
            self.check_record(r, "query_by_doc")

    def check_count(self, count: int, max_id: int | None) -> None:
        if count != len(self) or max_id != self.max_id():
            raise Mismatch(f"store has {count} rows, max id {max_id}; "
                           f"expected {len(self)}, {self.max_id()}")
