"""InDel-ratio fuzzy string similarity (the reference's fuzzy scorer).

The reference scores with ``rapidfuzz.fuzz.ratio`` (``vector_store.py:377-382``)
— the normalized InDel similarity: Levenshtein restricted to insert/delete,
``sim = 100 * (1 - (len1 + len2 - 2*LCS) / (len1 + len2))``.  Spark's built-in
``levenshtein()`` allows substitutions, so it is NOT equivalent (SURVEY.md
§2.3); golden values ``tests.py:561,595`` would break.

Implementation: rapidfuzz when importable (C++), else a bit-parallel LCS
(Hyyrö/Crochemore — one big-int per pattern, O(len1 * len2 / wordsize)), which
is exact and fast enough for document-length strings.  ``indel_ratio_fn``
is the one scorer: it builds a query's bitmask once and scores many docs
against it — the fuzzy top-k kernel and the SQL UDFs go through it.
"""

from __future__ import annotations

from typing import Callable

try:  # fast path — C++ scorer, bit-identical semantics to the reference
    from rapidfuzz import fuzz as _rf_fuzz
except ImportError:  # pragma: no cover - environment dependent
    _rf_fuzz = None


def _lcs_fn(a: str) -> Callable[[str], int]:
    """``lcs(b)`` = LCS length of ``a`` and ``b``, bit-parallel (Crochemore
    et al.), exact; ``a``'s position bitmask is built once."""
    # position bitmask per character of `a`
    pm: dict[str, int] = {}
    bit = 1
    for ch in a:
        pm[ch] = pm.get(ch, 0) | bit
        bit <<= 1
    mask = (1 << len(a)) - 1
    get = pm.get

    def lcs(b: str) -> int:
        if not a or not b:
            return 0
        v = mask
        for ch in b:
            u = v & get(ch, 0)
            v = ((v + u) | (v - u)) & mask
        # LCS = number of zero bits of V within the mask
        return len(a) - bin(v).count("1")

    return lcs


def _lcs_length(a: str, b: str) -> int:
    """Bit-parallel LCS length (Crochemore et al.); exact."""
    return _lcs_fn(a)(b)


def indel_ratio_fn(query: str) -> Callable[[str | None], float]:
    """``ratio(doc)`` == ``indel_ratio(query, doc or "")`` bit for bit, for
    many docs against one query: the query's bitmask is built once.  The
    InDel distance is ``100.0 - ratio(doc)`` (vector_store.py:387)."""
    if _rf_fuzz is not None:
        return lambda doc: float(_rf_fuzz.ratio(query, doc or ""))
    lcs, lq = _lcs_fn(query), len(query)

    def ratio(doc: str | None) -> float:
        doc = doc or ""
        total = lq + len(doc)
        if total == 0:
            return 100.0
        return 100.0 * (1.0 - (total - 2 * lcs(doc)) / total)

    return ratio


def indel_ratio(s1: str, s2: str) -> float:
    """Normalized InDel similarity in [0, 100], == rapidfuzz.fuzz.ratio."""
    return indel_ratio_fn(s1)(s2)

