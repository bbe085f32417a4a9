"""The shadow model accepts the right answer and catches injected wrong
ones."""

import random
from types import SimpleNamespace

import numpy as np
import pytest

from model import Mismatch, ShadowStore, check_topk, indel_distance, lcs_len


def _lcs_dp(a: str, b: str) -> int:
    row = [0] * (len(b) + 1)
    for ca in a:
        prev = 0
        for j, cb in enumerate(b):
            cur = row[j + 1]
            row[j + 1] = prev + 1 if ca == cb else max(row[j + 1], row[j])
            prev = cur
    return row[-1]


def test_bit_parallel_lcs_matches_dynamic_programming():
    rng = random.Random(7)
    for _ in range(300):
        a = "".join(rng.choice("ab{}\" :1") for _ in range(rng.randint(0, 70)))
        b = "".join(rng.choice("ab{}\" :1") for _ in range(rng.randint(0, 70)))
        assert lcs_len(a, b) == _lcs_dp(a, b)


def test_indel_distance_matches_reference_goldens():
    # reference fuzzy goldens: '{"1": "1"}' vs '{"k1": "v1"}' -> 9.0909...
    assert indel_distance('{"1": "1"}', '{"k1": "v1"}') == pytest.approx(
        9.090909, abs=1e-5)
    assert indel_distance('v4', '{"k4": "v4"}') == pytest.approx(
        71.428571, abs=1e-5)


def _store(n=200, dim=8, seed=0):
    rng = np.random.default_rng(seed)
    sh = ShadowStore(dim)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs[5] = vecs[3]                      # an exact tie
    sh.insert(vecs, [{"name": f"w{i % 7}", "cat": i % 5} for i in range(n)])
    return sh


def _answer(sh, q, k):
    d = sh.l2(q)
    best = sorted(d, key=lambda i: (d[i], i))[:k]
    return [SimpleNamespace(id=i, vec=sh.vecs[i], doc=sh.docs[i],
                            distance=d[i]) for i in best]


def test_search_check_accepts_exact_answer_and_catches_wrong_ones():
    sh = _store()
    q = sh.vecs[3] + 0.01
    good = _answer(sh, q[None, :][0], 10)
    sh.check_search(q[None, :], 10, [good])
    ids = [r.id for r in good]
    assert ids.index(3) < ids.index(5)     # tie broken by id

    swapped = list(good)
    swapped[ids.index(3)], swapped[ids.index(5)] = (swapped[ids.index(5)],
                                                    swapped[ids.index(3)])
    missing_nearest = good[1:] + [_answer(sh, q, 11)[-1]]
    bad_distance = [SimpleNamespace(**{**vars(r), "distance": r.distance + 0.5})
                    if n == 4 else r for n, r in enumerate(good)]
    bad_doc = [SimpleNamespace(**{**vars(r), "doc": {"name": "x"}})
               if n == 0 else r for n, r in enumerate(good)]
    for wrong in (swapped, missing_nearest, bad_distance, bad_doc, good[:9]):
        with pytest.raises(Mismatch):
            sh.check_search(q[None, :], 10, [wrong])


def test_search_by_doc_check_catches_a_worse_hit():
    sh = _store(n=60)
    qd = {"name": "w3", "cat": 1}
    exp = {i: indel_distance('{"name": "w3", "cat": 1}', s)
           for i, s in sh.json.items()}
    best = sorted(exp, key=lambda i: (exp[i], i))
    good = [SimpleNamespace(id=i, vec=sh.vecs[i], doc=sh.docs[i],
                            distance=exp[i]) for i in best[:5]]
    sh.check_search_by_doc([qd], 5, [good], complete=True)
    worst = best[-1]
    wrong = good[:4] + [SimpleNamespace(id=worst, vec=sh.vecs[worst],
                                        doc=sh.docs[worst], distance=exp[worst])]
    with pytest.raises(Mismatch):
        sh.check_search_by_doc([qd], 5, [wrong], complete=True)


def test_filters_and_counts():
    sh = _store(n=30)
    rec = [SimpleNamespace(id=i, vec=sh.vecs[i], doc=sh.docs[i])
           for i in (2, 4)]
    sh.check_select_ids([4, 2, 999], rec)
    with pytest.raises(Mismatch):
        sh.check_select_ids([4, 2, 3], rec)
    cat1 = [SimpleNamespace(id=i, vec=sh.vecs[i], doc=sh.docs[i])
            for i in range(30) if i % 5 == 1]
    sh.check_query_by_doc("cat", [1], cat1)
    with pytest.raises(Mismatch):
        sh.check_query_by_doc("cat", [1, 2], cat1)
    sh.delete([29])
    sh.check_count(29, 28)
    with pytest.raises(Mismatch):
        sh.check_count(29, 29)             # max id must follow the deletes
    assert sh.insert(np.zeros((1, 8), np.float32), [{}]) == [29]


def test_check_topk_partial_mode_checks_length_against_store_size():
    check_topk([(1, 0.5)], {1: 0.5}, 1, 1e-6, "x", n_total=10)
    with pytest.raises(Mismatch):
        check_topk([(1, 0.5)], {1: 0.5}, 2, 1e-6, "x", n_total=10)


def _batch(rows: dict):
    import workloads

    ba = workloads.BatchAnalytics(None, "/x", 1)
    ba.rows = rows
    return ba


def test_minhash_pairs_are_checked_against_exact_jaccard():
    docs = {1: "a b c d e", 2: "a b c d f", 3: "x y z w"}
    ok = {"id_a": 1, "id_b": 2, "jaccard_e6": 500_000}     # 2 of 4 shingles
    _batch({"dedup_minhash_lsh": [ok]})._check_minhash(docs)
    for wrong in ({**ok, "jaccard_e6": 500_001},
                  {"id_a": 1, "id_b": 3, "jaccard_e6": 0},
                  {**ok, "id_a": 2, "id_b": 1}):
        with pytest.raises(Mismatch):
            _batch({"dedup_minhash_lsh": [wrong]})._check_minhash(docs)
    with pytest.raises(Mismatch):
        _batch({})._check_minhash(docs)


def test_topk_pairs_are_checked_against_exact_cosine():
    rng = np.random.default_rng(3)
    mat = rng.standard_normal((10, 4))
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(10) * 7
    pairs = sorted(((-float(unit[i] @ unit[j]), int(ids[i]), int(ids[j]))
                    for i in range(10) for j in range(i + 1, 10)))
    rows = [{"id_a": a, "id_b": b, "cosine": round(-c, 6)}
            for c, a, b in pairs[:20]]
    _batch({"cosine_topk_pairs": rows})._check_topk_pairs(ids, unit)
    c, a, b = pairs[20]
    wrong = rows[:-1] + [{"id_a": a, "id_b": b, "cosine": round(-c, 6)}]
    with pytest.raises(Mismatch):
        _batch({"cosine_topk_pairs": wrong})._check_topk_pairs(ids, unit)
