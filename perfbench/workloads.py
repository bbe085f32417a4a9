"""The three workloads and the admit loop: seeded inputs, one set-up step,
a warm-up, and an endless (or, for the admit loop, finite) sequence of
operations.

Every operation is an ``Op``: ``run`` calls the program and returns its
answer, ``check`` compares that answer with an independent model and raises
``model.Mismatch`` on a wrong one.  The same seed always gives the same data
and the same operation sequence.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
from collections import Counter
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np

from model import Mismatch, ShadowStore, check_topk, indel_distance

#: the engine's fixed sf0.1 test tables, shipped with the benchmark and
#: read in place (nothing writes there)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
DIM = 64
STORE_ROWS = 20_000
STORE_BATCH = 5_000
N_CATS = 200


@dataclass
class Op:
    kind: str
    role: str                      # "read" or "write"
    run: Callable[[], Any]
    check: Callable[[Any], None]
    user_bytes: int = 0            # payload of a write, for write amplification
    starts_round: bool = True      # a timed phase may end before this op


def _dir_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def _read(table: str, columns: list[str]):
    import pyarrow.parquet as pq

    return pq.read_table(f"{DATA}/{table}.parquet", columns=columns).to_pandas()


@functools.cache
def vocab() -> tuple[str, ...]:
    """The distinct words of the test documents, sorted."""
    return tuple(sorted({w for t in _read("documents", ["text"])["text"]
                         for w in t.split(" ") if w}))


# -- VectorStore workloads --------------------------------------------------

def _store_docs(rng, n: int) -> list[dict]:
    """Short docs whose names are two words of the test documents."""
    words = vocab()
    pairs = rng.integers(0, len(words), (n, 2))
    cats = rng.integers(0, N_CATS, n)
    tags = rng.integers(0, 1000, n)
    return [{"name": f"{words[a]} {words[b]}",
             "cat": int(c), "tag": f"t{int(t)}"}
            for (a, b), c, t in zip(pairs, cats, tags)]


def _store_vecs(rng, n: int) -> np.ndarray:
    """Gaussian vectors; one in a hundred repeats an earlier row of the
    batch, so exact distance ties exercise the (distance, id) tie-break."""
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    dups = rng.choice(n, n // 100, replace=False)
    v[dups] = v[rng.integers(0, n, len(dups))]
    return v


class _StoreWorkload:
    """Shared set-up of the two store workloads: a 20k × 64 store built by
    ``insert`` in 5k batches, then ``compact``."""

    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.root = ""
        self.store = None
        self.shadow = ShadowStore(DIM)
        self.ops_rng = np.random.default_rng([seed, 1])
        self.sbd_seen = 0

    def _initial(self):
        rng = np.random.default_rng([self.seed, 0])
        return _store_vecs(rng, STORE_ROWS), _store_docs(rng, STORE_ROWS)

    def build(self) -> None:
        from vector_db_at_home_spark.store import VectorStore

        vecs, docs = self._initial()
        self.root = os.path.join(self.work, "store")
        self.store = VectorStore(self.spark, self.root, DIM)
        for lo in range(0, STORE_ROWS, STORE_BATCH):
            self.store.insert(vecs[lo:lo + STORE_BATCH],
                              docs[lo:lo + STORE_BATCH])
        self.store.compact()

    def after_setup(self) -> None:
        vecs, docs = self._initial()
        self.shadow.insert(vecs, docs)
        self.check_count()

    def rebind(self, spark) -> None:
        from vector_db_at_home_spark.store import VectorStore

        self.spark = spark
        self.store = VectorStore(spark, self.root, DIM)

    def check_count(self) -> None:
        from pyspark.sql import functions as F

        n, top = self.store.df().agg(F.count("*"), F.max("id")).first()
        self.shadow.check_count(n, top)

    def final_check(self) -> None:
        self.check_count()

    def space(self) -> dict[str, float]:
        size, _ = _dir_bytes(self.root)
        return {"store.space_amp": size / self.shadow.logical_bytes(),
                "store.files_per_snapshot": float(len(
                    self.store.df().inputFiles())),
                "store.snapshots_retained": float(len(self.store.versions()))}

    # -- reads ---------------------------------------------------------------

    def _queries(self, n: int) -> np.ndarray:
        """Half are stored vectors plus noise, half are random."""
        rng = self.ops_rng
        ids, mat = self.shadow.matrix()
        out = rng.standard_normal((n, DIM)).astype(np.float32)
        near = rng.random(n) < 0.5
        picks = rng.integers(0, len(ids), int(near.sum()))
        out[near] = mat[picks] + 0.05 * out[near]
        return out

    def search(self, kind: str, nq: int) -> Op:
        q = self._queries(nq)
        return Op(kind, "read", lambda: self.store.search(q, 10),
                  lambda got: self.shadow.check_search(q, 10, got))

    def search_by_doc(self) -> Op:
        rng = self.ops_rng
        if rng.random() < 0.5:
            ids, _ = self.shadow.matrix()
            qd = dict(self.shadow.docs[int(ids[rng.integers(len(ids))])])
            qd["tag"] = f"t{int(rng.integers(1000))}"
        else:
            qd = _store_docs(rng, 1)[0]
        self.sbd_seen += 1
        complete = self.sbd_seen % 2 == 1
        return Op("search_by_doc", "read",
                  lambda: self.store.search_by_doc([qd], 10),
                  lambda got: self.shadow.check_search_by_doc(
                      [qd], 10, got, complete))

    def select_ids(self) -> Op:
        ids, _ = self.shadow.matrix()
        want = [int(i) for i in self.ops_rng.choice(ids, 20, replace=False)]
        return Op("select_ids", "read", lambda: self.store.select_ids(want),
                  lambda got: self.shadow.check_select_ids(want, got))

    def query_by_doc(self) -> Op:
        cats = [int(c) for c in self.ops_rng.choice(N_CATS, 2, replace=False)]
        return Op("query_by_doc", "read",
                  lambda: self.store.query_by_doc(["cat"], cats),
                  lambda got: self.shadow.check_query_by_doc("cat", cats, got))

    # -- the operation sequence ----------------------------------------------

    def blocks(self) -> Iterator[list[str]]:
        raise NotImplementedError

    def kinds(self) -> Iterator[str]:
        for block in self.blocks():
            yield from block

    def ops(self) -> Iterator[Op]:
        """Whole blocks: a timed phase ends on a block boundary, so every
        run sees the same operation mix."""
        for block in self.blocks():
            for n, kind in enumerate(block):
                op = self.make(kind)
                op.starts_round = n == 0
                yield op


class StoreServe(_StoreWorkload):
    """Read-only: the (id, vec) index stays in Spark's cache."""

    name = "store_serve"
    #: one block of 20 ops, shuffled per block: 40% search1, 15% each other
    BLOCK = (["search1"] * 8 + ["search16"] * 3 + ["search_by_doc"] * 3
             + ["select_ids"] * 3 + ["query_by_doc"] * 3)

    def blocks(self) -> Iterator[list[str]]:
        while True:
            yield [str(k) for k in self.ops_rng.permutation(self.BLOCK)]

    def make(self, kind: str) -> Op:
        if kind == "search1":
            return self.search("search1", 1)
        if kind == "search16":
            return self.search("search16", 16)
        return getattr(self, kind)()

    def warmup(self) -> Iterator[Op]:
        for kind in dict.fromkeys(self.BLOCK):
            yield self.make(kind)


class StoreIngest(_StoreWorkload):
    """Write-heavy: every write invalidates the cached index."""

    name = "store_ingest"
    WRITES = ("insert", "insert", "delete", "delete", "upsert", "upsert")
    COMPACT_EVERY = 25

    def blocks(self) -> Iterator[list[str]]:
        """Write kinds in shuffled blocks of 6; a ``search_after_write``
        after every second write; ``compact`` (then ``vacuum``) as every
        25th write, counted from the start of each timed phase and first on
        its 12th write, so that a 10-second phase compacts once."""
        writes = 0
        while True:
            block = []
            for w in self.ops_rng.permutation(self.WRITES):
                writes += 1
                if writes % self.COMPACT_EVERY == self.COMPACT_EVERY // 2:
                    block.append("compact")
                else:
                    block.append(str(w))
                if writes % 2 == 0:
                    block.append("search_after_write")
            yield block

    def _write_check(self, apply: Callable[[], None]) -> Callable[[Any], None]:
        def check(_):
            apply()
            self.check_count()
        return check

    def make(self, kind: str) -> Op:
        rng, sh = self.ops_rng, self.shadow
        if kind == "search_after_write":
            return self.search(kind, 1)
        if kind == "insert":
            vecs, docs = _store_vecs(rng, 100), _store_docs(rng, 100)
            return Op(kind, "write", lambda: self.store.insert(vecs, docs),
                      self._write_check(lambda: sh.insert(vecs, docs)),
                      100 * (8 + 4 * DIM) + sum(len(json.dumps(d)) for d in docs))
        if kind == "delete":
            ids, _ = sh.matrix()
            gone = [int(i) for i in rng.choice(ids, 10, replace=False)]
            return Op(kind, "write", lambda: self.store.delete(gone),
                      self._write_check(lambda: sh.delete(gone)), 8 * 10)
        if kind == "upsert":
            ids, _ = sh.matrix()
            live = [int(i) for i in rng.choice(ids, 5, replace=False)]
            new = [sh.max_id() + 1 + 3 * j for j in range(5)]
            keys = live + new
            vecs, docs = _store_vecs(rng, 10), _store_docs(rng, 10)
            return Op(kind, "write",
                      lambda: self.store.upsert(keys, vecs, docs),
                      self._write_check(lambda: sh.upsert(keys, vecs, docs)),
                      10 * (8 + 4 * DIM) + sum(len(json.dumps(d)) for d in docs))

        def compact():
            self.store.compact()
            self.store.vacuum(keep_last=2)
        return Op("compact", "write", compact, self._write_check(lambda: None))

    def warmup(self) -> Iterator[Op]:
        for kind in ("insert", "search_after_write", "delete", "upsert"):
            yield self.make(kind)


# -- batch operators ----------------------------------------------------------

def digest(rows) -> str:
    """Order-insensitive digest of collected rows, floats rounded to 6
    decimals."""
    def norm(v):
        if isinstance(v, float):
            r = round(v, 6)
            return 0.0 if r == 0 else r
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v
    lines = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


class BatchAnalytics:
    """The 12 headline query shapes of ``bench.py`` over the sf0.1 test
    tables plus one admit-loop shard, each pass in a seed-shuffled order.
    A timed phase ends on a pass boundary, so every run sees the same
    operation mix."""

    name = "batch_analytics"
    REGISTERED = ("q1_pricing_summary", "q3_shipping_priority",
                  "q5_local_supplier_volume", "window_top_orders",
                  "events_windowed_agg", "token_stats", "query_by_doc")
    SHAPES = REGISTERED + ("knn_batch32_k10", "dedup_minhash_lsh",
                           "cosine_topk_pairs", "cosine_neardup_lsh",
                           "fuzzy_topk")
    #: the ``minhash_lsh_pairs`` arguments of ``bench.py``
    MINHASH = {"threshold": 0.5, "max_doc_freq": 100, "max_band_bucket": 200}
    TOPK_PAIRS = 20

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.admit = AdmitLoop(spark, work, seed)
        self.data = DATA
        self.ops_rng = np.random.default_rng([seed, 1])
        pick = np.random.default_rng([seed, 2])
        emb_ids = _read("embeddings", ["vec_id"])["vec_id"].to_numpy()
        self.knn_ids = sorted(int(i) for i in pick.choice(emb_ids, 32, replace=False))
        words = vocab()
        self.fuzzy_q = [" ".join(words[j] for j in pick.integers(0, len(words), n))
                        for n in (4, 6)]
        self.reference: dict[str, str] = {}
        self.rows: dict[str, list] = {}

    def build(self) -> None:
        self.admit.build()

    def after_setup(self) -> None:
        self.admit.after_setup()

    def rebind(self, spark) -> None:
        self.spark = self.admit.spark = spark

    def space(self) -> dict[str, float]:
        return self.admit.space()

    def queries(self) -> dict[str, Callable[[], Any]]:
        from pyspark.sql import functions as F

        from vector_db_at_home_spark.operators.dedup import (
            cosine_neardup_bucketed,
            cosine_topk_pairs_blocked,
            minhash_lsh_pairs,
        )
        from vector_db_at_home_spark.operators.fuzzysearch import (
            fuzzy_search_by_doc,
        )
        from vector_db_at_home_spark.operators.knn import knn_search
        from vector_db_at_home_spark.registry import queries as registry
        from vector_db_at_home_spark.sources import load_table

        spark, data, reg = self.spark, self.data, registry()

        def table(name):
            return load_table(spark, data, name)

        def knn():
            emb = table("embeddings")
            qs = emb.filter(F.col("vec_id").isin(self.knn_ids)).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"))
            return knn_search(emb, qs, k=10, id_col="vec_id",
                              vec_col="embedding", impl="pandas")

        shapes = {
            "knn_batch32_k10": knn,
            "dedup_minhash_lsh": lambda: minhash_lsh_pairs(
                table("documents"), "text", "doc_id", **self.MINHASH),
            "cosine_topk_pairs": lambda: cosine_topk_pairs_blocked(
                table("embeddings"), "embedding", "vec_id", k=self.TOPK_PAIRS,
                n_blocks=4),
            "cosine_neardup_lsh": lambda: cosine_neardup_bucketed(
                table("embeddings"), "embedding", "vec_id", min_cosine=0.45,
                k=50, n_planes=8, n_tables=8, max_bucket=2000),
            "fuzzy_topk": lambda: fuzzy_search_by_doc(
                table("documents"), self.fuzzy_q, k=10, doc_col="text",
                id_col="doc_id"),
        }
        for name in self.REGISTERED:
            shapes[name] = (lambda fn: lambda: fn(spark, data))(reg[name])
        return shapes

    def make(self, kind: str, shapes: dict) -> Op:
        def check(rows):
            d = digest(rows)
            if kind not in self.reference:
                self.reference[kind], self.rows[kind] = d, rows
            elif d != self.reference[kind]:
                raise Mismatch(f"{kind}: result digest changed between passes")
        return Op(kind, "read", lambda: shapes[kind]().collect(), check)

    def warmup(self) -> Iterator[Op]:
        shapes = self.queries()
        for kind in shapes:
            yield self.make(kind, shapes)
        yield from self.admit.warmup()

    def kinds(self) -> Iterator[list[str]]:
        names = sorted(self.SHAPES + ("admit_shard",))
        while True:
            yield [str(k) for k in self.ops_rng.permutation(names)]

    def ops(self) -> Iterator[Op]:
        shapes = self.queries()
        for order in self.kinds():
            for n, kind in enumerate(order):
                op = (self.admit.next_op() if kind == "admit_shard"
                      else self.make(kind, shapes))
                if op is not None:
                    op.starts_round = n == 0
                    yield op

    def final_check(self) -> None:
        """Independent answers for the first result of every query: DuckDB
        over the same parquet for the 7 registered shapes (``oracle_sql()``),
        NumPy for kNN and both cosine-pair shapes, and pure Python for fuzzy
        top-k and the MinHash pairs."""
        import duckdb

        from vector_db_at_home_spark.registry import oracle_sql

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.data}/{t}.parquet')")
            for kind in self.REGISTERED:
                want = digest(con.sql(oracles[kind]).fetchall())
                if want != self.reference.get(kind):
                    raise Mismatch(f"{kind}: differs from the DuckDB oracle")
            emb = con.sql("SELECT vec_id, embedding FROM embeddings "
                          "ORDER BY vec_id").fetchall()
            docs = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
        finally:
            con.close()
        ids = np.array([r[0] for r in emb])
        mat = np.array([r[1] for r in emb], dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        self._check_knn(ids, mat)
        self._check_neardup(ids, unit)
        self._check_topk_pairs(ids, unit)
        self._check_fuzzy(docs)
        self._check_minhash(docs)
        self.admit.final_check()

    def _check_knn(self, ids, mat) -> None:
        got: dict[int, list] = {}
        for r in self.rows.get("knn_batch32_k10", []):
            got.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
        if sorted(got) != self.knn_ids:
            raise Mismatch("knn_batch32_k10: wrong query ids")
        pos = {int(i): n for n, i in enumerate(ids)}
        for qid, hits in got.items():
            d = np.sqrt(((mat - mat[pos[qid]]) ** 2).sum(axis=1))
            hits.sort(key=lambda h: (h[1], h[0]))
            check_topk(hits, dict(zip(ids.tolist(), d.tolist())), 10, 1e-4,
                       f"knn_batch32_k10 q{qid}")

    def _check_neardup(self, ids, unit) -> None:
        """Every LSH near-dup pair carries its exact cosine, at least 0.45."""
        pos = {int(i): n for n, i in enumerate(ids)}
        for r in self.rows.get("cosine_neardup_lsh", []):
            a, b, c = r["id_a"], r["id_b"], r["cosine"]
            want = float(unit[pos[a]] @ unit[pos[b]])
            if abs(want - c) > 1e-4 or c < 0.45 - 1e-6:
                raise Mismatch(f"cosine_neardup_lsh: pair ({a}, {b}) cosine "
                               f"{c} (exact {want:.6f})")

    def _check_topk_pairs(self, ids, unit) -> None:
        """The exact top-20 pairs by (-cosine, id_a, id_b) over all pairs."""
        k = self.TOPK_PAIRS
        a, b = np.triu_indices(len(ids), 1)
        cos = (unit @ unit.T)[a, b]
        kth = np.partition(cos, len(cos) - k)[len(cos) - k]
        near = np.flatnonzero(cos >= kth - 1e-3)
        expected = {(int(ids[a[n]]), int(ids[b[n]])): -float(cos[n]) for n in near}
        hits = sorted((((r["id_a"], r["id_b"]), -r["cosine"])
                       for r in self.rows.get("cosine_topk_pairs", [])),
                      key=lambda h: (h[1], h[0]))
        check_topk(hits, expected, k, 1e-5, "cosine_topk_pairs")

    def _check_fuzzy(self, docs: dict[int, str]) -> None:
        got: dict[int, list] = {}
        for r in self.rows.get("fuzzy_topk", []):
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["distance"]))
        for qi, q in enumerate(self.fuzzy_q):
            hits = sorted(got.get(qi, []), key=lambda h: (h[1], h[0]))
            want = {i: indel_distance(q, t) for i, t in docs.items()}
            check_topk(hits, want, 10, 1e-6, f"fuzzy_topk q{qi}")

    def _check_minhash(self, docs: dict[int, str]) -> None:
        """Every MinHash pair is a true near-duplicate: the exact Jaccard of
        the two docs' word 3-gram sets, without shingles found in more than
        ``max_doc_freq`` docs, reaches the threshold and equals
        ``jaccard_e6``.  LSH bounds recall only, so a missed pair is not a
        wrong answer, but an empty answer is."""
        rows = self.rows.get("dedup_minhash_lsh", [])
        if not rows:
            raise Mismatch("dedup_minhash_lsh: no pairs")
        sets = {i: shingles(t) for i, t in docs.items()}
        freq = Counter(s for sh in sets.values() for s in sh)
        cap, bar = self.MINHASH["max_doc_freq"], self.MINHASH["threshold"]
        for r in rows:
            a, b = (sets[r[c]] for c in ("id_a", "id_b"))
            a = {s for s in a if freq[s] <= cap}
            b = {s for s in b if freq[s] <= cap}
            j = len(a & b) / len(a | b) if a | b else 0.0
            if (r["id_a"] >= r["id_b"] or j < bar
                    or math.floor(j * 1e6 + 0.5) != r["jaccard_e6"]):
                raise Mismatch(f"dedup_minhash_lsh: pair ({r['id_a']}, "
                               f"{r['id_b']}) jaccard_e6 {r['jaccard_e6']}, "
                               f"exact {j:.6f}")


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word ``n``-grams of a space-separated text."""
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


# -- the admit loop -------------------------------------------------------------

ADMIT_LANGS = ("en", "de", "es", "fr")
MIN_COSINE = 0.4
#: the documents are cut into 12 slices by ``doc_id % 12``, as
#: ``tools/pipeline_bench.py`` cuts them: 6 make the state, 6 arrive as shards
SLICES = 12
WARM_SHARDS = 1


class AdmitLoop:
    """``clean_corpus_admit_batch`` over sequential shards of the sf0.1
    documents and embeddings, each with its own ``batch_id``, against a
    state built from the other half.  The seed picks which slices make the
    state and the order in which the others arrive."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.root = os.path.join(work, "state")
        docs = _read("documents", ["doc_id", "text", "lang"])
        ids = docs["doc_id"].tolist()
        self.texts = dict(zip(ids, docs["text"]))
        self.langs = dict(zip(ids, docs["lang"]))
        emb = _read("embeddings", ["vec_id", "embedding"])
        self.vecs = {int(i): np.asarray(v, dtype=np.float64)
                     for i, v in zip(emb["vec_id"], emb["embedding"])}
        order = [int(r) for r in np.random.default_rng([seed, 3]).permutation(SLICES)]
        self.corpus, self.shards = order[SLICES // 2:], order[:SLICES // 2]
        self.next_shard = 0
        self.stats: list[dict] = []
        self.stored: set[int] = set()       # doc ids in the state
        self.digests: set[str] = set()
        self.last: tuple | None = None

    def _frames(self, slices: list[int]):
        """(documents, embeddings) of the given ``doc_id % 12`` slices."""
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        return (read(f"{DATA}/documents.parquet")
                .filter((F.col("doc_id") % SLICES).isin(slices)),
                read(f"{DATA}/embeddings.parquet")
                .filter((F.col("vec_id") % SLICES).isin(slices)))

    def _members(self, slices: list[int]) -> list[int]:
        return sorted(i for i in self.texts if i % SLICES in slices)

    def _user_bytes(self, ids) -> int:
        return sum(8 + len(self.texts[i].encode())
                   + (4 * DIM if i in self.vecs else 0) for i in ids)

    def build(self) -> None:
        from vector_db_at_home_spark.operators.pipeline import (
            clean_corpus_states_build,
        )

        clean_corpus_states_build(self.spark, *self._frames(self.corpus),
                                  self.root)

    def after_setup(self) -> None:
        self.stored = set(self._members(self.corpus))
        self.digests = {_md5(self.texts[i]) for i in self.stored}

    def rebind(self, spark) -> None:
        self.spark = spark

    def space(self) -> dict[str, float]:
        size, files = _dir_bytes(self.root)
        return {"pipeline.space_amp": size / self._user_bytes(self.stored),
                "pipeline.state_files": float(files)}

    def next_op(self) -> Op | None:
        from vector_db_at_home_spark.operators.pipeline import (
            clean_corpus_admit_batch,
        )

        if self.next_shard >= len(self.shards):
            return None
        part = [self.shards[self.next_shard]]
        batch_id = f"shard-{part[0]}"
        self.next_shard += 1
        members = self._members(part)
        stats: dict = {}

        def run():
            kept, counts = clean_corpus_admit_batch(
                self.spark, self.root, *self._frames(part),
                batch_id=batch_id, stats=stats)
            return sorted(r.doc_id for r in kept.collect()), counts

        def check(res):
            ids, counts = res
            self.check_shard(members, ids, counts)
            self.stats.append(stats)
            self.last = (batch_id, part, ids, counts)

        return Op("admit_shard", "write", run, check, self._user_bytes(members))

    def check_shard(self, members: list[int], ids: list[int], counts) -> None:
        """Survivor counts are consistent and bounded by the input, and every
        survivor passes the screens a model can decide exactly: exact
        duplicate, quality, language and the exact cosine screen against
        every embedding in the state."""
        n = [c for _, c in counts]
        if n[0] != len(members) or any(b > a for a, b in zip(n, n[1:])):
            raise Mismatch(f"admit: stage counts {counts}")
        if len(ids) != n[-1] or len(ids) > len(members):
            raise Mismatch(f"admit: {len(ids)} survivors, counts {counts}")
        inside = set(members)
        stored = np.array([self.vecs[i] for i in sorted(self.stored)
                           if i in self.vecs])
        stored /= np.linalg.norm(stored, axis=1, keepdims=True)
        for i in ids:
            if i not in inside:
                raise Mismatch(f"admit: survivor {i} is not in the shard")
            t = self.texts[i]
            toks = t.split(" ")
            punct = sum(not (c.isascii() and (c.isalnum() or c == " "))
                        for c in t)
            if (self.langs[i] not in ADMIT_LANGS
                    or len(set(toks)) / len(toks) < 0.3
                    or punct / len(t) > 0.2
                    or _md5(t) in self.digests):
                raise Mismatch(f"admit: survivor {i} fails a stateless screen")
            if i in self.vecs:
                v = self.vecs[i]
                cos = float((stored @ (v / np.linalg.norm(v))).max())
                if cos >= MIN_COSINE + 1e-6:
                    raise Mismatch(f"admit: survivor {i} has cosine {cos:.4f}")
        self.stored.update(ids)
        self.digests.update(_md5(self.texts[i]) for i in ids)

    def warmup(self) -> Iterator[Op]:
        """The first ``WARM_SHARDS`` shards; none once they are admitted."""
        while self.next_shard < WARM_SHARDS:
            yield self.next_op()

    def final_check(self) -> None:
        """Replaying the last shard's ``batch_id`` returns the recorded
        answer and writes nothing (the exactly-once contract)."""
        from vector_db_at_home_spark.operators.pipeline import (
            clean_corpus_admit_batch,
        )

        if self.last is None:
            return
        batch_id, part, ids, counts = self.last
        before = _dir_bytes(self.root)
        kept, again = clean_corpus_admit_batch(
            self.spark, self.root, *self._frames(part), batch_id=batch_id)
        if (sorted(r.doc_id for r in kept.collect()) != ids
                or [tuple(c) for c in again] != [tuple(c) for c in counts]
                or _dir_bytes(self.root) != before):
            raise Mismatch(f"admit: replay of {batch_id} is not exactly-once")


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


WORKLOADS = {w.name: w for w in (StoreServe, StoreIngest, BatchAnalytics)}
