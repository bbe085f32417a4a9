"""VectorStore-parity API: the reference's eager method surface over Spark.

The reference (``/root/reference/src/vector_db_at_home/vector_store.py:28-404``)
is an embedded store: SQLite row store + an in-memory NumPy (id, vec) index
kept consistent by hand.  Here the durable store is a Parquet **snapshot
directory** (``<root>/v000042/``, latest pointer in ``<root>/_CURRENT``) and
the "in-memory index" is ONE Spark columnar cache of the whole (id, vec, doc)
snapshot, filled together with its row count — the two-copies
consistency burden disappears because every read derives from one source of
truth (SURVEY.md §1.4).  The cache is keyed by (current version, part files
of that version's dir), so appends by any writer — this instance, another
instance on the same root, ``stream_into_store`` — are seen by the next read.

Read model: ``count()`` answers from the cache (no job); ``search`` and
``search_by_doc`` are one Spark job each (``operators.knn.knn_search_collect``
and ``operators.fuzzysearch.fuzzy_search_collect`` over the cached snapshot,
payloads riding along — no count, no broadcast, no shuffle, no payload
join); ``select_ids`` and ``query_by_doc`` scan the cached snapshot instead
of re-reading parquet.

Write model (designed for object storage at scale):
- ``insert``  → append new parquet files into the current snapshot dir
  (no rewrite, no shuffle of existing data).
- ``delete``  → anti-join rewrite into a NEW snapshot dir + atomic pointer
  bump (plain-Parquet stand-in for a Delta ``DELETE``; SURVEY.md §7.4.3).

Reference semantics preserved: dtype whitelist with coercion UserWarning
(vector_store.py:34-55,104-112), wrong-dim/doc-count ValueError
(vector_store.py:185-193), monotone ``max(id)+1`` allocation with holes never
reused (vector_store.py:196-212), missing-id warning on delete
(vector_store.py:245-252), ``k > N`` ValueError for vector search
(vector_store.py:279-284) vs silent truncation for fuzzy search
(tests.py:609-617), ``k <= 0`` ValueError (vector_store.py:361-364),
docs ``None -> "{}"`` (vector_store.py:213-214).
"""

from __future__ import annotations

import json
import os
import warnings
from dataclasses import dataclass
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.fuzzysearch import fuzzy_search_collect
from .operators.knn import knn_search_collect
from .schema import VECTOR_SCHEMA


@dataclass
class _Snapshot:
    """One filled read cache: the cached rows of exactly the part files
    named in ``key``, with their row count."""

    key: tuple[int, tuple[str, ...]]
    df: DataFrame
    n: int


@dataclass
class SelectRecord:
    """Parity with reference SelectRecord (vector_store.py:13-18)."""

    id: int
    vec: np.ndarray
    doc: dict


@dataclass
class SearchRecord:
    """Parity with reference SearchRecord (vector_store.py:20-26)."""

    id: int
    vec: np.ndarray
    doc: dict
    distance: float


def _float32_row_vecs(arr: Any, dim: int) -> np.ndarray:
    """Validate/coerce input vectors (parity: vector_store.py:104-112).

    Numeric dtypes other than float32 coerce with a UserWarning; str/bytes/
    complex/object raise ValueError.  1-D inputs reshape to (-1, dim).
    """
    arr = np.asarray(arr)
    if arr.dtype.kind not in ("b", "i", "u", "f") or (
        arr.dtype.kind == "f" and arr.dtype.itemsize > 8
    ):
        raise ValueError(f"unsupported dtype for vectors: {arr.dtype}")
    if arr.dtype != np.float32:
        warnings.warn(
            f"casting input vectors from {arr.dtype} to float32",
            UserWarning,
            stacklevel=3,
        )
        arr = arr.astype(np.float32)
    if arr.ndim == 1:
        if arr.size % dim != 0:
            raise ValueError(
                f"input of size {arr.size} cannot be reshaped to (-1, {dim})"
            )
        arr = arr.reshape(-1, dim)
    if arr.ndim != 2 or arr.shape[1] != dim:
        raise ValueError(
            f"expected vectors of dimension {dim}, got shape {arr.shape}"
        )
    return arr


def _json_dump(doc: dict | None) -> str:
    # Parity: vector_store.py:132-137 — None -> "{}", non-serializable raises
    # TypeError (surfaced by json.dumps itself, as in the reference).
    if doc is None:
        return "{}"
    return json.dumps(doc)


def _json_parse(s: str | None) -> dict:
    # Parity: vector_store.py:125-130 — None/invalid -> {}
    if not s:
        return {}
    try:
        out = json.loads(s)
    except (TypeError, ValueError):
        return {}
    return out if isinstance(out, dict) else {}


class VectorStore:
    """Eager, reference-shaped API over a Parquet snapshot store.

    The DataFrame-returning layer (``df()``, ``index_df()``) is public so lazy
    pipelines and the driver's ``queries()`` can compose plans without
    collecting (SURVEY.md §7.4.6).  ``df()`` is a fresh read of the snapshot
    dir; ``index_df()`` and the eager reads (``count``, ``search``,
    ``select_ids``, ``query_by_doc``, ``search_by_doc``) share one cache of
    the current snapshot, refilled on the first read after any write.

    **Filesystem boundary (deliberate):** the snapshot pointer and marker
    plumbing here use driver-local ``os`` calls — this class mirrors the
    reference's EMBEDDED store (a local SQLite file,
    ``vector_store.py:69-91``), so ``root`` is a local path by design, the
    same way the reference's db path is.  The cluster-facing state the
    OPERATORS persist (MinHash corpus state, saved IVF/PQ indexes, batch
    markers) goes through the Hadoop FileSystem API instead
    (``functions.fsutil``) and may live on HDFS/S3A; a shared-storage
    multi-writer store would swap this class's pointer file for a
    transactional table format, without touching the DataFrame layer.
    """

    def __init__(self, spark: SparkSession, root: str | os.PathLike, dim: int):
        self.spark = spark
        self.root = str(root)
        self.dim = int(dim)
        self._cache: _Snapshot | None = None
        os.makedirs(self.root, exist_ok=True)
        if self._current_version() is None:
            self._write_snapshot(
                spark.createDataFrame([], VECTOR_SCHEMA), version=0
            )

    # -- snapshot plumbing -------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _current_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _snapshot_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    def _write_snapshot(self, df: DataFrame, version: int) -> None:
        df.write.mode("overwrite").parquet(self._snapshot_dir(version))
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer_path())  # atomic pointer bump
        self._invalidate_cache()

    def _invalidate_cache(self) -> None:
        if self._cache is not None:
            self._cache.df.unpersist()
            self._cache = None

    def _snapshot_key(self) -> tuple[int, tuple[str, ...]]:
        version = self._current_version()
        return version, tuple(sorted(
            name for name in os.listdir(self._snapshot_dir(version))
            if name.startswith("part-")
        ))

    def _snapshot(self) -> _Snapshot:
        """The cached current snapshot, refilled when its key moved.

        The key is (current version, sorted part-file names): the version
        alone misses appends, which land in the current version's dir.
        Checking it costs one pointer read and one ``listdir``.  The cache
        reads the part files BY NAME, so its plan never equals a plain read
        of the dir — Spark's cache manager substitutes cached data for any
        equal plan, and a dir read must not be served rows of an older
        file set.  One job fills the cache and yields its count: an
        ``observe`` over a ``noop`` write (a global ``agg`` would cost three
        jobs under AQE — cache stage, shuffle map stage, result).
        """
        key = self._snapshot_key()
        if self._cache is None or self._cache.key != key:
            self._invalidate_cache()
            version, parts = key
            snap = self._snapshot_dir(version)
            df = self.spark.read.schema(VECTOR_SCHEMA).parquet(
                *(os.path.join(snap, name) for name in parts)
            ).cache()
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")) \
                .write.format("noop").mode("overwrite").save()
            self._cache = _Snapshot(key, df, obs.get["n"])
        return self._cache

    # -- DataFrame layer ---------------------------------------------------

    def df(self) -> DataFrame:
        """Current snapshot as (id, vec, doc)."""
        return self.spark.read.schema(VECTOR_SCHEMA).parquet(
            self._snapshot_dir(self._current_version())
        )

    def compact(self, target_partitions: int | None = None) -> int:
        """Rewrite the current snapshot into few well-sized files.

        Every ``insert`` appends a small file set; at high insert rates the
        snapshot accumulates many tiny files (the classic small-files
        problem — each file costs a task + open at scan time).  Compaction
        rewrites the snapshot into ``target_partitions`` files (default:
        sized from file metadata at ~128 MB per output file, no data scan)
        as a NEW version with an atomic pointer bump, so readers of the old
        version are unaffected.  Returns the new version number.
        """
        df = self.df()
        if target_partitions is None:
            # size from file metadata (no data scan): aim for ~128 MB files
            snap = self._snapshot_dir(self._current_version())
            total_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, files in os.walk(snap)
                for f in files
                if f.endswith(".parquet")
            )
            target_partitions = max(1, total_bytes // (128 << 20))
        compacted = df.repartition(int(target_partitions))
        new_version = self._current_version() + 1
        self._write_snapshot(compacted, new_version)
        return new_version

    def versions(self) -> list[int]:
        """All retained snapshot versions (time travel).  Deletes create new
        versions; inserts append to the current one — the Delta-style
        history the reference's single SQLite file cannot offer."""
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return out

    def df_at_version(self, version: int) -> DataFrame:
        """Read a historical snapshot (state as of that version)."""
        if version not in self.versions():
            raise ValueError(f"unknown version {version}; have {self.versions()}")
        return self.spark.read.schema(VECTOR_SCHEMA).parquet(
            self._snapshot_dir(version)
        )

    def diff(self, from_version: int, to_version: int | None = None
             ) -> DataFrame:
        """Change feed between two snapshots: rows ``(change, id, vec,
        doc)`` with ``change ∈ {'insert', 'delete'}`` — what happened to
        the store between ``from_version`` and ``to_version`` (default:
        current).  Ids are immutable once written (inserts allocate
        ``max+1``, deletes remove), so two anti-joins on ``id`` recover
        the exact delta; there is no update case to miss.  Feeds
        downstream incremental consumers (index syncs, replication)
        without rescanning either snapshot's payload beyond the join."""
        if to_version is None:
            to_version = self._current_version()
        a = self.df_at_version(from_version)
        b = self.df_at_version(to_version)
        inserted = b.join(a.select("id"), "id", "left_anti") \
            .select(F.lit("insert").alias("change"), "id", "vec", "doc")
        deleted = a.join(b.select("id"), "id", "left_anti") \
            .select(F.lit("delete").alias("change"), "id", "vec", "doc")
        return inserted.unionByName(deleted).orderBy("change", "id")

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop old snapshot versions, retaining the ``keep_last`` most
        recent (the current version is always retained).  Returns the
        versions removed.

        Every delete/compact writes a NEW snapshot, so long-lived stores
        accumulate full copies — the Delta-style retention problem.
        Vacuum is safe against concurrent READERS of retained versions
        (removal never touches them) but, like Delta's, not against a
        reader pinned to a version being dropped; pick ``keep_last``
        to cover the longest-running query.  The current version is
        re-read AFTER listing so a concurrent writer's new snapshot is
        never collected."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.versions()
        current = self._current_version()
        keep = set(sorted(versions)[-keep_last:]) | {current}
        removed = []
        for v in versions:
            if v in keep:
                continue
            shutil.rmtree(self._snapshot_dir(v))
            removed.append(v)
        return removed

    def index_df(self) -> DataFrame:
        """(id, vec) projection of the cached snapshot — the analog of the
        reference's in-memory NumPy index (vector_store.py:64-67)."""
        return self._snapshot().df.select("id", "vec")

    # -- reference API -----------------------------------------------------

    def count(self) -> int:
        # vector_store.py:139-142
        return self._snapshot().n

    def head(self, n: int = 5) -> list[dict]:
        # vector_store.py:145-161 — first n rows by id, decoded dicts
        rows = self.df().orderBy("id").limit(n).collect()
        return [
            {"id": r.id, "vec": np.asarray(r.vec, dtype=np.float32),
             "doc": _json_parse(r.doc)}
            for r in rows
        ]

    def insert(self, arr: Any, docs: list[dict] | None = None) -> None:
        # vector_store.py:183-234
        vecs = _float32_row_vecs(arr, self.dim)
        n = len(vecs)
        if docs is not None and len(docs) != n:
            raise ValueError(
                f"got {n} vectors but {len(docs)} docs"
            )
        doc_strs = [_json_dump(d) for d in docs] if docs is not None else ["{}"] * n
        # id allocation: max(id)+1, holes never reused (vector_store.py:196-212).
        # Inherently serial — same single-writer assumption as the reference.
        max_id = self.df().agg(F.max("id")).first()[0]
        start = 0 if max_id is None else max_id + 1
        rows = [
            (start + i, [float(x) for x in vecs[i]], doc_strs[i]) for i in range(n)
        ]
        new_df = self.spark.createDataFrame(rows, VECTOR_SCHEMA)
        # append-only write into the current snapshot dir — no rewrite
        new_df.write.mode("append").parquet(
            self._snapshot_dir(self._current_version())
        )
        self._invalidate_cache()

    def insert_dicts(self, ds: list[dict]) -> None:
        # vector_store.py:163-181 — row-wise {"vec": ..., "doc": ...} ingest
        if not ds:
            return
        vecs = np.stack([np.asarray(d["vec"]) for d in ds])
        docs = [d.get("doc") for d in ds]
        # JSON-serializability check up front (vector_store.py:174-177)
        for d in docs:
            _json_dump(d)
        self.insert(vecs, docs)

    def upsert(self, ids: list[int], arr: Any,
               docs: list[dict] | None = None) -> None:
        """MERGE-style update-or-insert by explicit id (engine extension —
        the reference has no update path at all).

        Rows whose id exists are replaced; new ids are inserted as given
        (they may create holes or exceed max+1 — explicit-id semantics).
        Implemented as the classic snapshot MERGE: anti-join out the
        matched ids, union the new rows, write a NEW version atomically.
        """
        vecs = _float32_row_vecs(arr, self.dim)
        if len(ids) != len(vecs):
            raise ValueError(f"got {len(vecs)} vectors but {len(ids)} ids")
        if docs is not None and len(docs) != len(vecs):
            raise ValueError(f"got {len(vecs)} vectors but {len(docs)} docs")
        doc_strs = (
            [_json_dump(d) for d in docs] if docs is not None
            else ["{}"] * len(vecs)
        )
        rows = [
            (int(ids[i]), [float(x) for x in vecs[i]], doc_strs[i])
            for i in range(len(vecs))
        ]
        new_df = self.spark.createDataFrame(rows, VECTOR_SCHEMA)
        ids_df = self.spark.createDataFrame(
            [(int(i),) for i in ids], "id long"
        )
        merged = self.df().join(F.broadcast(ids_df), "id", "left_anti") \
            .unionByName(new_df)
        self._write_snapshot(merged, self._current_version() + 1)

    def delete(self, ids: list[int]) -> None:
        # vector_store.py:236-254 — warn on missing ids, then remove.
        # No SQLITE_MAX_VARIABLE_NUMBER bound here (documented deviation);
        # large id lists become a broadcast anti-join instead of SQL text.
        if not ids:
            return
        ids_df = self.spark.createDataFrame(
            [(int(i),) for i in ids], "id long"
        )
        present = {
            r.id
            for r in self.df()
            .join(F.broadcast(ids_df), "id", "left_semi")
            .select("id")
            .collect()
        }
        missing = sorted(set(int(i) for i in ids) - present)
        if missing:
            warnings.warn(
                f"ids not present in store: {missing}", UserWarning, stacklevel=2
            )
        remaining = self.df().join(F.broadcast(ids_df), "id", "left_anti")
        self._write_snapshot(remaining, self._current_version() + 1)

    def select_ids(self, ids: list[int]) -> list[SelectRecord]:
        # vector_store.py:256-273 — WHERE id IN (...) ORDER BY id; the
        # ORDER BY runs on the collected rows (one job, no sort stage)
        rows = (
            self._snapshot().df
            .filter(F.col("id").isin([int(i) for i in ids]))
            .collect()
        )
        return _select_records(rows)

    def search(self, query: Any, k: int) -> list[list[SearchRecord]]:
        # vector_store.py:275-332 — exact L2 kNN; k > N raises; per-query
        # ascending distance, tie-break (distance, id).  One Spark job over
        # the cached snapshot; payloads ride along with the winners
        # (vector_store.py:303-313 fetches them in a second lookup).
        snap = self._snapshot()
        if snap.n == 0:
            return []
        if k > snap.n:
            raise ValueError(
                f"k ({k}) must not exceed the number of stored vectors "
                f"({snap.n})"
            )
        qvecs = _float32_row_vecs(query, self.dim)
        return [_search_records(hits)
                for hits in knn_search_collect(snap.df, qvecs, k)]

    def query_by_doc(
        self, path: list[str], values: list[str | int]
    ) -> list[SelectRecord]:
        # vector_store.py:334-356 — json_extract(doc, '$.path') IN (values)
        from .functions.jsonfn import query_by_doc as qbd

        return _select_records(qbd(self._snapshot().df, path, values).collect())

    def search_by_doc(
        self, query_docs: list[str | dict], k: int
    ) -> list[list[SearchRecord]]:
        # vector_store.py:358-401 — fuzzy InDel top-k over raw doc JSON
        # strings; k <= 0 raises, k > N silently truncates (the reference's
        # asymmetry with search, tests.py:600-617).
        # One Spark job over the cached snapshot, payloads riding along.
        if k <= 0:
            raise ValueError(f"k must be positive, got {k}")
        normalized = [
            _json_dump(q) if isinstance(q, dict) else str(q) for q in query_docs
        ]
        snap = self._snapshot()
        if snap.n == 0:
            return [[] for _ in normalized]
        return [_search_records(hits)
                for hits in fuzzy_search_collect(snap.df, normalized, k)]

    def dump_vecs(self) -> np.ndarray:
        # vector_store.py:403-404 — full (n, dim) matrix in id order
        rows = self.df().orderBy("id").select("vec").collect()
        if not rows:
            return np.empty((0, self.dim), dtype=np.float32)
        return np.asarray([r.vec for r in rows], dtype=np.float32)

    def __repr__(self) -> str:
        return f"VectorStore(root={self.root!r}, dim={self.dim})"


def _select_records(rows: list) -> list[SelectRecord]:
    """Collected (id, vec, doc) rows as SelectRecords in id order."""
    return [
        SelectRecord(r.id, np.asarray(r.vec, dtype=np.float32), _json_parse(r.doc))
        for r in sorted(rows, key=lambda r: r.id)
    ]


def _search_records(rows: list) -> list[SearchRecord]:
    """One query's hit rows as SearchRecords in (distance, id) order."""
    recs = [
        SearchRecord(r.id, np.asarray(r.vec, dtype=np.float32),
                     _json_parse(r.doc), float(r.distance))
        for r in rows
    ]
    recs.sort(key=lambda r: (r.distance, r.id))
    return recs


# convenience alias mirroring reference internals for tests
float32_row_vecs = _float32_row_vecs
json_dump = _json_dump
json_parse = _json_parse
