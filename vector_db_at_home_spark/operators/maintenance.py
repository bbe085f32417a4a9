"""Saved-index state: the meta file, the table swap and crash recovery
every index family shares, plus small-file compaction for the
append-only index stores.

- :func:`write_meta` / :func:`read_meta` — every saved index (inverted
  index, MaxSim, MinHash / SimHash / substring state, kNN graph, the IVF
  drift baseline) carries a plain driver-written JSON file stamped with
  :data:`FORMAT_VERSION`; reading it starts no Spark job, and a file that
  is missing, is not plain JSON, or carries another version is refused
  with a ``ValueError`` naming the path.
- :func:`replace_table` — the crash-safe two-rename swap every rewrite
  (compaction, tombstone fold, derived-table regeneration) goes through:

  - stage the rewrite next to the table (``_compact_<name>``),
  - rename the live table to ``_old_<name>``, the stage to the live name,
  - drop the old copy.

  A crash before the first rename leaves the old layout; a crash between
  the renames parks the table at ``_old_<name>`` with no live copy; a
  crash before the final delete leaves ``_old_<name>`` beside the live
  table.  :func:`recover_compact_crash` heals both (run it per table at
  the top of every compact and every ``*_load``).

Every incremental sync (``ann.ivf_sync_with_store``,
``pq.pq_sync_with_store``, ``sq.ivfsq_sync_with_store``) APPENDS a small
parquet file set; at a per-micro-batch cadence the saved index
accumulates thousands of tiny files — the classic small-files problem
(each costs a task + an open at probe time).  ``compact_saved_table``
rewrites one table directory into well-sized files through
:func:`replace_table`.  All path operations go through the Hadoop
FileSystem API (``functions.fsutil``) so indexes may live on HDFS/S3A.

Reader caveat (same as Delta OPTIMIZE): a DataFrame loaded BEFORE the
compact holds the old file listing and fails on next action once the
rewrite lands — re-``load`` after compacting.  Unlike ``store.vacuum``
no data version disappears; only the file layout changes.
"""

from __future__ import annotations

import json

#: Stamped into every ``meta.json`` by :func:`write_meta`; a saved index
#: carrying any other (or no) version is refused at read instead of
#: half-served.
FORMAT_VERSION = 2


def write_meta(spark, file: str, meta: dict) -> None:
    """Write a saved index's parameters as one plain JSON file, stamped
    with :data:`FORMAT_VERSION` (atomic replace, ``fs_write_text``)."""
    from ..functions.fsutil import fs_write_text

    fs_write_text(spark, file,
                  json.dumps({**meta, "format_version": FORMAT_VERSION}))


def read_meta(spark, file: str) -> dict:
    """The dict :func:`write_meta` wrote — a driver-side file read, no
    Spark job.  Raises ``ValueError`` naming ``file`` and the expected
    version when the file is missing, is not a plain JSON object (e.g.
    the older Spark-written ``meta.json`` directory), or carries another
    ``format_version``.  On a remote filesystem a missing file raises
    that filesystem's own not-found error."""
    from ..functions.fsutil import fs_read_text

    try:
        meta = json.loads(fs_read_text(spark, file))
    except (OSError, ValueError) as e:
        raise ValueError(
            f"saved index meta {file} is missing or not a plain JSON "
            f"file, format_version expected {FORMAT_VERSION}; rebuild "
            "the index") from e
    version = meta.get("format_version") if isinstance(meta, dict) else None
    if version != FORMAT_VERSION:
        raise ValueError(
            f"saved index meta {file} has format_version {version!r}, "
            f"expected {FORMAT_VERSION}; rebuild the index")
    return meta


def replace_table(spark, table_dir: str, writer) -> None:
    """Swap the parquet output of ``writer`` (a configured
    ``DataFrameWriter``; the mode is set here) in for ``table_dir`` with
    the two-rename swap of the module docstring.  The writer's plan may
    read ``table_dir`` itself: the stage is written before any rename."""
    from ..functions.fsutil import fs_rename, fs_rmtree

    parent, _, name = table_dir.rstrip("/").rpartition("/")
    stage, old = f"{parent}/_compact_{name}", f"{parent}/_old_{name}"
    writer.mode("overwrite").parquet(stage)
    fs_rename(spark, table_dir, old)
    fs_rename(spark, stage, table_dir)
    fs_rmtree(spark, old)


def recover_compact_crash(spark, table_dir: str) -> None:
    """Heal both non-atomic windows of :func:`replace_table`:

    - ``_old_<name>`` exists, live table MISSING → crash between the two
      renames; rename the old copy back and drop stale staging.
    - ``_old_<name>`` exists AND the live table exists → crash after the
      completed swap but before the final cleanup rmtree; the old copy is
      then always a leftover of a finished compact — drop it, else the
      NEXT compact's ``fs_rename(table_dir, old)`` targets an existing
      directory (Hadoop rename-to-existing returns false → IOError) and
      compaction stays blocked (ADVICE r6)."""
    from ..functions.fsutil import fs_exists, fs_rename, fs_rmtree

    parent, _, name = table_dir.rstrip("/").rpartition("/")
    old = f"{parent}/_old_{name}"
    if fs_exists(spark, old):
        if not fs_exists(spark, table_dir):
            fs_rename(spark, old, table_dir)
            fs_rmtree(spark, f"{parent}/_compact_{name}")
        else:
            fs_rmtree(spark, old)


def tombstones_resurrect_ids(spark, tomb_dir: str, ids: "DataFrame") -> int:
    """Rewrite a tombstone table MINUS the given ids (r11, ADVICE r10):
    the re-admission half of delete propagation.  Every ``*_append``
    guards on the tombstone-filtered id view, so a doc re-admitted under
    a previously tombstoned id used to pass the guard, append rows — and
    then stay invisible until the next physical compact folded the
    tombstone.  Removing the id from the tombstones instead resurfaces
    the doc's original rows immediately (they were hidden, not deleted).

    Contract: re-admission under a reused id assumes the SAME content —
    every index family's rows are pure functions of (id, content), so
    the resurfaced rows are byte-identical to what the append would have
    produced.  Re-admitting CHANGED content under a reused id requires a
    physical compact between the delete and the re-admit (the same
    discipline as every append-only family here); the store itself never
    reuses ids (max+1 allocation), so this arises only from external id
    management.

    Crash-safe :func:`replace_table` swap, healed by
    ``recover_compact_crash`` (run here and by every ``*_load``).
    Returns the number of tombstones removed; no-op (0) when the table
    is absent or disjoint from ``ids``.

    Concurrency contract (ADVICE r11): SINGLE WRITER, NO CONCURRENT
    READERS during the swap.  Between the two renames the tombstone
    table is briefly ABSENT — a reader loading the index in that window
    sees zero tombstones and every deleted doc resurfaces in its
    results, silently (unlike ``compact_saved_table``'s window, where
    the missing LIVE table fails the read loudly).  This matches the
    engine-wide append-only-store discipline — every ``*_append`` /
    ``*_sync`` / compact here assumes one maintainer process, and the
    rewrite runs inline in any append whose batch intersects the
    tombstones — but it is the one window that degrades to wrong
    results rather than an error, so serve from a separate index copy
    (or quiesce readers) when running maintenance against live traffic.
    """
    from ..functions.fsutil import fs_exists

    recover_compact_crash(spark, tomb_dir)
    if not fs_exists(spark, tomb_dir):
        return 0
    t = spark.read.parquet(tomb_dir).select("id")
    keep = t.join(ids.select("id"), "id", "left_anti") \
        .localCheckpoint(eager=True)  # materialize BEFORE the dir swap
    n_drop = t.count() - keep.count()
    if n_drop == 0:
        return 0
    replace_table(spark, tomb_dir, keep.coalesce(1).write)
    return n_drop


def compact_saved_table(spark, table_dir: str,
                        target_partitions: int = 32,
                        partition_by: str | None = None,
                        minus_ids_dir: str | None = None) -> None:
    """Rewrite ``table_dir`` into ``target_partitions`` in-memory
    partitions before the write.  With ``partition_by`` the repartition
    keys on that column, so each output partition directory receives its
    rows from few tasks (one file per low-cardinality partition value
    instead of ``target_partitions`` slivers each).  With
    ``minus_ids_dir`` the rewrite DROPS rows whose ``id`` appears in
    that table (tombstone fold-in — the physical half of delete
    propagation).  Content otherwise identical; crash-safe per the
    module docstring."""
    recover_compact_crash(spark, table_dir)
    df = spark.read.parquet(table_dir)
    if minus_ids_dir is not None:
        df = df.join(
            spark.read.parquet(minus_ids_dir).select("id"),
            "id", "left_anti",
        )
    if partition_by is not None:
        writer = df.repartition(target_partitions, partition_by) \
            .write.partitionBy(partition_by)
    else:
        writer = df.repartition(target_partitions).write
    replace_table(spark, table_dir, writer)


def ivf_compact_saved(spark, path: str,
                      target_partitions: int = 32) -> None:
    """Compact a saved IVF index's appended assignment store
    (``ivf_save`` layout, cell-partitioned), folding and clearing any
    tombstones (``ann.ivf_sync_deletes``)."""
    from ..functions.fsutil import fs_exists, fs_rmtree

    tomb = f"{path}/tombstones"
    has_tomb = fs_exists(spark, tomb)
    compact_saved_table(spark, f"{path}/assigned",
                        target_partitions, partition_by="cell",
                        minus_ids_dir=tomb if has_tomb else None)
    if has_tomb:
        fs_rmtree(spark, tomb)


def ivfsq_compact_saved(spark, path: str,
                        target_partitions: int = 32) -> None:
    """Compact a saved IVF-SQ8 index's appended code store, folding any
    tombstones (``sq.ivfsq_sync_deletes``) into the rewrite and clearing
    them.  Crash between the swap and the tombstone clear is harmless:
    the already-filtered codes anti-join the surviving tombstones to a
    no-op, and the next compact clears them."""
    from ..functions.fsutil import fs_exists, fs_rmtree

    tomb = f"{path}/tombstones"
    has_tomb = fs_exists(spark, tomb)
    compact_saved_table(spark, f"{path}/codes",
                        target_partitions, partition_by="cell",
                        minus_ids_dir=tomb if has_tomb else None)
    if has_tomb:
        fs_rmtree(spark, tomb)


def pq_compact_saved(spark, path: str,
                     target_partitions: int = 32) -> None:
    """Compact a saved PQ index's appended code table (unpartitioned),
    folding and clearing any tombstones (``pq.pq_sync_deletes``)."""
    from ..functions.fsutil import fs_exists, fs_rmtree

    tomb = f"{path}/tombstones"
    has_tomb = fs_exists(spark, tomb)
    compact_saved_table(spark, f"{path}/codes", target_partitions,
                        minus_ids_dir=tomb if has_tomb else None)
    if has_tomb:
        fs_rmtree(spark, tomb)


def snapshot_diff(old, new, id_col: str, content_cols: list[str]):
    """Row-level diff between two table snapshots — the dataset-versioning
    primitive (what changed between yesterday's corpus and today's):
    ``(id, status)`` with status ∈ {added, removed, changed, unchanged},
    where "changed" compares an md5 digest of ``to_json(struct(cols))``
    — JSON distinguishes NULL from empty string and escapes every
    delimiter, so neither nulls nor column contents can alias a
    boundary (a plain separator-concat digest reported NULL↔'' edits
    as "unchanged").

    One full-outer join on the id — both sides shuffle (id, 32-char
    digest) rows only, content never moves.  Pairs with
    ``store.df_at_version`` for time-travel diffs of the vector store,
    and with any two parquet snapshots of a corpus table."""
    from pyspark.sql import functions as F

    def dig(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])))
            .alias("dg"),
        )

    o = dig(old).withColumnRenamed("dg", "dg_old")
    n = dig(new).withColumnRenamed("dg", "dg_new")
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("dg_old").isNull(), F.lit("added"))
        .when(F.col("dg_new").isNull(), F.lit("removed"))
        .when(F.col("dg_old") != F.col("dg_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("id", status.alias("status"))
