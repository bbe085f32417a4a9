"""Filesystem helpers that work on any Hadoop-supported filesystem.

State directories (MinHash corpus state, saved indexes, batch markers)
may live on HDFS/S3A at cluster scale; driver-local ``os`` calls are
silently wrong there (ADVICE r4: an ``os.path.exists`` probe on a remote
URI is always false).  These helpers go through the JVM Hadoop
``FileSystem`` API with a local-filesystem fallback for environments
without a JVM gateway (e.g. Spark Connect against a local checkout).
"""

from __future__ import annotations


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _is_local_path(path: str) -> bool:
    """True iff the path is driver-local: no scheme, or an explicit
    ``file:`` scheme.  The os/shutil fallbacks are ONLY correct for these —
    for ``hdfs://``/``s3a://`` URIs a driver-local probe is always false
    and a driver-local write lands on the wrong filesystem entirely
    (ADVICE r5: swallowing a transient JVM error into the local fallback
    silently rebuilds remote state every micro-batch)."""
    scheme, sep, _rest = path.partition("://")
    if not sep:
        # "file:/x" single-slash Hadoop form, or a plain local path
        return not (":" in path.split("/", 1)[0]) or path.startswith("file:")
    return scheme == "file"


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def fs_exists(spark, path: str) -> bool:
    try:
        fs, p = _hadoop_fs(spark, path)
        return bool(fs.exists(p))
    except Exception:
        if not _is_local_path(path):
            raise  # a driver-local probe on a remote URI is always False
        import os

        return os.path.exists(_strip_file_scheme(path))


def fs_touch(spark, path: str) -> None:
    """Create an empty marker file (parents included)."""
    try:
        fs, p = _hadoop_fs(spark, path)
        fs.create(p, True).close()
    except Exception:
        if not _is_local_path(path):
            raise
        import os

        lp = _strip_file_scheme(path)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        with open(lp, "w") as f:
            f.write("done")


def fs_ls(spark, path: str) -> list[str]:
    """Child names (not full paths) of a directory; [] if absent."""
    try:
        fs, p = _hadoop_fs(spark, path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]
    except Exception:
        if not _is_local_path(path):
            raise
        import os

        lp = _strip_file_scheme(path)
        return os.listdir(lp) if os.path.exists(lp) else []


def fs_rename(spark, src: str, dst: str) -> None:
    """Atomic-per-FS rename (the commit primitive parquet jobs rely on)."""
    try:
        fs, s = _hadoop_fs(spark, src)
        _fs2, d = _hadoop_fs(spark, dst)
        if not fs.rename(s, d):
            raise IOError(f"rename {src} -> {dst} refused")
    except IOError:
        raise  # the FS API itself refused — not a gateway problem
    except Exception:
        if not (_is_local_path(src) and _is_local_path(dst)):
            raise
        import os

        os.rename(_strip_file_scheme(src), _strip_file_scheme(dst))


def fs_mkdirs(spark, path: str) -> None:
    """Create a directory (parents included, exists-ok)."""
    try:
        fs, p = _hadoop_fs(spark, path)
        fs.mkdirs(p)
    except Exception:
        if not _is_local_path(path):
            raise
        import os

        os.makedirs(_strip_file_scheme(path), exist_ok=True)


def fs_rmtree(spark, path: str) -> None:
    """Recursive delete, ignore-missing.  Deletes PLAIN FILES too — the
    Hadoop ``delete`` handles both, and the local fallback branches on
    ``isdir`` (ADVICE r11: ``shutil.rmtree(ignore_errors=True)`` silently
    no-ops on a file, so in JVM-gateway-less environments a stale
    watermark FILE would survive the ``ivf_save`` clear and
    ``fs_write_text``'s delete-before-rename would leave the old file in
    place, violating their delete contracts)."""
    try:
        fs, p = _hadoop_fs(spark, path)
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        if not _is_local_path(path):
            raise
        import contextlib
        import os
        import shutil

        lp = _strip_file_scheme(path)
        if os.path.isdir(lp):
            shutil.rmtree(lp, ignore_errors=True)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lp)


def fs_write_text(spark, path: str, content: str) -> None:
    """Write a small text file ATOMICALLY: content lands at
    ``{path}.tmp`` first, then renames over (readers see the old file,
    the new file, or — in the crash window between delete and rename —
    no file, never a torn one).  Each reader decides what a missing file
    means: the IVF sync watermark and drift baseline read it as no
    state, ``maintenance.read_meta`` refuses the index."""
    tmp = f"{path}.tmp"
    try:
        fs, p = _hadoop_fs(spark, tmp)
        out = fs.create(p, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
    except Exception:
        if not _is_local_path(path):
            raise
        import os

        lp = _strip_file_scheme(tmp)
        os.makedirs(os.path.dirname(lp), exist_ok=True)
        with open(lp, "w", encoding="utf-8") as f:
            f.write(content)
    fs_rmtree(spark, path)
    fs_rename(spark, tmp, path)


def fs_read_text(spark, path: str) -> str:
    """Read a small text file (streaming-checkpoint metadata, state meta)."""
    try:
        fs, p = _hadoop_fs(spark, path)
        stream = fs.open(p)
        try:
            out = bytearray()
            buf_cls = spark._jvm.java.io.BufferedReader
            rdr = buf_cls(spark._jvm.java.io.InputStreamReader(stream, "UTF-8"))
            line = rdr.readLine()
            while line is not None:
                out.extend(line.encode("utf-8"))
                out.extend(b"\n")
                line = rdr.readLine()
            return out.decode("utf-8")
        finally:
            stream.close()
    except Exception:
        if not _is_local_path(path):
            raise
        with open(_strip_file_scheme(path), "r", encoding="utf-8") as f:
            return f.read()
