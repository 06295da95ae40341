"""Driver-side control-file I/O that works beyond the local disk.

The durable stores keep tiny control files in or NEXT TO their data —
the manifest store's ``_ptr.json`` pointer and ``_mN.json``
manifests, the streaming maintainers' ``_bloom.json``/``_cms.json``
sidecars, and the ``._upsert_bak`` swap directory of
``upsert_parquet``.  Plain ``open()`` / ``os.rename`` only address
the driver's local filesystem; on a real cluster the store lives on
HDFS/S3/GCS, where those calls silently target the wrong filesystem.  Everything here dispatches on
the path's scheme:

* **local** (no scheme, or ``file:``) — POSIX fast path, no JVM
  round-trips.  This is the test/sandbox path.
* **anything else** (``hdfs://``, ``s3a://``, ``gs://``, ...) — the
  Hadoop ``FileSystem`` API through the active Spark JVM gateway, which
  resolves the right implementation from the Hadoop configuration.
  Requires a ``spark`` session; a clear error is raised without one.

Atomicity caveat, stated rather than hidden: ``write_text_atomic`` and
``rename`` are atomic on POSIX and HDFS (rename is a namespace
operation).  On S3-like object stores rename is copy+delete — the
control files are single small objects so the window is tiny, but a
table format (Delta/Iceberg) is the real answer there, as the streaming
maintainers' docstrings already say.
"""

from __future__ import annotations

import os
from typing import Optional
from urllib.parse import urlparse


def scheme_of(path: str) -> str:
    s = urlparse(path).scheme
    # single letters are Windows drive specs, not URI schemes
    return s if len(s) > 1 else ""


def is_local(path: str) -> bool:
    return scheme_of(path) in ("", "file")


def _strip_file_scheme(path: str) -> str:
    if scheme_of(path) == "file":
        return urlparse(path).path
    return path


def _require_spark(spark, path: str):
    if spark is None:
        raise ValueError(
            f"path {path!r} has a non-local scheme; a SparkSession is "
            "required to reach it through the Hadoop FileSystem API "
            "(pass spark=...)")
    return spark


def _hadoop(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def read_text(path: str, spark=None) -> Optional[str]:
    """Contents of a small text file, or None if it doesn't exist.

    Only genuine not-found maps to None.  Every other error (permission
    denied, transient I/O) propagates: for an epoch marker, swallowing
    it would read as "epoch -1", re-arming an already-merged batch and
    double-merging additive state — a failed batch is the safe outcome.
    """
    if is_local(path):
        try:
            with open(_strip_file_scheme(path)) as f:
                return f.read()
        except (FileNotFoundError, NotADirectoryError):
            return None
    fs, jpath, jvm = _hadoop(_require_spark(spark, path), path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def write_text_atomic(path: str, text: str, spark=None) -> None:
    """Write a small text file via tmp-then-rename-with-overwrite
    (atomic on POSIX/HDFS; copy-based on S3-like stores — see module
    docstring).

    The remote branch renames through ``FileContext`` with
    ``Options.Rename.OVERWRITE`` — a single atomic namespace operation
    on HDFS.  A delete-then-rename pair would open a crash window with
    NO marker present at all, which for an epoch marker silently
    re-arms already-merged batches — worse than a stale marker.
    """
    if is_local(path):
        p = _strip_file_scheme(path)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, p)
        return
    spark = _require_spark(spark, path)
    fs, jpath, jvm = _hadoop(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jpath.toUri(), spark._jsc.hadoopConfiguration())
    overwrite = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    arr = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1)
    arr[0] = overwrite
    fc.rename(tmp, jpath, arr)


def ensure_dir(path: str, spark=None) -> None:
    """Create a directory (and parents) if missing — the seam a store
    needs before its first control-file write when no data write has
    created the directory yet (e.g. an empty first batch)."""
    if is_local(path):
        os.makedirs(_strip_file_scheme(path), exist_ok=True)
        return
    fs, jpath, _ = _hadoop(_require_spark(spark, path), path)
    fs.mkdirs(jpath)


def dir_exists(path: str, spark=None) -> bool:
    if is_local(path):
        return os.path.isdir(_strip_file_scheme(path))
    fs, jpath, _ = _hadoop(_require_spark(spark, path), path)
    return bool(fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory())


def delete(path: str, *, recursive: bool = True, spark=None) -> None:
    """Remove a file or directory tree; missing paths are a no-op."""
    if is_local(path):
        p = _strip_file_scheme(path)
        if os.path.isdir(p):
            import shutil
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
        return
    fs, jpath, _ = _hadoop(_require_spark(spark, path), path)
    if fs.exists(jpath):
        fs.delete(jpath, recursive)


def list_dir(path: str, spark=None) -> list[str]:
    """Child names (not paths) of a directory; [] when it is missing."""
    if is_local(path):
        p = _strip_file_scheme(path)
        return sorted(os.listdir(p)) if os.path.isdir(p) else []
    fs, jpath, _ = _hadoop(_require_spark(spark, path), path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))


def list_status(path: str, spark=None) -> list[tuple]:
    """(name, is_dir, size, mtime_ms) for each child of a directory,
    [] when missing.  Sizes/mtimes come from the LISTING itself — one
    RPC per directory on remote filesystems, never one stat per file
    (the shape a million-file convert needs)."""
    if is_local(path):
        import stat as statmod
        p = _strip_file_scheme(path)
        if not os.path.isdir(p):
            return []
        out = []
        for name in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, name))
            out.append((name, statmod.S_ISDIR(st.st_mode),
                        int(st.st_size), int(st.st_mtime * 1000)))
        return out
    fs, jpath, _ = _hadoop(_require_spark(spark, path), path)
    if not fs.exists(jpath):
        return []
    return sorted((st.getPath().getName(), bool(st.isDirectory()),
                   int(st.getLen()), int(st.getModificationTime()))
                  for st in fs.listStatus(jpath))


def rename(src: str, dst: str, spark=None) -> None:
    """Move a file or directory (atomic namespace op on POSIX/HDFS)."""
    if is_local(src) and is_local(dst):
        os.rename(_strip_file_scheme(src), _strip_file_scheme(dst))
        return
    fs, jsrc, jvm = _hadoop(_require_spark(spark, src), src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")
