"""Scheme-aware filesystem helpers for the streaming epoch stores.

Every store operation in :mod:`duals` used to go through ``os.path`` /
``os.walk`` — correct on local disk, silently wrong on S3/HDFS where
``os.path.isdir("s3a://…")`` is False, so a prior-epoch store would be
treated as absent and its anti-join skipped (double-counting replayed
memberships — ADVICE r8, duals.py:3389). These helpers resolve the
path's scheme through the Hadoop ``FileSystem`` API (the same resolver
``spark.read`` uses), so the probe agrees with the read that follows it.

When no Spark session is active AND the path has no scheme (plain local
paths in unit tests before a session exists), they fall back to the
stdlib implementations — behaviorally identical on local disk.

All calls are driver-side, once-per-epoch metadata operations (probe a
store, list snapshot versions, pin a bucket count); the py4j round-trip
cost is irrelevant next to the epoch's own jobs.
"""

from __future__ import annotations

import os

__all__ = [
    "exists",
    "listdir",
    "has_parquet_files",
    "mkdirs",
    "read_text",
    "write_text",
    "delete",
    "rename",
]

_LOCAL_SCHEMES = ("", "file")


def _scheme(path: str) -> str:
    i = path.find("://")
    return path[:i] if i > 0 else ""


def _jfs(path: str):
    """(FileSystem, Path, jvm) for ``path``, or None when no active
    session (caller falls back to stdlib for scheme-less paths)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        if _scheme(path) in _LOCAL_SCHEMES:
            return None
        raise RuntimeError(
            f"no active SparkSession to resolve non-local path {path!r}"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(path: str) -> bool:
    h = _jfs(path)
    if h is None:
        return os.path.exists(path)
    fs, jpath, _ = h
    return bool(fs.exists(jpath))


def listdir(path: str) -> list:
    """Child NAMES of ``path`` (like ``os.listdir``); empty list when the
    path does not exist — probe + list collapse into one call for the
    snapshot-version scans."""
    h = _jfs(path)
    if h is None:
        return sorted(os.listdir(path)) if os.path.isdir(path) else []
    fs, jpath, _ = h
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule (``HadoopFSUtils.shouldFilterOutPathName``):
    ``spark.read`` skips ``.``-prefixed names and ``_``-prefixed ones
    that are not partition directories (``_col=value``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def has_parquet_files(path: str) -> bool:
    """True iff any ``*.parquet`` data file that ``spark.read`` would see
    exists under ``path`` (recursive, short-circuits on the first). An
    empty epoch write leaves only ``_SUCCESS``, and a crashed one leaves
    its parts under ``_temporary/``; schema inference over a part-less
    store throws, so stores are probed with this before ``spark.read``.
    Hidden names below the root are skipped as Spark skips them."""
    h = _jfs(path)
    if h is None:
        for _r, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            if any(f.endswith(".parquet") and not _hidden(f) for f in files):
                return True
        return False
    fs, jpath, _ = h
    if not fs.exists(jpath):
        return False
    # listed paths are qualified like the root; compare the part below it
    root = fs.makeQualified(jpath).toString().rstrip("/") + "/"
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        rel = it.next().getPath().toString()[len(root) :]
        if rel.endswith(".parquet") and not any(map(_hidden, rel.split("/"))):
            return True
    return False


def mkdirs(path: str) -> None:
    h = _jfs(path)
    if h is None:
        os.makedirs(path, exist_ok=True)
        return
    fs, jpath, _ = h
    fs.mkdirs(jpath)


def read_text(path: str) -> str:
    h = _jfs(path)
    if h is None:
        with open(path) as f:
            return f.read()
    fs, jpath, jvm = h
    stream = fs.open(jpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        out = []
        line = reader.readLine()
        while line is not None:
            out.append(line)
            line = reader.readLine()
        return "\n".join(out)
    finally:
        stream.close()


def write_text(path: str, text: str) -> None:
    """Replace the file at ``path`` with ``text`` atomically: the text
    goes to a hidden ``.``-prefixed sibling first, which is then renamed
    over ``path``, so a crash mid-write leaves the previous contents
    (a manifest read back with ``json.loads``) intact."""
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f".{name}.tmp")
    h = _jfs(path)
    if h is None:
        os.makedirs(parent, exist_ok=True)
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
        return
    fs, jpath, jvm = h
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    stream = fs.create(jtmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    # FileSystem.rename never overwrites; FileContext's OVERWRITE does
    from pyspark import SparkContext

    opts = SparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), fs.getConf()
    ).rename(jtmp, jpath, opts)


def delete(path: str) -> None:
    """Recursive delete; no-op when the path does not exist. Raises
    when the path exists and cannot be deleted — a compaction must not
    record its watermark beside a folded dir that is still there."""
    h = _jfs(path)
    if h is None:
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
        return
    fs, jpath, _ = h
    if fs.exists(jpath) and not fs.delete(jpath, True):
        raise IOError(f"delete failed: {path}")


def rename(src: str, dst: str) -> None:
    """Directory/file rename. Atomic on HDFS and local disk; on object
    stores it is a copy — callers that need crash-safety gate on the
    _SUCCESS-marked source and make the whole sequence resumable (the
    compaction discipline in duals.compact_epoch_store)."""
    h = _jfs(src)
    if h is None:
        os.rename(src, dst)
        return
    fs, jsrc, jvm = h
    if not fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")
