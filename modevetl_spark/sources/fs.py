"""Filesystem seam for the standing jobs (watermark state, LSH index /
pair stores): existence and small-state I/O routed through the Hadoop
FileSystem API whenever a path carries a scheme, so the same job code
runs unmodified against ``s3a://`` / ``hdfs://`` / ``file:`` URIs — a
100 TB deployment's stores live on an object store, where
``os.path.exists`` is silently always-False and would reset every
incremental job to a cold start.

Scheme-less paths keep the plain ``os`` fast path: no JVM round-trip,
and `Watermark` stays constructible without a SparkSession (its
pre-Spark callers read the mark before building the session).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def has_scheme(path: str) -> bool:
    """True for URI-style paths (``s3a://…``, ``hdfs://…``, ``file:/…``)
    that must go through a Hadoop FileSystem, False for plain OS paths."""
    if path.startswith("file:"):
        return True
    head = path.split("/", 1)[0]
    return head.endswith(":") and len(head) > 2 or "://" in path


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _require_session(spark: SparkSession | None, path: str) -> bool:
    """True -> use Hadoop FS. A scheme'd path with no session is a hard
    error: silently falling back to os.path would recreate the exact
    always-False / cold-start bug this seam exists to fix."""
    if not has_scheme(path):
        return False
    if spark is None:
        raise ValueError(
            f"path {path!r} has a filesystem scheme but no SparkSession "
            "was provided to reach the Hadoop FileSystem API"
        )
    return True


def fs_exists(spark: SparkSession | None, path: str) -> bool:
    """Existence check that follows the path's scheme. With no scheme it
    is exactly ``os.path.exists``."""
    if not _require_session(spark, path):
        return os.path.exists(path)
    fs, hpath = _fs_and_path(spark, path)
    return fs.exists(hpath)


def fs_has_parquet_files(spark: SparkSession | None, path: str) -> bool:
    """True if any .parquet data file exists under ``path``. The right
    'does this store exist' test for parquet sinks: a just-created empty
    dir or a sink emptied by deletes has no data files, and reading it
    fails schema inference."""
    if not _require_session(spark, path):
        for _, _, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def read_json_state(spark: SparkSession | None, path: str):
    """Small JSON state file -> dict, or None if absent.

    JVM-path crash recovery: the writer's delete-live-then-rename leaves
    a window where only the fully-written ``.tmp`` exists — recover from
    it (the tmp is always complete before the live file is deleted; a
    crash mid-tmp-write leaves the live file intact and the tmp
    ignored)."""
    if not _require_session(spark, path):
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        if not fs.exists(tmp):
            return None
        hpath = tmp
    stream = fs.open(hpath)
    try:
        data = bytearray()
        buf_cls = spark._jvm.java.io.BufferedReader
        reader = buf_cls(spark._jvm.java.io.InputStreamReader(stream, "UTF-8"))
        line = reader.readLine()
        while line is not None:
            data.extend((line + "\n").encode("utf-8"))
            line = reader.readLine()
        return json.loads(bytes(data).decode("utf-8"))
    finally:
        stream.close()


def write_json_state(spark: SparkSession | None, path: str, obj) -> None:
    """Write small JSON state via tmp-then-rename. On HDFS the rename is
    atomic; on object stores it is copy+delete — acceptable for a
    single-writer watermark (the job serializes its own runs). The
    Hadoop rename cannot overwrite, so the live file is deleted first;
    the crash window between delete and rename is closed on the READ
    side (read_json_state falls back to the fully-written tmp).
    """
    payload = json.dumps(obj)
    if not _require_session(spark, path):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
        return
    fs, hpath = _fs_and_path(spark, path)
    tmp_path = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp_path, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    fs.rename(tmp_path, hpath)
