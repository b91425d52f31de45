"""Filesystem utility routed through the Hadoop FileSystem API.

The pipeline driver's guards and dim-swap originally used os/shutil, which
only works when the warehouse is driver-local POSIX storage. Every helper
here resolves the filesystem FROM the path's scheme via py4j
(``Path.getFileSystem(hadoopConf)``), so the same driver code runs against
``file:``, ``hdfs:``, ``s3a:``, ... — whatever the cluster's Hadoop conf
knows. Plain local paths behave exactly as before (scheme-less paths
resolve to the default FS, file:// in local mode).

These are driver-side control-plane calls (existence guards, a handful of
renames per run) — never per-row, so py4j overhead is irrelevant.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join mangles nothing on POSIX, but be
    explicit: always forward slashes, no scheme surprises)."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def exists(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return fs.exists(jp)


def is_file(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return fs.exists(jp) and fs.getFileStatus(jp).isFile()


def file_size(spark: SparkSession, path: str) -> int:
    """Bytes in a file, or total bytes under a directory."""
    fs, jp = _fs_path(spark, path)
    return fs.getContentSummary(jp).getLength()


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jp = _fs_path(spark, path)
    fs.mkdirs(jp)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete if present; returns whether anything was deleted."""
    fs, jp = _fs_path(spark, path)
    if not fs.exists(jp):
        return False
    return fs.delete(jp, recursive)


def replace(spark: SparkSession, src: str, dst: str) -> None:
    """The dim-swap primitive: move ``src`` over ``dst``, recoverable at
    every step. A delete-then-rename swap has a window where a crash
    leaves NO copy of dst; instead the old dst is renamed aside first, so
    at any interruption point at least one complete copy exists:

    1. rename dst → dst_old   (crash here: data intact under dst_old)
    2. rename src → dst       (crash here: new data intact under dst)
    3. delete dst_old         (crash here: dst already live)

    Raises if a rename is refused (src missing, cross-FS move). A stale
    ``dst_old`` from a previous crash is cleaned up before starting."""
    fs, jsrc = _fs_path(spark, src)
    _, jdst = _fs_path(spark, dst)
    if not fs.exists(jsrc):
        raise FileNotFoundError(f"rename source missing: {src}")
    old = dst.rstrip("/") + "_old"
    _, jold = _fs_path(spark, old)
    if fs.exists(jold):
        fs.delete(jold, True)
    had_dst = fs.exists(jdst)
    if had_dst and not fs.rename(jdst, jold):
        raise OSError(f"rename failed: {dst} -> {old}")
    if not fs.rename(jsrc, jdst):
        # put the old copy back so dst is never left missing
        if had_dst:
            fs.rename(jold, jdst)
        raise OSError(f"rename failed: {src} -> {dst}")
    if had_dst:
        fs.delete(jold, True)
