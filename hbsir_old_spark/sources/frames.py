"""Parquet frames reused per file version.

The reference re-reads each cleaned ``{year}_{table}.parquet`` every time a
table is built (data_engine.py:231-234). In Spark every
``spark.read.parquet`` runs a footer-read job and a py4j analysis, and an
analyst request opens the same few base files several times — so the
loaders and the fingerprint cache open each file once per *version*
instead: :func:`parquet_reader` hands back the DataFrame it read last time
while :func:`path_identity` of the path is unchanged.

A version is the sorted ``(relpath, size, mtime_ns)`` of every file under
the path. The same identity keys ``cache_result`` fingerprints (the base
loaders' ``stats_fn``), so "the file changed" means one thing to the frame
memo and to the cache.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from hbsir_old_spark.sources.cache import object_token

FileIdentity = tuple[tuple[str, int, int], ...]


def path_identity(path: str) -> FileIdentity | None:
    """Sorted ``(relpath, st_size, st_mtime_ns)`` of every file under
    ``path`` (relpath ``""`` for a plain file), or None if it is missing.
    Nanosecond mtimes and per-file entries mean a same-size overwrite
    within one second, or a rewrite of one file of a directory, still
    changes the identity."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for dirpath, _, filenames in os.walk(path):
        for fname in filenames:
            full = os.path.join(dirpath, fname)
            try:
                fst = os.stat(full)
            except FileNotFoundError:  # removed by a concurrent writer
                continue
            out.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(out))


def parquet_reader() -> Callable[[SparkSession, str], DataFrame | None]:
    """A reader owning one memoized ``spark.read.parquet(path)`` per path.

    Every call re-stats the path; the memoized frame is returned only while
    both the session (``object_token``) and the :func:`path_identity` match
    the ones it was read under. A changed path is read again and replaces
    the entry; a missing path drops it and returns None. Concurrent callers
    may both read a path once; the entry either stores is keyed by the
    identity seen before its read, so a stale frame is never kept past the
    next stat."""
    memo: dict[str, tuple[tuple, DataFrame]] = {}

    def read(spark: SparkSession, path: str) -> DataFrame | None:
        identity = path_identity(path)
        if identity is None:
            memo.pop(path, None)
            return None
        key = (object_token(spark), identity)
        hit = memo.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        df = spark.read.parquet(path)
        memo[path] = (key, df)
        return df

    return read
