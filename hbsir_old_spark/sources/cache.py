"""Dependency-fingerprinted cache for expensive derived tables.

Reference parity: the reference caches ``cache_result: true`` tables as
parquet plus a YAML snapshot of the resolved dependency tree, rebuilding
when the tree changes (/root/reference/hbsir/core/data_engine.py:515-610).
Same algorithm here, driver-side: fingerprint = sha256 over (resolved
schema subtree, base-file identities from ``frames.path_identity``);
storage = parquet + JSON sidecar. On a cluster the cache directory lives on
shared storage and the materialized parquet doubles as a shuffle-free,
partition-pruned input for downstream plans.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def stable_fingerprint(payload: Any) -> str:
    """Deterministic fingerprint of a JSON-serializable structure."""
    blob = json.dumps(payload, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()


_OBJECT_TOKENS: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]
_TOKEN_COUNTER = None


def object_token(obj: Any) -> int | None:
    """A process-unique, NON-RECYCLABLE identity token for a live object.

    ``id()`` is unsafe as a cache key for SparkContext/SparkSession
    lifetime scoping: CPython recycles addresses, so a context GC'd after
    ``spark.stop()`` can hand its id to the replacement and a stale-
    gateway guard keyed on ``id()`` fails in exactly the restart scenario
    it exists for. This hands out monotonically increasing tokens held in
    a WeakKeyDictionary — a token dies with its object and is never
    reissued. Returns None for ``obj is None`` (no active context)."""
    global _OBJECT_TOKENS, _TOKEN_COUNTER
    if obj is None:
        return None
    if _OBJECT_TOKENS is None:
        import itertools
        import weakref

        _OBJECT_TOKENS = weakref.WeakKeyDictionary()
        _TOKEN_COUNTER = itertools.count(1)
    tok = _OBJECT_TOKENS.get(obj)
    if tok is None:
        tok = next(_TOKEN_COUNTER)
        _OBJECT_TOKENS[obj] = tok
    return tok


def active_context_token() -> int | None:
    """Token for the active SparkContext (None if no context is alive) —
    the shared key component of every driver-side Column/DataFrame memo."""
    from pyspark import SparkContext

    return object_token(SparkContext._active_spark_context)


class FingerprintCache:
    """``cache_result`` tables as ``{root}/{year}_{table}.parquet`` plus a
    JSON sidecar holding the fingerprint they were built under. Reads go
    through one :func:`~hbsir_old_spark.sources.frames.parquet_reader`, so
    a cache entry is opened once per version: ``get`` re-stats the entry on
    every call and reuses the frame it read while the files are unchanged,
    and ``put`` re-reads the entry it overwrote."""

    def __init__(self, root: str):
        from hbsir_old_spark.sources.frames import parquet_reader

        self.root = root
        os.makedirs(root, exist_ok=True)
        self._read = parquet_reader()

    def _paths(self, table: str, year: int) -> tuple[str, str]:
        base = os.path.join(self.root, f"{year}_{table}")
        return base + ".parquet", base + ".meta.json"

    def get(self, spark: SparkSession, table: str, year: int, fingerprint: str) -> DataFrame | None:
        data_path, meta_path = self._paths(table, year)
        try:
            with open(meta_path) as fh:
                meta = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
        if meta.get("fingerprint") != fingerprint:
            return None
        return self._read(spark, data_path)

    def put(self, df: DataFrame, table: str, year: int, fingerprint: str) -> DataFrame:
        data_path, meta_path = self._paths(table, year)
        df.write.mode("overwrite").parquet(data_path)
        with open(meta_path, "w") as fh:
            json.dump({"table": table, "year": year, "fingerprint": fingerprint}, fh)
        return self._read(df.sparkSession, data_path)
