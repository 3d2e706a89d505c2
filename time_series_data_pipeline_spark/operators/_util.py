"""Shared operator plumbing."""

from __future__ import annotations

import collections
import threading

from collections.abc import Callable

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: Relation reuse for IMMUTABLE cached_store outputs (the scan_pruned /
#: catalog.table relation caches' sibling): a published store path is
#: content-keyed (source mtime + pipeline version in key_material) and
#: never rewritten in place, so the lazy relation over it is identical
#: for the life of the path. Caches the PLAN object only — executing it
#: still reads the parquet files.
_STORE_REL_CACHE: dict[tuple, DataFrame] = {}
_STORE_REL_CACHE_MAX = 64
_STORE_REL_CACHE_LOCK = threading.Lock()


def load_store(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` memoized per (session, path) —
    valid ONLY for immutable published stores (cached_store outputs)."""
    import os

    key = (spark, os.path.abspath(path))
    with _STORE_REL_CACHE_LOCK:
        cached = _STORE_REL_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    with _STORE_REL_CACHE_LOCK:
        while len(_STORE_REL_CACHE) >= _STORE_REL_CACHE_MAX:
            _STORE_REL_CACHE.pop(next(iter(_STORE_REL_CACHE)), None)
        _STORE_REL_CACHE[key] = df
    return df


def cached_store(build: Callable[[str], None], prefix: str, key_material: str) -> str:
    """Build-once on-disk store with an ATOMIC publish.

    ``key_material`` must encode everything the store's content depends
    on — source path, mtime, AND build parameters/algorithm version — so
    a parameter change can never silently reuse a stale store. The build
    writes into a unique scratch dir and publishes via ``os.rename``
    (atomic on POSIX): concurrent sessions either see the complete store
    or build their own candidate; the rename loser discards its scratch
    and reads the winner's — no torn reads, no clobbering mid-write.

    This is a local-disk stand-in for what a cluster deployment does
    with a metastore table + overwrite-by-version; the keying/atomicity
    contract is the same.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    key = hashlib.md5(key_material.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{key}")
    # Completeness marker is OURS, touched after build() returns — NOT
    # parquet's _SUCCESS: a dynamic-partition-overwrite write commits
    # per partition and leaves no root _SUCCESS, so keying on it made
    # every lookup a miss and silently rebuilt the store on every query
    # invocation (measured: the entire "pruned path slower than raw
    # scan" regression was this rebuild, not the layout).
    if not os.path.exists(os.path.join(path, "_STORE_COMPLETE")):
        scratch = f"{path}.build-{uuid.uuid4().hex[:8]}"
        build(scratch)
        open(os.path.join(scratch, "_STORE_COMPLETE"), "w").close()
        try:
            os.rename(scratch, path)
        except OSError:
            if os.path.exists(os.path.join(path, "_STORE_COMPLETE")):
                # lost the publish race — another session renamed first;
                # drop our candidate and use theirs
                shutil.rmtree(scratch, ignore_errors=True)
            else:
                # a torn dir from a crashed legacy writer occupies the
                # slot: replace it with our complete candidate
                shutil.rmtree(path, ignore_errors=True)
                os.rename(scratch, path)
    return path


#: Pinned frames, oldest first, keyed by (application id, semantic hash
#: of the plan) so pinning a plan that is already cached refreshes its
#: entry instead of adding one. Nothing else unpersists a pin, so the
#: FIFO bounds what a long-lived session keeps cached (a curation op pins
#: 7 frames); evicting the oldest is safe because every pinned plan is
#: deterministic, and a lazy plan that still reads an evicted frame
#: recomputes it from lineage. Only JVM handles are held, never the
#: Python session; entries of a stopped context (another application id)
#: are dropped by the next pin.
_PINNED: collections.OrderedDict[tuple[str, int], JavaObject] = collections.OrderedDict()
_PINNED_MAX = 64
_PINNED_LOCK = threading.Lock()


def pin(df: DataFrame) -> DataFrame:
    """Persist an intermediate that multiple plan branches reuse.

    Spark has no cross-branch common-subexpression reuse: every branch
    of a self-join (or a projection feeding several joins) recomputes
    its lineage from the scan. Pinning also stops Catalyst's
    CollapseProject from inlining an expensive projected expression
    (e.g. a normalized vector) into every downstream consumer.
    MEMORY_AND_DISK keeps the 100 TB stance honest: spills instead of
    OOM — the moral equivalent of materializing a temp table between
    passes of a multi-pass MapReduce job. The frame must be
    deterministic: after ``_PINNED_MAX`` newer pins it is unpersisted."""
    app = df.sparkSession.sparkContext.applicationId
    key = (app, df.semanticHash())
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _PINNED_LOCK:
        for k in [k for k in _PINNED if k[0] != app]:
            del _PINNED[k]
        _PINNED[key] = df._jdf
        _PINNED.move_to_end(key)
        evicted = [_PINNED.popitem(last=False)[1] for _ in range(len(_PINNED) - _PINNED_MAX)]
    for jdf in evicted:
        jdf.unpersist(False)
    return df
