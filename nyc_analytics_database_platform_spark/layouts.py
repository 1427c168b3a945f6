"""THE persisted-layout lifecycle: scratch paths, source freshness stamps,
and the adopt-or-build contract every derived artifact follows.

The reference keeps no derived artifacts at all - every request recomputes
from the heap tables (reference: webserver/server.py:140-236). At 100 TB
the opposite discipline wins: bucketed tables, z-order layouts, manifest
files, sketch tables, and SCD2/session dimensions are all PERSISTED once
per source snapshot and adopted by every later session. Three families
(parity_scalejoin, operators/bucketed, the lifecycle builders) each grew a
hand-rolled copy of the same three helpers; this module is the single
implementation (VERDICT r9 #8) so the next layout family cannot fork a
fourth.

The contract, shared by every layout:

- **scratch(sf_dir, family, name)** - a /tmp path namespaced by an md5 tag
  of the source dir, so layouts for different SFs never collide. At 100 TB
  this is a warehouse path; /tmp is the local-mode stand-in.
- **source_stamp(sf_dir, *tables, spec=...)** - the freshness token: each
  source table's catalog.file_stamp (per parquet file: name, mtime in ns,
  size) plus any layout parameters. Regenerated inputs OR
  a changed layout spec change the stamp, forcing a rewrite - a persisted
  artifact can never silently serve stale or mis-parameterized data.
- **is_fresh(marker, stamp, data_dirs=...)** - adoption gate: the marker
  must hold exactly the stamp AND every listed data dir must still contain
  parquet files (a tmp cleaner that removes data but leaves the marker
  must force a rebuild, never an empty adopt - ADVICE r9).
- **mark_fresh(marker, stamp)** - written only AFTER the build completes,
  so a crashed build is retried, never adopted (the same
  commit-after-write ordering a table format's transaction log gives).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading

from nyc_analytics_database_platform_spark.catalog import file_stamp, table_path

_ARTIFACT_LOCK = threading.RLock()
_MISSING = object()


def tag(sf_dir: str) -> str:
    """8-hex namespace token for a source dir (path-safe, stable)."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def scratch(sf_dir: str, family: str, name: str) -> str:
    """Scratch path for a persisted layout artifact, namespaced by family
    and source-dir tag."""
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_{family}", tag(sf_dir), name
    )


def source_stamp(sf_dir: str, *tables: str, spec: str = "") -> str:
    """Freshness stamp: each table's file_stamp, plus an optional
    layout-parameter spec. Either changing forces a rebuild."""
    parts = [f"{t}:{file_stamp(table_path(sf_dir, t))}" for t in tables]
    if spec:
        parts.append(spec)
    return "|".join(parts)


def has_parquet(path: str) -> bool:
    """True iff `path` is a directory containing at least one .parquet
    file - the existence check behind the empty-adopt guard."""
    try:
        return any(f.endswith(".parquet") for f in os.listdir(path))
    except OSError:
        return False


def is_fresh(marker: str, stamp: str, data_dirs: tuple[str, ...] = ()) -> bool:
    """Adoption gate: marker content equals the stamp AND every listed
    data dir still holds parquet files."""
    try:
        with open(marker) as fh:
            if fh.read() != stamp:
                return False
    except OSError:
        return False
    return all(has_parquet(d) for d in data_dirs)


def mark_fresh(marker: str, stamp: str) -> None:
    """Record a completed build. Call ONLY after the artifact is fully
    written - the marker is the commit record."""
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as fh:
        fh.write(stamp)


def session_artifact(spark, key: tuple, builder):
    """Per-session memo for small values that cannot change while their
    key holds: persisted-artifact frames (frozen quantizers/codebooks, dedup
    v1 state), whose parquet on disk is the durable artifact but whose
    re-read + localCheckpoint would cost a small job on every consumer
    call, and the driver-side NYC dimension maps of nyc.api, keyed by the
    dimension frame and its files' stamps. A key carries its inputs'
    catalog.file_stamp, so regenerated inputs miss naturally.

    A hit takes no lock. A miss builds under one module-wide re-entrant
    lock (a builder may itself call this memo), so concurrent clients
    that miss the same key build it once."""
    cache = getattr(spark, "_nadb_artifact_cache", None)
    value = _MISSING if cache is None else cache.get(key, _MISSING)
    if value is not _MISSING:
        return value
    with _ARTIFACT_LOCK:
        cache = getattr(spark, "_nadb_artifact_cache", None)
        if cache is None:
            cache = {}
            spark._nadb_artifact_cache = cache
        value = cache.get(key, _MISSING)
        if value is _MISSING:
            value = cache[key] = builder()
        return value
