"""Per-process scratch directories for sink/roundtrip queries.

The driver contract re-executes the DataFrame a query returns (it calls
``.collect()``/``.toPandas()`` itself), so a sink query must NOT delete
its output directory before returning — and must NOT work around that by
collecting results through the driver (``spark.createDataFrame(
back.collect())`` is a full-result driver materialization: fine for a
5-row aggregate, a trap for anyone copying the pattern for a raw sink).

Instead every sink writes under one per-process mkdtemp root that
outlives the query and is removed at interpreter exit. Each query gets a
stable named subdir, so re-runs overwrite in place and the returned
read-back stays lazy end-to-end.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from py4j.protocol import Py4JError

_ROOT: str | None = None


def scratch_dir(name: str) -> str:
    """Stable scratch path for ``name``; created lazily, removed at exit."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="sim_spark_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return os.path.join(_ROOT, name)


def sf_tag(sf_dir: str) -> str:
    """Collision-free tag for sf-dependent scratch names: basename for
    readability + sha1 of the FULL path, because two fixture dirs with
    equal basenames (e.g. /root/testdata/sf0.1 and /tmp/regen/sf0.1)
    must never share a scratch subdir (same rationale as the sha1 tag
    on the bucketed catalog tables in queries/scale_ops.py)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    return f"{base}_{digest}"


# --- tracked DataFrame caches ----------------------------------------------
# Queries that .cache() reuse-heavy intermediates register them here so a
# harness (bench.py, tools/drive_driver.py) can release the blocks once the
# returned DataFrame is materialized. Without this, each distinct sf_dir
# leaves blocks cached for the session lifetime, bounded only by LRU
# eviction (ADVICE r5). Plan-keyed reuse within one invocation — the reason
# the caches exist — is unaffected: release happens after materialization.

_TRACKED_CACHES: list = []


def track_cache(df):
    """``df.cache()`` + register for later :func:`release_tracked_caches`."""
    df.cache()
    _TRACKED_CACHES.append(df)
    return df


def release_tracked_caches() -> int:
    """Unpersist every tracked cache (blocking=False); returns the count."""
    global _TRACKED_CACHES
    n = len(_TRACKED_CACHES)
    for df in _TRACKED_CACHES:
        try:
            df.unpersist()
        except Py4JError:
            pass  # session already stopped — nothing to release
    _TRACKED_CACHES = []
    return n
