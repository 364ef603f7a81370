"""Session-scoped fixture cache for audit/differential fixtures.

Several driver-visible audits build small on-disk fixtures — bounded
streaming feeds cut from a table, a partitioned events layout, bucketed
join tables — that are pure functions of the source table's bytes plus a
few parameters. Rebuilding them on EVERY invocation dominated those
queries' bench cost: in one suite pass the six events-feed differentials
each wrote their own identical hour-cut feed, and the plan-property
audits rewrote their layouts per run (VERDICT r9 tasks 2 & 6).

This module keys each fixture by (fixture kind, source-table stat
fingerprint, params) and builds it ONCE per Python session — the same
memoization pattern as the banding probe cache in `operators/dedup.py`.
A stat fingerprint (path, total bytes, max mtime) rather than just the
path means an in-place rewrite of the table misses instead of serving a
stale fixture. All cached directories live under one session temp root
removed at interpreter exit; callers treat them as READ-ONLY (a consumer
that must mutate its fixture — e.g. the dedup differential planting
duplicate files — copies the cached feed into its own work dir first).

At production scale the equivalent is a materialized staging dataset
shared by downstream consumers instead of per-query rebuilds; the cache
is the single-host stand-in for that reuse.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

_ROOT: str | None = None
_DIRS: dict[tuple, str] = {}
_VALUES: dict[tuple, object] = {}


def session_root() -> str:
    """One temp root per Python session; removed at interpreter exit."""
    global _ROOT
    if _ROOT is None or not os.path.isdir(_ROOT):
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_fixture_cache_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def table_fingerprint(sf_dir: str, table: str) -> tuple:
    """(abs path, total bytes, max mtime_ns) over the table's parquet
    file or directory — cheap stat-level identity, no data read."""
    path = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    if os.path.isdir(path):
        total = 0
        mx = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                mx = max(mx, st.st_mtime_ns)
        return (path, total, mx)
    st = os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


def cached_dir(key: tuple, build: Callable[[str], None]) -> str:
    """Return the directory for `key`, invoking `build(dir)` at most once
    per session. On build failure nothing is cached."""
    got = _DIRS.get(key)
    if got is not None and os.path.isdir(got):
        return got
    d = tempfile.mkdtemp(prefix="fx_", dir=session_root())
    try:
        build(d)
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise
    _DIRS[key] = d
    return d


def peek_value(key: tuple) -> object | None:
    """The value stored under `key` this session (store_value), or None —
    for callers that early-return on a hit and store late, e.g. an audit's
    result tuple whose lifecycle mutates its own fixture and so can't
    re-run on a cached dir."""
    return _VALUES.get(key)


def store_value(key: tuple, value: object) -> None:
    _VALUES[key] = value


def clear() -> None:
    """Drop all cached fixtures (test isolation hook)."""
    global _ROOT
    _DIRS.clear()
    _VALUES.clear()
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)
        _ROOT = None
