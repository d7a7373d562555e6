"""The build cache: one memo for prepared plans, table frames, shared
stage frames, layout copies and the DAO's warehouse relation, and the
one place that decides when a built thing is stale and what it pins.

**Entries:** a registered query's plan (``queries._plan_cached``), a
testdata table's frame (``load_table``), the alias trio's chunk-cluster
stage, the bucketed/sorted layout copies (``plans/bucketing.py``), and
``access_log``, the parquet relation ``SparkDAO._fact`` reads over a
warehouse's ``data/`` dir. The relation holds Spark's file listing and
inferred partitions, so a dashboard read on an unchanged warehouse
pays only the fingerprint walk; any file landing, vanishing or being
rewritten under ``data/`` makes the next read list again.

**Key:** ``(applicationId, sf_dir, name)``. A DataFrame is an immutable
plan description that memoizes its own analysis, so returning the same
object skips expression construction and Catalyst analysis (the
prepared-statement reuse of the reference's resident DuckDB catalog).
Execution is not cached, except what a build baked in: checkpoint
blocks and literals from driver-side jobs (df-cuts, ntile offsets,
collected query vectors).

**Staleness:** a build runs in a thread-local scope that records each
source table it reads — through ``load_table``, ``_register_views``,
the layout copies, ``SparkDAO._fact`` (the ``data/`` dir itself), or a
nested memo hit, whose sources the outer build inherits — with the
table's :func:`fingerprint` taken before the build lists it. Every
call re-fingerprints exactly those tables, and any change rebuilds.
Builds that cannot be keyed on their sources register with
``cacheable=False`` and rebuild on every call.

**Release:** the scope also records each checkpoint the build takes
(``plans.barriers.checkpoint``), by RDD id, so the memo never keeps a
dropped intermediate alive. Replacing an entry on a fingerprint miss,
or evicting it, unpersists its own checkpoints at once; entries built
over it go with it (they read its blocks), and nested entries that no
surviving entry uses are released too.

**Lost blocks:** a checkpoint cuts lineage, so on a cluster an executor
loss leaves an entry whose blocks cannot be recomputed, and the
unchanged fingerprint never notices. A serving layer that catches such
a failure calls :func:`evict_plan` with the query's name (or a shared
stage's, evicting every query over it) and retries once. Local mode
(one JVM, static executor) cannot lose blocks, hence an escape hatch
rather than an automatic retry.

One re-entrant lock guards the memo: builds nest, and stream callbacks
run on threads of their own.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

__all__ = ["evict_plan", "fingerprint", "memo", "pin", "source"]


@dataclass
class _Build:
    sources: dict = field(default_factory=dict)  # (sf_dir, table) → fingerprint
    pins: list = field(default_factory=list)  # checkpoint RDD ids
    deps: set = field(default_factory=set)  # keys of nested memo entries
    jsc: Any = None
    value: Any = None


_MEMO: dict[tuple[str, str, str], _Build] = {}
_LOCK = threading.RLock()
_LOCAL = threading.local()


def _scopes() -> list[_Build]:
    if not hasattr(_LOCAL, "stack"):
        _LOCAL.stack = []
    return _LOCAL.stack


def fingerprint(sf_dir: str, tables: tuple[str | None, ...]) -> tuple:
    """Identity of each table's current generation. A single-file table
    is its size + mtime_ns; a directory-style table is the sorted
    per-file (relpath, size, mtime_ns) listing, because the directory
    entry's own stat does not change when a part file is rewritten in
    place. A table is ``sf_dir/<table>.parquet``; ``None`` names
    ``sf_dir`` itself (the DAO's warehouse ``data/`` dir)."""
    out = []
    for t in tables:
        path = sf_dir if t is None else os.path.join(sf_dir, f"{t}.parquet")
        label = os.path.basename(path) if t is None else t
        try:
            st = os.stat(path)
            if os.path.isdir(path):
                parts = []
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        fp = os.path.join(root, f)
                        fst = os.stat(fp)
                        parts.append(
                            f"{os.path.relpath(fp, path)}:"
                            f"{fst.st_size}:{fst.st_mtime_ns}"
                        )
                out.append(f"{label}:dir:" + ",".join(sorted(parts)))
            else:
                out.append(f"{label}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            out.append(f"{label}:missing")
    return tuple(out)


def source(sf_dir: str, table: str | None = None) -> str:
    """Fingerprint ``table`` (``sf_dir`` itself when None) and record it
    as a source of the build running on this thread, if any. Call it
    before the build lists or reads the files: a file that lands in
    between then makes the next call miss, never a hit on an older
    listing."""
    fp = fingerprint(sf_dir, (table,))[0]
    if _scopes():
        _scopes()[-1].sources.setdefault((sf_dir, table), fp)
    return fp


def pin(ck: DataFrame) -> None:
    """Record a checkpoint frame as pinned by the build running on this
    thread, if any; it is unpersisted when that entry is released."""
    if _scopes():
        plan = ck._jdf.queryExecution().analyzed()
        _scopes()[-1].pins.append(plan.rdd().id())


def _fresh(entry: _Build) -> bool:
    return all(
        fingerprint(d, (t,))[0] == fp for (d, t), fp in entry.sources.items()
    )


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]):
    """Return the cached result of ``build()`` for ``name`` over
    ``sf_dir`` while its recorded sources are unchanged; otherwise
    release the old entry and build anew."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _LOCK:
        entry = _MEMO.get(key)
        if entry is None or not _fresh(entry):
            if entry is not None:
                _release(key)
            entry = _Build(jsc=spark.sparkContext._jsc)
            _scopes().append(entry)
            try:
                entry.value = build()
            finally:
                _scopes().pop()
            _MEMO[key] = entry
        if _scopes():
            outer = _scopes()[-1]
            outer.deps.add(key)
            for src, fp in entry.sources.items():
                outer.sources.setdefault(src, fp)
        return entry.value


def _release(key: tuple) -> None:
    entry = _MEMO.pop(key, None)
    if entry is None:
        return
    for k in [k for k, e in _MEMO.items() if key in e.deps]:
        _release(k)
    try:
        live = entry.jsc.getPersistentRDDs() if entry.pins else {}
        for rdd_id in entry.pins:
            rdd = live.get(rdd_id)
            if rdd is not None:
                rdd.unpersist(False)
    except Py4JError:  # a stopped app has nothing left to release
        pass
    for dep in entry.deps:
        # builds still open on this thread count as users too
        if not any(dep in e.deps for e in [*_MEMO.values(), *_scopes()]):
            _release(dep)


def evict_plan(name: str) -> int:
    """Drop every entry named ``name`` (all apps, all sf_dirs) and
    release what it pinned; returns how many were dropped."""
    with _LOCK:
        gone = [k for k in _MEMO if k[2] == name]
        for k in gone:
            _release(k)
        return len(gone)
