"""Checkpoint-and-restart super-stage pipelines — the §6ac lesson as a
shipped component.

The 52 M-doc band probe (BASELINE §6ac) found that at corpus scale the
binding resource is DISK, and "one logical pipeline = one Spark app" is
the wrong shape for it: a Spark app retains every stage's shuffle files
for its whole lifetime, so a multi-super-stage pipeline's PEAK disk is
the SUM of its stages' shuffle footprints (~35 GB of retained candidate
shuffle killed the single-session probe on a 70 GB box, while the same
work ran in ~22 GB split across two sessions). The probe fixed it by
hand (``--candidates-out`` / ``--candidates-in``); this module is the
general form: declare the pipeline as named stages, each stage
materializes to parquet behind an atomic manifest, and a crashed or
killed run RESUMES — completed stages are read back, not recomputed.

Durability protocol (same family as ``streaming.state.fold``):

1. A stage writes its output to ``<root>/<name>/data-<token>/`` (a
   fresh token per attempt), then commits by atomically replacing
   ``<root>/<name>/_stage.json`` — the manifest rename is the ONLY
   commit point. A crash mid-write leaves an unreferenced data dir that
   the next run sweeps; a crash between data write and manifest commit
   re-runs the stage into a NEW token dir (the orphan is swept), so a
   half-written output can never be read.
2. The manifest records the tokens of the dep manifests the stage was
   built FROM. A stage is *current* only if its recorded dep tokens
   still equal its deps' live tokens — re-running an upstream stage
   (new token) transitively invalidates everything below it, without
   timestamps (mtime is not trustworthy across filesystems) and without
   hashing data.
3. ``version`` is the caller's invalidation key for the stage's CODE:
   bump it when the build logic changes and the stage (plus its
   transitive consumers, via rule 2) re-runs.

Like the fold protocol, the atomic-replace commit is a posix-rename
contract: on object stores, point ``root`` at a posix staging area or a
store with atomic rename (the manifest is one small JSON — HDFS and
most cluster filesystems qualify; S3 needs a pointer object instead,
documented boundary).

Single-writer assumption (same as ``state.fold``): one runner per
pipeline root at a time. Readers (``stage_output``) resolve through the
committed manifest only, and get the fold protocol's deferred-garbage
grace: when a re-run RETIRES a previously committed data dir, the dir
is recorded as manifest garbage and deleted on the NEXT run, not at
commit — a reader that resolved the old token keeps scanning intact
files (contract: a read completes within one run interval, the
``state.fold`` rule). Precisely (ADVICE r12): the grace runs from
the retiring run's commit to the next run's FIRST sweep of that stage
— the pre-run sweep deletes grace-expired garbage BEFORE the
(possibly hours-long) rebuild, so back-to-back launches shrink the
window to the gap between runs, not "through the next run". Size run
spacing to the longest external read. Crashed-attempt orphans — never
referenced by any manifest — still die immediately. The price is one retired dir per
re-run stage held until the next run; the §6ac disk argument is about
SHUFFLE footprint (per-stage sessions), which this does not change.

Why per-stage SESSIONS matter at scale: passing ``session_factory``
runs each pending stage in its own SparkSession and stops it
afterwards, releasing that stage's shuffle/broadcast/cache footprint
with the app (ContextCleaner frees blocks only on GC'd references —
a long-lived app's disk high-water mark is effectively monotone).
Peak disk becomes max-over-stages instead of sum-over-stages; on a
1000-executor cluster the same shape falls out of running each super-
stage as its own job submission against the shared parquet root.
Default (one shared session) is right for interactive/small runs —
stage outputs are still parquet-backed, so lineage never crosses a
stage boundary and resume works identically.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Stage", "run_pipeline", "stage_output", "pipeline_status"]

_MANIFEST = "_stage.json"


@dataclass(frozen=True)
class Stage:
    """One super-stage: ``build(spark, inputs)`` returns the stage's
    output DataFrame; ``inputs`` maps each name in ``deps`` to that
    stage's committed parquet output (a plain scan — no lineage into
    upstream compute). ``partition_by`` forwards to the parquet writer
    (layout for downstream partition pruning); ``version`` is the
    code-change invalidation key (protocol rule 3)."""

    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()
    version: str = "1"


@dataclass
class _StageState:
    token: str | None = None
    version: str | None = None
    dep_tokens: dict = field(default_factory=dict)
    #: tokens of RETIRED committed data dirs awaiting next-run deletion
    #: (the deferred-garbage reader grace — see module docstring)
    garbage: list = field(default_factory=list)

    @property
    def committed(self) -> bool:
        return self.token is not None


def _stage_dir(root: str, name: str) -> str:
    return os.path.join(root, name)


def _read_state(root: str, name: str) -> _StageState:
    try:
        with open(os.path.join(_stage_dir(root, name), _MANIFEST)) as f:
            m = json.load(f)
        return _StageState(
            m["token"], m["version"], m["dep_tokens"],
            m.get("garbage", []),
        )
    except (OSError, ValueError, KeyError):
        return _StageState()


def _commit_state(root: str, name: str, st: _StageState) -> None:
    d = _stage_dir(root, name)
    tmp = os.path.join(d, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"token": st.token, "version": st.version,
             "dep_tokens": st.dep_tokens, "garbage": st.garbage},
            f,
        )
    os.replace(tmp, os.path.join(d, _MANIFEST))


def _sweep_orphans(root: str, name: str, keep_tokens) -> None:
    """Delete data dirs whose token is not in ``keep_tokens`` — crashed
    attempts (rule 1) and expired garbage. Failed unlinks retry next
    run."""
    d = _stage_dir(root, name)
    if not os.path.isdir(d):
        return
    keep = {f"data-{t}" for t in keep_tokens if t}
    for e in os.scandir(d):
        if e.is_dir() and e.name.startswith("data-") and e.name not in keep:
            shutil.rmtree(e.path, ignore_errors=True)


def _data_path(root: str, name: str, token: str) -> str:
    return os.path.join(_stage_dir(root, name), f"data-{token}")


def stage_output(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Manifest-resolved read of a committed stage's output. Raises if
    the stage never committed (a crashed attempt is unreadable by
    design — rule 1)."""
    st = _read_state(root, name)
    if not st.committed:
        raise FileNotFoundError(
            f"stage {name!r} has no committed output under {root}"
        )
    return spark.read.parquet(_data_path(root, name, st.token))


def _current(st: _StageState, stage: Stage, states: dict) -> bool:
    if not st.committed or st.version != stage.version:
        return False
    # rule 2: every dep's live token must equal the token this stage
    # was built from (and the dep itself must be current — the caller
    # walks in topological order, so states[] already reflects reruns)
    for dep in stage.deps:
        dep_st = states.get(dep)
        if dep_st is None or not dep_st.committed:
            return False
        if st.dep_tokens.get(dep) != dep_st.token:
            return False
    return True


def pipeline_status(root: str, stages: list[Stage]) -> dict:
    """{name: 'current' | 'stale' | 'missing'} without running
    anything — what ``run_pipeline`` would skip vs redo."""
    states: dict[str, _StageState] = {}
    out = {}
    for s in stages:
        st = _read_state(root, s.name)
        if _current(st, s, states):
            out[s.name] = "current"
            states[s.name] = st
        else:
            out[s.name] = "missing" if not st.committed else "stale"
            # a stale/missing stage will mint a new token; downstream
            # currency checks must see that as "unknown", not the old
            # committed token
            states[s.name] = _StageState()
    return out


def run_pipeline(
    root: str,
    stages: list[Stage],
    spark: SparkSession | None = None,
    session_factory: Callable[[], SparkSession] | None = None,
    force: bool = False,
) -> dict:
    """Run (or resume) the pipeline; returns
    ``{name: {"path": ..., "ran": bool}}``.

    ``stages`` must be topologically ordered (deps before dependents —
    asserted). Exactly one of ``spark`` / ``session_factory``:
    a shared session, or one session per pending stage (stopped after
    each — the max-over-stages disk shape, §6ac). ``force=True``
    re-runs everything (fresh tokens cascade through rule 2 anyway,
    but force also re-runs the roots)."""
    if (spark is None) == (session_factory is None):
        raise ValueError("pass exactly one of spark / session_factory")
    seen: set[str] = set()
    for s in stages:
        missing = [d for d in s.deps if d not in seen]
        if missing:
            raise ValueError(
                f"stage {s.name!r} depends on {missing} which appear "
                "later or never — stages must be listed deps-first"
            )
        seen.add(s.name)

    states: dict[str, _StageState] = {}
    results: dict[str, dict] = {}
    for s in stages:
        st = _read_state(root, s.name)
        if not force and _current(st, s, states):
            # a previous run's retired dirs have outlived their one-run
            # reader grace — delete them and clear the manifest record
            _sweep_orphans(root, s.name, [st.token])
            if st.garbage:
                st = _StageState(st.token, st.version, st.dep_tokens)
                _commit_state(root, s.name, st)
            states[s.name] = st
            results[s.name] = {
                "path": _data_path(root, s.name, st.token), "ran": False,
            }
            continue

        # keep the COMMITTED data dir through the re-run: the manifest
        # still references it, so deleting it now would strand a
        # crash-before-commit in a "current"-looking state pointing at
        # missing data, and would yank the floor from under any
        # concurrent stage_output reader. Only uncommitted orphans and
        # grace-expired garbage go; the old committed dir is RETIRED at
        # commit (recorded as garbage) and deleted by the NEXT run.
        _sweep_orphans(root, s.name, [st.token] if st.committed else [])
        sess = spark if spark is not None else session_factory()
        try:
            inputs = {
                d: sess.read.parquet(
                    _data_path(root, d, states[d].token)
                )
                for d in s.deps
            }
            out = s.build(sess, inputs)
            token = uuid.uuid4().hex[:12]
            os.makedirs(_stage_dir(root, s.name), exist_ok=True)
            writer = out.write.mode("overwrite")
            if s.partition_by:
                writer = writer.partitionBy(*s.partition_by)
            writer.parquet(_data_path(root, s.name, token))
            new_st = _StageState(
                token,
                s.version,
                {d: states[d].token for d in s.deps},
                # retire, don't delete: a concurrent stage_output reader
                # holding the old token keeps its grace interval
                [st.token] if st.committed else [],
            )
            _commit_state(root, s.name, new_st)
        finally:
            if spark is None:
                sess.stop()
        _sweep_orphans(root, s.name, [token] + new_st.garbage)
        states[s.name] = new_st
        results[s.name] = {
            "path": _data_path(root, s.name, token), "ran": True,
        }
    return results
