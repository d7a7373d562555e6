"""The per-batch state-dir protocol every analytical stream (dedup,
alias, semantic, decon) writes and reads — the only module that knows
the on-disk format.

**Layout.** A state dir ``<root>`` holds:

- ``batch_id=<n>/`` — one dir per micro-batch, written by
  :func:`write_batch` with overwrite, so a replayed batch rewrites its
  own dir and only that dir. ``batch_id`` reads back as the
  partition column. A dir may be hash-bucketed below
  (``batch_id=<n>/<col>=<v>/``); an EMPTY bucketed write commits no
  data file at all, only ``_SUCCESS``.
- ``fold-<hi>/`` — the rows of every batch ``<= hi`` folded into one
  dir by :func:`fold`, with ``batch_id`` kept as a physical column.
- ``_manifest.json`` — ``{"folded_hi", "fold_dir", "garbage"}``: the
  highest folded batch id (-1 before the first fold), the live fold
  dir, and the dirs the last fold retired but has not deleted yet.
  No manifest means "never folded". The leading underscore keeps
  Spark's file index from treating it (or ``_geometry.json``) as data.

**Snapshot rule.** A read sees the manifest's fold dir plus the
committed, file-bearing ``batch_id=`` dirs above ``folded_hi``.
Retired dirs are excluded by this rule while still on disk, so a read
racing a fold never double-counts. ``before=N`` narrows a read to the
history batch N's trigger may see (``batch_id < N``): the streams
read their own history that way, so a replayed batch sees
byte-identical history.

**Commit gate.** A live stream may be mid-write in its newest dir, with
no parquet footers yet; reading it dies with UNABLE_TO_INFER_SCHEMA.
Spark's ``_SUCCESS`` job-commit marker is the gate: a dir without it is
invisible until the next read. Fold dirs skip the gate, because the
manifest rename is their commit point. Committed dirs without a data
file (the empty bucketed writes) are skipped too: parquet schema
inference dies on a file-less path.

**Fold invariants.** :func:`fold` folds once the committed live dirs
reach ``every``. Two invariants close the crash-replay and
concurrent-reader holes:

1. *The newest live batch is never folded.* Structured Streaming can
   replay the most recent batch N after a crash (state written,
   checkpoint not committed). The replay reads ``batch_id < N`` and
   overwrites ``batch_id=N``; both are only safe while N is a plain
   per-batch dir and every folded id is below N.
2. *The manifest rename is the only commit point, and a fold never
   deletes the dirs it retires.* The fold is written to a hidden tmp,
   renamed to ``fold-<hi>``, and then the manifest swaps to reference
   it, listing the previous fold and the absorbed dirs as garbage.
   A crash before the swap leaves an unreferenced fold dir that the
   next sweep discards; the sources are untouched.

**Sweep cadence.** Garbage is deleted by the NEXT sweep, never by the
fold that retired it, so a reader holding either manifest version
finds every dir its snapshot names, provided it finishes within one
sweep interval. ``sweep_when`` matches the sweep to the call cadence
so that interval is one compaction interval either way: ``"always"``
sweeps at the start of every call (interval-spaced manual or cron
compaction); ``"fold"`` sweeps only in a call that folds, which the
per-trigger stream loops need — an every-call sweep there would
delete retired dirs one trigger (~5 s) after the fold, under any
external reader still scanning them.

**Commit memo.** The ``_SUCCESS`` and has-data checks cost py4j
round-trips per dir, and a stream would otherwise pay them for every
live dir on every trigger. They are memoized per root for every
committed dir below the newest batch: below ``N`` for a read at
``before=N`` (batch N-1 committed before N started), below the highest
listed dir otherwise. A replay rewrites only the newest batch — the
fact fold invariant 1 rests on — so a memoized dir never changes
under any reader, and no caller passes a cache. Fold dirs are
write-once under fresh names and are memoized too. :func:`frozen`
memoizes write-once JSON facts (the decon stream's geometry) per path.
Both memos live as long as the process: a state dir deleted and
rebuilt under the same path in one process keeps its memoized facts,
so start fresh state under a new path.

**FS contract.** Every read, listing and JSON codec goes through the
Hadoop FS API, so readers work on any filesystem Spark reads (s3a,
hdfs, ``file:`` URIs). The fold commits by posix rename, so it runs
where the root resolves to a local path — a plain path or a ``file:``
URI — and is a no-op on other schemes, where reads stay correct and
the live dir count simply grows.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import shutil
import threading
from typing import Callable
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "MANIFEST",
    "write_batch",
    "has_batch",
    "read",
    "snapshot",
    "fold",
    "read_json",
    "write_json",
    "read_manifest",
    "write_manifest",
    "frozen",
    "list_names",
]

MANIFEST = "_manifest.json"

#: target rows per output file for per-batch writes; a 5 s micro-batch
#: coalesces to 1 file, an availableNow backfill batch scales its writer
#: parallelism instead of funnelling millions of rows through one task.
ROWS_PER_FILE = 500_000

#: writer-parallelism ceiling for a single batch partition dir.
MAX_FILES_PER_BATCH = 64

#: commit memo: root -> {dir name: has data} for final committed dirs
_COMMITTED: dict[str, dict[str, bool]] = {}
#: write-once JSON facts, keyed by path
_FROZEN: dict[str, dict] = {}
_LOCK = threading.Lock()

#: unique-sentinel counter for dirs that vanish mid-listing (see
#: :func:`_dir_signature`); a module counter, not a timestamp, so the
#: sentinel is deterministic and never collides with a real signature
_VANISHED = itertools.count()


def _batch_id(name: str) -> int:
    return int(name.split("=", 1)[1])


@functools.lru_cache(maxsize=None)
def _java(jvm, name: str):
    """A JVM class handle. Resolving ``jvm.org.apache...`` costs
    gateway reflection round-trips on every use (~1.5 ms, several times
    a listing), so each handle is resolved once per gateway."""
    obj = jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def _path(jvm, path: str):
    return _java(jvm, "org.apache.hadoop.fs.Path")(path)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = _path(jvm, path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _is_missing(exc: Py4JJavaError) -> bool:
    return "FileNotFoundException" in str(exc)


def _names(jvm, fs, path) -> list[str]:
    """Child names of a dir in four py4j calls however many children,
    where a ``getPath().getName()`` walk costs two per child: the paths
    come back as one ``Array(p1, p2, ...)`` string. A path containing
    ", " splits into too many pieces; the count check catches that and
    falls back to the walk."""
    statuses = fs.listStatus(path)
    n = len(statuses)
    if not n:
        return []
    joined = _java(jvm, "scala.runtime.ScalaRunTime").stringOf(
        _java(jvm, "org.apache.hadoop.fs.FileUtil").stat2Paths(statuses)
    )
    paths = joined[len("Array("):-1].split(", ")
    if len(paths) != n:
        paths = [st.getPath().toString() for st in statuses]
    return [p.rsplit("/", 1)[-1] for p in paths]


def list_names(spark: SparkSession, root: str) -> list[str] | None:
    """Child names of ``root``, or None when it does not exist."""
    jvm, fs, path = _fs(spark, root)
    return _names(jvm, fs, path) if fs.exists(path) else None


def _contents(jvm, fs, path_str: str) -> tuple[bool, bool] | None:
    """``(committed, has_data)`` of a dir, or None when it vanished under
    a racing sweep. One listing answers both: a committed dir carries
    ``_SUCCESS``, and its data is a part file or a bucket subdir, never
    ``_temporary`` or a dot-file."""
    try:
        names = _names(jvm, fs, _path(jvm, path_str))
    except Py4JJavaError as e:
        if not _is_missing(e):
            raise
        return None
    return "_SUCCESS" in names, any(not n.startswith(("_", ".")) for n in names)


def _dir_signature(fs, jvm, path_str: str) -> tuple:
    """Data-file content listing ``(path, mtime, length)`` of a dir — the
    content half of the resident cache's snapshot key: a replayed batch
    OVERWRITES its own ``batch_id=<n>`` dir under the same name, so a
    name-only key keeps serving the pre-replay frame. Part-file names
    embed a fresh UUID per write, so any rewrite changes the signature
    even within mtime granularity.

    A dir VANISHING between the root listing and this one (a racing
    fold sweep) returns a process-unique sentinel instead of raising:
    the key then can never equal a cached key, so the caller re-reads
    from a fresh snapshot rather than crashing the serving request.
    Other FS failures still propagate: only the one race whose safe
    meaning is "snapshot changed under me" is absorbed."""
    sig = []
    try:
        it = fs.listFiles(_path(jvm, path_str), True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            sig.append(
                (st.getPath().toString(), st.getModificationTime(),
                 st.getLen())
            )
    except Py4JJavaError as e:
        if not _is_missing(e):
            raise
        return ("__vanished__", path_str, next(_VANISHED))
    return tuple(sorted(sig))


# ------------------------------------------------------------------ #
# JSON codec: manifest and write-once facts                           #
# ------------------------------------------------------------------ #


def _json_fs(spark: SparkSession, path: str):
    """The FS for a JSON file, unwrapped from the local checksum layer:
    the files are tiny, atomically renamed into place, and hand-editable
    without a stale ``.crc`` failing the next read."""
    jvm, fs, p = _fs(spark, path)
    if _checksum_fs(jvm).isInstance(fs):
        fs = fs.getRawFileSystem()
    return jvm, fs, p


@functools.lru_cache(maxsize=None)
def _checksum_fs(jvm):
    return _java(jvm, "org.apache.hadoop.fs.ChecksumFileSystem")._java_lang_class


def read_json(spark: SparkSession, path: str) -> dict | None:
    """The JSON object at ``path``, or None when absent."""
    jvm, fs, p = _json_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(
            _java(jvm, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, obj: dict) -> bool:
    """Atomic write: a hidden sibling tmp, then rename. Returns False
    when the rename is refused (the target exists on a filesystem whose
    rename does not overwrite); the local FS overwrites."""
    jvm, fs, p = _json_fs(spark, path)
    parent, name = path.rsplit("/", 1)
    tmp = _path(jvm, f"{parent}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj), "utf-8"))
        out.hsync()
    finally:
        out.close()
    if fs.rename(tmp, p):
        return True
    fs.delete(tmp, False)
    return False


def read_manifest(spark: SparkSession, root: str) -> dict:
    """The root's snapshot pointer (the no-fold default when absent)."""
    return read_json(spark, f"{root}/{MANIFEST}") or {
        "folded_hi": -1, "fold_dir": None, "garbage": [],
    }


def write_manifest(spark: SparkSession, root: str, manifest: dict) -> None:
    """The fold's commit point: readers see the old snapshot or the new
    one, never a half state."""
    if not write_json(spark, f"{root}/{MANIFEST}", manifest):
        raise OSError(f"manifest rename refused under {root}")


def frozen(spark: SparkSession, path: str, initial: Callable[[], dict]):
    """The write-once JSON fact at ``path``: the stored value, or
    ``initial()`` persisted on first contact. Memoized per path, since
    a frozen fact never changes. A writer that loses the rename (a
    racing single-writer violation) takes the stored value."""
    with _LOCK:
        hit = _FROZEN.get(path)
    if hit is not None:
        return hit
    value = read_json(spark, path)
    if value is None:
        value = initial()
        if not write_json(spark, path, value):
            value = read_json(spark, path)
    with _LOCK:
        _FROZEN[path] = value
    return value


# ------------------------------------------------------------------ #
# write and read                                                       #
# ------------------------------------------------------------------ #


def write_batch(
    df: DataFrame,
    root: str,
    batch_id: int,
    n_rows: int | None = None,
    partition_col: str | None = None,
) -> None:
    """Idempotent per-batch write: a replayed batch overwrites its own
    ``batch_id=<n>`` dir and only that dir. ``n_rows`` (when the caller
    already knows it) scales the file count, so backfill-sized batches
    are not single-writer-bottlenecked. ``partition_col`` hash-buckets
    below the batch dir, so probes that know their key buckets prune
    the scan."""
    n_files = (
        1
        if n_rows is None
        else max(1, min(MAX_FILES_PER_BATCH, n_rows // ROWS_PER_FILE + 1))
    )
    # coalesce can only narrow; widening a backfill batch (which often
    # arrives as few input partitions) needs a real repartition
    shaped = df.coalesce(1) if n_files == 1 else df.repartition(n_files)
    writer = shaped.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(f"{root}/batch_id={batch_id}")


def has_batch(spark: SparkSession, root: str, batch_id: int) -> bool:
    """Whether ``batch_id=<n>/`` exists, committed or not."""
    _jvm, fs, p = _fs(spark, f"{root}/batch_id={batch_id}")
    return bool(fs.exists(p))


def _batch_dirs(names, folded_hi: int, before: int | None) -> list:
    """``(batch_id, name)`` of the listed per-batch dirs above
    ``folded_hi`` (and below ``before``), in batch order — numeric,
    since lexicographic order puts batch_id=10 before 9."""
    return sorted(
        (i, n)
        for n in names if n.startswith("batch_id=")
        for i in [_batch_id(n)]
        if i > folded_hi and (before is None or i < before)
    )


def _live(jvm, fs, root, names, folded_hi, before) -> list[tuple[str, bool]]:
    """``(name, has_data)`` for the committed dirs among
    :func:`_batch_dirs`, through the commit memo."""
    ids = _batch_dirs(names, folded_hi, before)
    if not ids:
        return []
    final_below = before if before is not None else ids[-1][0]
    with _LOCK:
        memo = _COMMITTED.setdefault(root, {})
        for n in [
            n for n in memo
            if n.startswith("batch_id=") and _batch_id(n) <= folded_hi
        ]:
            del memo[n]
        known = dict(memo)
    out = []
    for i, n in ids:
        has_data = known.get(n)
        if has_data is None:
            got = _contents(jvm, fs, f"{root}/{n}")
            if got is None or not got[0]:
                continue
            has_data = got[1]
            if i < final_below:
                with _LOCK:
                    memo[n] = has_data
        out.append((n, has_data))
    return out


def _fold_has_data(jvm, fs, root: str, fold_dir: str) -> bool:
    with _LOCK:
        memo = _COMMITTED.setdefault(root, {})
        for n in [n for n in memo if n.startswith("fold-") and n != fold_dir]:
            del memo[n]
        hit = memo.get(fold_dir)
    if hit is None:
        got = _contents(jvm, fs, f"{root}/{fold_dir}")
        hit = got is not None and got[1]
        with _LOCK:
            memo[fold_dir] = hit
    return hit


def snapshot(
    spark: SparkSession,
    root: str,
    before: int | None = None,
    signature: bool = False,
):
    """``(fold_dir_or_None, live_dirs)`` under the snapshot rule, or None
    when ``root`` does not exist. With ``signature`` a third element is
    appended: the data-file listing of those dirs, so an in-place
    rewrite (a batch replay under an unchanged dir name) changes it too.
    Signature mode re-lists content every call by definition, so it
    bypasses the commit memo; each dir is listed once, the signature
    doubling as the has-data check."""
    jvm, fs, path = _fs(spark, root)
    # no try/except: fs.exists covers "nothing yet"; a transient FS or
    # permission failure must PROPAGATE so the batch retries, not be
    # mis-read as empty history
    if not fs.exists(path):
        return None
    m = read_manifest(spark, root)
    names = _names(jvm, fs, path)
    fold = m["fold_dir"] if m["fold_dir"] in names else None
    if not signature:
        live = _live(jvm, fs, root, names, m["folded_hi"], before)
        if fold is not None and not _fold_has_data(jvm, fs, root, fold):
            fold = None
        return fold, [n for n, has_data in live if has_data]
    sigs = {}
    for _i, n in _batch_dirs(names, m["folded_hi"], before):
        if fs.exists(_path(jvm, f"{root}/{n}/_SUCCESS")):
            sigs[n] = _dir_signature(fs, jvm, f"{root}/{n}")
    parts = [n for n, s in sigs.items() if s]
    if fold is not None:
        sigs[fold] = _dir_signature(fs, jvm, f"{root}/{fold}")
        if not sigs[fold]:
            fold = None
    return fold, parts, tuple(
        sigs[d] for d in ([fold] if fold else []) + parts
    )


def read(
    spark: SparkSession,
    root: str,
    before: int | None = None,
    schema: str | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """The snapshot's rows (``batch_id`` included), or None when the dir
    is missing or holds no committed data. ``before=N``: only rows with
    ``batch_id < N``.

    ``schema``: an explicit DDL read schema. Schema inference and
    mergeSchema each cost one Spark job per ``read.parquet`` call; a
    given schema costs none, and missing columns of older generations
    read as null, so it supersedes ``merge_schema``. Declare
    ``batch_id int``, the partition-inferred type a fold bakes in.
    ``merge_schema`` unions schemas across generations, so a column
    added mid-stream surfaces as null in older dirs instead of being
    dropped by a single-footer pick."""
    snap = snapshot(spark, root, before=before)
    if snap is None:
        return None
    fold, parts = snap

    def reader():
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        elif merge_schema:
            r = r.option("mergeSchema", "true")
        return r

    frames = []
    if fold:
        frames.append(reader().parquet(f"{root}/{fold}"))
    if parts:
        frames.append(
            reader().option("basePath", root).parquet(
                *[f"{root}/{p}" for p in parts]
            )
        )
    if not frames:
        return None
    df = frames[0]
    if len(frames) == 2:
        df = df.unionByName(frames[1], allowMissingColumns=True)
    return df if before is None else df.where(F.col("batch_id") < F.lit(before))


# ------------------------------------------------------------------ #
# fold and sweep                                                       #
# ------------------------------------------------------------------ #


def _local_path(root: str) -> str | None:
    """The posix path the fold renames under, or None for a non-local
    scheme."""
    u = urlparse(root)
    if u.scheme == "":
        return root
    return u.path if u.scheme == "file" else None


def _sweep(spark: SparkSession, root: str, local: str, manifest: dict) -> dict:
    """Delete what the last fold retired (manifest garbage) plus any fold
    dir or fold tmp a crashed run left unreferenced. Idempotent: a crash
    mid-sweep leaves entries listed, and the next run re-deletes them.
    Returns the manifest with garbage cleared (rewritten on disk only if
    there was any)."""
    for p in manifest["garbage"]:
        shutil.rmtree(os.path.join(local, p), ignore_errors=True)
    for e in os.scandir(local):
        if (
            e.name.startswith("fold-") or e.name.startswith(".fold-")
        ) and e.name != (manifest["fold_dir"] or ""):
            shutil.rmtree(e.path, ignore_errors=True)
    if manifest["garbage"]:
        manifest = dict(manifest, garbage=[])
        write_manifest(spark, root, manifest)
    return manifest


def fold(
    spark: SparkSession,
    root: str,
    every: int = 64,
    sort_col: str | None = "band_key",
    latest_wins_key: str | None = None,
    merge_schema: bool = False,
    sweep_when: str = "always",
    partition_col: str | None = None,
) -> bool:
    """Fold the committed live dirs, all but the newest, into one
    ``fold-<hi>`` dir once they number ``every``. Returns True if it
    folded. Reads are identical before and after.

    ``sort_col`` clusters the fold's rows so parquet row-group min/max
    stats prune a probe's key filter (None: no sort). ``latest_wins_key``
    keeps only the max-``batch_id`` row per key among the folded rows —
    read-equivalent for latest-batch-wins consumers, since superseded
    rows are unreadable to them and the newest batch is never folded.
    ``merge_schema`` unions schemas across the folded generations.
    ``partition_col`` carries a bucket column through the fold
    (``fold-<hi>/<col>=<v>/``), applied only when the folded rows
    have it. ``sweep_when``: ``"always"`` or ``"fold"`` (see the module
    docstring)."""
    if sweep_when not in ("always", "fold"):
        raise ValueError(f"sweep_when must be 'always' or 'fold', "
                         f"got {sweep_when!r}")
    local = _local_path(root)
    if local is None or not os.path.isdir(local):
        return False
    m = read_manifest(spark, root)
    if sweep_when == "always":
        m = _sweep(spark, root, local, m)
    jvm, fs, path = _fs(spark, root)
    names = _names(jvm, fs, path)
    # the per-dir commit checks only run once enough dirs are listed
    if len(_batch_dirs(names, m["folded_hi"], None)) < every:
        return False
    live = _live(jvm, fs, root, names, m["folded_hi"], None)
    if len(live) < every:
        return False
    foldable = live[:-1]  # invariant 1: never the newest
    if not foldable:
        return False
    if sweep_when == "fold":
        m = _sweep(spark, root, local, m)
    hi = _batch_id(foldable[-1][0])
    retired = [n for n, _ in foldable]
    # file-less dirs carry nothing and break schema inference: they are
    # absorbed (retired as garbage) without being read
    readable = [n for n, has_data in foldable if has_data]
    if not readable and not m["fold_dir"]:
        # nothing to materialize: commit a fold-less manifest that
        # still advances folded_hi, so the empty dirs retire normally
        write_manifest(
            spark, root, {"folded_hi": hi, "fold_dir": None, "garbage": retired}
        )
        return True
    reader = spark.read.option("basePath", root)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    folded = None
    if readable:
        folded = (
            reader.parquet(*[f"{root}/{p}" for p in readable])
            # partition-column inference types batch_id INT; pin the
            # fold's physical column to the same so fold ∪ live unions
            # cleanly
            .withColumn("batch_id", F.col("batch_id").cast("int"))
        )
    if m["fold_dir"]:
        prev = spark.read.parquet(f"{root}/{m['fold_dir']}")
        folded = (
            prev
            if folded is None
            else prev.unionByName(folded, allowMissingColumns=merge_schema)
        )
    if latest_wins_key is not None:
        w = Window.partitionBy(latest_wins_key).orderBy(
            F.col("batch_id").desc()
        )
        folded = (
            folded.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    part_col = partition_col if partition_col in folded.columns else None
    if sort_col is not None:
        # with a partitioned fold, cluster by bucket first so each
        # writer task emits contiguous runs per bucket dir, keeping the
        # sort_col row-group min/max stats tight within every bucket
        folded = folded.sortWithinPartitions(
            *([part_col, sort_col] if part_col else [sort_col])
        )
    fold_name = f"fold-{hi}"
    tmp = f".{fold_name}.tmp"
    shutil.rmtree(os.path.join(local, tmp), ignore_errors=True)
    writer = folded.coalesce(max(1, len(foldable) // 16)).write.mode("overwrite")
    if part_col:
        writer = writer.partitionBy(part_col)
    writer.parquet(f"{root}/{tmp}")
    os.rename(os.path.join(local, tmp), os.path.join(local, fold_name))
    write_manifest(
        spark,
        root,
        {
            "folded_hi": hi,
            "fold_dir": fold_name,
            "garbage": ([m["fold_dir"]] if m["fold_dir"] else []) + retired,
        },
    )
    return True
