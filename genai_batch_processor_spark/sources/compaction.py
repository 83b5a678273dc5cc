"""Small-files compaction: rewrite fragmented parquet into
size-targeted files, and fold streamed epoch sinks without changing
what readers see.

A 24/7 ingest (streaming micro-batches, per-job shards like the
reference's one-JSONL-per-batch layout) accumulates thousands of tiny
files; at 100 TB that murders the scan path — every file costs a
driver-side listing entry, a task, an open, and a footer read. Two
seams:

**Generic rewrite** (:func:`compact_parquet`): read, repartition to
ceil(bytes / target), rewrite to a NEW directory. Sizing comes from
the actual on-disk byte count via the Hadoop FileSystem API (works for
file://, hdfs://, gs://, s3a:// alike), not a row-count guess, so
compacted files land near the target regardless of schema width or
compression ratio.

**Epoch-sink fold** (:func:`compact_epoch_sink` and friends): the
in-place maintenance path for the probe streams' per-micro-batch
directory layout, below.

The sink-based probe streams (streaming/ingest.py) write one
``batch=N`` parquet directory per micro-batch — idempotent under
replay, zero driver state, but a stream that runs for months leaves
one directory (and several small files) per epoch: at 100 TB scale the
metadata listing, not the data, becomes the read bottleneck (the
classic small-files problem). This module is the maintenance seam:

- :func:`compact_epoch_sink` — fold committed epochs into ONE
  ``_compacted/upto=M`` directory, coalesced toward
  ``TARGET_BYTES_PER_FILE`` per output file. ``keep_last`` epochs
  (default 1) are never compacted: with ``availableNow`` +
  ``foreachBatch``, every epoch directory EXCEPT the newest is
  guaranteed checkpoint-committed (epoch N-1 commits before N starts),
  so skipping the newest makes compaction safe to run between stream
  runs without reading the checkpoint — a replayed max epoch rewrites
  its own directory, never a compacted one.
- :func:`gc_epoch_sink` — delete epoch directories covered by the
  newest committed compaction, plus superseded older compactions.
  Pure garbage collection: :func:`epoch_sink_paths` already ignores
  covered epochs, so a crash anywhere in GC changes nothing a reader
  sees.
- :func:`epoch_sink_paths` / :func:`read_epoch_sink` — the read
  contract once compaction is in play: newest COMMITTED compaction
  (``_SUCCESS`` present — a killed compactor's partial directory is
  invisible) plus the epoch directories it doesn't cover. Every sunk
  row is covered exactly once.
- :func:`merge_inputs` / :func:`merged_bound` /
  :func:`record_merged_bound` — the BASE-MERGE seam
  (``index_store.merge_*_index``): epochs folded into the saved base
  index are recorded under a committed ``_merged/upto=K`` marker, and
  every reader here skips them from the marker's commit on (the base
  now holds their rows), which makes the post-merge cleanup pure GC
  exactly like compaction's.

Crash matrix: compactor killed mid-write → partial ``upto=M`` dir has
no ``_SUCCESS``, readers and GC ignore it, the next run overwrites it.
Killed between compact and GC → epochs ≤ M exist twice on disk but
readers take the compacted copy only. GC killed mid-delete → same.

The directory name is underscore-prefixed (like ``_spark_metadata``)
so a naive whole-root ``spark.read.parquet(root)`` keeps working while
no compaction has ever run — the layout upgrade is opt-in and
backward-compatible. After a compact+GC, reads MUST go through
:func:`read_epoch_sink` (the naive root read would miss the
underscore-prefixed compacted data).

Run the compactor only while no stream is writing the root (between
``availableNow`` drains, or from the maintenance job a production
deployment schedules anyway) — the same quiescence contract every
file-layout maintenance tool (e.g. table-format compaction) carries.
Since round 9 that contract is enforced in one direction (the probe
streams hold a ``_draining`` lease on their sink roots for the whole
drain, and :func:`assert_quiescent` — called by the base merges,
:func:`compact_epoch_sink` and :func:`gc_epoch_sink` — refuses on the
lease or on an uncommitted in-flight ``batch=N`` directory). Since
round 10 it is SYMMETRIC (r9 advice: check-then-act left the
minutes-long maintenance window unguarded): maintenance holds a
``_maintaining`` lease (:func:`maintenance_lease`) for its whole run,
:func:`acquire_drain_lease` refuses while it is live AND refuses a
foreign live drain lease instead of overwriting it, and every
destructive maintenance step re-checks the drain lease immediately
before acting (:func:`_recheck_drain`) as defense in depth against
writers that bypass the lease API.
"""

from __future__ import annotations

import contextlib
import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024
TARGET_BYTES_PER_FILE = DEFAULT_TARGET_BYTES

_COMPACTED = "_compacted"
_MERGED = "_merged"


def _fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    return jvm, path, path.getFileSystem(spark._jsc.hadoopConfiguration())


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under ``path``, recursively, via the
    Hadoop FS API — filesystem-agnostic and driver-side only."""
    _, hpath, fs = _fs(spark, path)
    n = 0
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, metadata
        n += 1
        total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
) -> int:
    """Rewrite ``src_dir`` into ``dst_dir`` with files sized toward
    ``target_bytes``; returns the output file count. A round-robin
    ``repartition(n)`` (one shuffle) gives uniform file sizes; readers
    of the compacted copy pay one task per ~target_bytes instead of one
    per ingest shard."""
    _, total = dir_stats(spark, src_dir)
    n = max(1, math.ceil(total / target_bytes))
    df: DataFrame = spark.read.parquet(src_dir)
    df.repartition(n).write.mode("overwrite").parquet(dst_dir)
    return n


def epoch_dir(root: str, epoch: int) -> str:
    """The ``{root}/batch={epoch}`` directory one micro-batch of an
    epoch sink overwrites."""
    return f"{root.rstrip('/')}/batch={epoch}"


def _epoch_entries(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """(epoch, path) for every ``batch=N`` directory under ``root``."""
    jvm, path, fs = _fs(spark, root)
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if re.fullmatch(r"batch=\d+", name):
            out.append((int(name.split("=")[1]), status.getPath().toString()))
    return sorted(out)


def _committed_upto_dirs(
    spark: SparkSession, root: str, subdir: str
) -> list[tuple[int, str]]:
    """(upto, path) for every COMMITTED ``{subdir}/upto=K`` directory
    (``_SUCCESS`` present — a killed writer's partial output must
    stay invisible to readers and to GC), ascending."""
    jvm, _, fs = _fs(spark, root)
    base = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + subdir)
    if not fs.exists(base):
        return []
    out = []
    for status in fs.listStatus(base):
        name = status.getPath().getName()
        if not re.fullmatch(r"upto=\d+", name):
            continue
        marker = jvm.org.apache.hadoop.fs.Path(
            status.getPath().toString() + "/_SUCCESS"
        )
        if fs.exists(marker):
            out.append((int(name.split("=")[1]), status.getPath().toString()))
    return sorted(out)


def _committed_compactions(
    spark: SparkSession, root: str
) -> list[tuple[int, str]]:
    return _committed_upto_dirs(spark, root, _COMPACTED)


def merged_bound(spark: SparkSession, root: str) -> int:
    """Newest committed base-merge bound under ``root`` (epochs ≤ this
    were folded INTO THE BASE INDEX by ``index_store.merge_*_index``
    and must never be read as overlay again), or -1 when no merge has
    ever run. The marker is a tiny committed ``_merged/upto=K``
    directory — same commit protocol as compactions, so a merge killed
    between its base swap and its marker write leaves the old reads in
    place (the overlay is still read; the base rows it duplicates are
    exactly the crash window the marker exists to close — re-running
    the merge is the documented repair and is idempotent)."""
    bounds = _committed_upto_dirs(spark, root, _MERGED)
    return bounds[-1][0] if bounds else -1


def record_merged_bound(spark: SparkSession, root: str, bound: int) -> None:
    """Commit the base-merge marker: epochs ≤ ``bound`` now live in the
    base index; every reader of this sink root must skip them. Written
    AFTER the base swap (see index_store.merge_*_index)."""
    out = root.rstrip("/") + f"/{_MERGED}/upto={bound}"
    # pure-JVM one-row plan, never createDataFrame: a Python-local
    # relation costs a Python-worker spin-up per action (~2-5 s on
    # this stack — the r7 stream-marker regression, bisected in r8)
    (
        spark.range(1)
        .select(F.lit(int(bound)).cast("long").alias("upto"))
        .coalesce(1)  # 1 marker = 1 file, not default-parallelism files
        .write.mode("overwrite")
        .parquet(out)
    )


def epoch_sink_paths(
    spark: SparkSession, root: str, before: int | None = None
) -> list[str]:
    """Directories covering each sunk epoch exactly once: the newest
    committed compaction plus every ``batch=N`` it doesn't cover —
    restricted to epochs ``< before`` when given (the probe streams'
    strictly-earlier contract), and EXCLUDING epochs at or below the
    base-merge bound (those rows live in the base index now; see
    ``index_store.merge_*_index``). Coverage reaching an epoch ≥
    ``before`` means the quiescence contract was broken (someone
    compacted or merged the epoch a live stream is replaying) — that
    is unrecoverable mixing, so refuse loudly."""
    merged = merged_bound(spark, root)
    # A compaction whose bound is ≤ the merge bound holds only rows the
    # base index already absorbed — reading it would double-count.
    compactions = [
        (k, p) for k, p in _committed_compactions(spark, root) if k > merged
    ]
    covered = merged
    paths: list[str] = []
    if compactions:
        covered, cpath = compactions[-1]
        paths.append(cpath)
    if before is not None and covered >= before:
        raise ValueError(
            f"epoch sink at {root} has coverage (compaction or base "
            f"merge) through epoch {covered} but the caller needs "
            f"epochs < {before} only — an epoch was folded while a "
            "stream could still replay it (quiescence contract "
            "broken); restart from a fresh out_dir/checkpoint"
        )
    for epoch, epath in _epoch_entries(spark, root):
        if epoch > covered and (before is None or epoch < before):
            paths.append(epath)
    return paths


def read_epoch_sink(spark: SparkSession, root: str) -> DataFrame | None:
    """The sink's full relation under the compaction-aware read
    contract; None when nothing has been sunk."""
    paths = epoch_sink_paths(spark, root)
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _total_bytes(spark: SparkSession, paths: list[str]) -> int:
    return sum(dir_stats(spark, p)[1] for p in paths)


def compact_epoch_sink(
    spark: SparkSession,
    root: str,
    keep_last: int = 1,
    target_files: int | None = None,
) -> int | None:
    """Fold all committed epochs except the newest ``keep_last`` (and
    any prior compaction) into ``_compacted/upto=M``; returns M, or the
    previous compaction bound when there is nothing new to fold, or
    None when the sink has never been compacted and holds too few
    epochs. coalesce, not repartition: compaction is a file-layout
    rewrite — merging read tasks preserves locality and avoids paying
    a full shuffle of the entire sink."""
    if keep_last < 1:
        # keep_last=0 would compact the newest epoch, the one epoch a
        # restarted stream may replay (its checkpoint commit can be
        # missing after a kill) — replay would then rewrite batch=M
        # BESIDE a compaction that already covers it: duplicate rows.
        raise ValueError("compact_epoch_sink: keep_last must be >= 1")
    # quiescence is enforced at the layer that rewrites directories,
    # not per caller (r9 self-review), and HELD for the whole rewrite
    # (r9 advice): the maintenance lease blocks a drain from starting
    # mid-compaction, not just the entry check.
    with maintenance_lease(spark, root, "compaction"):
        merged = merged_bound(spark, root)
        epochs = [
            (e, p) for e, p in _epoch_entries(spark, root) if e > merged
        ]
        compactions = [
            (k, p)
            for k, p in _committed_compactions(spark, root)
            if k > merged
        ]
        # `merged` joins `prev` as a floor: epochs the base already
        # absorbed must never re-enter a compaction (readers would
        # double-count them against the merged base).
        prev = compactions[-1][0] if compactions else (
            merged if merged >= 0 else None
        )
        eligible = epochs[: max(0, len(epochs) - keep_last)]
        new_dirs = [p for e, p in eligible if prev is None or e > prev]
        if not new_dirs:
            return prev
        bound = max(e for e, _ in eligible)
        inputs = ([compactions[-1][1]] if compactions else []) + new_dirs
        if target_files is None:
            target_files = max(
                1,
                math.ceil(
                    _total_bytes(spark, inputs) / TARGET_BYTES_PER_FILE
                ),
            )
        out = root.rstrip("/") + f"/{_COMPACTED}/upto={bound}"
        _recheck_drain(spark, root, "compaction")
        (
            spark.read.parquet(*inputs)
            .coalesce(target_files)
            .write.mode("overwrite")
            .parquet(out)
        )
        return bound


def merge_inputs(
    spark: SparkSession, root: str, keep_last: int = 1
) -> tuple[list[str], int] | None:
    """The directories a base merge should fold (newest live compaction
    plus uncovered committed epochs, minus the newest ``keep_last``
    epochs) and the epoch bound they reach, or None when nothing is
    mergeable. ``keep_last >= 1`` for the same replay-safety argument
    as :func:`compact_epoch_sink`: the newest epoch's checkpoint commit
    may be missing after a kill, and a replayed epoch must rewrite its
    own directory, never rows already folded into the base index."""
    if keep_last < 1:
        raise ValueError("merge_inputs: keep_last must be >= 1")
    merged = merged_bound(spark, root)
    compactions = [
        (k, p) for k, p in _committed_compactions(spark, root) if k > merged
    ]
    covered = compactions[-1][0] if compactions else merged
    uncovered = [
        (e, p) for e, p in _epoch_entries(spark, root) if e > covered
    ]
    eligible = uncovered[: max(0, len(uncovered) - keep_last)]
    paths = ([compactions[-1][1]] if compactions else []) + [
        p for _, p in eligible
    ]
    if not paths:
        return None
    bound = max([covered] + [e for e, _ in eligible])
    return paths, bound


_DRAIN_LEASE = "_draining"
_MAINT_LEASE = "_maintaining"

# Process-local reentrancy for the maintenance lease: a base merge
# holds the lease for its whole run and calls gc_epoch_sink (which
# also acquires) under it. Keyed by the lease file's fully-qualified
# path string; values are refcounts.
_HELD_MAINT: dict[str, int] = {}


def acquire_drain_lease(spark: SparkSession, root: str, tag: str) -> None:
    """Mark ``root`` as being drained by a live stream: a tiny
    ``_draining`` marker file every maintenance entrypoint
    (:func:`assert_quiescent`) refuses on. Written via the Hadoop FS
    API directly — no Spark job, so acquiring costs one FS call, not a
    cluster action.

    Refusals (r9 advice — the lease used to overwrite unconditionally,
    so two concurrent drains on one root clobbered each other and the
    first release deleted the second drain's protection):

    - a FOREIGN live lease (different ``tag``) raises — two distinct
      drains may not share a root. Re-acquiring with the SAME tag is
      allowed and overwrites: a drain rerun after a crash self-heals
      its own stale lease (callers must tag by drain identity — the
      checkpoint dir — not by ephemeral run ids, so the rerun's tag
      matches).
    - a live MAINTENANCE lease (:func:`maintenance_lease`) raises —
      the symmetric tripwire: maintenance refuses to start while a
      drain holds the root, and a drain refuses to start while
      maintenance (merge/compact/GC, which can run for minutes) holds
      it. Without this, a drain starting after maintenance's entry
      check wrote epochs into directories the maintenance job was
      about to delete."""
    jvm, _, fs = _fs(spark, root)
    mp = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + _MAINT_LEASE)
    if fs.exists(mp):
        raise ValueError(
            f"epoch sink at {root} is under maintenance "
            f"({_read_small(spark, mp)}): a drain may not start until "
            "it finishes. If the maintenance job is dead, delete "
            f"{root.rstrip('/')}/{_MAINT_LEASE} by hand."
        )
    holder = drain_lease_holder(spark, root)
    if holder is not None and holder != tag:
        raise ValueError(
            f"epoch sink at {root} is already leased by another "
            f"draining stream ({holder}); refusing to overwrite. If "
            "that stream's driver is dead, rerun ITS drain to "
            f"completion or delete {root.rstrip('/')}/{_DRAIN_LEASE} "
            "by hand."
        )
    p = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + _DRAIN_LEASE)
    out = fs.create(p, True)
    out.write(bytearray(tag.encode()))
    out.close()


def release_drain_lease(spark: SparkSession, root: str) -> None:
    """Remove the drain lease (idempotent)."""
    jvm, _, fs = _fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + _DRAIN_LEASE)
    if fs.exists(p):
        fs.delete(p, False)


def _read_small(spark: SparkSession, p) -> str:
    """Read a tiny marker file's content (lease tags)."""
    jvm = spark._jvm
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        return str(
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def drain_lease_holder(spark: SparkSession, root: str) -> str | None:
    """The tag of the lease holding ``root``, or None when unleased."""
    jvm, _, fs = _fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + _DRAIN_LEASE)
    if not fs.exists(p):
        return None
    return _read_small(spark, p)


def scheme_marker(spark: SparkSession, root: str, name: str) -> str | None:
    """The scheme fingerprint committed in ``root``'s ``name`` marker
    (a one-line text dir the probe streams stamp before their first
    epoch), or None when none is committed: no marker, or the empty
    dir a write killed before its commit leaves behind."""
    marker = root.rstrip("/") + "/" + name
    _, path, fs = _fs(spark, marker)
    if not fs.exists(path):
        return None
    rows = spark.read.text(marker).collect()
    return rows[0][0] if rows else None


@contextlib.contextmanager
def maintenance_lease(spark: SparkSession, root: str, action: str):
    """Hold a ``_maintaining`` marker on ``root`` for the duration of a
    maintenance job (base merge, compaction, GC) — the drain side of
    the quiescence contract (r9 advice: quiescence used to be a
    one-shot check-then-act at maintenance entry; a drain starting
    DURING the minutes-long merge window had no tripwire). While the
    marker is live, :func:`acquire_drain_lease` refuses, so no drain
    can start mid-maintenance; :func:`assert_quiescent` at entry
    guarantees none was running when the marker went up.

    Reentrant within the process (a merge holds it across its inner
    gc_epoch_sink call). Overwrites a stale marker from a CRASHED
    maintenance job — maintenance entry already asserts quiescence,
    and every maintenance op here converges on rerun, so re-running
    maintenance IS the crash repair (the same self-heal semantics the
    drain lease has for its own reruns)."""
    jvm, _, fs = _fs(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(root.rstrip("/") + "/" + _MAINT_LEASE)
    key = str(p.toString())
    if _HELD_MAINT.get(key, 0) > 0:
        _HELD_MAINT[key] += 1
        try:
            yield
        finally:
            _HELD_MAINT[key] -= 1
        return
    assert_quiescent(spark, root, action)
    out = fs.create(p, True)
    out.write(bytearray(action.encode()))
    out.close()
    _HELD_MAINT[key] = 1
    try:
        yield
    finally:
        _HELD_MAINT.pop(key, None)
        if fs.exists(p):
            fs.delete(p, False)


def _recheck_drain(spark: SparkSession, root: str, action: str) -> None:
    """Raise if a drain lease appeared since maintenance entry — called
    immediately before each destructive step (the compaction write,
    every GC delete batch). With :func:`maintenance_lease` held,
    :func:`acquire_drain_lease` refuses, so this fires only for
    writers that bypass the lease API (legacy or foreign tooling) —
    defense in depth, one FS existence check."""
    holder = drain_lease_holder(spark, root)
    if holder is not None:
        raise ValueError(
            f"epoch sink at {root} acquired a drain lease ({holder}) "
            f"while {action} was running — aborting before the "
            "destructive step. The drain bypassed the maintenance "
            "lease; stop it, then rerun maintenance."
        )


def inflight_epochs(spark: SparkSession, root: str) -> list[int]:
    """Epochs whose ``batch=N`` directory has NO ``_SUCCESS`` commit
    marker and sits above the base-merge bound — the on-disk signature
    of a stream epoch being written RIGHT NOW (or of a stream killed
    mid-write, which a restart will rewrite). Committed epochs always
    carry ``_SUCCESS`` (the file-output committer writes it at job
    commit); an uncommitted one below the merge bound is covered debris
    GC will collect, not a live write."""
    jvm, _, fs = _fs(spark, root)
    merged = merged_bound(spark, root)
    out = []
    for epoch, epath in _epoch_entries(spark, root):
        if epoch <= merged:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(epath + "/_SUCCESS")
        if not fs.exists(marker):
            out.append(epoch)
    return out


def assert_quiescent(
    spark: SparkSession, root: str, action: str = "base merge"
) -> None:
    """Loud refusal when the sink root is NOT quiescent (r8 verdict
    item 4, hardened in r9): maintenance that folds or deletes epoch
    directories while a stream is draining would pull them out from
    under the stream's epoch ledger (``streaming/ingest._EpochLedger``
    caches paths for the run's lifetime) and the stream's next probe
    would read deleted paths — the same unrecoverable mixing the
    replayable-epoch refusal (``epoch_sink_paths``) exists to stop.
    Two independent tripwires, because each covers the other's blind
    window:

    1. the **drain lease** (``_draining``, held by the probe streams
       for their whole drain — including BETWEEN committed
       micro-batches, where tripwire 2 sees nothing);
    2. an **uncommitted in-flight epoch** (``batch=N`` with no
       ``_SUCCESS`` — an epoch being written right now, or a stream
       killed mid-write; catches writers that predate the lease or
       crashed before releasing anything)."""
    holder = drain_lease_holder(spark, root)
    if holder is not None:
        raise ValueError(
            f"epoch sink at {root} is leased by a draining stream "
            f"({holder}): {action} requires quiescence. If that "
            "stream's driver is dead, rerun the drain to completion "
            "(it re-acquires and then releases the lease) or delete "
            f"{root.rstrip('/')}/{_DRAIN_LEASE} by hand."
        )
    eps = inflight_epochs(spark, root)
    if eps:
        raise ValueError(
            f"epoch sink at {root} has uncommitted in-flight epoch"
            f"{'s' if len(eps) > 1 else ''} "
            f"{eps} (batch={eps[0]} has no _SUCCESS): a stream is "
            f"writing this root right now — or died mid-write and will "
            f"rewrite it on restart. {action} requires quiescence: "
            "stop the stream (let the epoch commit) or restart it to "
            "completion, then retry."
        )


def gc_epoch_sink(spark: SparkSession, root: str) -> list[str]:
    """Delete every ``batch=N`` directory covered by the newest
    committed compaction or base merge, plus superseded compactions and
    merge markers (committed or partial). Returns the deleted paths.
    Safe at any moment relative to NEW readers — every deleted path is
    already invisible to :func:`epoch_sink_paths` — but not to a LIVE
    stream whose epoch ledger cached paths at start, hence the
    quiescence guard (r9 self-review: enforced at the layer that
    deletes directories, covering every caller at once; r9 advice:
    HELD for the whole GC via the maintenance lease, with a drain
    re-check immediately before each delete)."""
    with maintenance_lease(spark, root, "epoch-sink GC"):
        merged = merged_bound(spark, root)
        live = [
            (k, p)
            for k, p in _committed_compactions(spark, root)
            if k > merged
        ]
        keep_path = live[-1][1] if live else None
        covered = live[-1][0] if live else merged
        if covered < 0:
            return []
        jvm, _, fs = _fs(spark, root)
        deleted = []
        for epoch, epath in _epoch_entries(spark, root):
            if epoch <= covered:
                _recheck_drain(spark, root, "epoch-sink GC")
                fs.delete(jvm.org.apache.hadoop.fs.Path(epath), True)
                deleted.append(epath)
        base = jvm.org.apache.hadoop.fs.Path(
            root.rstrip("/") + "/" + _COMPACTED
        )
        if fs.exists(base):
            for status in fs.listStatus(base):
                name = status.getPath().getName()
                spath = status.getPath().toString()
                if re.fullmatch(r"upto=\d+", name) and spath != keep_path:
                    # older committed compactions are superseded (by a
                    # newer compaction or by the base merge); a partial
                    # (uncommitted) dir is a dead compactor's leftovers
                    # — a retried compaction overwrites its path
                    # anyway. Both safe.
                    _recheck_drain(spark, root, "epoch-sink GC")
                    fs.delete(status.getPath(), True)
                    deleted.append(spath)
        # Superseded merge markers: keep only the newest committed
        # bound.
        mbase = jvm.org.apache.hadoop.fs.Path(
            root.rstrip("/") + "/" + _MERGED
        )
        if fs.exists(mbase):
            keep_marker = f"upto={merged}"
            for status in fs.listStatus(mbase):
                name = status.getPath().getName()
                if re.fullmatch(r"upto=\d+", name) and name != keep_marker:
                    _recheck_drain(spark, root, "epoch-sink GC")
                    fs.delete(status.getPath(), True)
                    deleted.append(status.getPath().toString())
        return deleted
