"""Manifest-committed vector index — the OBJECT-STORE twin of the
symlink-generation layout in ``sources/parquet_index.py``.

Why it exists: the mutable-index lifecycle (upsert / delete / compact /
retrain) promotes new generations with POSIX ``rename``/``symlink`` —
atomic on a shared filesystem, unavailable on S3/GCS-class stores (their
"rename" is copy+delete, and there are no symlinks).  The portable
commit primitive object stores DO offer is a conditional PUT of a small
object (S3 If-None-Match / If-Match on ETag, GCS generation
preconditions).  This module re-expresses the generation swap on exactly
that primitive — the same design move as Iceberg/Delta's
manifest-pointer commit, reduced to the one pointer this index needs:

* data generations are immutable directories
  ``<path>/gen-<N>-<token>/`` (Spark parquet writes with the usual
  ``_SUCCESS`` marker); the random token makes every writer's directory
  unique, so two racers for generation N+1 can never scribble into each
  other's files — the pointer CAS, not the directory name, decides the
  winner;
* the CURRENT pointer is a tiny JSON object ``<path>/current.json``
  holding ``{"gen": N, "dir": ..., "prev_dir": ...}``; readers resolve
  it, then scan the named directory — a torn tree is unobservable
  because a directory is referenced only after its write completed;
* a commit is one :func:`put_pointer` call, conditional on the pointer
  still naming the generation the writer based its work on
  (compare-and-swap) — a lost race raises instead of silently
  clobbering a concurrent commit;
* crash/loser recovery is trivial by construction: an unreferenced
  ``gen-*`` directory is garbage (collected by a later commit once its
  number falls to or below the committed generation), and the pointer
  always names a complete tree.  There is no ``recover_*`` step.

The store interface here is deliberately tiny — ``put_pointer`` /
``get_pointer`` over local files (atomic temp+rename standing in for
conditional PUT, with the compare-and-swap check enforced in code).  On
a real object store, implement the same two calls with the store's
conditional-PUT header; everything else is unchanged.  Tombstone-masked
serving (``read_live_index``-style) works the same over this layout —
the side tables are plain append-only parquet prefixes, which object
stores handle natively.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet_index import _norm_path, _open_index

_POINTER = "current.json"


def _pointer_path(path: str) -> str:
    # _norm_path (r12/r13 ADVICE): the pointer file is read/written with
    # Python os.* (Python-cwd resolution) while the gen dirs it names are
    # scanned by Spark (JVM-cwd resolution) — absolutize once so a
    # relative index path can't split the two faces across trees
    return os.path.join(_norm_path(path), _POINTER)


def get_pointer(path: str) -> dict | None:
    """Current pointer ``{"gen", "dir", "prev_dir"}``, or None for an
    empty/uninitialized index.  Object-store analog: GET of the pointer
    object (keep the ETag for the subsequent conditional PUT)."""
    try:
        with open(_pointer_path(path)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def put_pointer(path: str, pointer: dict, expected_gen: int | None) -> None:
    """Commit ``pointer`` iff the current pointer's generation still
    reads ``expected_gen`` (compare-and-swap; ``None`` = must not exist
    yet).  Local emulation: re-read + atomic temp+rename; on a real
    store use conditional PUT (S3 If-Match on the read ETag /
    If-None-Match:* for first create, GCS ifGenerationMatch) — the ONE
    primitive this layout needs.

    Raises ``RuntimeError`` on a lost race: a concurrent writer
    committed first and this writer's generation is based on stale
    data — rebase on the new current and retry, never overwrite blindly.

    The local emulation holds an ``fcntl`` file lock across the
    read-check-then-rename (r12 ADVICE, low): without it two local
    racers could both pass the ``expected_gen`` check in the window
    between ``get_pointer`` and ``os.rename`` and both "win" —
    violating the compare-and-swap contract the module documents (a
    real store's conditional PUT is atomic server-side and needs no
    lock).
    """
    import fcntl

    path = _norm_path(path)
    os.makedirs(path, exist_ok=True)
    lock_path = _pointer_path(path) + ".lock"
    with open(lock_path, "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            cur = get_pointer(path)
            actual = cur["gen"] if cur else None
            if actual != expected_gen:
                raise RuntimeError(
                    f"manifest-index commit conflict at {path!r}: expected "
                    f"current gen {expected_gen}, found {actual} — a "
                    "concurrent writer committed first; rebase on the new "
                    "current and retry"
                )
            tmp = f"{_pointer_path(path)}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(pointer, fh)
            os.rename(tmp, _pointer_path(path))
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def _new_gen_dir(path: str, gen: int) -> str:
    import uuid

    return os.path.join(_norm_path(path), f"gen-{gen}-{uuid.uuid4().hex[:8]}")


def _gen_number(dirname: str) -> int | None:
    parts = os.path.basename(dirname).split("-")
    if len(parts) >= 2 and parts[0] == "gen" and parts[1].isdigit():
        return int(parts[1])
    return None


def current_gen_dir(path: str) -> str:
    """Resolve the CURRENT data directory (raises on an empty index)."""
    cur = get_pointer(path)
    if cur is None:
        raise FileNotFoundError(
            f"no committed generation at {path!r} (missing {_POINTER})"
        )
    return os.path.join(_norm_path(path), cur["dir"])


def write_manifest_index(
    vectors: DataFrame,
    path: str,
    partition_by: str | None = None,
    compression: str = "zstd",
) -> int:
    """Create the first generation and commit the pointer to it.
    Returns the committed generation number."""
    cur = get_pointer(path)
    gen = (cur["gen"] if cur else 0) + 1
    gen_dir = _new_gen_dir(path, gen)
    writer = vectors.write.mode("overwrite").option(
        "compression", compression
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(gen_dir)
    put_pointer(
        path,
        {
            "gen": gen,
            "dir": os.path.basename(gen_dir),
            "prev_dir": cur["dir"] if cur else None,
        },
        expected_gen=cur["gen"] if cur else None,
    )
    return gen


def read_manifest_index(spark: SparkSession, path: str) -> DataFrame:
    """Open the CURRENT generation (readers that resolved the pointer a
    moment earlier keep a consistent view: generations are immutable,
    and the grace policy keeps the previous committed directory until
    the commit after next)."""
    return _open_index(spark, current_gen_dir(path))


def rewrite_manifest_index(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    partition_by: str | None = None,
    compression: str = "zstd",
) -> dict:
    """The compaction/retrain commit: write ``new_rows`` as generation
    N+1 into a writer-unique directory, compare-and-swap the pointer
    from N to N+1, then garbage-collect every directory that is neither
    the new current nor the previous committed one and whose generation
    number is <= N+1 (superseded generations past the one-generation
    reader grace, plus the directories of losers/crashed writers at
    already-decided numbers).  Directories numbered ABOVE the committed
    generation are left alone — they may belong to an in-flight writer
    whose CAS hasn't resolved yet.

    A crash anywhere before the pointer swap leaves the index serving
    generation N with an orphan directory — harmless garbage a later
    commit collects.  A crash after the swap leaves a fully-committed
    index.  No torn state exists at any instant.
    """
    import shutil

    path = _norm_path(path)
    cur = get_pointer(path)
    if cur is None:
        raise FileNotFoundError(
            f"no committed generation at {path!r}; use write_manifest_index"
        )
    new_gen = cur["gen"] + 1
    new_dir = _new_gen_dir(path, new_gen)
    if partition_by:
        # r14 (guide §6): same pre-write clustering as the symlink
        # layout's compact — one file per partition value instead of a
        # per-task file spray + implicit partition-column sort.
        new_rows = new_rows.repartition(F.col(partition_by))
    writer = new_rows.write.mode("overwrite").option(
        "compression", compression
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(new_dir)
    pointer = {
        "gen": new_gen,
        "dir": os.path.basename(new_dir),
        "prev_dir": cur["dir"],
    }
    put_pointer(path, pointer, expected_gen=cur["gen"])  # CAS commit
    keep = {pointer["dir"], pointer["prev_dir"]}
    dropped = []
    for name in os.listdir(path):
        n = _gen_number(name)
        if n is None or name.split("__")[0] in keep:
            # side tables/files (gen-<N>-<tok>__tombstones, __meta.json)
            # share their generation's lifecycle: kept while in grace
            continue
        if n <= new_gen:
            victim = os.path.join(path, name)
            if os.path.isdir(victim):
                shutil.rmtree(victim, ignore_errors=True)
            else:
                # side FILES (the __meta.json max-batch sidecar) are not
                # trees — rmtree would silently leave them as orphans
                try:
                    os.remove(victim)
                except OSError:
                    pass
            dropped.append(name)
    spark.catalog.refreshByPath(new_dir)
    return {"gen": new_gen, "dir": pointer["dir"], "gc": sorted(dropped)}


# ---------------------------------------------------------------------------
# Mutable-index lifecycle over the manifest layout (r12 VERDICT #6)
#
# The SAME tombstone-masked CRUD operators as the symlink layout
# (sources/parquet_index.py), re-committed through the pointer CAS: the
# current generation directory plays the role the symlink target plays on
# a shared FS.  Upserts/deletes append immutable parquet FILES to the
# current generation's prefix and its churn-sized __tombstones side table
# (object stores append new objects to a prefix natively; every file is
# complete before it is listable, so readers see a consistent pre- or
# post-append view — the same at-least-once contract as the symlink
# path).  Compaction folds tombstones into a fresh generation and commits
# it with one conditional PUT.  The parity test
# (tests/test_sources_ingest.py::test_manifest_lifecycle_parity) drives
# an identical CRUD sequence through both layouts and asserts identical
# live views at every step.
# ---------------------------------------------------------------------------


def upsert_manifest_index(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    id_col: str = "docid",
    batch: int | None = None,
    partition_by: str | None = None,
    stable_partitions: bool = False,
) -> dict:
    """Latest-wins upsert against the CURRENT generation (composes
    ``parquet_index.upsert_vector_index`` on the resolved gen dir —
    identical semantics incl. the ``stable_partitions`` pruning
    contract; tombstones land in the generation's ``__tombstones`` side
    prefix and fold at the next compaction)."""
    from .parquet_index import upsert_vector_index

    return upsert_vector_index(
        spark, current_gen_dir(path), updates,
        id_col=id_col, batch=batch, partition_by=partition_by,
        stable_partitions=stable_partitions,
    )


def delete_from_manifest_index(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "docid"
) -> int:
    """Tombstone live generations of the ids in the CURRENT gen dir."""
    from .parquet_index import delete_from_vector_index

    return delete_from_vector_index(
        spark, current_gen_dir(path), ids, id_col=id_col
    )


def read_live_manifest_index(
    spark: SparkSession, path: str, id_col: str = "docid"
) -> DataFrame:
    """Tombstone-masked live view of the CURRENT generation (fail-closed
    on tombstone read errors, same as the symlink layout)."""
    from .parquet_index import read_live_index

    return read_live_index(spark, current_gen_dir(path), id_col=id_col)


def compact_manifest_index(
    spark: SparkSession,
    path: str,
    id_col: str = "docid",
    partition_by: str | None = None,
) -> dict:
    """Fold tombstones: rewrite the live rows as generation N+1 and CAS
    the pointer — the object-store twin of ``compact_vector_index``'s
    staging-rename-symlink-swap tail.  A lost CAS raises (a concurrent
    writer committed first; the orphan directory is GC'd by a later
    commit).  Grace note (same contract as the symlink layout, where the
    folded tombstone table is dropped after the swap): a reader pinned to
    the PREVIOUS generation after its side tables are collected sees it
    unmasked — grace covers in-flight scans, not long-lived stale
    pointers."""
    from .parquet_index import (
        _claim_max_batch,
        _read_claimed_max_batch,
        _tombstones_path,
        observed_live_view,
        read_optional_parquet,
    )

    cur_dir = current_gen_dir(path)
    tomb = read_optional_parquet(spark, _tombstones_path(cur_dir))
    if tomb is None or tomb.limit(1).count() == 0:
        return {"compacted": False, "dropped": 0}
    claimed = _read_claimed_max_batch(cur_dir)
    # r15 (guide §1.2; r14 VERDICT "Next #1"): n_before/n_after ride the
    # gen-N+1 rewrite plan as Observations — same fix as
    # compact_vector_index; the r14 form paid a full current-gen count
    # before the rewrite and a new-gen re-scan after, solely for
    # "dropped".  One job total.
    live, counts = observed_live_view(spark, cur_dir, tomb, id_col=id_col)
    out = rewrite_manifest_index(
        spark, path, live, partition_by=partition_by
    )
    n_before, n_after = counts()
    new_dir = current_gen_dir(path)
    if claimed is not None:
        # carry the max-batch claim into the new generation's sidecar so
        # the first post-compaction upsert skips the legacy thin scan
        # (batch ids are index-lifetime, not per-generation)
        _claim_max_batch(new_dir, claimed)
    out.update({"compacted": True, "dropped": n_before - n_after})
    return out
