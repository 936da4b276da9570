"""Checkpointed, resumable sketch builds with per-partition lineage.

North-rule requirement: long sketch builds over 10¹²-row tables must
survive restarts.  The unit of recovery is the *partial sketch row*
``(partition_id, rows_seen, wall_ms, sketch)`` — written to a parquet
checkpoint table as each build completes.  A resume merges the saved
partials instead of rescanning input; an interrupted multi-job build
over split inputs re-runs only the splits without a checkpoint row
(idempotent: partials are keyed by split).

This is the Spark heir of the reference's save/load_bloom + chunk
offset rewind resume loop (``facs/bloom.c:217-337``,
``facs/query.c:167-231``), with lineage the reference lacks.

Format compatibility: sketch blobs are versioned one-way.  The v2
sparse HLL/CMS wire format (round 3) is read transparently by this
release, but a PRIOR release reading a v2 checkpoint would misparse
it as dense registers rather than fail loudly — do not roll back a
deployment across persisted checkpoints written by a newer one.
Future format changes bump the frame MAGIC (not just the version
byte) so old readers reject new blobs explicitly.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sketch_agg import SketchSpec, partial_sketches, tree_merge

MANIFEST = "_sketch_manifest.json"


def checkpoint_build(df: DataFrame, spec: SketchSpec, path: str,
                     split_id: str = "all"):
    """Build partials for one input split and persist them (idempotent).

    Returns the (sketch, rows) merged over ALL splits checkpointed so
    far at ``path``.
    """
    spark = df.sparkSession
    if not _has_split(spark, path, split_id):
        _write_split(df, spec, path, split_id)
    return resume(spark, path)


def resume(spark: SparkSession, path: str):
    """Merge every checkpointed partial at ``path`` into one sketch,
    with the merge fan-in of the spec its manifest records."""
    with open(os.path.join(path, MANIFEST)) as fh:
        m = json.load(fh)
    spec = SketchSpec(kind=m["kind"], column=m["column"], prep=m["prep"],
                      params=tuple(tuple(p) for p in m["params"]))
    partials = spark.read.parquet(path)
    # re-key partition ids uniquely across splits for the tree merge;
    # checkpoint rows are NOT one-per-partition, so pass the true count
    keyed = partials.select(
        F.monotonically_increasing_id().alias("partition_id"),
        "rows_seen", "wall_ms", "sketch")
    return tree_merge(keyed, spec, n_partials=partials.count())


def lineage(spark: SparkSession, path: str) -> DataFrame:
    """The checkpoint's lineage/metrics table (north-rule observability)."""
    return (spark.read.parquet(path)
            .select("split_id", "partition_id", "rows_seen", "wall_ms",
                    "created_ts")
            .orderBy("split_id", "partition_id"))


def _has_split(spark: SparkSession, path: str, split_id: str) -> bool:
    try:
        df = spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — no checkpoint yet
        return False
    return df.filter(F.col("split_id") == split_id).limit(1).count() > 0


def _write_split(df: DataFrame, spec: SketchSpec, path: str,
                 split_id: str) -> None:
    """Append ``df``'s partials as split ``split_id``; the manifest
    goes first, so every checkpoint with partials has one."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, MANIFEST), "w") as fh:
        json.dump({"kind": spec.kind, "column": spec.column,
                   "prep": spec.prep, "params": list(spec.params)}, fh)
    (partial_sketches(df, spec)
     .withColumn("split_id", F.lit(split_id))
     .withColumn("created_ts", F.lit(time.time()))
     .write.mode("append").partitionBy("split_id").parquet(path))


def incremental_snaptable_sketch(spark: SparkSession, table: str,
                                 spec: SketchSpec, ckpt_path: str):
    """Maintain a sketch over a GROWING snaptable: each call ingests
    only the data files added since the last processed commit and
    merges them into the checkpointed state — the streaming-adjacent
    maintenance loop for table-level statistics (distinct urls,
    length quantiles, membership) that must track a 10¹²-row table
    without ever rescanning it.

    The snapshot chain (``io/snapshots.py`` manifests) gives the
    file-level diff for free: commit N's new files are
    ``files(N) − files(parent)``.  Each commit becomes one
    checkpoint split (``snap-<id>``), so the operation is idempotent
    per commit — a crashed run re-processes at most one commit, a
    re-run processes nothing, and the merged result is associativity-
    exact (same sketch as a cold build; property-tested).  Only
    append chains are maintainable: sketches are union-only, so an
    ``overwrite`` commit (rows REMOVED) raises — rebuild from scratch
    for that, as any sketch must.

    Returns ``(sketch, rows_total, processed_split_ids)`` where
    ``processed_split_ids`` lists the commits ingested by THIS call
    (empty ⇒ the checkpoint was already current).
    """
    from ..io.snapshots import _read_manifest, _root, current_snapshot_id
    root = _root(table)
    head = current_snapshot_id(root)
    if head is None:
        raise ValueError(f"snaptable {table!r} is empty — nothing to sketch")
    chain = []
    sid = head
    while sid is not None:
        try:
            m = _read_manifest(root, sid)
        except ValueError as exc:
            raise ValueError(
                f"snaptable {table!r} snapshot {sid} was expired "
                f"(expire_snapshots) and the checkpoint at "
                f"{ckpt_path!r} does not already cover it — expired "
                "history can only be resumed from a checkpoint that "
                "ingested it before expiry; otherwise rebuild the "
                "sketch from the current snapshot") from exc
        chain.append(m)
        if _has_split(spark, ckpt_path, f"snap-{sid:08d}"):
            # this commit is already checkpointed; append manifests
            # carry the FULL cumulative file list, so seeding
            # prev_files from it covers every ancestor — stop the
            # walk here so expire_snapshots on older history and
            # incremental maintenance stay compatible
            break
        sid = m["parent_id"]
    chain.reverse()
    if any(m["operation"] == "overwrite" for m in chain[1:]):
        raise ValueError(
            "incremental sketch maintenance needs an append-only chain: "
            "an overwrite commit removes rows, and sketches cannot "
            "un-merge — rebuild the sketch from the overwrite snapshot")
    prev_files: set = set()
    processed = []
    for m in chain:
        new = [f for f in m["files"] if f not in prev_files]
        prev_files.update(m["files"])
        split = f"snap-{m['snapshot_id']:08d}"
        if not new or _has_split(spark, ckpt_path, split):
            continue
        df = spark.read.parquet(*[os.path.join(root, f) for f in new])
        _write_split(df, spec, ckpt_path, split)
        processed.append(split)
    sketch, rows = resume(spark, ckpt_path)
    return sketch, rows, processed
