"""Epoch-partition compaction: fold a streaming extract sink's
``epoch_id=N`` partitions into the canonical ``p_hash``-bucketed
stage-table layout.

``streaming.ingest.start_extract_stream`` gets exactly-once by giving
each micro-batch its own ``epoch_id`` partition (dynamic overwrite
makes a retried epoch idempotent) — the right WRITE layout, but the
wrong READ layout: a long-running stream accumulates one directory and
a handful of small files per epoch, unbounded, and none of the
bucketed machinery (partition-pruned refresh reads, bucket-local
joins, ``triples_of``) can use it.  This is the parquet stand-in for
Iceberg's ``rewrite_data_files``: periodically merge all closed epochs
into the bucketed table the batch pipeline maintains, then drop the
epoch directories.  At 100 TB the epoch table is the landing zone and
the bucketed table is the serving copy; compaction cadence bounds both
the file count and the freshness lag.

Crash-safe at every boundary without a transaction log, because
extraction is deterministic (``extracted_at`` is the turn's ``ts``,
not a wall clock) and the merge anti-joins new rows against the rows
already kept (null-safe, all columns):

* crash after the bucket upsert but before the marker → the next run
  re-presents the same epochs, whose rows all match rows already in
  the table; the anti-join drops them and the merge is a content
  no-op (while preserving the multiplicity of duplicate rows the
  deterministic batch pipeline would also emit twice);
* the ``_compacted.json`` marker (max folded epoch id) is written only
  after the upsert; crash after the marker but before the directory
  deletes → the next run deletes the stale epoch dirs WITHOUT
  re-merging;
* a crashed stream retrying an already-compacted epoch rewrites its
  ``epoch_id`` dir with the same deterministic rows; the next
  compaction sees it at-or-below the marker and just deletes it.

Run compaction on a drained stream (``availableNow`` trigger) or
between triggers of a continuous one — an epoch directory mid-write
has no commit protocol on plain parquet.  Under Iceberg the same
function shape becomes a snapshot-isolated ``rewrite_data_files``
call and that restriction disappears.

Refresh interplay: compaction moves triples, not ``_frontier`` rows —
streamed conversations are therefore not yet recorded as processed.
The first DETECTION-mode refresh after a compaction re-derives those
of them present in its turns snapshot (idempotent — extraction is
deterministic, so the rewrite is content-identical) and records them
in the frontier; conversations absent from the snapshot keep their
compacted triples untouched, as any refresh leaves unseen
conversations alone.  Subsequent refreshes are delta-scoped as usual.  A triples-derived frontier
update here would only shrink that one-time pass, and incorrectly so
for conversations whose trailing turns produce no triples — hence
deliberately not done.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lexicator_spark.sources import fsutil
from lexicator_spark.sources import io as sio

_MARKER = "_compacted.json"


class CompactResult(NamedTuple):
    n_epochs: int
    n_rows: int
    n_buckets_touched: int
    max_epoch: int | None
    # which serving-table buckets were rewritten — callers maintaining
    # per-bucket bookkeeping (e.g. the pipeline marker counts the
    # O(delta) refresh lineage merges against) need the list, not
    # just its length
    touched_buckets: tuple = ()
    # the rewritten buckets' row counts, as the upsert returned them
    # (sorted ``(bucket, count)`` pairs), so that bookkeeping needs no
    # re-read of the buckets just written
    bucket_counts: tuple = ()


def _marker_path(stream_out: str) -> str:
    return os.path.join(stream_out, _MARKER)


def read_compacted_epoch(spark: SparkSession, stream_out: str) -> int:
    """Highest epoch id already folded into the bucketed table
    (``-1`` when no compaction has run)."""
    p = _marker_path(stream_out)
    if fsutil.exists(spark, p):
        return int(json.loads(fsutil.read_text(spark, p))["max_epoch"])
    return -1


def compact_stream_epochs(
    spark: SparkSession,
    stream_out: str,
    stage_location: str,
    partition_key: str = "conv_id",
    n_buckets: int | None = None,
) -> CompactResult:
    """Merge every epoch partition above the ``_compacted.json``
    watermark into the ``p_hash``-bucketed table at
    ``stage_location``, then delete the folded epoch directories.

    The epoch list is a ``collect`` of the partition column only —
    bounded by compaction cadence (epochs since the last run), never
    by data volume.  Kept rows of touched buckets are read with
    partition pruning (same shape as
    ``incremental.refresh_triples_partitioned``), so merge I/O scales
    with the touched-bucket fraction of the serving table plus the
    new-epoch volume, not the table size.
    """
    done_max = read_compacted_epoch(spark, stream_out)
    if all(
        n.startswith(("_", ".")) for n in fsutil.list_names(spark, stream_out)
    ):
        # no sink yet, or marker/sidecar files only (names parquet
        # reads skip) — every epoch already folded
        return CompactResult(0, 0, 0, done_max if done_max >= 0 else None)
    epochs_df = spark.read.parquet(stream_out)
    if "epoch_id" not in epochs_df.columns:
        raise ValueError(
            f"{stream_out} is not an epoch-partitioned stream sink "
            "(no epoch_id partition column)"
        )
    epoch_ids = sorted(
        r.epoch_id for r in epochs_df.select("epoch_id").distinct().collect()
    )
    # stale = folded by a prior run that crashed before deleting them
    # (or rewritten by a stream retry of a compacted epoch): delete
    # without re-merging — their rows are already in the bucketed table
    for e in (e for e in epoch_ids if e <= done_max):
        fsutil.delete(
            spark, os.path.join(stream_out, f"epoch_id={e}"), recursive=True
        )
    fresh = [e for e in epoch_ids if e > done_max]
    if not fresh:
        return CompactResult(0, 0, 0, done_max if done_max >= 0 else None)

    meta = sio.read_bucket_meta(spark, stage_location)
    if meta is not None:
        if meta["partition_key"] != partition_key:
            raise ValueError(
                f"table at {stage_location} is bucketed on "
                f"{meta['partition_key']} (_buckets.json); refusing "
                f"compaction keyed on {partition_key}"
            )
        n_buckets = meta["n_buckets"]
    elif n_buckets is None:
        n_buckets = sio.DEFAULT_BUCKETS

    new_rows = sio.with_partition_hash(
        epochs_df.filter(F.col("epoch_id").isin(fresh)).drop("epoch_id"),
        partition_key,
        n_buckets,
    ).localCheckpoint(eager=True)
    touched = sorted(
        r.p_hash for r in new_rows.select("p_hash").distinct().collect()
    )
    n_new = new_rows.count()

    new_clean = new_rows.drop("p_hash")
    if fsutil.exists(spark, sio._schema_sidecar(stage_location)):
        # partition-pruned: only the touched bucket directories of the
        # serving table are read (PartitionFilters on p_hash)
        kept = (
            sio.read_table(spark, stage_location, keep_bucket_col=True)
            .filter(F.col("p_hash").isin(touched))
            .drop("p_hash")
        )
        # Re-merge guard WITHOUT collapsing legitimate duplicates: a
        # compaction that crashed after its upsert but before its
        # marker re-presents already-folded epochs, whose rows are
        # exact copies of rows already in `kept` — drop exactly those
        # via a null-safe all-column anti-join.  Unlike a blanket
        # distinct() over the union (which made row multiplicity
        # compaction-history-dependent), this preserves kept-row
        # multiplicity and within-batch duplicates: a raw turn
        # ingested twice extracts to two identical triples in the
        # batch pipeline, and the compacted table must match it
        # row-for-row.  Epoch retries never duplicate within new_rows
        # (the stream sink rewrites its epoch dir with dynamic
        # partition overwrite).  Residual ambiguity: an exact-duplicate
        # pair split across a folded and a fresh epoch collapses to
        # one — indistinguishable from a re-merge without per-row
        # provenance.
        n = new_clean.alias("n")
        k = kept.alias("k")
        same_row = None
        for c in new_clean.columns:
            eq = F.col(f"n.`{c}`").eqNullSafe(F.col(f"k.`{c}`"))
            same_row = eq if same_row is None else (same_row & eq)
        replacement = kept.unionByName(n.join(k, same_row, "left_anti"))
    else:
        replacement = new_clean

    counts = sio.upsert_partitions(
        replacement,
        stage_location,
        partition_key=partition_key,
        n_buckets=n_buckets,
        touched_buckets=touched,
    )
    fsutil.write_text(
        spark, _marker_path(stream_out), json.dumps({"max_epoch": max(fresh)})
    )
    for e in fresh:
        fsutil.delete(
            spark, os.path.join(stream_out, f"epoch_id={e}"), recursive=True
        )
    return CompactResult(
        len(fresh), n_new, len(touched), max(fresh), tuple(sorted(touched)),
        tuple(counts),
    )
