"""Epoch-partition compaction: fold the streaming extract sink into
the bucketed stage-table layout (the rewrite_data_files analog), with
crash-safety at both marker boundaries."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lexicator_spark import synth
from lexicator_spark.operators.compact import (
    CompactResult,
    compact_stream_epochs,
    read_compacted_epoch,
)
from lexicator_spark.sources import io as sio
from lexicator_spark.streaming.ingest import start_extract_stream, stream_turns


def _run_stream(spark, in_dir, out, ckpt):
    q = start_extract_stream(stream_turns(spark, in_dir), out, ckpt)
    q.awaitTermination(120)


def _rows(df):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx) for r in df.collect()
    }


def _epoch_dirs(out):
    return sorted(d for d in os.listdir(out) if d.startswith("epoch_id="))


@pytest.fixture()
def streamed(spark, tmp_path):
    """A drained extract stream over 8 input files at 4/trigger → ≥2
    epoch partitions in the sink."""
    corpus = synth.make_corpus(n_convs=40, seed=31)
    in_dir = str(tmp_path / "turns_in")
    synth.corpus_df(spark, corpus).repartition(8).write.parquet(in_dir)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    _run_stream(spark, in_dir, out, ckpt)
    return in_dir, out, ckpt


def test_compact_folds_epochs_and_drops_dirs(spark, streamed, tmp_path):
    _in_dir, out, _ckpt = streamed
    assert len(_epoch_dirs(out)) >= 2
    expected = _rows(spark.read.parquet(out))
    stage = str(tmp_path / "triples_raw")

    res = compact_stream_epochs(spark, out, stage)
    assert res.n_epochs >= 2 and res.n_buckets_touched > 0
    assert res.max_epoch == res.n_epochs - 1  # epochs start at 0
    # every sink row is in the bucketed table, epoch dirs are gone,
    # and the marker records the fold
    assert _rows(sio.read_table(spark, stage)) == expected
    assert _epoch_dirs(out) == []
    assert read_compacted_epoch(spark, out) == res.max_epoch
    meta = sio.read_bucket_meta(spark, stage)
    assert meta and meta["partition_key"] == "conv_id"
    # bucketed layout is really on disk (partition-pruned reads work)
    assert any(d.startswith("p_hash=") for d in os.listdir(stage))


def test_compact_noop_without_new_epochs(spark, streamed, tmp_path):
    _in_dir, out, _ckpt = streamed
    stage = str(tmp_path / "triples_raw")
    first = compact_stream_epochs(spark, out, stage)
    before = _rows(sio.read_table(spark, stage))
    again = compact_stream_epochs(spark, out, stage)
    assert again == CompactResult(0, 0, 0, first.max_epoch)
    assert _rows(sio.read_table(spark, stage)) == before


def test_compact_incremental_across_stream_restarts(spark, streamed):
    """New epochs after a stream restart fold on top of the previous
    compaction; the table ends exactly at sink₁ ∪ sink₂."""
    in_dir, out, ckpt = streamed
    stage = out + "_stage"
    first = compact_stream_epochs(spark, out, stage)
    seen = _rows(sio.read_table(spark, stage))

    more = synth.make_corpus(n_convs=25, seed=77)
    synth.corpus_df(spark, more).repartition(8).write.mode("append").parquet(in_dir)
    _run_stream(spark, in_dir, out, ckpt)  # resumes from checkpoint
    new_rows = _rows(spark.read.parquet(out))

    res = compact_stream_epochs(spark, out, stage)
    assert res.n_epochs >= 1 and res.max_epoch > first.max_epoch
    assert _rows(sio.read_table(spark, stage)) == seen | new_rows
    assert _epoch_dirs(out) == []


def test_compact_remerge_after_pre_marker_crash(spark, streamed):
    """Crash AFTER the upsert but BEFORE the marker: the rerun merges
    the same epochs again — exact-distinct makes it a content no-op."""
    _in_dir, out, _ckpt = streamed
    stage = out + "_stage"
    res = compact_stream_epochs(spark, out, stage)
    table = _rows(sio.read_table(spark, stage))
    # reconstruct the pre-marker world: an epoch dir holding
    # already-folded rows, marker rolled back
    replay = sio.read_table(spark, stage).limit(50)
    replay.write.parquet(os.path.join(out, f"epoch_id={res.max_epoch}"))
    os.remove(os.path.join(out, "_compacted.json"))

    res2 = compact_stream_epochs(spark, out, stage)
    assert res2.n_epochs == 1
    assert _rows(sio.read_table(spark, stage)) == table  # no duplicates
    assert (
        sio.read_table(spark, stage).count()
        == sio.read_table(spark, stage).distinct().count()
    )
    assert _epoch_dirs(out) == []


def test_compact_post_marker_retry_deleted_without_merge(spark, streamed):
    """An epoch at-or-below the marker (stream retry of a compacted
    epoch, or a crash between marker write and dir delete) is deleted
    without re-merging."""
    _in_dir, out, _ckpt = streamed
    stage = out + "_stage"
    res = compact_stream_epochs(spark, out, stage)
    table = _rows(sio.read_table(spark, stage))
    replay = sio.read_table(spark, stage).limit(20)
    replay.write.parquet(os.path.join(out, f"epoch_id={res.max_epoch}"))

    res2 = compact_stream_epochs(spark, out, stage)
    assert res2 == CompactResult(0, 0, 0, res.max_epoch)
    assert _rows(sio.read_table(spark, stage)) == table
    assert _epoch_dirs(out) == []


def test_compact_onto_existing_batch_table(spark, streamed, tmp_path):
    """Compaction lands streamed triples on a table the batch pipeline
    already owns: result = batch rows ∪ stream rows, bucket meta
    enforced, untouched buckets' files not rewritten."""
    _in_dir, out, _ckpt = streamed
    batch_corpus = synth.make_corpus(n_convs=20, seed=99)
    from lexicator_spark.operators.extract import extract_triples, split_rejects

    batch_triples, _ = split_rejects(
        extract_triples(synth.corpus_df(spark, batch_corpus))
    )
    stage = str(tmp_path / "triples_raw")
    sio.write_table(batch_triples, stage)
    batch_rows = _rows(sio.read_table(spark, stage))
    stream_rows = _rows(spark.read.parquet(out))

    # a copy bucketed on another key is refused at the seam (before any
    # merge work)
    subj_stage = str(tmp_path / "triples_raw_by_subj")
    sio.write_table(batch_triples, subj_stage, partition_key="subj")
    with pytest.raises(ValueError, match="bucketed on"):
        compact_stream_epochs(spark, out, subj_stage)
    compact_stream_epochs(spark, out, stage)
    assert _rows(sio.read_table(spark, stage)) == batch_rows | stream_rows


def test_compact_missing_or_non_epoch_input(spark, tmp_path):
    assert compact_stream_epochs(
        spark, str(tmp_path / "nope"), str(tmp_path / "stage")
    ) == CompactResult(0, 0, 0, None)
    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    with pytest.raises(ValueError, match="epoch_id"):
        compact_stream_epochs(spark, flat, str(tmp_path / "stage2"))


def test_cli_compact_verb(spark, streamed, tmp_path):
    import subprocess
    import sys

    _in_dir, out, _ckpt = streamed
    expected = _rows(spark.read.parquet(out))
    root = str(tmp_path / "kg_root")
    r = subprocess.run(
        [sys.executable, "-m", "lexicator_spark",
         "--input", out, "--out", root, "--compact", "--cpus", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    stats = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]
    assert stats["compacted_epochs"] >= 2 and stats["buckets_touched"] > 0
    got = _rows(sio.read_table(spark, os.path.join(root, "triples_raw")))
    assert got == expected


def test_compact_then_detection_refresh_converges(spark, tmp_path):
    """Refresh interplay (compact.py module docstring): compaction
    moves triples but not _frontier rows, so the first detection
    refresh after a compaction re-derives the streamed conversations
    present in its snapshot (content-identical rewrite), records them
    in the frontier, and the next refresh is a true no-op."""
    from pyspark.sql import functions as F

    from lexicator_spark.operators.extract import extract_triples, split_rejects
    from lexicator_spark.operators.incremental import (
        refresh_triples_partitioned,
    )
    from lexicator_spark.plans.pipeline import run_pipeline

    corpus = synth.make_corpus(n_convs=40, seed=37, shuffled=False)
    turns = synth.corpus_df(spark, corpus)
    conv_ids = sorted({r[0] for r in corpus.rows})
    batch_ids = conv_ids[:30]
    streamed_ids = conv_ids[30:]

    # batch pipeline over the first 30 convs → stage table + frontier
    out_root = str(tmp_path / "kg")
    run_pipeline(spark, turns.filter(F.col("conv_id").isin(batch_ids)), out_root)
    stage = os.path.join(out_root, "triples_raw")

    # stream the remaining 10 convs into an epoch sink, compact into
    # the SAME stage table
    in_dir = str(tmp_path / "turns_in")
    (
        turns.filter(F.col("conv_id").isin(streamed_ids))
        .repartition(4)
        .write.parquet(in_dir)
    )
    sink = str(tmp_path / "stream_out")
    _run_stream(spark, in_dir, sink, str(tmp_path / "ckpt"))
    res = compact_stream_epochs(spark, sink, stage)
    assert res.n_epochs >= 1

    good, _ = split_rejects(extract_triples(turns))
    expected = _rows(good.select("subj", "pred", "obj", "conv_id", "turn_idx"))
    got = _rows(
        sio.read_table(spark, stage)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
    )
    assert got == expected

    # detection refresh over the FULL snapshot: flags exactly the
    # streamed convs (absent from the frontier), rewrite is
    # content-identical, frontier now records them
    ref = refresh_triples_partitioned(spark, turns, stage)
    assert ref.n_changed == len(streamed_ids)
    got = _rows(
        sio.read_table(spark, stage).select("subj", "pred", "obj", "conv_id", "turn_idx")
    )
    assert got == expected

    # self-healed: the next detection refresh is a true no-op
    ref = refresh_triples_partitioned(spark, turns, stage)
    assert (ref.n_changed, ref.n_buckets_touched) == (0, 0)


def test_compact_into_built_root_keeps_extract_bucket_counts(spark, tmp_path):
    """What the CLI's ``--compact`` does to a BUILT root: the extract
    marker's per-bucket counts are merged with the counts the
    compaction's upsert returned, and equal a full recount of
    ``triples_raw`` afterwards."""
    from lexicator_spark.plans import pipeline as P
    from lexicator_spark.plans.refresh import update_stage_bucket_counts

    corpus = synth.make_corpus(n_convs=40, seed=37, shuffled=False)
    turns = synth.corpus_df(spark, corpus)
    conv_ids = sorted({r[0] for r in corpus.rows})
    out_root = str(tmp_path / "kg")
    P.run_pipeline(
        spark, turns.filter(F.col("conv_id").isin(conv_ids[:30])), out_root
    )
    raw = os.path.join(out_root, "triples_raw")

    in_dir = str(tmp_path / "turns_in")
    (
        turns.filter(F.col("conv_id").isin(conv_ids[30:]))
        .repartition(4)
        .write.parquet(in_dir)
    )
    sink = str(tmp_path / "stream_out")
    _run_stream(spark, in_dir, sink, str(tmp_path / "ckpt"))
    res = compact_stream_epochs(spark, sink, raw)
    assert res.n_buckets_touched > 0
    assert [b for b, _ in res.bucket_counts] == list(res.touched_buckets)

    update_stage_bucket_counts(
        spark, out_root, "extract",
        list(res.touched_buckets), list(res.bucket_counts),
    )
    marker = P._read_marker(spark, out_root, "extract")
    fresh = P._bucket_counts(spark, raw)
    assert sorted(map(tuple, marker["bucket_counts"])) == sorted(fresh)
    assert marker["rows_out"] == sum(c for _, c in fresh)


def test_compact_preserves_duplicate_row_multiplicity(spark, streamed):
    """A legitimately duplicated row already in the serving table (a
    raw turn ingested twice extracts to two identical triples — the
    batch pipeline keeps both) must survive a compaction that touches
    its bucket: the old exact-distinct union collapsed it, making row
    multiplicity compaction-history-dependent."""
    _in_dir, out, _ckpt = streamed
    stage = out + "_stage"
    res = compact_stream_epochs(spark, out, stage)
    tbl = sio.read_table(spark, stage)
    # checkpoint eagerly: everything below must be severed from the
    # stage files, which the rewrite replaces
    one = (
        tbl.orderBy("conv_id", "turn_idx", "pred", "obj")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    target = tuple(one.collect()[0])
    meta = sio.read_bucket_meta(spark, stage)
    dup = tbl.unionByName(one).localCheckpoint(eager=True)
    n_dup = dup.count()
    sio.write_table(
        dup, stage,
        partition_key=meta["partition_key"], n_buckets=meta["n_buckets"],
    )

    # a fresh epoch with NEW content for the same conv_id → compaction
    # rewrites exactly the duplicated row's bucket
    fresh = one.withColumn(
        "turn_idx", (F.col("turn_idx") + F.lit(1000)).cast("int")
    ).localCheckpoint(eager=True)
    fresh.write.parquet(os.path.join(out, f"epoch_id={res.max_epoch + 1}"))

    res2 = compact_stream_epochs(spark, out, stage)
    assert res2.n_epochs == 1
    after = [tuple(r) for r in sio.read_table(spark, stage).collect()]
    assert after.count(target) == 2          # duplicate preserved
    assert after.count(tuple(fresh.collect()[0])) == 1  # new row folded once
    assert len(after) == n_dup + 1
