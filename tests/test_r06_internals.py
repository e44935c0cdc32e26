"""Focused tests for the r6 optimization changes to operator
internals: upsert_partitions' returned bucket counts (now load-bearing
for refresh lineage upkeep) and the union-aggregate change detection
in refresh_triples_partitioned (replacing the aggregate+join shape).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lexicator_spark.sources import io as sio


@pytest.fixture(scope="module")
def spark():
    from lexicator_spark.session import get_spark

    return get_spark(master="local[4]", app_name="r06_internals", shuffle_partitions=4)


def _turns(spark, rows):
    from lexicator_spark import synth

    return synth.corpus_df(spark, synth.Corpus(rows=rows))


def test_upsert_returns_exact_bucket_counts(spark, tmp_path):
    """The became-empty probe's counts (consumed by plans/refresh's
    _delta_bucket_counts instead of a re-read) must equal a ground-
    truth recount of the written buckets, and an intentionally
    emptied touched bucket must be absent from them AND deleted."""
    loc = str(tmp_path / "t")
    df = spark.range(200).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    sio.write_table(df, loc, partition_key="conv_id", n_buckets=8)
    truth = {
        int(r["p_hash"]): int(r["count"])
        for r in sio.read_table(spark, loc, keep_bucket_col=True)
        .groupBy("p_hash")
        .count()
        .collect()
    }
    # replacement: bucket b_keep gets its rows doubled in v (same
    # rows, new payload), bucket b_empty is emptied
    buckets = sorted(truth)
    b_keep, b_empty = buckets[0], buckets[1]
    hashed = sio.read_table(spark, loc, keep_bucket_col=True)
    repl = (
        hashed.filter(F.col("p_hash") == b_keep)
        .drop("p_hash")
        .withColumn("v", F.col("v") * 2)
    )
    counts = sio.upsert_partitions(
        repl, loc, partition_key="conv_id", n_buckets=8,
        touched_buckets=[b_keep, b_empty],
    )
    assert counts == [(b_keep, truth[b_keep])]
    assert not os.path.exists(os.path.join(loc, f"p_hash={b_empty}"))
    # untouched buckets intact, per-bucket recount matches the return
    after = {
        int(r["p_hash"]): int(r["count"])
        for r in sio.read_table(spark, loc, keep_bucket_col=True)
        .groupBy("p_hash")
        .count()
        .collect()
    }
    expected = {b: c for b, c in truth.items() if b != b_empty}
    assert after == expected


def test_upsert_without_touched_buckets_returns_none(spark, tmp_path):
    loc = str(tmp_path / "t2")
    df = spark.range(10).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    sio.write_table(df, loc, partition_key="conv_id", n_buckets=4)
    assert (
        sio.upsert_partitions(df, loc, partition_key="conv_id", n_buckets=4)
        is None
    )


def test_write_table_observed_counts_match_recount(spark, tmp_path):
    """write_table(observe_counts=True) must return exactly the
    per-bucket counts a post-write recount produces (bucketed), and
    [(-1, n)] for unbucketed tables — the values staged() now records
    in markers/lineage without a second scan."""
    loc = str(tmp_path / "obs")
    df = spark.range(300).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    counts = sio.write_table(
        df, loc, partition_key="conv_id", n_buckets=8, observe_counts=True
    )
    truth = sorted(
        (int(r["p_hash"]), int(r["count"]))
        for r in sio.read_table(spark, loc, keep_bucket_col=True)
        .groupBy("p_hash")
        .count()
        .collect()
    )
    assert counts == truth
    loc2 = str(tmp_path / "obs_flat")
    flat = sio.write_table(df, loc2, partition_key=None, observe_counts=True)
    assert flat == [(-1, 300)]


def test_copy_materialize_equals_union_write(spark, tmp_path):
    """The materialize-by-copy layout (clone raw buckets + append the
    NULL-bucket extras) must read back row-identical to the union
    write it replaces."""
    from lexicator_spark.plans.pipeline import _null_bucket

    raw_loc = str(tmp_path / "raw")
    df = spark.range(500).select(
        F.when(F.col("id") % 50 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 40).cast("string")))
        .alias("conv_id"),
        F.col("id").alias("v"),
    )
    sio.write_table(df, raw_loc, partition_key="conv_id", n_buckets=8)
    extra = spark.range(37).select(
        F.lit(None).cast("string").alias("conv_id"),
        (F.col("id") + 10_000).alias("v"),
    )

    union_loc = str(tmp_path / "union")
    sio.write_table(
        sio.read_table(spark, raw_loc).unionByName(extra),
        union_loc,
        partition_key="conv_id",
        n_buckets=8,
    )

    copy_loc = str(tmp_path / "copy")
    copied = sio.copy_buckets(spark, raw_loc, copy_loc)
    assert copied  # raw has buckets
    nb = _null_bucket(spark, 8)
    n_extra = sio.append_into_bucket(extra, copy_loc, nb)
    assert n_extra == 37

    a = sio.read_table(spark, union_loc)
    b = spark.read.schema(a.schema).parquet(copy_loc).drop("p_hash")
    # row-identical as multisets
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_copy_materialize_rejects_non_null_conv_id_extras(spark, tmp_path):
    """The copy path appends same_as/canonical rows into the NULL-conv_id
    bucket on the promise that they all carry a NULL conv_id.  An
    extras row with a conv_id must fail the append job before it
    commits: none of the extras can be read from the table after."""
    from lexicator_spark.plans.pipeline import (
        _bucket_counts,
        _mark_done,
        _materialize_by_copy,
    )

    root = str(tmp_path / "kg")
    df = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 20).cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    raw = os.path.join(root, "triples_raw")
    sio.write_table(df, raw, n_buckets=8)
    _mark_done(spark, root, "extract", {"bucket_counts": _bucket_counts(spark, raw)})
    extras = spark.range(5).select(
        F.when(F.col("id") == 3, F.lit("c3"))
        .otherwise(F.lit(None).cast("string"))
        .alias("conv_id"),
        (F.col("id") + 10_000).alias("v"),
    )
    with pytest.raises(Exception, match="NULL conv_id, got c3"):
        _materialize_by_copy(spark, root, extras, 8)
    got = sio.read_table(spark, os.path.join(root, "triples"))
    assert got.filter(F.col("v") >= 10_000).count() == 0
    assert got.count() == 100


def test_copy_buckets_subset_replaces_whole_and_deletes_absent(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    sio.write_table(df, src, partition_key="conv_id", n_buckets=4)
    sio.write_table(
        df.withColumn("v", F.col("v") + 1), dst, partition_key="conv_id",
        n_buckets=4,
    )
    # shrink src: bucket 0 emptied (its dir removed), bucket 1 kept
    from lexicator_spark.sources import fsutil

    fsutil.delete(spark, os.path.join(src, "p_hash=0"), recursive=True)
    sio.copy_buckets(spark, src, dst, buckets=[0, 1])
    # bucket 0: requested but absent in src → deleted in dst
    assert not os.path.exists(os.path.join(dst, "p_hash=0"))
    # bucket 1: replaced with src content (original v, not v+1)
    got = (
        sio.read_table(spark, dst, keep_bucket_col=True)
        .filter(F.col("p_hash") == 1)
        .drop("p_hash")
    )
    want = (
        sio.read_table(spark, src, keep_bucket_col=True)
        .filter(F.col("p_hash") == 1)
        .drop("p_hash")
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # buckets 2/3: untouched — still the dst's original (v+1) content
    untouched_dst = (
        sio.read_table(spark, dst, keep_bucket_col=True)
        .filter(F.col("p_hash") > 1)
        .drop("p_hash")
    )
    untouched_want = (
        sio.read_table(spark, src, keep_bucket_col=True)
        .filter(F.col("p_hash") > 1)
        .drop("p_hash")
        .withColumn("v", F.col("v") + 1)
    )
    assert untouched_dst.exceptAll(untouched_want).isEmpty()
    assert untouched_want.exceptAll(untouched_dst).isEmpty()


def test_delta_isin_path_equals_semi_join(spark):
    """_delta_good_triples must produce identical triples through the
    literal-isin fast path (small deltas) and the semi-join path."""
    from datetime import datetime

    from lexicator_spark.operators.incremental import _delta_good_triples

    ts = datetime(2024, 1, 1)
    turns = _turns(
        spark,
        [
            ("a", 0, "user", "talks about Spark SQL", None, ts),
            ("a", 1, "assistant", "uses [[vector index]]", "search", ts),
            ("b", 0, "user", "mentions Flink", None, ts),
            ("c", 0, "user", "{{cite|x=1}}", None, ts),
        ],
    )
    changed = spark.createDataFrame([("a",), ("c",)], "conv_id string")
    via_join = _delta_good_triples(turns, changed)
    via_isin = _delta_good_triples(turns, changed, changed_ids=["a", "c"])
    assert via_join.exceptAll(via_isin).isEmpty()
    assert via_isin.exceptAll(via_join).isEmpty()


def test_detection_union_agg_equivalence(spark, tmp_path):
    """The one-exchange union-aggregate detection must reproduce the
    aggregate+join semantics exactly, including the edges: a
    conversation present only in the FRONTIER (removed from the
    snapshot) is NOT changed; a new conversation (no frontier row) IS;
    a conversation whose max advanced IS; an unchanged one is NOT."""
    from datetime import datetime

    from lexicator_spark.operators.incremental import (
        materialize_frontier,
        refresh_triples_partitioned,
    )
    from lexicator_spark.operators.extract import extract_triples, split_rejects

    ts = datetime(2024, 1, 1)
    base_rows = [
        ("keep", 0, "user", "hello Spark SQL", None, ts),
        ("keep", 1, "assistant", "hi", None, ts),
        ("grow", 0, "user", "uses vector index", None, ts),
        ("gone", 0, "user", "mentions Flink", None, ts),
    ]
    turns0 = _turns(spark, base_rows)
    loc = str(tmp_path / "stage")
    good, _ = split_rejects(extract_triples(turns0))
    sio.write_table(good, loc, partition_key="conv_id", n_buckets=4)
    materialize_frontier(spark, turns0, loc)

    # new snapshot: 'gone' removed, 'grow' gained a turn, 'new' added
    turns1 = _turns(
        spark,
        [
            ("keep", 0, "user", "hello Spark SQL", None, ts),
            ("keep", 1, "assistant", "hi", None, ts),
            ("grow", 0, "user", "uses vector index", None, ts),
            ("grow", 1, "user", "and Spark too", None, ts),
            ("new", 0, "user", "fresh conversation about Spark", None, ts),
        ],
    )
    res = refresh_triples_partitioned(spark, turns1, loc)
    # detection mode: changed = advanced or new, NEVER frontier-only
    assert res.n_changed == 2
    convs = {
        r.conv_id
        for r in sio.read_table(spark, loc).select("conv_id").distinct().collect()
        if r.conv_id is not None
    }
    # 'gone' keeps its triples (detection cannot see deletions —
    # documented; feed mode handles removals), 'new'/'grow' current
    assert {"keep", "grow", "new", "gone"} <= convs
    # the refreshed table equals a full re-extraction of the union of
    # surviving frontier state: grow has turn 1's triples now
    grow_triples = sio.read_table(spark, loc).filter(
        (F.col("conv_id") == "grow") & (F.col("turn_idx") == 1)
    ).count()
    assert grow_triples > 0
    # frontier advanced for changed convs only; second refresh of the
    # SAME snapshot is a no-op (the invariant the union-agg must keep)
    res2 = refresh_triples_partitioned(spark, turns1, loc)
    assert res2.n_changed == 0
