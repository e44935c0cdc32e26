"""Storage-seam tests: the bucket-layout sidecar across upserts, a
build and a refresh, the empty-bucket semantics of the partition
upsert, the salted multi-file layout, and the small-file helpers'
driver↔JVM round-trip budget (they resolve their JVM classes once)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lexicator_spark.sources import io as sio


def test_bucket_layout_sidecar_kept_by_upserts_and_refresh(
    spark, monkeypatch, tmp_path
):
    """``_buckets.json`` is written once per table: an upsert onto a
    table that records its layout, and a refresh's partial Stage-D
    copy, leave it alone; a new table gets one."""
    from datetime import timedelta

    from lexicator_spark import synth
    from lexicator_spark.plans.pipeline import run_pipeline
    from lexicator_spark.plans.refresh import refresh_pipeline

    df = spark.createDataFrame(
        [(f"c{i}", i) for i in range(20)], "conv_id string, v int"
    )
    loc = str(tmp_path / "tbl")
    sio.write_table(df, loc, partition_key="conv_id", n_buckets=4)
    assert sio.read_table(spark, loc).count() == 20

    # an upsert onto a table that already records its bucketing keeps
    # that _buckets.json; a new table gets one
    rewrites = []
    write_meta = sio._write_bucket_meta
    monkeypatch.setattr(
        sio, "_write_bucket_meta",
        lambda *a: (rewrites.append(a[1]), write_meta(*a)),
    )
    bump = df.filter("v < 5").withColumn("v", F.col("v") + 100)
    sio.upsert_partitions(bump, loc, partition_key="conv_id", n_buckets=4)
    assert rewrites == []
    layout = {"partition_key": "conv_id", "n_buckets": 4}
    assert sio.read_bucket_meta(spark, loc) == layout
    assert sio.read_table(spark, loc).filter("v >= 100").count() == 5
    fresh = str(tmp_path / "fresh")
    sio.upsert_partitions(bump, fresh, partition_key="conv_id", n_buckets=4)
    assert rewrites == [fresh]
    assert sio.read_bucket_meta(spark, fresh) == layout

    rows = synth.make_corpus(n_convs=12, seed=5, shuffled=False).rows
    root = str(tmp_path / "kg")
    run_pipeline(
        spark, synth.corpus_df(spark, synth.Corpus(rows=rows)), root,
        n_buckets=4,
    )
    t0 = synth.EPOCH + timedelta(days=3)
    extra = [("c000001", 500, "user", "a new filler turn", None, t0)]
    # the refresh checks the layout at entry, so Stage D's partial copy
    # keeps the materialized table's _buckets.json
    rewrites.clear()
    res = refresh_pipeline(
        spark, synth.corpus_df(spark, synth.Corpus(rows=rows + extra)), root
    )
    assert res.n_changed == 1
    assert os.path.join(root, "triples") not in rewrites


def test_fsutil_resolves_jvm_classes_once(spark, monkeypatch, tmp_path):
    """After one warm-up call, the small-file helpers make no py4j
    package lookups: ``jvm.org.apache...`` costs one driver↔JVM
    round-trip per dotted segment, and these helpers run on every
    marker, sidecar and graph read."""
    from py4j import java_gateway

    from lexicator_spark.sources import fsutil

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")

    def exercise():
        fsutil.write_text(spark, f"{src}/a.txt", "a")
        fsutil.write_text(spark, f"{src}/b.txt", "b")
        assert fsutil.exists(spark, f"{src}/a.txt")
        assert fsutil.read_text(spark, f"{src}/b.txt") == "b"
        assert {"a.txt", "b.txt"} <= set(fsutil.list_names(spark, src))
        # two pairs: the copies run on the worker threads
        fsutil.copy_paths(
            spark, [(f"{src}/{n}", f"{dst}/{n}") for n in ("a.txt", "b.txt")]
        )
        assert fsutil.read_text(spark, f"{dst}/a.txt") == "a"
        assert fsutil.delete(spark, dst, recursive=True)
        assert not fsutil.exists(spark, dst)

    exercise()  # warm-up: resolves the classes
    lookups = []
    for cls in (java_gateway.JavaPackage, java_gateway.JVMView):
        def counting(self, name, _orig=cls.__getattr__):
            lookups.append(name)
            return _orig(self, name)

        monkeypatch.setattr(cls, "__getattr__", counting)
    exercise()
    assert lookups == []


def test_upsert_deletes_emptied_touched_buckets(spark, tmp_path):
    """Dynamic partition overwrite cannot express 'bucket became
    empty'; upsert_partitions deletes touched buckets absent from the
    replacement so deleted rows cannot resurface."""
    loc = str(tmp_path / "tbl")
    n_buckets = 8
    df = spark.createDataFrame(
        [(f"c{i}", i) for i in range(40)], "conv_id string, v int"
    )
    sio.write_table(df, loc, partition_key="conv_id", n_buckets=n_buckets)

    bucket_of = {
        r.conv_id: r.b
        for r in df.select(
            "conv_id",
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("b"),
        ).collect()
    }
    victim_bucket = bucket_of["c0"]
    keep_bucket = next(b for b in bucket_of.values() if b != victim_bucket)
    survivors = [c for c, b in bucket_of.items() if b == keep_bucket]

    # replacement covers BOTH buckets but only has rows for one — the
    # victim bucket's rows were all 'deleted'
    replacement = df.filter(F.col("conv_id").isin(survivors))
    sio.upsert_partitions(
        replacement, loc, partition_key="conv_id", n_buckets=n_buckets,
        touched_buckets=[victim_bucket, keep_bucket],
    )
    back = {r.conv_id for r in sio.read_table(spark, loc).collect()}
    gone = {c for c, b in bucket_of.items() if b == victim_bucket}
    untouched = {c for c, b in bucket_of.items() if b not in (victim_bucket, keep_bucket)}
    assert back == untouched | set(survivors)
    assert not (back & gone)
    assert not os.path.exists(os.path.join(loc, f"p_hash={victim_bucket}"))

    # without touched_buckets the seam keeps its old conservative
    # behavior: nothing beyond the buckets present in df is modified
    sio.upsert_partitions(
        replacement, loc, partition_key="conv_id", n_buckets=n_buckets
    )
    assert {r.conv_id for r in sio.read_table(spark, loc).collect()} == back


def test_upsert_files_per_bucket_salted_layout(spark, tmp_path):
    """files_per_bucket=k spreads a bucket's rewrite over ≤ k salted
    files (k writer tasks instead of 1) with identical content, and
    the salt is deterministic: rewriting the same rows reproduces the
    same file layout."""
    from lexicator_spark import synth

    df = synth.corpus_df(spark, synth.make_corpus(n_convs=40, seed=47))
    loc = str(tmp_path / "t")
    n_buckets = 2  # few buckets, many rows per bucket

    def files_of(bucket):
        d = os.path.join(loc, f"p_hash={bucket}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        ) if os.path.isdir(d) else []

    sio.upsert_partitions(df, loc, partition_key="conv_id",
                          n_buckets=n_buckets, files_per_bucket=4)
    rows = {tuple(r) for r in sio.read_table(spark, loc).collect()}
    assert rows == {tuple(r) for r in df.collect()}
    counts = [len(files_of(b)) for b in range(n_buckets)]
    assert all(1 <= c <= 4 for c in counts)
    assert any(c > 1 for c in counts), counts  # the salt actually splits

    # default stays one file per bucket dir (small-file discipline)
    loc1 = str(tmp_path / "t1")
    sio.upsert_partitions(df, loc1, partition_key="conv_id",
                          n_buckets=n_buckets)
    for b in range(n_buckets):
        d = os.path.join(loc1, f"p_hash={b}")
        n = len([f for f in os.listdir(d) if f.endswith(".parquet")])
        assert n == 1, (b, n)
