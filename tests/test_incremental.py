"""Incremental refresh (RecentChanges analog) tests."""

from __future__ import annotations

import os

from lexicator_spark import synth
from lexicator_spark.operators.extract import extract_triples
from lexicator_spark.operators.incremental import (
    changed_conversations,
    refresh_triples_partitioned,
)
from lexicator_spark.sources import io as sio


def _tset(df):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in df.select("subj", "pred", "obj", "conv_id", "turn_idx").collect()
    }


def frontier_from(triples):
    """The processed frontier a triples table implies (the refresh's
    bootstrap shape): per-conversation max turn_idx."""
    from pyspark.sql import functions as F

    return triples.groupBy("conv_id").agg(F.max("turn_idx").alias("done_max_idx"))


def test_incremental_refresh_equals_full_recompute(spark, tmp_path):
    full_corpus = synth.make_corpus(n_convs=50, seed=33, shuffled=False)
    # v1 = drop the last turn of every 3rd conversation + drop every
    # 7th conversation entirely → those convs are "changed/new" in v2
    v1_rows = [
        r
        for r in full_corpus.rows
        if not (int(r[0][1:]) % 7 == 0)
        and not (
            int(r[0][1:]) % 3 == 0
            and r[1] == max(x[1] for x in full_corpus.rows if x[0] == r[0])
        )
    ]
    v1 = synth.corpus_df(spark, synth.Corpus(rows=v1_rows))
    v2 = synth.corpus_df(spark, full_corpus)

    done = extract_triples(v1).localCheckpoint()
    changed = {
        r.conv_id for r in changed_conversations(v2, frontier_from(done)).collect()
    }
    expected = {
        c for c in {r[0] for r in full_corpus.rows}
        if int(c[1:]) % 7 == 0 or int(c[1:]) % 3 == 0
    }
    # every truly changed conv is detected; the only extras allowed are
    # convs with zero triples in the stage table (no frontier row →
    # re-derived as a no-op, documented in operators/incremental.py)
    assert expected <= changed
    with_triples = {r.conv_id for r in done.select("conv_id").distinct().collect()}
    assert all(c not in with_triples for c in changed - expected)

    # the refresh bootstraps the same frontier from the stage table
    # (no _frontier yet) and ends equal to a full recompute
    loc = str(tmp_path / "triples_raw")
    sio.write_table(done, loc, partition_key="conv_id", n_buckets=4)
    res = refresh_triples_partitioned(spark, v2, loc)
    assert res.n_changed == len(changed)
    assert _tset(res.table) == _tset(extract_triples(v2))


def _file_state(root):
    """(relpath → (mtime, size)) for every parquet data file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, root)] = (os.path.getmtime(p), os.path.getsize(p))
    return out


def test_partitioned_refresh_upserts_only_touched_buckets(spark, tmp_path):
    """The parquet MERGE-INTO stand-in: refresh equals a full
    recompute, buckets without changed conversations keep their exact
    files on disk, and a refresh with no new turns rewrites nothing."""
    from pyspark.sql import functions as F

    n_buckets = 8
    full_corpus = synth.make_corpus(n_convs=60, seed=7, shuffled=False)
    v1_rows = [
        r
        for r in full_corpus.rows
        if not (int(r[0][1:]) % 5 == 0)
        and not (
            int(r[0][1:]) % 3 == 0
            and r[1] == max(x[1] for x in full_corpus.rows if x[0] == r[0])
        )
    ]
    v1 = synth.corpus_df(spark, synth.Corpus(rows=v1_rows))
    v2 = synth.corpus_df(spark, full_corpus)
    loc = str(tmp_path / "triples_raw")
    sio.write_table(extract_triples(v1), loc, partition_key="conv_id", n_buckets=n_buckets)
    before = _file_state(loc)

    res = refresh_triples_partitioned(spark, v2, loc)
    assert _tset(res.table) == _tset(extract_triples(v2))
    assert res.n_changed > 0 and res.n_buckets_touched > 0

    changed_ids = sorted(
        {c for c in {r[0] for r in full_corpus.rows} if int(c[1:]) % 5 == 0 or int(c[1:]) % 3 == 0}
    )
    touched = {
        r.p
        for r in spark.createDataFrame([(c,) for c in changed_ids], "conv_id string")
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("p"))
        .collect()
    }
    assert touched and len(touched) < n_buckets, "fixture must leave untouched buckets"
    after = _file_state(loc)
    for rel, meta in before.items():
        bucket = int(rel.split("p_hash=")[1].split(os.sep)[0])
        if bucket not in touched:
            assert after.get(rel) == meta, f"untouched bucket file rewritten: {rel}"

    # idempotent: refreshing again with the same turns touches no files
    stable = _file_state(loc)
    again = refresh_triples_partitioned(spark, v2, loc)
    assert _file_state(loc) == stable
    assert again.n_changed == 0 and again.n_buckets_touched == 0
    assert _tset(again.table) == _tset(res.table)

    # bucketing is recorded in the sidecar: the refresh uses the
    # recorded value
    auto = refresh_triples_partitioned(spark, v2, loc)
    assert auto.n_changed == 0


def test_read_turns_jsonl_and_csv_equal_parquet(spark, tmp_path):
    """Raw-log ingestion: the same corpus through JSONL / CSV / parquet
    yields identical turn rows (declared schema, explicit ts parse)."""
    from pyspark.sql import functions as F

    from lexicator_spark.sources.io import read_turns

    corpus = synth.make_corpus(n_convs=15, seed=11)
    df = synth.corpus_df(spark, corpus)
    p_parquet = str(tmp_path / "t.parquet")
    p_orc = str(tmp_path / "t.orc")
    p_json = str(tmp_path / "t.jsonl")
    p_csv = str(tmp_path / "t.csv")
    df.write.parquet(p_parquet)
    df.write.orc(p_orc)
    df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")).write.json(p_json)
    df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")).write.option(
        "header", "true"
    ).csv(p_csv)

    def rows(d):
        return {tuple(r) for r in d.collect()}

    base = rows(read_turns(spark, p_parquet))
    assert rows(read_turns(spark, p_orc, "orc")) == base
    assert rows(read_turns(spark, p_json, "json")) == base
    assert rows(read_turns(spark, p_csv, "csv")) == base
    assert base and len(base) == len(corpus.rows)


def test_change_feed_refresh(spark, tmp_path):
    """RecentChanges-feed mode: the feed names the changed
    conversations, so refresh skips the snapshot-wide detection —
    result equals detection mode for listed convs, unlisted changes
    stay stale until a feed (or a detection refresh) mentions them,
    feed rows for unchanged convs are idempotent, and a fed conv_id
    absent from the snapshot is deleted (page-deletion semantics)."""
    from pyspark.sql import functions as F

    n_buckets = 8
    full_corpus = synth.make_corpus(n_convs=60, seed=19, shuffled=False)
    conv_ids = sorted({r[0] for r in full_corpus.rows})
    grew = {c for c in conv_ids if int(c[1:]) % 4 == 0}
    v1_rows = [
        r
        for r in full_corpus.rows
        if not (
            r[0] in grew
            and r[1] == max(x[1] for x in full_corpus.rows if x[0] == r[0])
        )
    ]
    v1 = synth.corpus_df(spark, synth.Corpus(rows=v1_rows))
    v2 = synth.corpus_df(spark, full_corpus)
    loc = str(tmp_path / "triples_raw")
    sio.write_table(
        extract_triples(v1), loc, partition_key="conv_id", n_buckets=n_buckets
    )

    def feed(ids):
        return spark.createDataFrame([(c,) for c in ids], "conv_id string")

    # frontier bootstrap always runs detection (documented): a feed on
    # a pre-frontier table still yields the full recompute
    res = refresh_triples_partitioned(spark, v1, loc, change_feed=feed([]))
    assert res.n_changed == 0 or _tset(res.table) == _tset(extract_triples(v1))

    # partial feed: only the listed changed convs refresh; the rest of
    # `grew` stays stale — and untouched buckets keep their files
    listed = sorted(grew)[: len(grew) // 2]
    unlisted = sorted(grew)[len(grew) // 2:]
    before = _file_state(loc)
    res = refresh_triples_partitioned(spark, v2, loc, change_feed=feed(listed))
    assert res.n_changed == len(listed)
    got = _tset(res.table)
    v2_triples = _tset(extract_triples(v2))
    v1_triples = _tset(extract_triples(v1))
    for t in v2_triples:
        conv = t[3]
        if conv in listed or t in v1_triples:
            assert t in got
    for t in got - v2_triples:
        assert t[3] in unlisted and t in v1_triples  # stale, as contracted
    touched = {
        r.p
        for r in feed(listed)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("p"))
        .collect()
    }
    after = _file_state(loc)
    for rel, meta in before.items():
        bucket = int(rel.split("p_hash=")[1].split(os.sep)[0])
        if bucket not in touched:
            assert after.get(rel) == meta, f"untouched bucket rewritten: {rel}"

    # feed naming unchanged convs: idempotent (buckets rewrite to the
    # same contents); feed naming the remaining changed convs: table
    # converges to the full recompute
    res = refresh_triples_partitioned(
        spark, v2, loc, change_feed=feed(unlisted + conv_ids[:3]),
    )
    assert _tset(res.table) == v2_triples

    # a detection-mode refresh after feed refreshes: no-op (frontier
    # is consistent across both modes)
    res = refresh_triples_partitioned(spark, v2, loc)
    assert res.n_changed == 0

    # deletion: fed conv_id with no rows in the snapshot drops out
    victim = conv_ids[5]
    v3 = v2.filter(F.col("conv_id") != victim)
    res = refresh_triples_partitioned(spark, v3, loc, change_feed=feed([victim]))
    assert _tset(res.table) == {t for t in v2_triples if t[3] != victim}


def test_feed_refresh_end_to_end(spark, tmp_path):
    """The O(delta) ingest loop: raw turns live in a bucketed table,
    a batch of new turns is bucket-upserted along with its conv_id
    list (the feed), and refresh_triples_partitioned given the table's
    location re-extracts exactly those conversations reading only
    their raw/stage buckets — equals a full recompute, leaves every
    untouched file byte-identical on BOTH tables, and refuses to run
    before the frontier bootstrap."""
    import pytest
    from pyspark.sql import functions as F

    full_corpus = synth.make_corpus(n_convs=60, seed=23, shuffled=False)
    conv_ids = sorted({r[0] for r in full_corpus.rows})
    grew = sorted(c for c in conv_ids if int(c[1:]) % 6 == 0)
    v1_rows = [
        r
        for r in full_corpus.rows
        if not (
            r[0] in grew
            and r[1] == max(x[1] for x in full_corpus.rows if x[0] == r[0])
        )
    ]
    new_rows = [r for r in full_corpus.rows if r not in v1_rows]
    v1 = synth.corpus_df(spark, synth.Corpus(rows=v1_rows))
    v2 = synth.corpus_df(spark, full_corpus)

    raw_loc = str(tmp_path / "turns_raw")  # raw table: 4 buckets
    stage_loc = str(tmp_path / "triples_raw")  # stage: 8 (moduli differ)
    sio.write_table(v1, raw_loc, partition_key="conv_id", n_buckets=4)
    sio.write_table(
        extract_triples(v1), stage_loc, partition_key="conv_id", n_buckets=8
    )

    feed = spark.createDataFrame([(c,) for c in grew], "conv_id string")

    # pre-frontier: feed-scoped refresh must refuse, not silently skip
    with pytest.raises(ValueError, match="_frontier"):
        refresh_triples_partitioned(spark, raw_loc, stage_loc, change_feed=feed)
    # bootstrap via one full-corpus detection refresh (v1: no-op work)
    refresh_triples_partitioned(spark, v1, stage_loc)

    # unbucketed raw table is refused (pruning impossible)
    plain = str(tmp_path / "plain")
    v1.write.parquet(plain)
    with pytest.raises(ValueError, match="bucketed"):
        refresh_triples_partitioned(spark, plain, stage_loc, change_feed=feed)

    # ingest batch: upsert the new turns into the raw table — the
    # replacement must carry COMPLETE content for every touched raw
    # bucket (existing rows of ALL co-bucketed conversations + the new
    # turns), per upsert_partitions' contract
    delta = synth.corpus_df(spark, synth.Corpus(rows=new_rows))
    t_touched = [
        r.p
        for r in feed.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int").alias("p")
        ).distinct().collect()
    ]
    pruned_existing = (
        sio.read_table(spark, raw_loc, keep_bucket_col=True)
        .filter(F.col("p_hash").isin(t_touched))
        .drop("p_hash")
    )
    sio.upsert_partitions(
        pruned_existing.unionByName(delta),
        raw_loc, partition_key="conv_id", n_buckets=4,
        touched_buckets=t_touched,
    )
    # raw table is now exactly the v2 corpus (no co-bucketed rows lost)
    assert {tuple(r) for r in sio.read_table(spark, raw_loc).collect()} == {
        tuple(r) for r in v2.collect()
    }
    raw_before = _file_state(raw_loc)
    stage_before = _file_state(stage_loc)
    res = refresh_triples_partitioned(spark, raw_loc, stage_loc, change_feed=feed)
    assert res.n_changed == len(grew)
    assert _tset(res.table) == _tset(extract_triples(v2))

    # untouched buckets byte-identical on both tables (raw wasn't
    # written at all; stage only where fed convs hash)
    assert _file_state(raw_loc) == raw_before
    s_touched = {
        r.p
        for r in feed.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("p")
        ).distinct().collect()
    }
    for rel, meta in stage_before.items():
        bucket = int(rel.split("p_hash=")[1].split(os.sep)[0])
        if bucket not in s_touched:
            assert _file_state(stage_loc).get(rel) == meta, rel

    # steady state: same feed again is idempotent
    res2 = refresh_triples_partitioned(spark, raw_loc, stage_loc, change_feed=feed)
    assert _tset(res2.table) == _tset(extract_triples(v2))


def test_build_time_frontier_materialization(spark, tmp_path):
    """run_pipeline writes _frontier at build time (turns-derived), so
    the first refresh is delta-scoped: no detection bootstrap, a
    same-snapshot detection refresh is a true no-op even for
    zero-triple conversations, and a feed refresh from the raw-turns
    table's location runs immediately instead of raising
    pre-bootstrap."""
    from pyspark.sql import functions as F

    from lexicator_spark.operators.incremental import materialize_frontier
    from lexicator_spark.plans.pipeline import run_pipeline
    from lexicator_spark.sources import fsutil

    corpus = synth.make_corpus(n_convs=40, seed=41, shuffled=False)
    turns = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, turns, out)
    raw = os.path.join(out, "triples_raw")
    floc = os.path.join(raw, "_frontier")
    assert fsutil.exists(spark, floc)
    # turns-derived: every conversation recorded, including any whose
    # turns extracted to zero triples
    frontier = sio.read_table(spark, floc)
    assert {r.conv_id for r in frontier.select("conv_id").collect()} == {
        r[0] for r in corpus.rows
    }
    # idempotent: a second materialize is a no-op
    assert materialize_frontier(spark, turns, raw) is False

    # same snapshot, detection mode: true no-op (zero buckets touched)
    res = refresh_triples_partitioned(spark, turns, raw)
    assert (res.n_changed, res.n_buckets_touched) == (0, 0)

    # feed mode straight after build: raw table bucketed + fed delta →
    # works without any bootstrap refresh, equals full recompute
    raw_turns_loc = str(tmp_path / "turns_bucketed")
    grown = sorted({r[0] for r in corpus.rows})[:4]
    delta = (
        turns.filter(F.col("conv_id").isin(grown))
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("turn_idx"))
        .join(turns, ["conv_id", "turn_idx"])
        .withColumn("turn_idx", F.col("turn_idx") + 1)
        .select(*turns.columns)
    )
    v2 = turns.unionByName(delta)
    sio.write_table(v2, raw_turns_loc, partition_key="conv_id")
    res = refresh_triples_partitioned(
        spark, raw_turns_loc, raw,
        change_feed=spark.createDataFrame(
            [(c,) for c in grown], "conv_id string"
        ),
    )
    assert res.n_changed == len(grown)
    assert _tset(res.table) == _tset(extract_triples(v2))


def test_change_feed_null_conv_ids_ignored(spark, tmp_path):
    """NULL conv_id rows in a change feed name nothing: they must be
    dropped at the boundary, not hashed into a NULL bucket that
    poisons the touched-bucket pruning lists."""
    from pyspark.sql import functions as F

    corpus = synth.make_corpus(n_convs=30, seed=29, shuffled=False)
    turns = synth.corpus_df(spark, corpus)
    conv_ids = sorted({r[0] for r in corpus.rows})
    loc = str(tmp_path / "triples_raw")
    sio.write_table(extract_triples(turns), loc, partition_key="conv_id",
                    n_buckets=8)
    refresh_triples_partitioned(spark, turns, loc)  # bootstrap

    raw = str(tmp_path / "turns_bucketed")
    grown = conv_ids[:2]
    delta = (
        turns.filter(F.col("conv_id").isin(grown))
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("turn_idx"))
        .join(turns, ["conv_id", "turn_idx"])
        .withColumn("turn_idx", F.col("turn_idx") + 1)
        .select(*turns.columns)
    )
    v2 = turns.unionByName(delta)
    sio.write_table(v2, raw, partition_key="conv_id")
    feed = spark.createDataFrame(
        [(grown[0],), (None,), (grown[1],), (None,)], "conv_id string"
    )
    # both paths digest the NULLs silently and refresh only the real ids
    res = refresh_triples_partitioned(spark, raw, loc, change_feed=feed)
    assert res.n_changed == 2
    assert _tset(res.table) == _tset(extract_triples(v2))
    res = refresh_triples_partitioned(spark, v2, loc, change_feed=feed)
    assert res.n_changed == 2  # idempotent re-feed, NULLs still ignored


def test_feed_refresh_rejects_non_conv_id_bucketing(spark, tmp_path):
    """Feed-scoped pruning is load-bearing for correctness: a raw
    table bucketed on another key would make the pruned read miss the
    fed conversations entirely, and the removed-conversation semantics
    would then DELETE their triples.  Refuse up front instead."""
    import pytest

    from lexicator_spark.operators.incremental import materialize_frontier

    turns = synth.corpus_df(spark, synth.make_corpus(n_convs=10, seed=23))
    raw = str(tmp_path / "turns_by_tool")
    sio.write_table(turns, raw, partition_key="tool", n_buckets=8)
    stage = str(tmp_path / "stage")
    materialize_frontier(spark, turns, stage)
    feed = spark.createDataFrame([("c0",)], "conv_id string")
    with pytest.raises(ValueError, match="bucketed on tool"):
        refresh_triples_partitioned(spark, raw, stage, change_feed=feed)


def test_feed_refresh_location_needs_change_feed(spark, tmp_path):
    """A turns-table location is the feed-pruned path: without a
    feed, detection would need the full snapshot, so the call is
    refused before anything is read or written."""
    import pytest

    turns = synth.corpus_df(spark, synth.make_corpus(n_convs=5, seed=3))
    raw = str(tmp_path / "turns_bucketed")
    sio.write_table(turns, raw, partition_key="conv_id", n_buckets=4)
    stage = str(tmp_path / "stage")
    with pytest.raises(ValueError, match="needs change_feed"):
        refresh_triples_partitioned(spark, raw, stage)
    assert not os.path.exists(stage)
