"""Incremental refresh (RecentChanges analog) tests."""

from __future__ import annotations

import os

import pytest

from lexicator_spark import synth
from lexicator_spark.operators.extract import extract_triples
from lexicator_spark.operators.incremental import (
    changed_conversations,
    materialize_frontier,
    refresh_triples_partitioned,
)
from lexicator_spark.sources import io as sio


def _tset(df):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in df.select("subj", "pred", "obj", "conv_id", "turn_idx").collect()
    }


def frontier_from(triples):
    """The processed frontier a triples table implies:
    per-conversation max turn_idx."""
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

    # against the frontier of the turns the table came from, the
    # refresh re-extracts exactly the changed conversations and ends
    # equal to a full recompute
    loc = str(tmp_path / "triples_raw")
    sio.write_table(done, loc, partition_key="conv_id", n_buckets=4)
    materialize_frontier(spark, v1, loc)
    res = refresh_triples_partitioned(spark, v2, loc)
    assert res.n_changed == len(expected)
    assert _tset(sio.read_table(spark, loc)) == _tset(extract_triples(v2))


@pytest.mark.parametrize("fed", [False, True])
def test_bulk_delta_join_path_equals_full_recompute(
    spark, tmp_path, monkeypatch, fed
):
    """A delta of more than ``_ISIN_DELTA_MAX`` conversations is not
    collected as an id list: the changed set is pinned, its buckets
    come from one grouped collect, and the kept, frontier and
    re-extracted rows are joined against it.  The bound is shrunk so a
    small corpus takes that path; the table still ends equal to a full
    recompute, and its frontier leaves nothing to detect."""
    from lexicator_spark.operators import incremental

    monkeypatch.setattr(incremental, "_ISIN_DELTA_MAX", 2)
    full_corpus = synth.make_corpus(n_convs=30, seed=41, shuffled=False)
    grew = sorted({r[0] for r in full_corpus.rows if int(r[0][1:]) % 3 == 0})
    last = {}
    for r in full_corpus.rows:
        last[r[0]] = max(last.get(r[0], -1), r[1])
    v1 = synth.corpus_df(spark, synth.Corpus(
        rows=[r for r in full_corpus.rows if not (r[0] in grew and r[1] == last[r[0]])]
    ))
    v2 = synth.corpus_df(spark, full_corpus)
    loc = str(tmp_path / "triples_raw")
    sio.write_table(extract_triples(v1), loc, partition_key="conv_id", n_buckets=4)
    materialize_frontier(spark, v1, loc)
    feed = (
        spark.createDataFrame([(c,) for c in grew], "conv_id string")
        if fed else None
    )
    res = refresh_triples_partitioned(spark, v2, loc, change_feed=feed)
    assert res.n_changed == len(grew) > 2
    assert _tset(sio.read_table(spark, loc)) == _tset(extract_triples(v2))
    assert refresh_triples_partitioned(spark, v2, loc).n_changed == 0


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
    materialize_frontier(spark, v1, loc)
    before = _file_state(loc)

    res = refresh_triples_partitioned(spark, v2, loc)
    assert _tset(sio.read_table(spark, loc)) == _tset(extract_triples(v2))

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
    assert (res.n_changed, res.n_buckets_touched) == (len(changed_ids), len(touched))
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
    assert _tset(sio.read_table(spark, loc)) == _tset(extract_triples(v2))

    # bucketing is recorded in the sidecar: the refresh uses the
    # recorded value
    auto = refresh_triples_partitioned(spark, v2, loc)
    assert auto.n_changed == 0


def test_change_feed_refresh(spark, tmp_path):
    """RecentChanges-feed mode: the feed names the changed
    conversations, so refresh skips the snapshot-wide detection —
    result equals detection mode for listed convs, unlisted changes
    stay stale until a feed (or a detection refresh) mentions them,
    feed rows for unchanged convs are idempotent, and a fed conv_id
    absent from the snapshot is deleted (page-deletion semantics).
    A stage table with no _frontier is refused, feed or not."""
    import pytest
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

    # no _frontier yet: refused before anything is written, with or
    # without a feed
    before = _file_state(loc)
    for kw in ({}, {"change_feed": feed(sorted(grew))}):
        with pytest.raises(ValueError, match="materialize_frontier"):
            refresh_triples_partitioned(spark, v2, loc, **kw)
    assert _file_state(loc) == before
    assert not os.path.exists(os.path.join(loc, "_frontier"))
    materialize_frontier(spark, v1, loc)

    # partial feed: only the listed changed convs refresh; the rest of
    # `grew` stays stale — and untouched buckets keep their files
    listed = sorted(grew)[: len(grew) // 2]
    unlisted = sorted(grew)[len(grew) // 2:]
    before = _file_state(loc)
    res = refresh_triples_partitioned(spark, v2, loc, change_feed=feed(listed))
    assert res.n_changed == len(listed)
    got = _tset(sio.read_table(spark, loc))
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
    assert _tset(sio.read_table(spark, loc)) == v2_triples

    # a detection-mode refresh after feed refreshes: no-op (frontier
    # is consistent across both modes)
    res = refresh_triples_partitioned(spark, v2, loc)
    assert res.n_changed == 0

    # deletion: fed conv_id with no rows in the snapshot drops out
    victim = conv_ids[5]
    v3 = v2.filter(F.col("conv_id") != victim)
    res = refresh_triples_partitioned(spark, v3, loc, change_feed=feed([victim]))
    assert _tset(sio.read_table(spark, loc)) == {t for t in v2_triples if t[3] != victim}


def test_feed_refresh_end_to_end(spark, tmp_path):
    """The O(delta) ingest loop: raw turns live in a bucketed table,
    a batch of new turns is bucket-upserted along with its conv_id
    list (the feed), and refresh_triples_partitioned given the table's
    location re-extracts exactly those conversations reading only
    their raw/stage buckets — equals a full recompute, leaves every
    untouched file byte-identical on BOTH tables, and refuses a stage
    table with no _frontier."""
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

    # no _frontier: feed-scoped refresh must refuse, not silently skip
    with pytest.raises(ValueError, match="materialize_frontier"):
        refresh_triples_partitioned(spark, raw_loc, stage_loc, change_feed=feed)
    assert not os.path.exists(os.path.join(stage_loc, "_frontier"))
    materialize_frontier(spark, v1, stage_loc)

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
    assert _tset(sio.read_table(spark, stage_loc)) == _tset(extract_triples(v2))

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
    assert _tset(sio.read_table(spark, stage_loc)) == _tset(extract_triples(v2))


def test_build_time_frontier_materialization(spark, tmp_path):
    """run_pipeline writes _frontier at build time (turns-derived), so
    the first refresh is delta-scoped: a same-snapshot detection
    refresh is a true no-op even for zero-triple conversations, and a
    feed refresh from the raw-turns table's location runs right after
    the build."""
    from pyspark.sql import functions as F

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
    # equals full recompute
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
    assert _tset(sio.read_table(spark, raw)) == _tset(extract_triples(v2))


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
    materialize_frontier(spark, turns, loc)

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
    assert _tset(sio.read_table(spark, loc)) == _tset(extract_triples(v2))
    res = refresh_triples_partitioned(spark, v2, loc, change_feed=feed)
    assert res.n_changed == 2  # idempotent re-feed, NULLs still ignored


def test_feed_refresh_rejects_non_conv_id_bucketing(spark, tmp_path):
    """Feed-scoped pruning is load-bearing for correctness: a raw
    table bucketed on another key would make the pruned read miss the
    fed conversations entirely, and the removed-conversation semantics
    would then DELETE their triples.  Refuse up front instead."""
    import pytest

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


def test_location_feed_refresh_reads_the_feed_in_one_grouped_collect(
    spark, tmp_path
):
    """On the bucketed raw-turns path, one collect over the feed
    yields n_changed, the stage buckets, the raw buckets and the ids;
    a second collect for any of them would add its own jobs.  Counts
    the jobs the calling thread launches (the upserts' pool threads
    carry no job group)."""
    from pyspark.sql import functions as F

    turns = synth.corpus_df(spark, synth.make_corpus(n_convs=40, seed=5))
    stage = str(tmp_path / "stage")
    sio.write_table(
        extract_triples(turns), stage, partition_key="conv_id", n_buckets=8
    )
    materialize_frontier(spark, turns, stage)
    grown = sorted({r.conv_id for r in turns.select("conv_id").collect()})[:3]
    delta = (
        turns.filter(F.col("conv_id").isin(grown))
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("turn_idx"))
        .join(turns, ["conv_id", "turn_idx"])
        .withColumn("turn_idx", F.col("turn_idx") + 1)
        .select(*turns.columns)
    )
    v2 = turns.unionByName(delta)
    raw = str(tmp_path / "turns_bucketed")
    sio.write_table(v2, raw, partition_key="conv_id", n_buckets=4)
    feed = spark.createDataFrame([(c,) for c in grown], "conv_id string")

    sc = spark.sparkContext
    group = "location-feed-refresh"
    sc.setJobGroup(group, group)
    try:
        res = refresh_triples_partitioned(spark, raw, stage, change_feed=feed)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert res.n_changed == len(grown)
    assert _tset(sio.read_table(spark, stage)) == _tset(extract_triples(v2))
    # one collect of the fed ids and their buckets, over the feed's
    # distinct: its map stage and its result (5 when the feed was
    # pinned, then grouped, then collected again for its ids)
    assert jobs <= 2, jobs
