"""End-to-end incremental pipeline refresh (plans/refresh.py).

Contract under test: after ``refresh_pipeline`` applies a turns delta,
every stage table under the root is ROW-IDENTICAL to a from-scratch
``run_pipeline`` over the updated corpus — through the added-surface,
removed-surface, links-unchanged, feed-mode and no-op paths — and the
stage markers stay coherent (a subsequent resume is a full no-op).
Stage C, build and refresh alike, is the ``canonical_of_links``
projection: equal to the component fixpoint over the refreshed links,
and reached without it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lexicator_spark import rules, synth
from lexicator_spark.operators import canonicalize as C
from lexicator_spark.plans.pipeline import read_lineage, run_pipeline
from lexicator_spark.plans.refresh import refresh_pipeline
from lexicator_spark.sources import io as sio
from tests.test_link_cc import assert_projection_is_fixpoint


# ── refresh_pipeline == run_pipeline, stage by stage ─────────────────

# noisy catalog-alias variants with the LAST character substituted:
# linkable (1 shingle off → Jaccard ≫ 0.5) yet impossible for
# synth._noisy_variant to also generate (it never touches the last
# position), so they are unique to the handcrafted conversations.
LINKED_ADD = "apache iceberx"  # → Q_iceberg
LINKED_REM = "apache kafkq"  # → Q_kafka
UNLINKED_ADD = "zzz qq totally new"


def _df(spark, rows):
    return synth.corpus_df(spark, synth.Corpus(rows=list(rows)))


def _rows_of(spark, path):
    df = sio.read_table(spark, path)
    rows = [tuple(r) for r in df.select(*sorted(df.columns)).collect()]
    return sorted(rows, key=repr)  # None-safe total order


def _assert_stages_equal(spark, root_inc, root_full):
    for table in ("triples_raw", "same_as", "canonical", "triples", "entities"):
        inc = _rows_of(spark, f"{root_inc}/{table}")
        full = _rows_of(spark, f"{root_full}/{table}")
        assert inc == full, f"stage table {table} diverged"


def test_refresh_pipeline_equals_full_rebuild(spark, tmp_path):
    from datetime import timedelta

    base = synth.make_corpus(n_convs=30, seed=21, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=5)

    def turn(conv, idx, text, secs):
        return (conv, idx, "user", text, None, t0 + timedelta(seconds=secs))

    v1 = base + [
        turn("zadd01", 0, "hello there, let us begin", 1),
        turn("zadd01", 1, "checking [[DuckDB]] results", 2),
        turn("zrem01", 0, "setup complete", 3),
        turn("zrem01", 1, f"see [[{LINKED_REM}]] for the queue", 4),
        turn("zrem01", 2, "done with the queue", 5),
    ]
    root_inc = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, v1), root_inc)

    # step 1 — links-unchanged delta: a new turn whose only triples
    # are uses_tool/replies_to (no new mention surfaces): Stage B/C
    # must be skipped, materialize/entities still refreshed
    v2 = v1 + [turn("c000003", 200, "just filler words and a plan", 10)]
    res = refresh_pipeline(spark, _df(spark, v2), root_inc)
    assert res.n_changed == 1
    assert not res.links_changed
    assert res.stages_refreshed == ["extract", "materialize", "entities"]
    full_a = str(tmp_path / "full_a")
    run_pipeline(spark, _df(spark, v2), full_a)
    _assert_stages_equal(spark, root_inc, full_a)

    # step 2 — added surfaces (one linkable, one not): a new link
    # joins Q_iceberg's star in Stage C, detection mode
    v3 = v2 + [
        turn("zadd01", 2, f"also [[{LINKED_ADD}]] and [[{UNLINKED_ADD}]]", 20)
    ]
    res = refresh_pipeline(spark, _df(spark, v3), root_inc)
    assert res.links_changed and res.surfaces_added == 2
    assert res.surfaces_removed == 0
    assert res.stages_refreshed == [
        "extract", "link", "canonicalize", "materialize", "entities",
    ]
    full_b = str(tmp_path / "full_b")
    run_pipeline(spark, _df(spark, v3), full_b)
    _assert_stages_equal(spark, root_inc, full_b)

    # step 3 — removed surface via an in-place text edit (same turn
    # count → invisible to max-turn_idx detection; the change feed
    # names the conversation, RecentChanges-style).  The vanished
    # link leaves Q_kafka's star.
    v4 = [
        r if not (r[0] == "zrem01" and r[1] == 1)
        else ("zrem01", 1, "user", "see the other queue instead", None,
              t0 + timedelta(seconds=4))
        for r in v3
    ]
    feed = spark.createDataFrame([("zrem01",)], "conv_id string")
    res = refresh_pipeline(spark, _df(spark, v4), root_inc, change_feed=feed)
    assert res.links_changed and res.surfaces_removed >= 1
    full_c = str(tmp_path / "full_c")
    run_pipeline(spark, _df(spark, v4), full_c)
    _assert_stages_equal(spark, root_inc, full_c)
    # the links those refreshes left: their projection is the fixpoint
    assert_projection_is_fixpoint(sio.read_table(spark, f"{root_inc}/same_as"))

    # no-op refresh: nothing changed → nothing rewritten
    res = refresh_pipeline(spark, _df(spark, v4), root_inc)
    assert res.n_changed == 0 and res.stages_refreshed == []

    # marker coherence: a resume over the refreshed root re-runs nothing
    out = run_pipeline(spark, _df(spark, v4), root_inc, resume=True)
    assert out.stages_run == []
    assert set(out.stages_skipped) == {
        "extract", "link", "canonicalize", "materialize", "entities",
    }


def test_surface_stats_materialized_at_build(spark, tmp_path):
    """run_pipeline writes _surface_stats at build time (like the
    frontier), and its rollup equals the corpus-scan twin the full
    build's entities stage uses."""
    import os

    from lexicator_spark.plans.pipeline import mention_counts_of_triples
    from lexicator_spark.plans.refresh import surface_rollup

    root = str(tmp_path / "kg")
    corpus = synth.make_corpus(n_convs=25, seed=9, shuffled=False)
    run_pipeline(spark, _df(spark, corpus.rows), root)
    assert os.path.exists(f"{root}/_surface_stats/_schema.json")

    raw = sio.read_table(spark, f"{root}/triples_raw")
    twin = mention_counts_of_triples(raw)
    rolled = surface_rollup(sio.read_table(spark, f"{root}/_surface_stats"))
    key = lambda df: sorted(  # noqa: E731
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr
    )
    assert key(rolled) == key(twin)


def test_compact_then_e2e_refresh_restores_consistency(spark, tmp_path):
    """The streaming→serving loop composes with the e2e refresh: new
    conversations land via the extract stream, compaction folds them
    into triples_raw (leaving downstream/frontier/stats stale by
    design), and the next detection-mode refresh_pipeline re-detects
    them from the frontier and squares every stage table up — equal
    to a from-scratch build over the full corpus."""
    from datetime import timedelta

    from lexicator_spark.operators.compact import compact_stream_epochs
    from lexicator_spark.streaming.ingest import (
        start_extract_stream,
        stream_turns,
    )

    t0 = synth.EPOCH + timedelta(days=11)
    v1 = synth.make_corpus(n_convs=25, seed=13, shuffled=False).rows
    root = str(tmp_path / "kg")
    run_pipeline(spark, _df(spark, v1), root)

    extra = [
        ("zstr01", 0, "user", f"fresh [[{LINKED_ADD}]] sighting", None,
         t0 + timedelta(seconds=1)),
        ("zstr02", 0, "user", "plain follow-up with [[DuckDB]]", None,
         t0 + timedelta(seconds=2)),
    ]
    stream_in = str(tmp_path / "stream_in")
    _df(spark, extra).repartition(2).write.parquet(stream_in)
    sink = str(tmp_path / "stream_out")
    q = start_extract_stream(
        stream_turns(spark, stream_in), sink, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    res = compact_stream_epochs(spark, sink, f"{root}/triples_raw")
    assert res.n_rows > 0

    r = refresh_pipeline(spark, _df(spark, v1 + extra), root)
    assert r.n_changed == 2 and r.surfaces_added >= 1

    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v1 + extra), full)
    _assert_stages_equal(spark, root, full)


def test_refresh_pipeline_pruned_feed_path(spark, tmp_path):
    """turns_location + change_feed: Stage A goes through
    refresh_triples_partitioned given the location (raw read pruned to
    the fed conversations' buckets — no snapshot semi-join), and the
    downstream propagation
    still leaves every stage equal to a full rebuild."""
    from datetime import timedelta

    t0 = synth.EPOCH + timedelta(days=13)
    v1 = synth.make_corpus(n_convs=25, seed=17, shuffled=False).rows
    root = str(tmp_path / "kg")
    run_pipeline(spark, _df(spark, v1), root)

    raw_turns = str(tmp_path / "raw_turns")
    sio.write_table(_df(spark, v1), raw_turns, partition_key="conv_id")

    extra = [
        ("zprn01", 0, "user", f"pruned-path [[{LINKED_ADD}]]", None,
         t0 + timedelta(seconds=1)),
    ]
    # bucket-upsert the delta into the raw table with complete
    # replacement content for the touched bucket (upsert contract)
    extra_df = _df(spark, extra)
    touched = [
        r.p
        for r in extra_df.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(sio.DEFAULT_BUCKETS))
            .cast("int")
            .alias("p")
        ).distinct().collect()
    ]
    kept = (
        sio.read_table(spark, raw_turns, keep_bucket_col=True)
        .filter(F.col("p_hash").isin(touched))
        .drop("p_hash")
    )
    sio.upsert_partitions(
        kept.unionByName(extra_df).localCheckpoint(eager=True),
        raw_turns,
        partition_key="conv_id",
        touched_buckets=touched,
    )
    feed = spark.createDataFrame([("zprn01",)], "conv_id string")
    res = refresh_pipeline(
        spark, None, root, change_feed=feed, turns_location=raw_turns
    )
    assert res.n_changed == 1 and res.surfaces_added >= 1
    # a links-changing refresh records one refresh:<stage> lineage row
    # per stage it refreshed
    assert res.links_changed
    refresh_rows = [
        r.stage
        for r in read_lineage(spark, root)
        .filter("partition_id = -1 AND stage LIKE 'refresh:%'")
        .collect()
    ]
    assert sorted(refresh_rows) == sorted(
        f"refresh:{s}" for s in res.stages_refreshed
    )

    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v1 + extra), full)
    _assert_stages_equal(spark, root, full)

    # pruned path without a feed is an explicit error, not a silent
    # full-snapshot detection
    with pytest.raises(ValueError, match="needs change_feed"):
        refresh_pipeline(spark, None, root, turns_location=raw_turns)


def test_refresh_pipeline_requires_complete_build(spark, tmp_path):
    root = str(tmp_path / "partial")
    corpus = _df(spark, synth.make_corpus(n_convs=5, seed=3, shuffled=False).rows)
    with pytest.raises(ValueError, match="complete prior build"):
        refresh_pipeline(spark, corpus, root)


def test_refresh_pipeline_recovers_from_crashed_refresh(spark, tmp_path):
    """A refresh that dies between its Stage-A upsert and the
    downstream sync leaves a delta that can never be re-detected (the
    frontier advanced once the upsert returned).  The in-flight
    marker makes the next refresh_pipeline rebuild the downstream
    stages from the raw table before processing its own delta —
    without it, the crashed delta's triples would be permanently
    missing from triples/same_as/canonical/entities while every
    future refresh reports a clean no-op."""
    import os
    from datetime import timedelta

    from lexicator_spark.operators.incremental import (
        refresh_triples_partitioned,
    )
    from lexicator_spark.plans.refresh import _inflight_path, begin_refresh
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=20, seed=33, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=5)

    def turn(conv, idx, text, secs):
        return (conv, idx, "user", text, None, t0 + timedelta(seconds=secs))

    root = str(tmp_path / "inc")
    # non-default modulus: the recovery rebuild must inherit it from
    # the raw table's sidecar, or it would rebucket `triples` to
    # DEFAULT_BUCKETS and the co-upsert modulus check would brick
    # every later refresh of this root
    run_pipeline(spark, _df(spark, base), root, n_buckets=8)

    # simulate the crashed refresh: the in-flight window opens, Stage A
    # lands (frontier advances), the process dies before any
    # downstream stage or the stats upsert
    v2 = base + [turn("zcrash1", 0, f"mentions [[{LINKED_ADD}]] here", 1)]
    begin_refresh(spark, root)
    res = refresh_triples_partitioned(
        spark, _df(spark, v2), os.path.join(root, "triples_raw")
    )
    assert res.n_changed == 1

    # next refresh: detection sees nothing new (frontier is current),
    # but the in-flight marker forces the downstream rebuild first
    res2 = refresh_pipeline(spark, _df(spark, v2), root)
    assert res2.n_changed == 0

    # recovery also re-counted the extract marker's bucket_counts from
    # the post-crash raw table (the crashed upsert changed buckets the
    # marker still described pre-crash)
    from lexicator_spark.plans import pipeline as P

    marker = P._read_marker(spark, root, "extract")
    fresh = P._bucket_counts(spark, os.path.join(root, "triples_raw"))
    assert sorted(map(tuple, marker["bucket_counts"])) == sorted(fresh)
    assert marker["rows_out"] == sum(c for _, c in fresh)
    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v2), full)
    _assert_stages_equal(spark, root, full)

    # window closed: later refreshes don't re-pay the rebuild, and a
    # real delta still flows through normally
    assert not fsutil.exists(spark, _inflight_path(root))
    v3 = v2 + [turn("zcrash1", 1, "a follow-up turn", 2)]
    res3 = refresh_pipeline(spark, _df(spark, v3), root)
    assert res3.n_changed == 1
    full3 = str(tmp_path / "full3")
    run_pipeline(spark, _df(spark, v3), full3)
    _assert_stages_equal(spark, root, full3)


def test_refresh_pipeline_validation_failure_strands_no_marker(spark, tmp_path):
    """A refresh refused on its preconditions mutated nothing, so it
    must not leave the in-flight crash marker behind — a stranded
    marker would force a spurious O(corpus) downstream rebuild on the
    next (fixed) invocation."""
    import os

    from lexicator_spark.plans.refresh import _inflight_path
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=10, seed=44, shuffled=False).rows
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root)

    # unbucketed turns_location → the feed-pruned path must refuse
    plain = str(tmp_path / "plain_turns")
    _df(spark, base).write.parquet(plain)
    feed = _df(spark, base).select("conv_id").limit(1)
    with pytest.raises(ValueError, match="not bucketed"):
        refresh_pipeline(spark, None, root, turns_location=plain,
                         change_feed=feed)
    assert not fsutil.exists(spark, _inflight_path(root))

    # turns_location without a feed is refused before any marker too
    with pytest.raises(ValueError, match="change_feed"):
        refresh_pipeline(spark, None, root, turns_location=plain)
    assert not fsutil.exists(spark, _inflight_path(root))

    # and the root still refreshes normally afterwards (no stranded
    # state): a no-op detection refresh stays a metadata no-op
    res = refresh_pipeline(spark, _df(spark, base), root)
    assert res.n_changed == 0
    assert not fsutil.exists(spark, _inflight_path(root))
    assert os.path.exists(os.path.join(root, "entities"))


def test_refresh_refuses_materialized_table_without_layout(spark, tmp_path):
    """Stage D copies raw buckets over the materialized ones, so a
    `triples` table that records no bucket layout is refused at entry:
    nothing is written, no in-flight marker is left, and triples_raw
    (with its _frontier) keeps every byte."""
    import os
    from datetime import timedelta
    from pathlib import Path

    from lexicator_spark.plans.refresh import _inflight_path
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=10, seed=45, shuffled=False).rows
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root, n_buckets=8)
    os.remove(os.path.join(root, "triples", "_buckets.json"))

    raw = Path(root) / "triples_raw"

    def raw_files():
        return {
            p.relative_to(raw): p.read_bytes()
            for p in raw.rglob("*")
            if p.is_file()
        }

    before = raw_files()
    t0 = synth.EPOCH + timedelta(days=5)
    extra = [("zlayout", 0, "user", f"mentions [[{LINKED_ADD}]]", None, t0)]
    with pytest.raises(ValueError, match="triples is bucketed as None"):
        refresh_pipeline(spark, _df(spark, base + extra), root)
    assert not fsutil.exists(spark, _inflight_path(root))
    assert raw_files() == before


def _assert_stats_equal_rebuild(spark, root, root_full):
    """``_surface_stats`` under ``root``, bucket column included, equals
    ``_stats_of`` over the from-scratch build's ``triples_raw``."""
    from lexicator_spark.plans.refresh import _stats_of

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
            key=repr,
        )

    got = sio.read_table(spark, f"{root}/_surface_stats", keep_bucket_col=True)
    want = _stats_of(
        sio.read_table(spark, f"{root_full}/triples_raw", keep_bucket_col=True)
    )
    assert rows(got) == rows(want)


def test_surface_stats_after_refresh_equal_rebuild(spark, tmp_path):
    """A refresh derives the touched buckets' ``_surface_stats`` rows
    from the pinned Stage-A replacement and keeps the rest: after a
    growing delta, a delta that deletes the only conversation of a
    bucket, and a link-changing delta, the stats table equals the one
    a from-scratch build over the same corpus would hold."""
    from datetime import timedelta

    n_buckets = 32  # sparse: many buckets hold a single conversation
    base = synth.make_corpus(n_convs=20, seed=41, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=7)
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root, n_buckets=n_buckets)

    def rebuild_and_compare(rows, name):
        full = str(tmp_path / name)
        run_pipeline(spark, _df(spark, rows), full, n_buckets=n_buckets)
        _assert_stats_equal_rebuild(spark, root, full)
        _assert_stages_equal(spark, root, full)

    # step 1 — growing delta: a conversation gains a turn repeating a
    # mention-bearing text, so its bucket's counts and last_seen move
    conv = base[0][0]
    last = max(r[1] for r in base if r[0] == conv)
    text = next(r[3] for r in base if r[3] and rules.WIKILINK_RE.findall(r[3]))
    v2 = base + [(conv, last + 1, "user", text, None, t0)]
    res = refresh_pipeline(spark, _df(spark, v2), root)
    assert res.n_changed == 1 and not res.links_changed
    rebuild_and_compare(v2, "full_grow")

    # step 2 — the only conversation of its bucket, with mentions,
    # disappears (a fed conversation with no turns is a deletion): the
    # bucket's stats rows must go with it
    raw = sio.read_table(spark, f"{root}/triples_raw", keep_bucket_col=True)
    sole = [
        r.conv_id
        for r in raw.filter(F.col("conv_id").isNotNull())
        .groupBy("p_hash")
        .agg(
            F.countDistinct("conv_id").alias("n"),
            F.min("conv_id").alias("conv_id"),
            F.sum((F.col("pred") == rules.PRED_MENTIONS).cast("int")).alias("m"),
        )
        .filter("n = 1 AND m > 0")
        .collect()
    ]
    assert sole, "fixture has no single-conversation bucket with mentions"
    gone = min(sole)
    v3 = [r for r in v2 if r[0] != gone]
    feed = spark.createDataFrame([(gone,)], "conv_id string")
    res = refresh_pipeline(spark, _df(spark, v3), root, change_feed=feed)
    assert res.n_changed == 1 and res.n_buckets_touched == 1
    rebuild_and_compare(v3, "full_drop")

    # step 3 — link-changing delta: new surfaces, one linkable
    v4 = v3 + [
        ("zstats1", 0, "user", f"try [[{LINKED_ADD}]] and [[{UNLINKED_ADD}]]",
         None, t0 + timedelta(seconds=1)),
    ]
    res = refresh_pipeline(spark, _df(spark, v4), root)
    assert res.links_changed and res.surfaces_added == 2
    rebuild_and_compare(v4, "full_link")


def test_refresh_crash_in_stats_upsert_recovers(spark, tmp_path, monkeypatch):
    """The ``_surface_stats`` upsert runs inside the Stage-A pool, beside
    the stage and frontier upserts: its failure must fail the refresh
    (not vanish in an unjoined future) and leave the in-flight marker,
    so the next refresh rebuilds the downstream stages and every table
    ends equal to a rebuild."""
    from datetime import timedelta

    from lexicator_spark.plans.refresh import _inflight_path
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=15, seed=43, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=9)
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root, n_buckets=8)

    real_upsert = sio.upsert_partitions

    def failing_stats_upsert(df, location, *a, **kw):
        if location.endswith("_surface_stats"):
            raise RuntimeError("injected stats upsert failure")
        return real_upsert(df, location, *a, **kw)

    v2 = base + [
        ("zcrash2", 0, "user", f"mentions [[{LINKED_ADD}]] here", None, t0)
    ]
    with monkeypatch.context() as m:
        m.setattr(sio, "upsert_partitions", failing_stats_upsert)
        with pytest.raises(RuntimeError, match="injected stats upsert"):
            refresh_pipeline(spark, _df(spark, v2), root)
    assert fsutil.exists(spark, _inflight_path(root))

    res = refresh_pipeline(spark, _df(spark, v2), root)
    assert res.n_changed == 0  # the crashed delta reached triples_raw
    assert not fsutil.exists(spark, _inflight_path(root))
    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v2), full, n_buckets=8)
    _assert_stages_equal(spark, root, full)
    _assert_stats_equal_rebuild(spark, root, full)


def test_refresh_crash_in_stage_upsert_keeps_delta_detectable(
    spark, tmp_path, monkeypatch
):
    """The frontier is written only after the ``triples_raw`` upsert
    has returned: when that upsert fails, the frontier stays where it
    was, so the next detection refresh finds the delta again
    (n_changed == 1) and every table ends equal to a rebuild.  A
    frontier written beside the failed upsert would make the next
    refresh a silent no-op over a stale table."""
    from datetime import timedelta

    from lexicator_spark.plans.refresh import _inflight_path
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=15, seed=47, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=9)
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root, n_buckets=8)

    real_upsert = sio.upsert_partitions

    def failing_stage_upsert(df, location, *a, **kw):
        if location.endswith("triples_raw"):
            raise RuntimeError("injected stage upsert failure")
        return real_upsert(df, location, *a, **kw)

    v2 = base + [
        ("zcrash3", 0, "user", f"mentions [[{LINKED_ADD}]] here", None, t0)
    ]
    with monkeypatch.context() as m:
        m.setattr(sio, "upsert_partitions", failing_stage_upsert)
        with pytest.raises(RuntimeError, match="injected stage upsert"):
            refresh_pipeline(spark, _df(spark, v2), root)
    assert fsutil.exists(spark, _inflight_path(root))

    res = refresh_pipeline(spark, _df(spark, v2), root)
    assert res.n_changed == 1  # the failed delta is still detectable
    assert not fsutil.exists(spark, _inflight_path(root))
    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v2), full, n_buckets=8)
    _assert_stages_equal(spark, root, full)
    _assert_stats_equal_rebuild(spark, root, full)


def test_refresh_refuses_root_without_sidecars_or_counts(spark, tmp_path):
    """``refresh_pipeline`` checks, where it opens the root, what the
    refresh relies on and every build writes: ``_surface_stats``, and
    ``bucket_counts`` on the extract and materialize markers.  A root
    missing one is refused before anything is written and with no
    in-flight marker left."""
    import json
    import os
    from datetime import timedelta
    from pathlib import Path

    from lexicator_spark.plans.refresh import _inflight_path
    from lexicator_spark.sources import fsutil

    base = synth.make_corpus(n_convs=10, seed=46, shuffled=False).rows
    t0 = synth.EPOCH + timedelta(days=5)
    extra = [("zsidecar", 0, "user", f"mentions [[{LINKED_ADD}]]", None, t0)]

    def files(root):
        return {
            p.relative_to(root): p.read_bytes()
            for p in Path(root).rglob("*")
            if p.is_file()
        }

    def refused(root, match):
        before = files(root)
        with pytest.raises(ValueError, match=match):
            refresh_pipeline(spark, _df(spark, base + extra), root)
        assert not fsutil.exists(spark, _inflight_path(root))
        assert files(root) == before

    no_stats = str(tmp_path / "no_stats")
    run_pipeline(spark, _df(spark, base), no_stats, n_buckets=8)
    fsutil.delete(spark, os.path.join(no_stats, "_surface_stats"), recursive=True)
    refused(no_stats, "no _surface_stats")

    no_counts = str(tmp_path / "no_counts")
    run_pipeline(spark, _df(spark, base), no_counts, n_buckets=8)
    ck = os.path.join(no_counts, "_checkpoints", "extract.json")
    marker = json.loads(fsutil.read_text(spark, ck))
    marker.pop("bucket_counts")
    fsutil.write_text(spark, ck, json.dumps(marker))
    refused(no_counts, "extract marker .* carries no bucket_counts")


def test_build_and_refresh_never_reach_connected_components(
    spark, tmp_path, monkeypatch
):
    """Stage C is a projection of the links in build and refresh alike:
    with ``connected_components`` raising in every loaded module that
    binds it, a build and a refresh that adds one link and drops
    another both succeed, and the refreshed root equals a rebuild."""
    import sys
    from datetime import timedelta

    def fixpoint(*_a, **_kw):
        raise AssertionError("Stage C reached connected_components")

    patched = [
        name
        for name, mod in list(sys.modules.items())
        if getattr(mod, "__dict__", {}).get("connected_components")
        is C.connected_components
    ]
    assert C.__name__ in patched
    for name in patched:
        monkeypatch.setattr(sys.modules[name], "connected_components", fixpoint)

    t0 = synth.EPOCH + timedelta(days=15)
    base = synth.make_corpus(n_convs=20, seed=51, shuffled=False).rows + [
        ("zrem02", 0, "user", f"see [[{LINKED_REM}]] first", None, t0),
    ]
    root = str(tmp_path / "inc")
    run_pipeline(spark, _df(spark, base), root, n_buckets=8)

    v2 = [
        r if r[0] != "zrem02" else r[:3] + ("see the other queue",) + r[4:]
        for r in base
    ] + [("zadd02", 0, "user", f"now [[{LINKED_ADD}]]", None, t0)]
    feed = spark.createDataFrame([("zrem02",), ("zadd02",)], "conv_id string")
    res = refresh_pipeline(spark, _df(spark, v2), root, change_feed=feed)
    assert res.links_changed
    assert res.surfaces_added >= 1 and res.surfaces_removed >= 1

    full = str(tmp_path / "full")
    run_pipeline(spark, _df(spark, v2), full, n_buckets=8)
    _assert_stages_equal(spark, root, full)
