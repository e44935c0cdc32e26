"""End-to-end pipeline parity (the BASELINE.json metric check),
resume-from-checkpoint, and lineage tests (SURVEY.md §5 items 1/5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lexicator_spark import synth
from lexicator_spark.plans.pipeline import read_lineage, run_pipeline, triples_of
from tests import oracle


def _tset(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_full_pipeline_pr_against_oracle(spark, tmp_path):
    """Triple P/R ≥ 0.95 vs the pure-Python reference-semantics oracle
    (target 1.0 — same rules, so any gap is a distributed bug)."""
    corpus = synth.make_corpus(n_convs=120, seed=42)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, resume=False)
    got = _tset(triples_of(spark, out))
    expected = oracle.full_oracle(corpus.rows)
    p, r = oracle.precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, f"precision={p:.4f} recall={r:.4f}"
    assert got == expected, (
        f"exact parity expected; extra={sorted(got - expected)[:5]} "
        f"missing={sorted(expected - got)[:5]}"
    )


def test_pipeline_resume_skips_done_stages(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=40, seed=8)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")

    res1 = run_pipeline(spark, df, out, resume=True)
    assert res1.stages_run and not res1.stages_skipped
    first = _tset(triples_of(spark, out))

    # second run must skip every stage and produce identical tables
    res2 = run_pipeline(spark, df, out, resume=True)
    assert not res2.stages_run
    assert set(res2.stages_skipped) == set(res1.stages_run)
    assert _tset(triples_of(spark, out)) == first


def test_rebuild_with_stop_after_leaves_no_stale_downstream(spark, tmp_path):
    """resume=False means REBUILD: when stop_after truncates the run
    before the downstream stages, their tables from the PREVIOUS
    corpus must be deleted, not left serving mixed-corpus answers to
    direct readers (triples_of reads the table path, not markers)."""
    out = str(tmp_path / "kg")
    corpus_a = synth.make_corpus(n_convs=40, seed=8)
    run_pipeline(spark, synth.corpus_df(spark, corpus_a), out)
    assert os.path.exists(os.path.join(out, "triples"))

    corpus_b = synth.make_corpus(n_convs=25, seed=99)
    res = run_pipeline(
        spark, synth.corpus_df(spark, corpus_b), out,
        resume=False, stop_after="extract",
    )
    assert res.stages_run == ["extract"]
    for stale in ("same_as", "canonical", "triples", "entities"):
        assert not os.path.exists(os.path.join(out, stale)), stale

    # finishing the run later picks up from the checkpoint and the
    # final graph describes corpus B alone
    run_pipeline(spark, synth.corpus_df(spark, corpus_b), out, resume=True)
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, synth.corpus_df(spark, corpus_b), fresh)
    assert _tset(triples_of(spark, out)) == _tset(triples_of(spark, fresh))


def test_pipeline_resume_mid_run(spark, tmp_path):
    """Kill after Stage A (simulated by a first run whose later
    checkpoints are removed), rerun, assert identical final tables and
    that Stage A was skipped."""
    corpus = synth.make_corpus(n_convs=40, seed=9)
    df = synth.corpus_df(spark, corpus)
    out_full = str(tmp_path / "full")
    run_pipeline(spark, df, out_full, resume=False)
    want = _tset(triples_of(spark, out_full))

    out = str(tmp_path / "resumed")
    run_pipeline(spark, df, out, resume=False)
    # simulate mid-run kill: drop every checkpoint after extract
    for stage in ("link", "canonicalize", "materialize", "entities"):
        os.remove(os.path.join(out, "_checkpoints", f"{stage}.json"))
    res = run_pipeline(spark, df, out, resume=True)
    assert "extract" in res.stages_skipped
    assert "link" in res.stages_run
    assert _tset(triples_of(spark, out)) == want


def test_resume_refuses_raw_table_at_another_modulus(spark, tmp_path):
    """Stage D copies the raw table's bucket files, so a resume that
    skips a finished extraction must refuse a raw table bucketed at
    another modulus, naming both layouts, before it writes `triples`
    (a table refresh_pipeline would later refuse)."""
    import re

    import pytest

    df = synth.corpus_df(spark, synth.make_corpus(n_convs=20, seed=8))
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, n_buckets=8, stop_after="canonicalize")
    found, want = (
        re.escape(str({"partition_key": "conv_id", "n_buckets": n}))
        for n in (8, 4)
    )
    with pytest.raises(ValueError, match=f"{found}.*{want}"):
        run_pipeline(spark, df, out, resume=True, n_buckets=4)
    assert not os.path.exists(os.path.join(out, "triples"))


def test_entities_dimension_table(spark, tmp_path):
    """Entities table carries blocking key, link score, mention counts
    and the canonical flag (FIXTURES.md §4 schema)."""
    from lexicator_spark import rules
    from lexicator_spark.sources import io as sio

    corpus = synth.make_corpus(n_convs=60, seed=42)
    out = str(tmp_path / "kg")
    res = run_pipeline(spark, synth.corpus_df(spark, corpus), out, resume=False)
    ents = sio.read_table(spark, res.entities_path)
    assert ents.columns == [
        "canonical_id", "surface_form", "block_key", "score", "n_mentions",
        "n_convs", "first_seen", "last_seen", "is_canonical",
    ]
    rows = {r.surface_form: r for r in ents.collect()}
    assert rows, "entities table must not be empty"
    for r in rows.values():
        assert r.block_key == rules.block_key(r.surface_form)
        assert r.is_canonical == (r.surface_form == r.canonical_id)
        assert r.n_mentions >= 0
        assert 0 <= r.n_convs <= r.n_mentions
        # seen-range present iff the surface is actually mentioned
        assert (r.first_seen is None) == (r.n_mentions == 0)
        if r.first_seen is not None:
            assert r.first_seen <= r.last_seen
        assert r.score is None or 0.0 <= r.score <= 1.0
    # canonical members score 1.0 by identity
    assert all(r.score == 1.0 for r in rows.values() if r.is_canonical)
    # linked (non-canonical) members carry the Stage-B link confidence
    linked = [r for r in rows.values() if not r.is_canonical]
    assert linked and all(r.score >= rules.LINK_SCORE_THRESHOLD for r in linked)
    # mention counts agree with the raw triple table
    triples = triples_of(spark, out)
    mention_spark = triples.filter(
        f"pred = '{rules.PRED_MENTIONS}' AND obj = 'spark'"
    )
    if "spark" in rows:
        assert rows["spark"].n_mentions == mention_spark.count()
        assert (
            rows["spark"].n_convs
            == mention_spark.select("conv_id").distinct().count()
        )
        lo, hi = mention_spark.select(
            F.min("extracted_at"), F.max("extracted_at")
        ).first()
        assert (rows["spark"].first_seen, rows["spark"].last_seen) == (lo, hi)


def test_entity_tool_affinity_matches_oracle(spark):
    """The flagship KG analytics question (SURVEY §3): Spark answer ==
    the same derivation over the pure-Python oracle triples."""
    import __spark_entry__ as entrymod

    got = {
        (r.tool, r.canonical_id, r.n_convs)
        for r in entrymod.queries()["kg_entity_tool_affinity"](spark, "").collect()
    }

    from lexicator_spark import rules, synth

    corpus = synth.make_corpus(n_convs=300, seed=42)
    triples = oracle.full_oracle(corpus.rows)
    canon = {s: o for s, p, o in triples if p == rules.PRED_CANONICAL_OF}
    conv_of_turn = {}  # turn uri -> conv
    mentions, tools = [], []
    for s, p, o in triples:
        if p == rules.PRED_MENTIONS:
            mentions.append((s.split("#")[0], o))
        elif p == rules.PRED_USES_TOOL:
            tools.append((s.split("#")[0], o))
    pairs = {}
    tool_by_conv = {}
    for conv, tool in tools:
        tool_by_conv.setdefault(conv, set()).add(tool)
    for conv, surface in mentions:
        if surface not in canon:
            continue
        for tool in tool_by_conv.get(conv, ()):
            pairs.setdefault((tool, canon[surface]), set()).add(conv)
    expected = {(t, c, len(convs)) for (t, c), convs in pairs.items()}
    assert got == expected


def test_cli_dedup_verb(spark, tmp_path):
    """--dedup runs near-dup cluster assignment instead of the KG
    pipeline: (doc_id, cluster_id, keep) parquet with one keep per
    cluster, every input doc present."""
    import json
    import subprocess
    import sys

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "alpha beta gamma delta"), (4, "something entirely else")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "clusters")
    r = subprocess.run(
        [sys.executable, "-m", "lexicator_spark",
         "--input", docs_path, "--out", out,
         "--dedup", "minhash_star", "--threshold", "0.6", "--cpus", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    stats = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]
    assert stats["docs"] == 4 and stats["clusters"] + stats["dropped"] == 4
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 3, 4}
    # docs 1/2 are identical → same cluster, min id kept
    assert rows[1].cluster_id == rows[2].cluster_id == 1
    assert rows[1].keep and not rows[2].keep
    assert rows[4].keep  # singleton keeps itself


def test_cli_graph_verb(spark, tmp_path):
    """--graph runs analytics over a previously materialized kg root:
    build a small KG with --synth, then pagerank its mention
    co-occurrence graph — ranks sum to 1, parquet written to --out."""
    import json
    import subprocess
    import sys

    kg = str(tmp_path / "kg")
    out = str(tmp_path / "ranks")

    def cli(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark", *argv, "--cpus", "4"],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]

    cli("--synth", "60", "--out", kg)
    stats = cli("--input", kg, "--out", out,
                "--graph", "pagerank", "--tol", "1e-9", "--iterations", "50")
    assert stats["graph"] == "pagerank" and stats["rows"] > 0
    ranks = spark.read.parquet(out)
    assert abs(sum(r.rank for r in ranks.collect()) - 1.0) < 1e-9


def test_cli_full_run_then_incremental_refresh(tmp_path):
    """CLI driver (SURVEY §2 #13): full run, then --refresh on the same
    out root — refresh_pipeline updates every stage table O(delta)."""
    import json
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(n_convs, *extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", str(n_convs), "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    first = run_cli(60)[-1]
    assert set(first["stages_run"]) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }

    # grow the corpus → the new conversations are re-extracted and
    # every stage table is updated in place (no stage recompute)
    stats = run_cli(80, "--refresh")[-1]
    assert stats["refreshed_convs"] >= 20 and stats["buckets_touched"] > 0
    assert "extract" in stats["stages_refreshed"]
    assert {"materialize", "entities"} <= set(stats["stages_refreshed"])

    # same corpus again → true no-op: nothing re-extracted, no stage
    # touched
    stats = run_cli(80, "--refresh")[-1]
    assert stats["refreshed_convs"] == 0 and stats["buckets_touched"] == 0
    assert stats["stages_refreshed"] == []


def test_cli_flag_conflicts_error_before_jvm():
    # --refresh must REJECT a --stage cutoff and the build-only flags
    # instead of silently ignoring them, and the removed --refresh-e2e
    # is an unknown flag; argparse errors fire before any SparkSession
    # is built, so this is JVM-free
    import pytest

    from lexicator_spark.__main__ import main

    base = ["--synth", "5", "--out", "/tmp/unused"]
    for extra in (
        ["--refresh", "--stage", "extract"],
        ["--refresh", "--no-resume"],
        ["--refresh", "--backfill", "4"],
        ["--refresh-e2e"],
    ):
        with pytest.raises(SystemExit) as exc:
            main(base + extra)
        assert exc.value.code == 2


def test_lineage_written(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=10, seed=4)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, resume=False)
    lin = read_lineage(spark, out)
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"extract", "link", "canonicalize", "materialize", "entities"} <= stages
    assert lin.filter("rows_out < 0").count() == 0
    # per-partition lineage (FIXTURES §4): bucket-partitioned stages
    # carry one row per p_hash, and the bucket counts sum to the
    # stage-level rows_out
    for stage in ("extract", "materialize"):
        stage_total = lin.filter(
            f"stage = '{stage}' AND partition_id = -1"
        ).collect()[0].rows_out
        parts = lin.filter(f"stage = '{stage}' AND partition_id >= 0").collect()
        assert parts, f"no per-partition lineage for {stage}"
        assert sum(p.rows_out for p in parts) == stage_total
        assert all(0 <= p.partition_id for p in parts)


def test_empty_input_pipeline_completes(spark, tmp_path):
    """An all-empty corpus must flow through every stage: the bucketed
    stage writes leave only schema sidecars (zero parquet footers),
    and lineage/bucket accounting must read that back as zero rows —
    not crash on schema inference (ADVICE r4: _bucket_counts)."""
    corpus = synth.make_corpus(n_convs=2, seed=1)
    df = synth.corpus_df(spark, corpus).filter(F.lit(False))
    out = str(tmp_path / "kg")
    res = run_pipeline(spark, df, out, resume=False)
    assert set(res.stages_run) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }
    assert triples_of(spark, out).count() == 0
    lin = read_lineage(spark, out)
    assert lin.filter("partition_id = -1").count() == 5
    assert lin.filter("partition_id = -1 AND rows_out <> 0").count() == 0


def test_lineage_complete_after_crash_mid_build(spark, tmp_path, monkeypatch):
    """Each stage writes its lineage rows with its marker, so a build
    that dies in Stage C (after the extract and link markers are
    durable) and is then resumed leaves exactly one stage-level row
    per stage, and a later no-op resume adds none."""
    import pytest

    from lexicator_spark.plans import pipeline as P

    corpus = synth.make_corpus(n_convs=12, seed=9)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")

    def crash(_same_as):
        raise RuntimeError("simulated crash in canonicalize")

    monkeypatch.setattr(P, "canonical_of_links", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, df, out, resume=False)
    assert P._is_done(spark, out, "extract") and P._is_done(spark, out, "link")
    assert not P._is_done(spark, out, "canonicalize")
    monkeypatch.undo()

    res = run_pipeline(spark, df, out, resume=True)
    assert res.stages_skipped == ["extract", "link"]
    lin = read_lineage(spark, out)
    stage_rows = [r.stage for r in lin.filter("partition_id = -1").collect()]
    assert sorted(stage_rows) == sorted(
        ["extract", "link", "canonicalize", "materialize", "entities"]
    )
    for stage in ("extract", "materialize"):
        total = lin.filter(
            f"stage = '{stage}' AND partition_id = -1"
        ).collect()[0].rows_out
        parts = lin.filter(f"stage = '{stage}' AND partition_id >= 0").collect()
        assert parts and sum(p.rows_out for p in parts) == total
    n = lin.count()

    run_pipeline(spark, df, out, resume=True)  # no-op resume
    assert read_lineage(spark, out).count() == n


def test_resume_after_failed_frontier_job_writes_frontier(
    spark, tmp_path, monkeypatch
):
    """The build's _frontier side job fails: the build raises, and the
    resume, which skips extraction, writes the frontier from
    triples_raw's own rows (per-conversation max turn_idx).  A
    detection refresh over a snapshot with one new conversation then
    ends equal to a rebuild."""
    from datetime import timedelta

    import pytest

    from lexicator_spark.operators import incremental
    from lexicator_spark.plans.refresh import refresh_pipeline
    from lexicator_spark.sources import io as sio
    from tests.test_refresh_e2e import _assert_stages_equal

    rows = synth.make_corpus(n_convs=12, seed=6, shuffled=False).rows
    df = synth.corpus_df(spark, synth.Corpus(rows))
    out = str(tmp_path / "kg")

    def fail(*_args, **_kwargs):
        raise RuntimeError("simulated frontier failure")

    monkeypatch.setattr(incremental, "materialize_frontier", fail)
    with pytest.raises(RuntimeError, match="simulated frontier failure"):
        run_pipeline(spark, df, out, n_buckets=8)
    floc = os.path.join(out, "triples_raw", "_frontier")
    assert not os.path.exists(floc)
    monkeypatch.undo()

    res = run_pipeline(spark, df, out, n_buckets=8)
    assert "extract" in res.stages_skipped
    raw = sio.read_table(spark, os.path.join(out, "triples_raw"))
    want = {
        (r.conv_id, r.m)
        for r in raw.filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("m"))
        .collect()
    }
    got = {(r.conv_id, r.done_max_idx) for r in sio.read_table(spark, floc).collect()}
    assert got == want

    t0 = synth.EPOCH + timedelta(days=3)
    v2 = synth.corpus_df(spark, synth.Corpus(
        rows + [("znew", 0, "user", "mentions [[apache iceberx]] here", None, t0)]
    ))
    refresh_pipeline(spark, v2, out)
    full = str(tmp_path / "full")
    run_pipeline(spark, v2, full, n_buckets=8)
    _assert_stages_equal(spark, out, full)


def _stage_tables(spark, root):
    """Every table a build writes under ``root``, as sorted row reprs."""
    from lexicator_spark.sources import io as sio

    return {
        name: sorted(
            repr(tuple(r))
            for r in sio.read_table(spark, os.path.join(root, name)).collect()
        )
        for name in (
            "triples_raw", "triples_raw/_frontier", "rejects", "same_as",
            "canonical", "triples", "entities", "_surface_stats",
        )
    }


def test_lineage_rows_in_from_known_counts(spark, tmp_path):
    """A stage's lineage ``rows_in`` is a count the build already holds
    (FIXTURES.md §4): extract's is the turns count, link's is extract's
    ``rows_out`` (the triples_raw rows), canonicalize's is link's (the
    same_as rows) — also on a resume that skips extract, where link
    takes it from the extract marker."""
    from lexicator_spark.sources import io as sio

    df = synth.corpus_df(spark, synth.make_corpus(n_convs=20, seed=5))
    out = str(tmp_path / "kg")
    res = run_pipeline(spark, df, out, resume=False)
    rows = {r["stage"]: r for r in res.lineage}
    assert rows["extract"]["rows_in"] == df.count()
    assert rows["link"]["rows_in"] == rows["extract"]["rows_out"] > 0
    assert rows["link"]["rows_in"] == sio.read_table(
        spark, os.path.join(out, "triples_raw")
    ).count()
    assert rows["canonicalize"]["rows_in"] == rows["link"]["rows_out"] > 0
    assert rows["canonicalize"]["rows_in"] == sio.read_table(
        spark, os.path.join(out, "same_as")
    ).count()
    written = {
        r.stage: (r.rows_in, r.rows_out)
        for r in read_lineage(spark, out).filter("partition_id = -1").collect()
    }
    assert written == {s: (r["rows_in"], r["rows_out"]) for s, r in rows.items()}

    for stage in ("link", "canonicalize", "materialize", "entities"):
        os.remove(os.path.join(out, "_checkpoints", f"{stage}.json"))
    again = run_pipeline(spark, df, out, resume=True)
    assert again.stages_skipped == ["extract"]
    resumed = {r["stage"]: r for r in again.lineage}
    assert resumed["link"]["rows_in"] == rows["extract"]["rows_out"]
    assert resumed["link"]["rows_out"] == rows["link"]["rows_out"]
    assert resumed["canonicalize"]["rows_in"] == resumed["link"]["rows_out"]


def _hold_raw_write(monkeypatch, until):
    """Make the triples_raw write wait (at most 60 s) for ``until``;
    returns the list that records whether each wait saw it set."""
    from lexicator_spark.plans import pipeline as P

    real_write = P.sio.write_table
    waited = []

    def write_table(df, location, *args, **kwargs):
        if os.path.basename(location) == "triples_raw":
            waited.append(until.wait(60))
        return real_write(df, location, *args, **kwargs)

    monkeypatch.setattr(P.sio, "write_table", write_table)
    return waited


def test_link_runs_while_triples_raw_is_written(spark, tmp_path, monkeypatch):
    """Stage B links from the Stage-A pin while triples_raw is still
    being written: the raw write waits for link_mentions to be called,
    which a build that writes triples_raw before linking never does
    (its wait times out)."""
    import threading

    from lexicator_spark.plans import pipeline as P

    linking = threading.Event()
    waited = _hold_raw_write(monkeypatch, linking)
    real_link = P.link_mentions

    def link_mentions(*args, **kwargs):
        linking.set()
        return real_link(*args, **kwargs)

    monkeypatch.setattr(P, "link_mentions", link_mentions)
    df = synth.corpus_df(spark, synth.make_corpus(n_convs=12, seed=3))
    res = run_pipeline(spark, df, str(tmp_path / "kg"), resume=False)
    assert linking.is_set()
    assert waited == [True]
    assert res.stages_run == list(P.STAGES)


def test_link_failure_beside_raw_write_keeps_extract_marker(
    spark, tmp_path, monkeypatch
):
    """Stage B fails while the triples_raw write is in flight: the
    build raises B's error only after extract has finished, so the
    extract marker exists and the link marker does not, and a resume
    skips extract and ends with the tables of a clean build."""
    import threading

    import pytest

    from lexicator_spark.plans import pipeline as P

    link_failed = threading.Event()
    waited = _hold_raw_write(monkeypatch, link_failed)

    def link_mentions(*_args, **_kwargs):
        link_failed.set()
        raise RuntimeError("simulated crash in link")

    monkeypatch.setattr(P, "link_mentions", link_mentions)
    df = synth.corpus_df(spark, synth.make_corpus(n_convs=12, seed=4))
    out = str(tmp_path / "kg")
    with pytest.raises(RuntimeError, match="simulated crash in link"):
        run_pipeline(spark, df, out, resume=False)
    assert waited == [True]
    assert P._is_done(spark, out, "extract")
    assert not P._is_done(spark, out, "link")
    monkeypatch.undo()

    res = run_pipeline(spark, df, out, resume=True)
    assert res.stages_skipped == ["extract"]
    clean = str(tmp_path / "clean")
    run_pipeline(spark, df, clean, resume=False)
    assert _stage_tables(spark, out) == _stage_tables(spark, clean)


def test_failed_raw_write_waits_for_rejects_write(spark, tmp_path, monkeypatch):
    """A failed triples_raw write raises out of run_pipeline only after
    the rejects write beside it has returned — no side write outlives
    the call — and leaves no extract marker."""
    import threading
    import time

    import pytest

    from lexicator_spark.plans import pipeline as P

    real_write = P.sio.write_table
    rejects_returned = threading.Event()

    def write_table(df, location, *args, **kwargs):
        name = os.path.basename(location)
        if name == "triples_raw":
            raise RuntimeError("simulated triples_raw write failure")
        if name == "rejects":
            time.sleep(3)
            try:
                return real_write(df, location, *args, **kwargs)
            finally:
                rejects_returned.set()
        return real_write(df, location, *args, **kwargs)

    monkeypatch.setattr(P.sio, "write_table", write_table)
    df = synth.corpus_df(spark, synth.make_corpus(n_convs=12, seed=6))
    out = str(tmp_path / "kg")
    with pytest.raises(RuntimeError, match="simulated triples_raw"):
        run_pipeline(spark, df, out, resume=False)
    assert rejects_returned.is_set()
    assert not P._is_done(spark, out, "extract")


def test_stage_recorder_runs_no_spark_job(spark, tmp_path):
    """Finishing a stage (lineage rows + marker) is driver-side
    small-file I/O: it must never launch a Spark job."""
    from lexicator_spark.plans import pipeline as P

    sc = spark.sparkContext
    group = "stage-recorder-no-job"
    root = str(tmp_path / "kg")
    sc.setJobGroup(group, "stage recorder")
    try:
        P._finish_stage(
            spark, root, P._new_run_id(), "extract", 3, 1, [(0, 1), (1, 2)]
        )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # control: a job in this group IS seen by the tracker
        spark.range(1).count()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert P._is_done(spark, root, "extract")
    rows = read_lineage(spark, root).collect()
    assert sorted((r.partition_id, r.rows_out) for r in rows) == [
        (-1, 3), (0, 1), (1, 2)
    ]


def test_cli_dedup_paragraphs_and_turns_verbs(spark, tmp_path):
    """--dedup paragraphs rewrites docs with corpus-wide duplicate
    paragraphs stripped; --dedup-turns flags verbatim canned turns
    across conversations — both one subprocess each, JSON summary +
    parquet out."""
    import json
    import subprocess
    import sys

    def cli(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark", *argv, "--cpus", "4"],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "unique lead\n\nSHARED FOOTER"), (2, "SHARED FOOTER\n\nown body")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "paras")
    stats = cli("--input", docs_path, "--out", out, "--dedup", "paragraphs")
    assert stats == {
        "dedup_method": "paragraphs", "docs": 2, "paragraphs": 4,
        "paragraphs_dropped": 1, "out": out,
    }
    rows = {r.doc_id: r.text_dedup for r in spark.read.parquet(out).collect()}
    assert rows == {1: "unique lead\n\nSHARED FOOTER", 2: "own body"}

    turns_path = str(tmp_path / "turns")
    spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None),
         ("c1", 1, "assistant", "CANNED DISCLAIMER", None, None),
         ("c2", 0, "assistant", "CANNED DISCLAIMER", None, None),
         ("c2", 1, "user", "different", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(turns_path)
    tout = str(tmp_path / "turns_flagged")
    stats = cli("--input", turns_path, "--out", tout, "--dedup-turns")
    assert stats == {
        "turns": 4, "first_occurrences": 3,
        "boilerplate_repeats": 1, "out": tout,
    }
    flagged = {(r.conv_id, r.turn_idx): r for r in spark.read.parquet(tout).collect()}
    assert flagged[("c1", 1)].is_first and flagged[("c1", 1)].n_copies == 2
    assert not flagged[("c2", 0)].is_first


def test_cli_stage_cutoff(tmp_path):
    """--stage X runs the pipeline up to and including X (the flag was
    previously parsed but ignored — every invocation ran all five
    stages); a later full run resumes from the checkpoints."""
    import json
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", "30", "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    first = run_cli("--stage", "extract")[-1]
    assert first["stages_run"] == ["extract"]
    assert not os.path.exists(os.path.join(out, "entities"))

    second = run_cli("--stage", "canonicalize")[-1]
    assert second["stages_skipped"] == ["extract"]
    assert second["stages_run"] == ["link", "canonicalize"]

    # --refresh on the partly built root finishes the build from the
    # checkpoints, then refreshes (a no-op: same corpus)
    *_, build, refresh = run_cli("--refresh")
    assert build["stages_run"] == ["materialize", "entities"]
    assert refresh["refreshed_convs"] == 0
    for stage in ("extract", "link", "canonicalize", "materialize", "entities"):
        assert os.path.exists(os.path.join(out, "_checkpoints", f"{stage}.json"))


def test_cli_refresh_recovers_after_crash(tmp_path):
    """An in-flight marker left by a refresh that died between its raw
    upsert and the downstream sync must force the next --refresh to
    rebuild the downstream stages even when its own delta is empty
    (the crashed delta is undetectable by then)."""
    import glob
    import json
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", "40", "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    def runs_of(stage):
        return len(glob.glob(os.path.join(out, "_lineage", f"*-{stage}.jsonl")))

    downstream = ("link", "canonicalize", "materialize", "entities")
    run_cli()
    marker = os.path.join(out, "_checkpoints", "_refresh_inflight.json")
    with open(marker, "w") as f:
        f.write('{"inflight": true}')

    stats = run_cli("--refresh")[-1]  # same corpus → no new delta
    assert stats["refreshed_convs"] == 0
    # recovery rebuilt link…entities from the raw table: each wrote
    # a second run's lineage file; extraction did not re-run
    assert [runs_of(s) for s in downstream] == [2, 2, 2, 2]
    assert runs_of("extract") == 1
    assert not os.path.exists(marker)

    # and without a crash, the no-op stays a no-op
    stats = run_cli("--refresh")[-1]
    assert stats["stages_refreshed"] == []
    assert [runs_of(s) for s in downstream] == [2, 2, 2, 2]
    assert not os.path.exists(marker)
