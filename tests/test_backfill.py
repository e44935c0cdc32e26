"""Crash-resumable chunked backfill (sub-stage resume, north_rule
"checkpoints per-partition extraction state … resumes mid-run")."""

from __future__ import annotations

import json
import os

import pytest

from lexicator_spark import synth
from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.incremental import (
    backfill_triples,
    refresh_triples_partitioned,
)
from lexicator_spark.sources import io as sio


def _tset(df):
    return {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in df.select("subj", "pred", "obj", "conv_id", "turn_idx").collect()
    }


def _mk_turns(spark, n=60, seed=7):
    return synth.corpus_df(spark, synth.make_corpus(n_convs=n, seed=seed))


def test_backfill_equals_full_build(spark, tmp_path):
    turns = _mk_turns(spark)
    loc = str(tmp_path / "triples_raw")
    rej = str(tmp_path / "rejects")
    res = backfill_triples(
        spark, turns, loc, n_buckets=8, n_groups=4, rejects_location=rej
    )
    assert res.complete and res.groups_run == [0, 1, 2, 3]
    good, rejects = split_rejects(extract_triples(turns))
    assert _tset(sio.read_table(spark, loc)) == _tset(good)
    assert _tset(sio.read_table(spark, rej)) == _tset(rejects)
    # frontier complete → detection refresh on the same snapshot is a
    # true no-op (the table is immediately delta-refreshable)
    refreshed = refresh_triples_partitioned(spark, turns, loc)
    assert (refreshed.n_changed, refreshed.n_buckets_touched) == (0, 0)
    # marker records completion
    marker = json.loads((tmp_path / "triples_raw" / "_backfill.json").read_text())
    assert sorted(marker["done"]) == [0, 1, 2, 3]


def test_backfill_chunked_resume_and_refresh_guard(spark, tmp_path):
    turns = _mk_turns(spark, n=50, seed=11)
    loc = str(tmp_path / "triples_raw")

    res = backfill_triples(
        spark, turns, loc, n_buckets=8, n_groups=4, max_groups_per_call=1
    )
    assert res.groups_run == [0] and not res.complete
    # partial table: only group-0 buckets may exist on disk
    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(loc)
        if d.startswith("p_hash=")
    }
    assert on_disk <= {0, 4}
    # refreshing an unfinished backfill is refused
    with pytest.raises(ValueError, match="unfinished backfill"):
        refresh_triples_partitioned(spark, turns, loc)

    # crash between a group's upserts and its marker write: rewind the
    # marker by one group and re-run — the group re-upserts
    # idempotently and the build still converges
    res = backfill_triples(
        spark, turns, loc, n_buckets=8, n_groups=4, max_groups_per_call=1
    )
    assert res.groups_run == [1]
    from lexicator_spark.sources import fsutil

    mpath = str(tmp_path / "triples_raw" / "_backfill.json")
    marker = json.loads(fsutil.read_text(spark, mpath))
    marker["done"] = [0]
    # through fsutil (as the operator writes it): plain-Python edits
    # would break the Hadoop local-FS .crc sidecar
    fsutil.write_text(spark, mpath, json.dumps(marker))

    res = backfill_triples(spark, turns, loc, n_buckets=8, n_groups=4)
    assert res.groups_run == [1, 2, 3] and res.groups_skipped == [0]
    assert res.complete
    good, _ = split_rejects(extract_triples(turns))
    assert _tset(sio.read_table(spark, loc)) == _tset(good)
    # completed: a further call is a full no-op
    res = backfill_triples(spark, turns, loc, n_buckets=8, n_groups=4)
    assert res.groups_run == [] and res.complete


def test_backfill_pruned_from_bucketed_location(spark, tmp_path):
    turns = _mk_turns(spark, n=50, seed=13)
    good, _ = split_rejects(extract_triples(turns))

    # raw modulus a multiple of the stage modulus → exact pruning path
    raw16 = str(tmp_path / "turns16")
    sio.write_table(turns, raw16, partition_key="conv_id", n_buckets=16)
    loc = str(tmp_path / "stage_a")
    res = backfill_triples(spark, raw16, loc, n_buckets=8, n_groups=4)
    assert res.complete and _tset(sio.read_table(spark, loc)) == _tset(good)

    # raw modulus NOT a multiple → correct via the unpruned fallback
    raw6 = str(tmp_path / "turns6")
    sio.write_table(turns, raw6, partition_key="conv_id", n_buckets=6)
    loc_b = str(tmp_path / "stage_b")
    res = backfill_triples(spark, raw6, loc_b, n_buckets=8, n_groups=4)
    assert res.complete and _tset(sio.read_table(spark, loc_b)) == _tset(good)


def test_backfill_guards(spark, tmp_path):
    turns = _mk_turns(spark, n=20, seed=17)
    # existing complete (non-backfill) stage table → refuse
    loc = str(tmp_path / "existing")
    sio.write_table(extract_triples(turns), loc, partition_key="conv_id")
    with pytest.raises(ValueError, match="already exists"):
        backfill_triples(spark, turns, loc)
    # resume with different chunking → refuse
    loc2 = str(tmp_path / "chunked")
    backfill_triples(
        spark, turns, loc2, n_buckets=8, n_groups=4, max_groups_per_call=1
    )
    with pytest.raises(ValueError, match="refusing to resume"):
        backfill_triples(spark, turns, loc2, n_buckets=8, n_groups=2)
    # unbucketed location string → refuse, WITHOUT stranding a
    # progress marker on the stage location: a corrected retry on the
    # same stage must start clean instead of raising "unfinished
    # backfill (0/N groups)"
    flat = str(tmp_path / "flat")
    turns.write.parquet(flat)
    stage_c = str(tmp_path / "stage_c")
    with pytest.raises(ValueError, match="not bucketed"):
        backfill_triples(spark, flat, stage_c)
    got = backfill_triples(spark, turns, stage_c, n_groups=2)
    assert got.complete and got.groups_run == [0, 1]


def test_cli_backfill_pipeline(tmp_path):
    """--backfill N: chunked Stage A + normal downstream; re-run
    resumes to a full no-op."""
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", "60", "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    final = run_cli("--backfill", "4")[-1]
    assert set(final["stages_run"]) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }
    assert final["lineage"][0]["stage"] == "extract"
    assert final["lineage"][0]["rows_out"] > 0
    final = run_cli("--backfill", "4")[-1]
    assert final["stages_run"] == []


@pytest.mark.parametrize("n_buckets,n_groups", [(8, 8), (4, 7), (8, 3)])
def test_backfill_group_alignment_boundaries(spark, tmp_path, n_buckets, n_groups):
    """Group/bucket alignment edges: one bucket per group
    (n_groups == n_buckets), more groups than buckets (trailing groups
    own zero buckets and must no-op cleanly), and non-divisible
    group counts."""
    turns = _mk_turns(spark, n=40, seed=31)
    loc = str(tmp_path / f"stage_{n_buckets}_{n_groups}")
    res = backfill_triples(
        spark, turns, loc, n_buckets=n_buckets, n_groups=n_groups
    )
    assert res.complete
    good, _ = split_rejects(extract_triples(turns))
    assert _tset(sio.read_table(spark, loc)) == _tset(good)
    # the finished table is immediately delta-refreshable
    assert refresh_triples_partitioned(spark, turns, loc).n_changed == 0


def test_backfill_first_group_crash_resumes(spark, tmp_path):
    """Crash INSIDE the first group (after its upsert created the
    stage sidecars, before any progress was recorded): the eager
    marker write makes this state resumable instead of tripping the
    existing-table guard."""
    from lexicator_spark.sources import fsutil

    turns = _mk_turns(spark, n=30, seed=43)
    loc = str(tmp_path / "triples_raw")
    backfill_triples(spark, turns, loc, n_buckets=8, n_groups=4,
                     max_groups_per_call=1)
    # model the worst crash point: sidecars exist, zero recorded
    # progress — exactly what dying mid-first-group leaves behind
    mpath = str(tmp_path / "triples_raw" / "_backfill.json")
    fsutil.write_text(
        spark, mpath,
        json.dumps({"n_buckets": 8, "n_groups": 4, "done": []}),
    )
    res = backfill_triples(spark, turns, loc, n_buckets=8, n_groups=4)
    assert res.complete and res.groups_run == [0, 1, 2, 3]
    good, _ = split_rejects(extract_triples(turns))
    assert _tset(sio.read_table(spark, loc)) == _tset(good)
    # degenerate chunking argument is rejected up front
    with pytest.raises(ValueError, match="max_groups_per_call"):
        backfill_triples(spark, turns, str(tmp_path / "x"),
                         max_groups_per_call=0)


def test_pipeline_backfill_no_resume_rebuilds(spark, tmp_path):
    """resume=False with backfill_groups must rebuild from the new
    corpus: a completed _backfill.json from a prior run previously
    made backfill_triples find zero pending groups and silently keep
    the STALE Stage-A table while extract was marked done."""
    from lexicator_spark.plans.pipeline import run_pipeline

    turns_a = _mk_turns(spark, n=20, seed=1)
    turns_b = _mk_turns(spark, n=20, seed=2)
    out = str(tmp_path / "kg")
    run_pipeline(spark, turns_a, out, resume=True, backfill_groups=2,
                 n_buckets=4)
    run_pipeline(spark, turns_b, out, resume=False, backfill_groups=2,
                 n_buckets=4)
    expect, _ = split_rejects(extract_triples(turns_b))
    got = sio.read_table(spark, os.path.join(out, "triples_raw"))
    assert _tset(got) == _tset(expect)


def test_resume_skip_does_not_stamp_frontier(spark, tmp_path):
    """A marker-skipped resume must NOT materialize a frontier from
    the CURRENT turns snapshot: on a root that lost its _frontier,
    with a newer snapshot, stamping would record never-extracted
    conversations as processed — their triples would then be missing
    from every future refresh with no error.  The resume writes the
    frontier from triples_raw's own rows instead, so a detection
    refresh then extracts the conversations only the newer snapshot
    holds."""
    import shutil

    from pyspark.sql import functions as F

    from lexicator_spark.plans.pipeline import run_pipeline
    from lexicator_spark.plans.refresh import refresh_pipeline

    def maxima(df):
        return {
            (r.conv_id, r.m)
            for r in df.filter(F.col("conv_id").isNotNull())
            .groupBy("conv_id")
            .agg(F.max("turn_idx").alias("m"))
            .collect()
        }

    turns = _mk_turns(spark, n=15, seed=3)
    out = str(tmp_path / "kg")
    run_pipeline(spark, turns, out, resume=True, n_buckets=4)
    raw = os.path.join(out, "triples_raw")
    floc = os.path.join(raw, "_frontier")
    shutil.rmtree(floc)  # a root whose frontier side job never landed
    newer = _mk_turns(spark, n=25, seed=3)
    res = run_pipeline(spark, newer, out, resume=True, n_buckets=4)
    assert res.stages_run == []
    frontier = {
        (r.conv_id, r.done_max_idx) for r in sio.read_table(spark, floc).collect()
    }
    assert frontier == maxima(sio.read_table(spark, raw))
    assert frontier != maxima(newer)

    good, _ = split_rejects(extract_triples(newer))
    only_newer = {t for t in _tset(good) if t[3] not in {c for c, _ in frontier}}
    assert only_newer, "fixture: the newer snapshot must add extracted triples"
    refresh_pipeline(spark, newer, out)
    assert _tset(sio.read_table(spark, raw)) == _tset(good)


def test_backfill_non_conv_id_bucketed_falls_back_unpruned(spark, tmp_path):
    """A location bucketed on some OTHER key must not take the pruned
    path: its p_hash is not hash(conv_id) mod raw_n, so the
    bucket→group map would route most rows to a group whose conv_id
    filter then discards them — silently, with the marker recording
    every group done.  The fallback scans unpruned with the exact
    conv_id group filter, which is correct for any layout."""
    turns = _mk_turns(spark, n=40, seed=19)
    good, _ = split_rejects(extract_triples(turns))
    raw = str(tmp_path / "turns_by_tool")
    # 16 % 8 == 0, so WITHOUT the key check this would take the
    # (wrong) pruned path
    sio.write_table(turns, raw, partition_key="tool", n_buckets=16)
    loc = str(tmp_path / "stage")
    res = backfill_triples(spark, raw, loc, n_buckets=8, n_groups=4)
    assert res.complete and _tset(sio.read_table(spark, loc)) == _tset(good)


def test_rebuild_clears_markers_and_lineage(spark, tmp_path):
    """resume=False must clear _checkpoints and _lineage along with
    the stage tables it rebuilds: stale markers would let a
    crash-mid-rebuild-then-resume skip downstream stages on the
    strength of the PREVIOUS corpus (mixed-corpus serving), and
    append-mode lineage would keep the old corpus's rows next to the
    new ones, double-counting every stage total."""
    from lexicator_spark.plans.pipeline import read_lineage, run_pipeline

    turns_a = _mk_turns(spark, n=15, seed=5)
    turns_b = _mk_turns(spark, n=15, seed=6)
    out = str(tmp_path / "kg")
    run_pipeline(spark, turns_a, out, resume=True, n_buckets=4)
    run_pipeline(spark, turns_b, out, resume=False, n_buckets=4)

    lin_df = read_lineage(spark, out)
    stage_rows = lin_df.filter("partition_id = -1").collect()
    stages = [r.stage for r in stage_rows]
    # exactly one stage-level row per stage — no corpus-A leftovers
    assert sorted(stages) == sorted(set(stages))
    # and the extract row describes corpus B, not A
    expect_b, _ = split_rejects(extract_triples(turns_b))
    extract_out = [r.rows_out for r in stage_rows if r.stage == "extract"][0]
    assert extract_out == expect_b.count()
