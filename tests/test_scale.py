"""``scripts/scale.py``: every target runs in-process on a small corpus
and keeps its invariants, one ``--level`` child runs through a
subprocess, and every script under ``scripts/`` imports."""

from __future__ import annotations

import importlib
import pathlib

import pytest

from lexicator_spark import synth
from lexicator_spark.plans.pipeline import STAGES
from scripts import scale

N_CONVS = 200


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("scale") / "corpus")
    synth.write_corpus_parquet(spark, path, n_convs=N_CONVS)
    return path


def test_build_target_reads_every_stage_from_lineage(spark, corpus_path):
    r = scale.build(spark, corpus_path, 1)
    assert r["n_turns"] == spark.read.parquet(corpus_path).count()
    assert set(r["stages_s"]) == set(STAGES)
    assert r["wall_s"] > 0
    assert r["compiles"] >= 0


def test_refresh_target_changes_exactly_each_delta(spark, corpus_path):
    r = scale.refresh(spark, corpus_path, 1)
    assert r["n_convs"] == N_CONVS
    assert set(r["build_stages_s"]) == set(STAGES)
    assert r["build_compiles"] >= 0
    for shape in ("detection", "snapshot_feed", "pruned_feed"):
        (run,) = r[shape]["runs"]
        assert run["delta_convs"] > 0, shape
        assert run["n_changed"] == run["delta_convs"], shape
        assert run["compiles"] >= 0, shape
        # each refresh writes its own lineage files, one per stage it
        # refreshed (link and canonicalize only when links changed)
        assert {"extract", "materialize", "entities"} <= set(
            run["stages_refreshed"]
        ), shape
        assert set(run["stages_s"]) == {
            f"refresh:{s}" for s in run["stages_refreshed"]
        }, shape
    assert "raw_upsert_s" in r["pruned_feed"]["runs"][0]
    assert r["wall_s"] == r["pruned_feed"]["min_s"]


def test_backfill_target_matches_one_shot_rows(spark, corpus_path):
    r = scale.backfill(spark, corpus_path, 1)
    assert r["rows_backfill"] == r["rows_one_shot"] > 0
    assert len(r["group_walls_s"]) == scale.BACKFILL_GROUPS


def test_graph_dedup_decontam_targets(spark, corpus_path):
    g = scale.graph(spark, corpus_path, 1)
    assert g["n_edges"] > 0 and g["n_mentions"] > 0
    assert g["wall_s"] == round(g["edges_s"] + g["pagerank10_s"], 2)
    d = scale.dedup(spark, corpus_path, 1)
    assert d["n_docs"] == N_CONVS and d["n_paras"] >= d["n_docs"]
    c = scale.decontam(spark, corpus_path, 1)
    assert c["n_docs"] == (
        spark.read.parquet(corpus_path).filter("text IS NOT NULL").count()
    )


def test_level_child_reports_one_result(tmp_path, monkeypatch):
    # the child finds (here: generates) its corpus in the temp directory
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    r = scale.run_child("decontam", N_CONVS, 2)
    assert r["cpus"] == 2 and r["wall_s"] > 0
    assert (tmp_path / f"bench_kg_corpus_{N_CONVS}" / "_SUCCESS").exists()


def test_every_script_imports():
    scripts = pathlib.Path(scale.__file__).parent
    for path in sorted(scripts.glob("*.py")):
        importlib.import_module(f"scripts.{path.stem}")
