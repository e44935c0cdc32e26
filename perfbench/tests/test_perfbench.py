"""The benchmark's own tests: input determinism, the metric catalogue,
tiny-scale runs of every workload, and failure accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs as gen  # noqa: E402
from perfbench import metrics, oracle, trace  # noqa: E402

TINY_TURNS = 300


def test_inputs_are_deterministic():
    a, b = gen.generate(11, TINY_TURNS), gen.generate(11, TINY_TURNS)
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(gen.generate(12, TINY_TURNS)) != gen.fingerprint(a)
    assert len(a.corpus.rows) >= TINY_TURNS
    # a delta continues each chosen conversation after its last turn:
    # no (conv_id, turn_idx) repeats anywhere in the final snapshot
    snapshot = a.snapshot(len(a.deltas))
    keys = [(r[0], r[1]) for r in snapshot]
    assert len(keys) == len(set(keys))
    assert all(len({r[0] for r in d}) == gen.DELTA_CONVS for d in a.deltas)
    reads = {kind for batch in a.reads for kind, _ in batch}
    assert reads == {"lookup", "conv", "hop2"}


def test_catalogue_matches_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: unit for k, (unit, _) in metrics.END_TO_END.items()
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in metrics.PER_LAYER.items()
    }
    assert [w["name"] for w in spec["workloads"]] == ["build", "refresh"]


def test_unstolen_time_is_part_of_the_wall():
    from perfbench import workloads

    start = workloads.clock()
    sum(range(3_000_000))
    wall, unstolen = workloads.since(start)
    assert 0.0 <= unstolen <= wall


def test_self_time_subtracts_covered_child_time():
    t = trace.Tracer("r", enabled=True)
    t.spans = [
        trace.Span(0, "parent", None, 0.0, 10.0, "r"),
        trace.Span(1, "a", 0, 1.0, 3.0, "r"),
        trace.Span(2, "b", 0, 2.0, 5.0, "r"),  # overlaps a
        trace.Span(3, "c", 0, 7.0, 8.0, "r"),
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(5.0)
    assert t.self_time(t.spans[3]) == pytest.approx(1.0)


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("workload", ["build", "refresh"])
def test_tiny_run_prints_every_metric(workload, trace_flag):
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "3", "--seconds", "1", "--trace", str(trace_flag),
            "--turns", str(TINY_TURNS),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    catalogue = metrics.PER_LAYER if trace_flag else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: unit for k, (unit, _) in catalogue.items()
    }
    printed = {line.split()[0]: line.split()[-1] for line in lines[:-1] if line[:1] != "{"}
    assert printed == {k: unit for k, (unit, _) in catalogue.items()}
    if not trace_flag:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_run_refuses_checkout_without_program(tmp_path):
    """A directory holding only the benchmark exits non-zero and
    prints no result."""
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, check=False,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# -- failure accounting, in process ---------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from lexicator_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench_tests", shuffle_partitions=2)
    yield s
    s.stop()


def test_wrong_answer_is_counted_as_failed(spark, tmp_path, monkeypatch):
    from lexicator_spark import synth
    from lexicator_spark.plans.pipeline import run_pipeline
    from perfbench import workloads

    inputs = gen.generate(5, TINY_TURNS)
    run = workloads.Run(spark, str(tmp_path), inputs, traced=False)
    run_pipeline(spark, synth.corpus_df(spark, inputs.corpus), run.kg,
                 resume=False, n_buckets=workloads.N_BUCKETS)
    run.reader = workloads.Reader(
        spark, run.kg, oracle.conv_buckets(os.path.join(run.kg, "triples_raw"))
    )
    conv = inputs.multi_turn_conv_ids[0]
    batch = [("lookup", "Q_spark"), ("conv", conv), ("hop2", "Q_spark")]
    run.read_batch(batch)  # untraced: the 2-hop read is skipped
    assert (run.attempted, run.failed) == (2, 0)
    run.tracer.enabled = True  # traced: 2-hop read and PageRank too
    run.read_batch(batch)
    assert (run.attempted, run.failed) == (6, 0)
    run.tracer.enabled = False

    real = workloads.Reader.lookup
    monkeypatch.setattr(
        workloads.Reader, "lookup", lambda self, cid: real(self, cid)[1:]
    )
    run.read_batch(batch)
    assert (run.attempted, run.failed) == (8, 1)
    assert "lookup('Q_spark')" in run.errors[0]


def test_corrupted_stage_table_is_counted_as_failed(spark, tmp_path, monkeypatch):
    """A refresh that leaves one stage table with a duplicated file
    fails the end-of-run comparison with a full rebuild."""
    from perfbench import workloads

    real = workloads.refresh_pipeline

    def corrupting(spark, turns, root, **kw):
        res = real(spark, turns, root, **kw)
        victim = oracle.parquet_files(os.path.join(root, "entities"))[0]
        shutil.copy(victim, victim.replace(".parquet", "-dup.parquet"))
        return res

    monkeypatch.setattr(workloads, "refresh_pipeline", corrupting)
    run = workloads.Run(spark, str(tmp_path), gen.generate(7, TINY_TURNS), traced=False)
    workloads.refresh_workload(run, seconds=0)
    assert run.failed == 1
    assert "differ from a full rebuild: entities" in run.errors[0]
