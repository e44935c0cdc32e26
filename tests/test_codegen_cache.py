"""Generated code is compiled once per JVM.

``session.get_spark`` sizes Spark's generated-code cache
(``CODEGEN_CACHE_ENTRIES``) to the engine's working set, so a call made
right after a warm-up call of the same shape compiles nothing new: at
Spark's default of 100 entries a warm build recompiled about 90 classes
and a warm refresh delta about 140.  Compiles are read from Spark's
codegen metrics around the call, jobs from the scheduler's job counter,
so jobs the engine's pool threads submit are counted too.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from lexicator_spark import session, synth
from lexicator_spark.plans.pipeline import run_pipeline
from lexicator_spark.plans.refresh import refresh_pipeline
from lexicator_spark.sources import io as sio

N_BUCKETS = 8
# jobs of a warm links-unchanged feed delta: 38 before the feed path
# filtered on its id list and the surface diff became one aggregate
JOB_BUDGET = 30


def _counted(spark, action):
    """``(classes compiled, Spark jobs submitted)`` while ``action()``
    runs, from any thread."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    sched = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001
    c0, j0 = compiles.getCount(), int(sched.nextJobId())
    action()
    return compiles.getCount() - c0, int(sched.nextJobId()) - j0


def test_warm_build_compiles_nothing(spark, tmp_path):
    turns = synth.corpus_df(spark, synth.make_corpus(n_convs=40, seed=31))
    root = str(tmp_path / "kg")

    def build():
        run_pipeline(spark, turns, root, resume=False, n_buckets=N_BUCKETS)

    build()
    compiles, _jobs = _counted(spark, build)
    assert compiles == 0, compiles


@pytest.fixture(scope="module")
def warm_delta(spark, tmp_path_factory):
    """A feed refresh over a bucketed raw-turns table, the perfbench
    ``refresh`` shape: a build, one warm-up delta, then a measured
    delta of as many conversations in other buckets.  Each delta
    repeats a conversation's last turn after it, so it mentions no new
    surface and takes the links-unchanged path.  Returns the measured
    delta's result, compiles and jobs."""
    tmp = tmp_path_factory.mktemp("warm_delta")
    corpus = synth.make_corpus(n_convs=40, seed=37)
    raw, root = str(tmp / "raw_turns"), str(tmp / "kg")
    sio.write_table(
        synth.corpus_df(spark, corpus), raw, partition_key="conv_id",
        n_buckets=N_BUCKETS,
    )
    run_pipeline(spark, sio.read_table(spark, raw), root, n_buckets=N_BUCKETS)

    last = {}
    for row in corpus.rows:
        if row[0] not in last or row[1] > last[row[0]][1]:
            last[row[0]] = row
    bucket_of = {
        r.conv_id: r.b
        for r in sio.read_table(spark, raw, keep_bucket_col=True)
        .select("conv_id", F.col("p_hash").alias("b"))
        .distinct()
        .collect()
    }
    # two deltas of three conversations each, on disjoint bucket sets
    by_bucket = sorted(set(bucket_of.values()))
    convs = sorted(last)

    def pick(buckets):
        return [c for c in convs if bucket_of[c] in buckets][:3]

    deltas = [pick(by_bucket[::2]), pick(by_bucket[1::2])]
    assert all(len(d) == 3 for d in deltas), deltas

    def apply(conv_ids):
        rows = [
            (c, last[c][1] + 1, *last[c][2:]) for c in conv_ids
        ]
        touched = sorted({bucket_of[c] for c in conv_ids})
        kept = (
            sio.read_table(spark, raw, keep_bucket_col=True)
            .filter(F.col("p_hash").isin(touched))
            .drop("p_hash")
        )
        sio.upsert_partitions(
            kept.unionByName(synth.corpus_df(spark, synth.Corpus(rows=rows)))
            .localCheckpoint(eager=True),
            raw, partition_key="conv_id", n_buckets=N_BUCKETS,
            touched_buckets=touched,
        )
        feed = spark.createDataFrame([(c,) for c in conv_ids], "conv_id string")
        out = []
        counts = _counted(
            spark,
            lambda: out.append(
                refresh_pipeline(
                    spark, None, root, change_feed=feed, turns_location=raw
                )
            ),
        )
        return out[0], *counts

    apply(deltas[0])
    return apply(deltas[1])


def test_warm_refresh_delta_compiles_at_most_ten(warm_delta):
    res, compiles, _jobs = warm_delta
    assert res.n_changed == 3 and not res.links_changed, res
    assert compiles <= 10, compiles


def test_warm_refresh_delta_job_budget(warm_delta):
    """The feed path answers its size, buckets and ids in one collect
    and filters on the id list, with no pin of the feed and no
    broadcast of it; the surface diff is one grouped aggregate."""
    res, _compiles, jobs = warm_delta
    assert res.n_changed == 3 and not res.links_changed, res
    assert jobs <= JOB_BUDGET, jobs


def test_codegen_cache_check_warns_below_engine_size(spark, caplog):
    have = int(spark.conf.get(session.CODEGEN_CACHE_CONF))
    assert have >= session.CODEGEN_CACHE_ENTRIES
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.check_codegen_cache(spark, have)
        assert not caplog.records
        assert not session.check_codegen_cache(spark, have + 1)
    (record,) = caplog.records
    assert session.CODEGEN_CACHE_CONF in record.getMessage()
    assert f"is {have} in this session, below the engine's {have + 1}" in (
        record.getMessage()
    )


def test_get_spark_on_live_session_warns_when_cache_cannot_grow(spark, caplog):
    """``getOrCreate`` ignores static confs on a live session: asking
    for a larger cache there is reported, not silently dropped."""
    have = int(spark.conf.get(session.CODEGEN_CACHE_CONF))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        again = session.get_spark(
            master="local[4]",
            extra_conf={session.CODEGEN_CACHE_CONF: str(have * 2)},
        )
    assert again is spark
    assert int(spark.conf.get(session.CODEGEN_CACHE_CONF)) == have
    assert any(
        f"below the engine's {have * 2}" in r.getMessage() for r in caplog.records
    )
