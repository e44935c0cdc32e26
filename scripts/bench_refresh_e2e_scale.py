"""End-to-end refresh at scale: what a sparse delta costs when EVERY
stage table is maintained, not just Stage A.

`scripts/bench_refresh_scale.py` measured the Stage-A ladder (13.9 s
sparse feed refresh vs 136.6 s Stage-A rebuild at 29.3M turns).  But a
real consumer reads the MATERIALIZED graph: after a Stage-A-only
refresh, `--refresh` recomputes link → canonicalize → materialize →
entities from scratch — four more corpus-scale jobs.  This script
measures the `plans.refresh.refresh_pipeline` alternative on the same
29.3M-turn / 9M-conversation corpus:

  1. full five-stage `run_pipeline` (timed — the denominator: this is
     exactly the work a non-incremental deployment re-runs per delta);
  2. two disjoint ~10-conversation feed deltas through
     `refresh_pipeline` (timed individually: run 1 pays the one-time
     `_surface_stats` bootstrap, run 2 is the steady state).

Prints one ``REFRESH_E2E_SCALE_RESULT {...}`` JSON line; recorded in
BENCH/BASELINE.md.  Corpus is the cached scaling corpus from
scripts/bench_scaling.py (regenerated here if absent).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from lexicator_spark import synth
from lexicator_spark.plans.pipeline import run_pipeline
from lexicator_spark.plans.refresh import refresh_pipeline
from lexicator_spark.session import get_spark

N_CONVS = int(sys.argv[1]) if len(sys.argv) > 1 else 9_000_000
CORPUS = f"/tmp/bench_kg_corpus_{N_CONVS}"
ROOT = "/tmp/bench_e2e_refresh"


def main() -> None:
    spark = get_spark(
        master="local[32]", app_name="refresh_e2e_scale", shuffle_partitions=64
    )
    # _SUCCESS alone can't validate a CHUNKED append-mode generation
    # (every chunk leaves one behind — a killed run looks complete):
    # sanity-check the row count against the ~3.26 turns/conv the
    # generator produces and regenerate when truncated.
    def _complete() -> bool:
        if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
            return False
        return spark.read.parquet(CORPUS).count() >= 3 * N_CONVS

    if not _complete():
        shutil.rmtree(CORPUS, ignore_errors=True)
        synth.write_corpus_parquet(spark, CORPUS, n_convs=N_CONVS)
    turns = spark.read.parquet(CORPUS)
    n_turns = turns.count()

    shutil.rmtree(ROOT, ignore_errors=True)
    kg = os.path.join(ROOT, "kg")
    t0 = time.monotonic()
    run_pipeline(spark, turns, kg, resume=False)
    full_wall = round(time.monotonic() - t0, 1)

    # one new turn appended to ~10 conversations per delta; the two
    # deltas are disjoint (mods 0/1 of a modulus ≈ n_convs/10), each
    # carried through feed mode — the production RecentChanges loop
    last = (
        turns.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("conv_id").orderBy(F.desc("turn_idx"))),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    turns_now = turns
    walls, metas = [], []
    for mod in (0, 1):
        extra = last.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(N_CONVS // 10)) == mod
        ).withColumn("turn_idx", F.col("turn_idx") + 1)
        feed = extra.select("conv_id").distinct().localCheckpoint(eager=True)
        turns_now = turns_now.unionByName(extra).localCheckpoint(eager=True)
        t0 = time.monotonic()
        res = refresh_pipeline(spark, turns_now, kg, change_feed=feed)
        walls.append(round(time.monotonic() - t0, 1))
        metas.append(
            {
                "n_changed": res.n_changed,
                "buckets": res.n_buckets_touched,
                "surfaces_added": res.surfaces_added,
                "surfaces_removed": res.surfaces_removed,
                "links_changed": res.links_changed,
            }
        )

    # ── fully-pruned path: bucketed raw-turns table + feed, so the
    # Stage-A re-extraction reads only the fed conversations' buckets
    # (refresh_triples_partitioned given its location) instead of
    # semi-joining the whole snapshot.
    # Staging the raw table is untimed (a production loop maintains
    # it continuously); the per-delta raw upsert IS timed separately,
    # mirroring scripts/bench_refresh_invariance.py.
    from lexicator_spark.sources import io as sio

    raw_turns = os.path.join(ROOT, "raw_turns")
    sio.write_table(turns_now, raw_turns, partition_key="conv_id")
    pruned_walls, upsert_walls, pruned_metas = [], [], []
    for mod in (2, 3):
        extra = (
            last.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(N_CONVS // 10)) == mod
            )
            .withColumn("turn_idx", F.col("turn_idx") + 1)
            .localCheckpoint(eager=True)
        )
        feed = extra.select("conv_id").distinct().localCheckpoint(eager=True)
        # replacement content for the touched buckets = existing turns
        # of those conversations' buckets + the new turns
        t0 = time.monotonic()
        touched = sorted(
            r.p
            for r in feed.select(
                F.pmod(F.xxhash64("conv_id"), F.lit(sio.DEFAULT_BUCKETS))
                .cast("int")
                .alias("p")
            ).distinct().collect()
        )
        kept = (
            sio.read_table(spark, raw_turns, keep_bucket_col=True)
            .filter(F.col("p_hash").isin(touched))
            .drop("p_hash")
        )
        sio.upsert_partitions(
            kept.unionByName(extra).localCheckpoint(eager=True),
            raw_turns,
            partition_key="conv_id",
            touched_buckets=touched,
        )
        upsert_walls.append(round(time.monotonic() - t0, 1))
        t0 = time.monotonic()
        res = refresh_pipeline(
            spark, None, kg, change_feed=feed, turns_location=raw_turns
        )
        pruned_walls.append(round(time.monotonic() - t0, 1))
        pruned_metas.append(
            {"n_changed": res.n_changed, "buckets": res.n_buckets_touched}
        )

    result = {
        "n_turns": n_turns,
        "n_convs": N_CONVS,
        "full_pipeline_s": full_wall,
        "e2e_refresh_run1_s": walls[0],
        "e2e_refresh_run2_s": walls[1],
        "deltas": metas,
        "e2e_pruned_raw_upsert_s": upsert_walls,
        "e2e_pruned_refresh_s": pruned_walls,
        "pruned_deltas": pruned_metas,
        "advantage_snapshot": round(full_wall / min(walls), 1),
        "advantage_pruned": round(full_wall / min(pruned_walls), 1),
    }
    print("REFRESH_E2E_SCALE_RESULT " + json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
