"""One-off refresh-vs-full-rebuild measurement at scale (round 5).

bench.py's sf0.1 refresh probe answers "does the refresh path work and
what does it cost on the driver box" — but at 1M turns the full
Stage-A rebuild itself is ~6 s, BELOW the refresh path's fixed floor
(frontier read, change-detection aggregate over the current turns
snapshot, two partition-pruned upserts: ~10 Spark jobs of scheduling
overhead).  The ratio a real user cares about only emerges when
rebuild cost >> job overhead, i.e. at scale.

Measured on the cached 29.3M-turn scaling corpus (9M conversations,
/tmp/bench_kg_corpus_9000000 from scripts/bench_scaling.py) at
local[32]:

  * full rebuild   = extract_triples over all turns + bucketed write
    (the exact work a refresh replaces)
  * sparse refresh = ~9 conversations gain one turn (the
    RecentChanges-shaped steady state), detection mode (the refresh
    diffs the snapshot against the frontier) AND feed mode (the
    changed conv_ids are supplied, as lexicator's RecentChanges poll
    supplies changed page titles — no snapshot-wide detection)
  * 1% refresh     = ~90k conversations gain one turn (the
    degradation bound: the delta hashes into every bucket), both modes

The first refresh also pays the one-time frontier bootstrap (full
triples scan + full frontier write) and is reported separately.

Deltas are staged as small parquet files and unioned lazily onto the
base corpus — the previous version chained eager localCheckpoints of
the full 29.3M-row union per phase, which accumulated four corpus
copies in the block manager and OOM-killed the final phase.

Prints one ``REFRESH_SCALE_RESULT {...}`` JSON line; each phase's raw
wall is printed as it lands so a killed run still yields data.
Results are recorded in BENCH/BASELINE.md, not BENCH_r*.json (the
driver bench stays timeboxed at sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.incremental import refresh_triples_partitioned
from lexicator_spark.session import get_spark
from lexicator_spark.sources import io as sio

CORPUS = os.environ.get("REFRESH_SCALE_CORPUS", "/tmp/bench_kg_corpus_9000000")
ROOT = "/tmp/bench_refresh_scale"
STAGE = os.path.join(ROOT, "triples_raw")
LAST = os.path.join(ROOT, "last_turns")
DELTAS = os.path.join(ROOT, "deltas")


def main() -> None:
    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        raise SystemExit(f"corpus missing: {CORPUS} (generate via bench_scaling.py)")
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(DELTAS)

    spark = get_spark(master="local[32]", shuffle_partitions=64,
                      app_name="refresh_scale")
    turns = spark.read.parquet(CORPUS)
    n_turns = turns.count()
    out: dict = {"n_turns": n_turns}

    # ── full Stage-A rebuild: the work refresh replaces ────────────
    t0 = time.monotonic()
    good, _ = split_rejects(extract_triples(turns))
    sio.write_table(good, STAGE, partition_key="conv_id")
    out["full_rebuild_s"] = round(time.monotonic() - t0, 2)
    print(f"PHASE full_rebuild {out['full_rebuild_s']}s", flush=True)

    # per-conv last turn, staged once to parquet (outside timing); each
    # delta = filtered slice of it with turn_idx+1 — a real deployment
    # reads these rows off a change feed
    (
        turns.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("conv_id").orderBy(F.desc("turn_idx"))),
        )
        .filter("rn = 1")
        .drop("rn")
        .write.parquet(LAST)
    )
    last_turns = spark.read.parquet(LAST)

    n_deltas = 0

    def add_delta(modulus: int, residue: int) -> None:
        nonlocal n_deltas
        (
            last_turns.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(modulus)) == residue
            )
            .withColumn("turn_idx", F.col("turn_idx") + 1)
            .write.parquet(os.path.join(DELTAS, f"d{n_deltas}"))
        )
        n_deltas += 1

    def turns_now():
        # base ∪ staged deltas, lazy — no driver/block-manager residency
        return turns.unionByName(spark.read.parquet(os.path.join(DELTAS, "d*")))

    def latest_feed(spark_df):
        # the just-written delta's conv_ids = the change feed
        return spark_df.select("conv_id").distinct()

    # ── refresh 1: sparse delta + one-time frontier bootstrap ──────
    add_delta(1_000_000, 2)
    t0 = time.monotonic()
    res = refresh_triples_partitioned(spark, turns_now(), STAGE)
    out["refresh_bootstrap_s"] = round(time.monotonic() - t0, 2)
    out["refresh_bootstrap_meta"] = [res.n_changed, res.n_buckets_touched]
    print(f"PHASE refresh_bootstrap {out['refresh_bootstrap_s']}s "
          f"changed={res.n_changed} buckets={res.n_buckets_touched}", flush=True)

    def run_phase(name: str, residues, modulus: int, feed_mode: bool) -> None:
        walls, meta = [], None
        for residue in residues:
            add_delta(modulus, residue)
            now = turns_now()
            feed = None
            if feed_mode:
                feed = latest_feed(
                    spark.read.parquet(os.path.join(DELTAS, f"d{n_deltas - 1}"))
                )
            t0 = time.monotonic()
            res = refresh_triples_partitioned(spark, now, STAGE, change_feed=feed)
            if res.n_changed == 0 and len(residues) > 1:
                continue  # empty residue at small scale: not a steady-state sample
            walls.append(round(time.monotonic() - t0, 2))
            meta = [res.n_changed, res.n_buckets_touched]
            print(f"PHASE {name} {walls[-1]}s "
                  f"changed={res.n_changed} buckets={res.n_buckets_touched}",
                  flush=True)
        out[f"{name}_s"] = min(walls)
        out[f"{name}_meta"] = meta
        out[f"{name}_vs_full_ratio"] = round(
            out["full_rebuild_s"] / out[f"{name}_s"], 1
        )

    # sparse steady state, detection mode then feed mode (min-of-2,
    # disjoint residues so every refresh has real work)
    run_phase("refresh_sparse", (3, 4), 1_000_000, feed_mode=False)
    run_phase("refresh_sparse_feed", (5, 6), 1_000_000, feed_mode=True)

    # 1% scattered delta (degradation bound), both modes
    run_phase("refresh_1pct", (7,), 100, feed_mode=False)
    run_phase("refresh_1pct_feed", (8,), 100, feed_mode=True)

    # ── fully delta-scoped loop (feed refresh from the raw table's
    # location): raw turns live in a bucketed table, each batch is
    # bucket-upserted along with its conv_id feed, and the refresh
    # prunes BOTH the raw read and
    # the stage read to the fed conversations' buckets.  Staged from
    # the base corpus (untimed): convs fed below were never bumped
    # above, so their raw content is current.
    RAW = os.path.join(ROOT, "turns_bucketed")
    sio.write_table(turns, RAW, partition_key="conv_id")
    print("PHASE raw_staged", flush=True)

    def run_pruned_phase(name: str, residues, modulus: int) -> None:
        upserts, walls, meta = [], [], None
        for residue in residues:
            add_delta(modulus, residue)
            delta_df = spark.read.parquet(os.path.join(DELTAS, f"d{n_deltas - 1}"))
            feed = delta_df.select("conv_id").distinct().localCheckpoint(eager=True)
            if feed.count() == 0 and len(residues) > 1:
                continue
            t_touched = [
                r.p
                for r in feed.select(
                    F.pmod(F.xxhash64("conv_id"), F.lit(sio.DEFAULT_BUCKETS))
                    .cast("int").alias("p")
                ).distinct().collect()
            ]
            # ingest upsert: complete replacement content for the
            # touched raw buckets (existing co-bucketed rows + delta)
            t0 = time.monotonic()
            pruned_existing = (
                sio.read_table(spark, RAW, keep_bucket_col=True)
                .filter(F.col("p_hash").isin(t_touched))
                .drop("p_hash")
            )
            sio.upsert_partitions(
                pruned_existing.unionByName(delta_df), RAW,
                partition_key="conv_id", touched_buckets=t_touched,
            )
            upserts.append(round(time.monotonic() - t0, 2))
            t0 = time.monotonic()
            res = refresh_triples_partitioned(spark, RAW, STAGE, change_feed=feed)
            walls.append(round(time.monotonic() - t0, 2))
            meta = [res.n_changed, res.n_buckets_touched]
            print(f"PHASE {name} upsert={upserts[-1]}s refresh={walls[-1]}s "
                  f"changed={res.n_changed} buckets={res.n_buckets_touched}",
                  flush=True)
        if not walls:
            print(f"PHASE {name} skipped: every residue empty at this scale",
                  flush=True)
            return
        out[f"{name}_upsert_s"] = min(upserts)
        out[f"{name}_s"] = min(walls)
        out[f"{name}_meta"] = meta
        out[f"{name}_vs_full_ratio"] = round(
            out["full_rebuild_s"] / out[f"{name}_s"], 1
        )

    run_pruned_phase("refresh_sparse_pruned", (9, 10), 1_000_000)
    run_pruned_phase("refresh_1pct_pruned", (11,), 100)

    print("REFRESH_SCALE_RESULT " + json.dumps(out), flush=True)
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
