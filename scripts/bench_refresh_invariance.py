"""Scale invariance of the O(delta) refresh: the sparse feed-refresh
wall should track BUCKET size, not corpus size.

SCALE.md's partitioning convention says P (the conv_id bucket modulus)
scales with data so a bucket stays a few GB.  If that holds, the cost
of a feed refresh from the bucketed raw table
(`refresh_triples_partitioned(spark, raw, stage, change_feed=feed)`)
for a fixed-size delta — read the touched raw buckets, re-extract the
fed conversations, rewrite the touched stage buckets — is
∝ corpus_size / P and should be ~CONSTANT across corpus
sizes once P is sized proportionally.  This script measures exactly
that, both corpus sizes in ONE session (same box-speed regime):

  * 29,290,636 turns (9M convs),  P = 64   → bucket ≈ 458k turns
  * 97,485,013 turns (30M convs), P = 192  → bucket ≈ 508k turns

Per corpus: stage the bucketed raw table + build the stage table
(full rebuild, timed — the denominator), materialize the frontier
(timed), then two disjoint ~10-conversation feed deltas through the
full production loop (raw bucket-upsert timed separately from the
refresh, min-of-2).

Prints one ``REFRESH_INVARIANCE_RESULT {...}`` JSON line; recorded in
BENCH/BASELINE.md.  Corpora are the cached scaling corpora from
scripts/bench_scaling.py.
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

from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.incremental import (
    materialize_frontier,
    refresh_triples_partitioned,
)
from lexicator_spark.session import get_spark
from lexicator_spark.sources import io as sio

ROOT = "/tmp/bench_refresh_invariance"
CONFIGS = [
    ("/tmp/bench_kg_corpus_9000000", 64),
    ("/tmp/bench_kg_corpus_30000000", 192),
]


def main() -> None:
    for corpus, _ in CONFIGS:
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            raise SystemExit(f"corpus missing: {corpus} (bench_scaling.py)")
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT)

    spark = get_spark(master="local[32]", shuffle_partitions=64,
                      app_name="refresh_invariance")
    results = {}
    for corpus, p in CONFIGS:
        tag = os.path.basename(corpus).rsplit("_", 1)[1]
        raw = os.path.join(ROOT, f"raw_{tag}")
        stage = os.path.join(ROOT, f"stage_{tag}")
        turns = spark.read.parquet(corpus)
        out = {"n_buckets": p, "n_turns": turns.count()}

        sio.write_table(turns, raw, partition_key="conv_id", n_buckets=p)
        print(f"PHASE {tag} raw_staged", flush=True)

        t0 = time.monotonic()
        good, _ = split_rejects(extract_triples(turns))
        sio.write_table(good, stage, partition_key="conv_id", n_buckets=p)
        out["full_rebuild_s"] = round(time.monotonic() - t0, 2)
        print(f"PHASE {tag} full_rebuild {out['full_rebuild_s']}s", flush=True)

        t0 = time.monotonic()
        assert materialize_frontier(spark, turns, stage)
        out["frontier_materialize_s"] = round(time.monotonic() - t0, 2)
        print(f"PHASE {tag} frontier {out['frontier_materialize_s']}s",
              flush=True)

        # ~10-conv deltas: last turn of matching convs gains one turn
        last = (
            turns.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
                ),
            )
            .filter("rn = 1")
            .drop("rn")
        )
        upserts, walls, meta = [], [], None
        for residue in (2, 3):
            delta_path = os.path.join(ROOT, f"delta_{tag}_{residue}")
            (
                last.filter(
                    F.pmod(F.xxhash64("conv_id"), F.lit(1_000_000)) == residue
                )
                .withColumn("turn_idx", F.col("turn_idx") + 1)
                .write.parquet(delta_path)
            )
            delta = spark.read.parquet(delta_path)
            feed = delta.select("conv_id").distinct().localCheckpoint(eager=True)
            touched = [
                r.b
                for r in feed.select(
                    F.pmod(F.xxhash64("conv_id"), F.lit(p)).cast("int").alias("b")
                ).distinct().collect()
            ]
            t0 = time.monotonic()
            existing = (
                sio.read_table(spark, raw, keep_bucket_col=True)
                .filter(F.col("p_hash").isin(touched))
                .drop("p_hash")
            )
            sio.upsert_partitions(
                existing.unionByName(delta), raw, partition_key="conv_id",
                n_buckets=p, touched_buckets=touched,
            )
            upserts.append(round(time.monotonic() - t0, 2))
            t0 = time.monotonic()
            res = refresh_triples_partitioned(spark, raw, stage, change_feed=feed)
            walls.append(round(time.monotonic() - t0, 2))
            meta = [res.n_changed, res.n_buckets_touched]
            print(f"PHASE {tag} feed_refresh upsert={upserts[-1]}s "
                  f"refresh={walls[-1]}s changed={res.n_changed} "
                  f"buckets={res.n_buckets_touched}", flush=True)
        out["raw_upsert_s"] = min(upserts)
        out["feed_refresh_s"] = min(walls)
        out["feed_refresh_meta"] = meta
        out["refresh_vs_full_ratio"] = round(
            out["full_rebuild_s"] / out["feed_refresh_s"], 1
        )
        results[tag] = out

    small, big = (results[k] for k in sorted(results, key=lambda t: int(t)))
    results["invariance"] = {
        "corpus_growth": round(big["n_turns"] / small["n_turns"], 2),
        "rebuild_growth": round(
            big["full_rebuild_s"] / small["full_rebuild_s"], 2
        ),
        "refresh_growth": round(
            big["feed_refresh_s"] / small["feed_refresh_s"], 2
        ),
    }
    print("REFRESH_INVARIANCE_RESULT " + json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
