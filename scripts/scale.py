"""At-scale measurements of the engine, one target per workload family.

    python scripts/scale.py --target {build,refresh,backfill,graph,dedup,decontam}
        [--n-convs N] [--cpus 2,8] [--reps R]

Every target is a function ``(spark, corpus_path, reps) -> dict`` over
the synthetic transcript corpus ``bench_kg_corpus_{N}`` in the temp
directory (``$TMPDIR``, else ``/tmp``; ``synth.write_corpus_parquet``,
about 3.26 turns per conversation;
9,000,000 conversations are 29.3M turns).  The corpus is generated
once and reused; a generation killed between its chunks leaves a
``_SUCCESS`` file behind, so a corpus with fewer than 3 rows per
conversation is generated again.  Tables a target derives (the KG
root, a raw-turns copy, the graph or dedup inputs) sit beside the
corpus as ``{corpus}_{name}``.

Each target reports ``wall_s``, the wall of its headline unit:

- ``build``: one ``run_pipeline`` (writes and lineage included);
- ``refresh``: one build, then ``reps`` disjoint deltas of about 10
  conversations per ``refresh_pipeline`` shape — detection over the
  snapshot, a change feed over the snapshot, and a change feed over
  the bucketed raw-turns table (pruned; its raw upsert is timed
  apart).  ``wall_s`` is the fastest pruned refresh;
- ``backfill``: ``backfill_triples`` in 8 groups, one call per group,
  beside the one-shot Stage-A extract and write;
- ``graph``: weighted ``cooccurrence_edges`` over the mention table,
  then 10 fixed PageRank rounds over the edge table;
- ``dedup``: ``dedup_paragraphs`` over one document per conversation;
- ``decontam``: ``decontaminate`` of one document per turn against
  12-token snippets of every 5,000th document.

Per-stage walls of ``build`` and ``refresh`` come from the root's
``_lineage`` rows; next to them each run reports ``compiles``, the
classes Spark's code generator compiled during it (its JVM counter,
read around the run), so a run shows whether recompilation is part of
its fixed cost.  With one ``--cpus`` level the target runs here at
``local[level]``.  With several, every level and rep runs in a fresh
JVM (this script with ``--level``), the fastest run per level is kept,
and levels four times apart report the N→4N efficiency
``wall(N) / (4 · wall(4N))``.  Prints one JSON object.  The JVM heap
comes from ``SPARK_DRIVER_MEM`` (``session.get_spark``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from lexicator_spark import rules, synth  # noqa: E402
from lexicator_spark.operators import graph as G  # noqa: E402
from lexicator_spark.operators.decontam import _ordered_tokens, decontaminate  # noqa: E402
from lexicator_spark.operators.dedup import dedup_paragraphs  # noqa: E402
from lexicator_spark.operators.extract import extract_triples, split_rejects  # noqa: E402
from lexicator_spark.operators.incremental import backfill_triples  # noqa: E402
from lexicator_spark.plans.pipeline import read_lineage, run_pipeline  # noqa: E402
from lexicator_spark.plans.refresh import refresh_pipeline  # noqa: E402
from lexicator_spark.session import get_spark  # noqa: E402
from lexicator_spark.sources import io as sio  # noqa: E402

MARKER = "SCALE_RESULT "
DELTA_CONVS = 10
BACKFILL_GROUPS = 8


def corpus(spark, n_convs: int) -> str:
    """The cached corpus of ``n_convs`` conversations, generated when
    missing or truncated."""
    path = os.path.join(tempfile.gettempdir(), f"bench_kg_corpus_{n_convs}")
    complete = (
        os.path.exists(os.path.join(path, "_SUCCESS"))
        and spark.read.parquet(path).count() >= 3 * n_convs
    )
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        synth.write_corpus_parquet(spark, path, n_convs=n_convs)
    return path


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 2)


def _fastest(reps: int, run) -> dict:
    """The result of ``run()`` (a dict with ``wall_s``) with the least
    wall out of ``reps`` calls."""
    return min((run() for _ in range(reps)), key=lambda r: r["wall_s"])


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stage_walls(spark, root: str, seen: set) -> dict:
    """Stage walls (s) of the lineage files under ``root`` that are not
    in ``seen``, which then holds them too.  Lineage rows carry no run
    id; each run writes its own ``<run_id>-<stage>.jsonl`` files."""
    rows = (
        read_lineage(spark, root)
        .filter("partition_id = -1")
        .select("stage", "wall_ms", F.input_file_name().alias("file"))
        .collect()
    )
    new = [r for r in rows if r.file not in seen]
    seen.update(r.file for r in new)
    return {r.stage: round(r.wall_ms / 1000, 2) for r in new}


def delta(turns, n_convs: int, salt: int):
    """One new turn (the last turn again, index + 1) on about
    ``DELTA_CONVS`` conversations; distinct salts pick disjoint
    conversations.  Pinned."""
    picked = turns.filter(
        F.pmod(F.xxhash64("conv_id"), F.lit(max(1, n_convs // DELTA_CONVS))) == salt
    )
    last = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
    return (
        picked.withColumn("rn", F.row_number().over(last))
        .filter("rn = 1")
        .drop("rn")
        .withColumn("turn_idx", F.col("turn_idx") + 1)
        .localCheckpoint(eager=True)
    )


def upsert_raw(spark, raw: str, new_rows) -> None:
    """Add ``new_rows`` to the bucketed raw-turns table at ``raw``: each
    touched bucket is rewritten as its kept rows plus the new ones."""
    n_buckets = sio.read_bucket_meta(spark, raw)["n_buckets"]
    touched = sorted(
        r.p
        for r in new_rows.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("p")
        )
        .distinct()
        .collect()
    )
    kept = (
        sio.read_table(spark, raw, keep_bucket_col=True)
        .filter(F.col("p_hash").isin(touched))
        .drop("p_hash")
    )
    sio.upsert_partitions(
        kept.unionByName(new_rows), raw, partition_key="conv_id",
        n_buckets=n_buckets, touched_buckets=touched,
    )


def build(spark, corpus_path: str, reps: int) -> dict:
    turns = spark.read.parquet(corpus_path)
    n_turns = turns.count()
    root = f"{corpus_path}_build"

    def once() -> dict:
        _fresh(root)
        c0 = _compiles(spark)
        wall = _timed(lambda: run_pipeline(spark, turns, root, resume=False))
        return {
            "wall_s": wall,
            "compiles": _compiles(spark) - c0,
            "stages_s": _stage_walls(spark, root, set()),
        }

    best = _fastest(reps, once)
    return {
        "n_turns": n_turns,
        **best,
        "turns_per_sec": round(n_turns / best["wall_s"], 1),
    }


def refresh(spark, corpus_path: str, reps: int) -> dict:
    turns = spark.read.parquet(corpus_path)
    n_turns = turns.count()
    n_convs = turns.select("conv_id").distinct().count()
    root = _fresh(f"{corpus_path}_refresh")
    kg = os.path.join(root, "kg")
    seen: set = set()
    c0 = _compiles(spark)
    out = {
        "n_turns": n_turns,
        "n_convs": n_convs,
        "build_s": _timed(lambda: run_pipeline(spark, turns, kg, resume=False)),
        "build_compiles": _compiles(spark) - c0,
        "build_stages_s": _stage_walls(spark, kg, seen),
    }
    turns_now = turns
    raw = os.path.join(root, "raw_turns")
    salts = iter(range(3 * reps))
    for shape in ("detection", "snapshot_feed", "pruned_feed"):
        if shape == "pruned_feed":
            # staging the raw table is untimed: a production loop keeps
            # it up to date with every batch
            sio.write_table(turns_now, raw, partition_key="conv_id")
        runs = []
        for _ in range(reps):
            extra = delta(turns, n_convs, next(salts))
            feed = extra.select("conv_id").distinct().localCheckpoint(eager=True)
            run = {"delta_convs": feed.count()}
            if shape == "pruned_feed":
                run["raw_upsert_s"] = _timed(lambda: upsert_raw(spark, raw, extra))
            else:
                turns_now = turns_now.unionByName(extra)
            c0, t0 = _compiles(spark), time.monotonic()
            res = refresh_pipeline(
                spark,
                None if shape == "pruned_feed" else turns_now,
                kg,
                change_feed=None if shape == "detection" else feed,
                turns_location=raw if shape == "pruned_feed" else None,
            )
            run["wall_s"] = round(time.monotonic() - t0, 2)
            run["compiles"] = _compiles(spark) - c0
            run["n_changed"] = res.n_changed
            run["buckets_touched"] = res.n_buckets_touched
            run["stages_refreshed"] = res.stages_refreshed
            run["stages_s"] = _stage_walls(spark, kg, seen)
            runs.append(run)
        out[shape] = {"min_s": min(r["wall_s"] for r in runs), "runs": runs}
    out["wall_s"] = out["pruned_feed"]["min_s"]
    return out


def backfill(spark, corpus_path: str, reps: int) -> dict:
    turns = spark.read.parquet(corpus_path)
    root = _fresh(f"{corpus_path}_backfill")
    raw = os.path.join(root, "raw_turns")
    sio.write_table(turns, raw, partition_key="conv_id")  # untimed staging
    one_shot = os.path.join(root, "one_shot")
    chunked = os.path.join(root, "backfill")

    def once() -> dict:
        _fresh(one_shot)
        _fresh(chunked)
        good, _ = split_rejects(extract_triples(turns))
        one_shot_s = _timed(
            lambda: sio.write_table(good, one_shot, partition_key="conv_id")
        )
        group_walls = []
        done = False
        while not done:
            t0 = time.monotonic()
            done = backfill_triples(
                spark, raw, chunked, n_groups=BACKFILL_GROUPS, max_groups_per_call=1
            ).complete
            group_walls.append(round(time.monotonic() - t0, 2))
        return {
            "wall_s": round(sum(group_walls), 2),
            "group_walls_s": group_walls,
            "one_shot_s": one_shot_s,
        }

    best = _fastest(reps, once)
    rows_one_shot = sio.read_table(spark, one_shot).count()
    rows_backfill = sio.read_table(spark, chunked).count()
    if rows_one_shot != rows_backfill:
        raise RuntimeError(f"backfill wrote {rows_backfill} rows, one-shot {rows_one_shot}")
    return {
        "n_turns": turns.count(),
        "n_groups": BACKFILL_GROUPS,
        **best,
        "resumability_overhead_pct": round(
            100 * (best["wall_s"] / best["one_shot_s"] - 1), 1
        ),
        "rows_one_shot": rows_one_shot,
        "rows_backfill": rows_backfill,
    }


def graph(spark, corpus_path: str, reps: int) -> dict:
    mentions_path = f"{corpus_path}_mentions"
    edges_path = f"{corpus_path}_edges"
    if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        triples, _ = split_rejects(extract_triples(spark.read.parquet(corpus_path)))
        triples.filter(F.col("pred") == rules.PRED_MENTIONS).select(
            "conv_id", F.col("obj").alias("surface")
        ).write.mode("overwrite").parquet(mentions_path)
        edges, _ = G.cooccurrence_edges(
            spark.read.parquet(mentions_path), weighted=True
        )
        edges.write.mode("overwrite").parquet(edges_path)
    mentions = spark.read.parquet(mentions_path)
    edge_frame = spark.read.parquet(edges_path)
    _noop(mentions.limit(1000))  # scan warm-up

    def once() -> dict:
        edges_s = _timed(
            lambda: _noop(G.cooccurrence_edges(mentions, weighted=True)[0])
        )
        pagerank10_s = _timed(
            lambda: _noop(
                G.pagerank(edge_frame, iterations=10, tol=None, weight_col="n_groups")
            )
        )
        return {
            "wall_s": round(edges_s + pagerank10_s, 2),
            "edges_s": edges_s,
            "pagerank10_s": pagerank10_s,
        }

    return {
        "n_mentions": mentions.count(),
        "n_edges": edge_frame.count(),
        **_fastest(reps, once),
    }


def dedup(spark, corpus_path: str, reps: int) -> dict:
    docs_path = f"{corpus_path}_para_docs"
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        # one document per conversation, its turns as paragraphs: the
        # corpus's canned strings repeat across documents
        turns = spark.read.parquet(corpus_path)
        turns.filter(F.col("text").isNotNull()).groupBy("conv_id").agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda x: x["text"],
                ),
            ).alias("text")
        ).select(F.xxhash64("conv_id").alias("doc_id"), "text").write.mode(
            "overwrite"
        ).parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    n_docs = docs.count()
    n_paras = docs.agg(
        F.sum(F.size(F.split(F.coalesce(F.col("text"), F.lit("")), r"\n{2,}")))
    ).first()[0]
    _noop(dedup_paragraphs(docs.limit(20_000)))  # warm-up
    wall = min(_timed(lambda: _noop(dedup_paragraphs(docs))) for _ in range(reps))
    return {
        "wall_s": wall,
        "n_docs": n_docs,
        "n_paras": int(n_paras),
        "docs_per_sec": round(n_docs / wall, 1),
        "paras_per_sec": round(n_paras / wall, 1),
    }


def decontam(spark, corpus_path: str, reps: int) -> dict:
    docs = (
        spark.read.parquet(corpus_path)
        .filter(F.col("text").isNotNull())
        .select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text")
    )
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(5000)) == 0).select(
        F.concat_ws(" ", F.slice(_ordered_tokens(F.col("text")), 2, 12)).alias("text")
    )
    n_docs = docs.count()
    _noop(decontaminate(docs.limit(20_000), bench, n=8))  # warm-up
    wall = min(
        _timed(lambda: _noop(decontaminate(docs, bench, n=8))) for _ in range(reps)
    )
    return {
        "wall_s": wall,
        "n_docs": n_docs,
        "n_bench": bench.count(),
        "docs_per_sec": round(n_docs / wall, 1),
    }


TARGETS = {
    f.__name__: f for f in (build, refresh, backfill, graph, dedup, decontam)
}


def run_level(target: str, n_convs: int, cpus: int, reps: int) -> dict:
    """``target`` at ``local[cpus]`` in this process."""
    spark = get_spark(master=f"local[{cpus}]", app_name=f"scale_{target}_{cpus}")
    try:
        return {"cpus": cpus, **TARGETS[target](spark, corpus(spark, n_convs), reps)}
    finally:
        spark.stop()


def run_child(target: str, n_convs: int, cpus: int) -> dict:
    """One rep of ``target`` at ``local[cpus]`` in a fresh JVM."""
    out = subprocess.run(
        [
            sys.executable, os.path.abspath(__file__), "--target", target,
            "--n-convs", str(n_convs), "--reps", "1", "--level", str(cpus),
        ],
        capture_output=True, text=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith(MARKER):
            return json.loads(line[len(MARKER):])
    raise RuntimeError(
        f"{target} at local[{cpus}] printed no result (exit {out.returncode}):\n"
        f"{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )


def run_levels(target: str, n_convs: int, levels: list[int], reps: int) -> dict:
    best = {
        c: _fastest(reps, lambda: run_child(target, n_convs, c)) for c in levels
    }
    out = {"target": target, "n_convs": n_convs, "levels": best}
    for a in levels:
        if 4 * a in best:
            out[f"efficiency_{a}_to_{4 * a}"] = round(
                best[a]["wall_s"] / (4 * best[4 * a]["wall_s"]), 3
            )
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--target", required=True, choices=sorted(TARGETS))
    ap.add_argument("--n-convs", type=int, default=9_000_000)
    ap.add_argument("--cpus", default=str(os.cpu_count()),
                    help="comma-separated local[N] levels")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--level", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.level is not None:
        result = run_level(args.target, args.n_convs, args.level, args.reps)
        print(MARKER + json.dumps(result), flush=True)
        return
    levels = [int(c) for c in args.cpus.split(",")]
    if len(levels) == 1:
        result = {
            "target": args.target, "n_convs": args.n_convs,
            **run_level(args.target, args.n_convs, levels[0], args.reps),
        }
    else:
        result = run_levels(args.target, args.n_convs, levels, args.reps)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
