"""CLI driver — the analog of lexicator's argparse stage verbs
(``lexicator/__main__.py`` [M], SURVEY.md §2 #13)::

    spark-submit --py-files $(python -m lexicator_spark.submit) \
        -m lexicator_spark --input <turns.parquet> --out <root> \
        [--stage all|extract|link|canonicalize|materialize|entities] \
        [--no-resume] [--impl native|pandas] [--synth N] \
        [--refresh [--change-feed FEED.parquet]] [--dedup METHOD] \
        [--dedup-turns] [--decontam BENCH.parquet] \
        [--graph degrees|triangles|pagerank] [--compact]

Local smoke: ``python -m lexicator_spark --synth 1000 --out /tmp/kg``.
``--refresh`` updates a built root for a turns delta instead of
rebuilding it (the RecentChanges analog, ``plans.refresh.
refresh_pipeline``): every stage table is updated O(delta) and ends
row-identical to a full rebuild.  An empty root gets a full build; a
partly built one is finished first.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="lexicator_spark")
    ap.add_argument("--input", help="parquet path of transcript turns")
    ap.add_argument("--synth", type=int, default=0,
                    help="synthesize N conversations instead of --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True, help="output root for stage tables")
    # choices derived from the pipeline's stage order — the single
    # authority (plans.pipeline.STAGES), so the CLI can never drift
    # from what run_pipeline(stop_after=...) accepts
    from lexicator_spark.plans.pipeline import STAGES as _STAGES

    ap.add_argument("--stage", default="all", choices=["all", *_STAGES])
    ap.add_argument("--impl", default="native", choices=["native", "pandas"])
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--refresh", action="store_true",
                    help="end-to-end incremental refresh: every stage "
                         "table updated O(delta) (plans.refresh) — "
                         "Stage B links only newly-seen surfaces, "
                         "Stage C merges/splits only delta-adjacent "
                         "components, materialize upserts only touched "
                         "buckets; result row-identical to a full "
                         "rebuild")
    ap.add_argument("--change-feed", default=None, metavar="PATH",
                    help="parquet of conv_ids known changed (the "
                         "RecentChanges feed): --refresh skips the "
                         "snapshot-wide change detection and touches "
                         "only the listed conversations' buckets")
    ap.add_argument("--backfill", type=int, default=None, metavar="N",
                    help="build Stage A as N bucket-aligned chunked "
                         "passes with a progress marker (crash-"
                         "resumable initial build; re-run the same "
                         "command to resume at the first unfinished "
                         "group)")
    ap.add_argument("--dedup", default=None,
                    choices=["exact", "minhash_star", "minhash", "jaccard",
                             "simhash", "paragraphs"],
                    help="run near-dup cluster assignment over --input "
                         "documents (doc_id, text) instead of the KG "
                         "pipeline; writes (doc_id, cluster_id, keep) "
                         "parquet to --out (minhash_star is the "
                         "linear-candidate scale path). 'paragraphs' is "
                         "the sub-document pass: duplicate paragraphs "
                         "removed corpus-wide, docs rewritten "
                         "(doc_id, text_dedup, n_paras, n_kept, "
                         "n_dropped)")
    ap.add_argument("--dedup-turns", action="store_true",
                    help="flag cross-conversation canned-turn "
                         "boilerplate over --input transcript turns: "
                         "writes all turns + is_first/n_copies to "
                         "--out (keep is_first rows downstream to "
                         "drop verbatim repeats)")
    ap.add_argument("--threshold", type=float, default=0.6,
                    help="Jaccard threshold for --dedup methods")
    ap.add_argument("--decontam", default=None, metavar="BENCH_PARQUET",
                    help="benchmark-decontaminate --input documents "
                         "(doc_id, text) against an eval-set parquet "
                         "(text column); writes the per-doc collision "
                         "report (n_hits, contam_frac, is_contaminated) "
                         "to --out")
    ap.add_argument("--ngram", type=int, default=8,
                    help="--decontam word n-gram length")
    ap.add_argument("--min-hits", type=int, default=1,
                    help="--decontam collisions needed to flag a doc")
    ap.add_argument("--graph", default=None,
                    choices=["degrees", "triangles", "pagerank"],
                    help="run graph analytics over a MATERIALIZED kg "
                         "root (--input = a previous pipeline --out): "
                         "co-occurrence edges from the mention triples, "
                         "then the chosen analysis; writes parquet to "
                         "--out")
    ap.add_argument("--iterations", type=int, default=10,
                    help="--graph pagerank iteration cap")
    ap.add_argument("--tol", type=float, default=None,
                    help="--graph pagerank convergence stop (max |Δrank|)")
    ap.add_argument("--max-fanout", type=int, default=None,
                    help="--graph: exclude conversations mentioning "
                         "more than this many distinct entities from "
                         "the co-occurrence self-join (reported in the "
                         "summary instead of silently dropped)")
    ap.add_argument("--compact", action="store_true",
                    help="fold an epoch-partitioned streaming extract "
                         "sink (--input) into the bucketed triples_raw "
                         "table under --out, then drop the folded epoch "
                         "directories (the rewrite_data_files analog)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    if args.refresh and args.stage != "all":
        # an in-place refresh of every stage table has no cutoff
        # point, so a --stage that would be silently dropped is an
        # error instead
        ap.error("--refresh refreshes every stage in place; "
                 "--stage cannot be combined with it")
    if args.refresh and (args.no_resume or args.backfill is not None):
        ap.error("--refresh updates the existing build in place; "
                 "--no-resume/--backfill cannot be combined with it")
    if not args.synth and not args.input:
        ap.error("one of --input / --synth is required")  # before JVM spin-up
    if args.compact and not args.input:
        ap.error("--compact requires --input (an epoch-partitioned stream sink)")
    if args.dedup and not args.input:
        ap.error("--dedup requires --input (a documents parquet)")
    if args.dedup_turns and not args.input:
        ap.error("--dedup-turns requires --input (a transcript turns parquet)")
    if args.decontam and not args.input:
        ap.error("--decontam requires --input (a documents parquet)")
    if args.graph and not args.input:
        ap.error("--graph requires --input (a materialized kg root)")

    from lexicator_spark.session import get_spark

    master = args.master or (f"local[{args.cpus}]" if args.cpus else None)
    spark = get_spark(master=master, app_name="lexicator_spark_cli")

    if args.compact:
        import os

        from lexicator_spark.operators.compact import compact_stream_epochs

        raw_path = os.path.join(args.out, "triples_raw")
        res = compact_stream_epochs(spark, args.input, raw_path)
        if res.n_buckets_touched:
            # keep the extract marker's per-bucket counts current:
            # refresh_pipeline's O(delta) lineage merges against them
            from lexicator_spark.plans.refresh import (
                update_stage_bucket_counts,
            )

            update_stage_bucket_counts(
                spark, args.out, "extract", raw_path,
                list(res.touched_buckets), list(res.bucket_counts),
            )
        print(
            json.dumps(
                {
                    "compacted_epochs": res.n_epochs,
                    "rows_merged": res.n_rows,
                    "buckets_touched": res.n_buckets_touched,
                    "max_epoch": res.max_epoch,
                }
            )
        )
        spark.stop()
        return 0

    if args.dedup_turns:
        from lexicator_spark.operators import dedup as dedup_ops

        turns = spark.read.parquet(args.input)
        dedup_ops.dedup_turn_texts(turns).write.mode("overwrite").parquet(args.out)
        persisted = spark.read.parquet(args.out)
        n_turns = persisted.count()
        n_first = persisted.filter("is_first").count()
        print(
            json.dumps(
                {
                    "turns": n_turns,
                    "first_occurrences": n_first,
                    "boilerplate_repeats": n_turns - n_first,
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return 0

    if args.dedup == "paragraphs":
        from lexicator_spark.operators import dedup as dedup_ops
        from pyspark.sql import functions as F

        docs = spark.read.parquet(args.input)
        dedup_ops.dedup_paragraphs(docs).write.mode("overwrite").parquet(args.out)
        persisted = spark.read.parquet(args.out)
        stats = persisted.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_paras").alias("paras"),
            F.sum("n_dropped").alias("dropped"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "dedup_method": "paragraphs",
                    "docs": stats.docs,
                    "paragraphs": int(stats.paras or 0),
                    "paragraphs_dropped": int(stats.dropped or 0),
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return 0

    if args.dedup:
        from pyspark.sql import functions as F

        from lexicator_spark.operators import dedup as dedup_ops

        docs = spark.read.parquet(args.input)
        if args.dedup == "exact":
            # exact md5 groups as star pairs (member→min id) so the
            # output takes the same (doc_id, cluster_id, keep) shape
            hashed = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
            hubs = hashed.groupBy("h").agg(F.min("doc_id").alias("a"))
            pairs = (
                hashed.join(hubs, "h")
                .filter(F.col("doc_id") != F.col("a"))
                .select("a", F.col("doc_id").alias("b"))
            )
            clusters = dedup_ops.near_dup_clusters(docs, pairs=pairs)
        else:
            clusters = dedup_ops.near_dup_clusters(
                docs, method=args.dedup, threshold=args.threshold
            )
        clusters.write.mode("overwrite").parquet(args.out)
        persisted = spark.read.parquet(args.out)
        n_docs = persisted.count()
        n_keep = persisted.filter("keep").count()
        print(
            json.dumps(
                {
                    "dedup_method": args.dedup,
                    "docs": n_docs,
                    "clusters": n_keep,
                    "dropped": n_docs - n_keep,
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return 0

    if args.decontam:
        from lexicator_spark.operators.decontam import decontaminate

        docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.decontam)
        report = decontaminate(
            docs, bench, n=args.ngram, min_hits=args.min_hits
        )
        report.write.mode("overwrite").parquet(args.out)
        persisted = spark.read.parquet(args.out)
        n_docs = persisted.count()
        n_flagged = persisted.filter("is_contaminated").count()
        print(
            json.dumps(
                {
                    "decontam_ngram": args.ngram,
                    "min_hits": args.min_hits,
                    "docs": n_docs,
                    "contaminated": n_flagged,
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return 0

    if args.graph:
        from pyspark.sql import functions as F

        from lexicator_spark import rules
        from lexicator_spark.operators import graph as G
        from lexicator_spark.plans.pipeline import triples_of

        mentions = (
            triples_of(spark, args.input)
            .filter(F.col("pred") == rules.PRED_MENTIONS)
            .select("conv_id", F.col("obj").alias("surface"))
        )
        edges, overflow = G.cooccurrence_edges(
            mentions, max_nodes_per_group=args.max_fanout
        )
        n_overflow = overflow.count() if args.max_fanout is not None else 0
        if args.graph == "degrees":
            result = G.degrees(edges)
        elif args.graph == "triangles":
            result = G.triangle_count(edges)
        else:
            result = G.pagerank(
                edges, iterations=args.iterations, tol=args.tol
            )
        result.write.mode("overwrite").parquet(args.out)
        n_rows = spark.read.parquet(args.out).count()
        print(
            json.dumps(
                {
                    "graph": args.graph,
                    "rows": n_rows,
                    "overflow_groups": n_overflow,
                    "out": args.out,
                }
            )
        )
        spark.stop()
        return 0

    if args.synth:
        from lexicator_spark import synth

        turns = synth.corpus_df(spark, synth.make_corpus(args.synth, seed=args.seed))
    else:
        turns = spark.read.parquet(args.input)

    from lexicator_spark.plans.pipeline import run_pipeline

    if args.refresh:
        import os

        from lexicator_spark.plans.pipeline import _is_done
        from lexicator_spark.sources import fsutil

        raw_path = os.path.join(args.out, "triples_raw")
        # no prior stage table → fall through to the full pipeline
        if fsutil.exists(spark, os.path.join(raw_path, "_schema.json")):
            from lexicator_spark.operators.incremental import (
                validate_refresh_preconditions,
            )
            from lexicator_spark.plans.refresh import refresh_pipeline
            from lexicator_spark.sources import io as sio

            if not all(_is_done(spark, args.out, st) for st in _STAGES):
                # a partly built root (--stage cutoff, killed build):
                # finish it in the root's own bucket modulus, then
                # apply the delta below.  An unfinished --backfill is
                # refused: re-run it instead of finishing its groups
                # in one unchunked extraction pass here.
                validate_refresh_preconditions(spark, raw_path)
                raw_meta = sio.read_bucket_meta(spark, raw_path)
                _print_pipeline(run_pipeline(
                    spark, turns, args.out, resume=True, impl=args.impl,
                    n_buckets=(
                        raw_meta["n_buckets"] if raw_meta
                        else sio.DEFAULT_BUCKETS
                    ),
                ))
            feed = (
                spark.read.parquet(args.change_feed)
                if args.change_feed else None
            )
            # bucketed raw-turns input + feed: the fully-pruned path
            # (raw read prunes to the fed conversations' buckets too)
            pruned = (
                feed is not None
                and not args.synth
                and sio.read_bucket_meta(spark, args.input) is not None
            )
            res = refresh_pipeline(
                spark, None if pruned else turns, args.out,
                change_feed=feed, impl=args.impl,
                turns_location=args.input if pruned else None,
            )
            print(
                json.dumps(
                    {
                        "refreshed_convs": res.n_changed,
                        "buckets_touched": res.n_buckets_touched,
                        "surfaces_added": res.surfaces_added,
                        "surfaces_removed": res.surfaces_removed,
                        "links_changed": res.links_changed,
                        "stages_refreshed": res.stages_refreshed,
                    }
                )
            )
            spark.stop()
            return 0

    # --stage X runs the pipeline up to and including X (checkpoints
    # make re-running earlier stages free)
    turns_source = None
    if args.backfill is not None and args.input and not args.synth:
        from lexicator_spark.sources import io as sio

        if sio.read_bucket_meta(spark, args.input) is not None:
            # bucketed raw input: each backfill group's read prunes to
            # its own raw buckets instead of re-scanning the corpus
            turns_source = args.input
    res = run_pipeline(
        spark, turns, args.out, resume=not args.no_resume, impl=args.impl,
        backfill_groups=args.backfill, turns_source=turns_source,
        stop_after=None if args.stage == "all" else args.stage,
    )
    _print_pipeline(res)
    spark.stop()
    return 0


def _print_pipeline(res) -> None:
    print(
        json.dumps(
            {
                "stages_run": res.stages_run,
                "stages_skipped": res.stages_skipped,
                "triples_path": res.triples_path,
                "entities_path": res.entities_path,
                "lineage": res.lineage,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
