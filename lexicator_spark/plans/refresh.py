"""End-to-end incremental pipeline refresh — the RecentChanges analog
propagated through EVERY stage, not just extraction.  This is the one
refresh path: the CLI's ``--refresh`` runs :func:`refresh_pipeline`.

Refreshing only the Stage-A table O(delta)
(``refresh_triples_partitioned``) and then recomputing link →
canonicalize → materialize → entities from scratch would re-derive the
distinct surface universe with a full-corpus shuffle (Stage B) and
rewrite the whole materialized table (Stage D).  At 10^12 turns a
ten-conversation delta must not cost corpus-wide jobs.

:func:`refresh_pipeline` makes the downstream stages O(delta) too, by
exploiting what each stage actually depends on:

- **Stage B** (linking) is a pure per-surface function — its output
  changes only when the DISTINCT SURFACE UNIVERSE changes.  A
  per-bucket ``_surface_stats`` sidecar table (surface → mention
  count / conv count / first-last seen, grouped by the source
  conversation's ``p_hash`` bucket) makes the universe delta
  computable from the TOUCHED BUCKETS alone: conversations live in
  exactly one bucket, so per-surface totals are sums over buckets,
  and only touched buckets' partial sums can move.  Those buckets'
  new stats rows are aggregated from the pinned Stage-A replacement
  (their new raw content) by a hook that runs beside the Stage-A
  stage and frontier upserts; together with the untouched rows
  (pinned before Stage A) they give the post-refresh stats and the
  universe diff, so no step reads ``triples_raw`` or
  ``_surface_stats`` back.  Newly-seen surfaces are linked via
  ``link_surfaces`` (delta-sized catalog join); vanished surfaces'
  rows are anti-joined away.
- **Stage C** (canonicalization) is ``canonical_of_links`` over the
  pinned new link set, exactly as the full build does: linking keeps
  one catalog-id pick per surface, so every component of the link
  graph is a star around its catalog id and no component fixpoint —
  full or incremental — has anything to merge or split
  (``operators.canonicalize`` module docstring).  One row per link,
  so its row count is the link count.
- **Stage D** (materialize) re-copies only the buckets whose raw rows
  changed, plus the single NULL-conv_id bucket (``pmod(xxhash64(
  NULL), P)`` — where every same_as/canonical row lands, appended
  after the copy) when the link set changed.
- **entities** is vocabulary-sized arithmetic over the rollup of
  those pinned stats rows (``mention_counts_of_triples`` twin) —
  a full rewrite of a tiny table, never a corpus rescan.

Stage markers and lineage are updated so a subsequent
``run_pipeline(resume=True)`` treats every stage as current, and
repeated refreshes compose.  Requires a COMPLETE, mutually-consistent
prior build (all five stage markers present): refreshing a root whose
downstream stages are stale relative to ``triples_raw`` (e.g. after a
Stage-A-only ``refresh_triples_partitioned`` without the downstream
recompute) would silently miss that earlier delta — detected where
cheap, documented here where not.  The CLI finishes a partly built
root with ``run_pipeline(resume=True)`` before it refreshes.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexicator_spark import rules
from lexicator_spark.operators.canonicalize import canonical_of_links
from lexicator_spark.operators.incremental import (
    RefreshResult,
    refresh_triples_partitioned,
    validate_refresh_preconditions,
)
from lexicator_spark.operators.link import build_catalog, link_surfaces
from lexicator_spark.plans import pipeline as P
from lexicator_spark.sources import fsutil
from lexicator_spark.sources import io as sio


@dataclass
class RefreshPipelineResult:
    n_changed: int  # conversations re-extracted
    n_buckets_touched: int  # raw p_hash buckets rewritten
    surfaces_added: int  # newly-seen mention surfaces linked
    surfaces_removed: int  # vanished surfaces unlinked
    links_changed: bool  # did Stage B/C tables change at all
    stages_refreshed: list[str]


def _stats_location(out_root: str) -> str:
    return os.path.join(out_root, "_surface_stats")


def _inflight_path(out_root: str) -> str:
    return os.path.join(out_root, "_checkpoints", "_refresh_inflight.json")


def begin_refresh(spark: SparkSession, out_root: str) -> None:
    """Write the refresh in-flight marker.  Stage A advances the
    ``_frontier`` right after its raw upsert returns (never before, and
    not at all when the upsert raised), so a crash between Stage A and
    the downstream sync leaves a delta that can never be RE-DETECTED —
    without this marker, the next refresh would see n_changed == 0 and
    silently serve downstream tables that permanently miss the delta.
    Callers bracket the whole upsert-through-downstream window with
    ``begin_refresh`` / ``end_refresh`` and run
    ``recover_inflight_refresh`` at entry."""
    fsutil.write_text(
        spark, _inflight_path(out_root), json.dumps({"inflight": True})
    )


def end_refresh(spark: SparkSession, out_root: str) -> None:
    """Clear the in-flight marker — the raw table and every downstream
    stage are mutually consistent again."""
    fsutil.delete(spark, _inflight_path(out_root))


def recover_inflight_refresh(spark: SparkSession, out_root: str) -> bool:
    """If a prior refresh died inside its begin/end window, force the
    downstream stages back into consistency with the raw table: drop
    the downstream stage markers (so a resume recomputes them from
    the post-delta raw table rather than skipping on the strength of
    pre-delta checkpoints) and the ``_surface_stats`` table (rebuilt
    by ``ensure_surface_stats`` as of the NEW raw state, restoring
    its as-of-last-downstream-sync contract).  Returns True when a
    crashed refresh was detected.  O(corpus) for the downstream
    recompute that follows — the rare crash path pays a full rebuild
    of everything EXCEPT extraction rather than risking silent
    divergence."""
    if not fsutil.exists(spark, _inflight_path(out_root)):
        return False
    for stage in P.STAGES[1:]:
        fsutil.delete(
            spark, os.path.join(out_root, "_checkpoints", f"{stage}.json")
        )
    # the crashed upsert changed the raw table AFTER the extract
    # marker's bucket_counts were written: recount them (parquet
    # footer-metadata scan, cheap) so later O(delta) marker merges
    # (_delta_bucket_counts) and the copy-materialize counts don't
    # perpetuate pre-crash numbers for the buckets the dead refresh
    # rewrote
    ck = os.path.join(out_root, "_checkpoints", f"{P.STAGES[0]}.json")
    if fsutil.exists(spark, ck):
        marker = json.loads(fsutil.read_text(spark, ck))
        counts = P._bucket_counts(
            spark, os.path.join(out_root, "triples_raw")
        )
        if counts is not None:
            marker["bucket_counts"] = counts
            marker["rows_out"] = sum(c for _, c in counts)
            fsutil.write_text(spark, ck, json.dumps(marker))
    fsutil.delete(spark, _stats_location(out_root), recursive=True)
    return True


def _stats_of(raw_with_bucket: DataFrame) -> DataFrame:
    """Per-(bucket, surface) mention aggregates from a (slice of a)
    bucketed Stage-A table read with ``keep_bucket_col=True``.  The
    two-level groupBy mirrors ``mention_counts_of_triples`` exactly —
    a conversation's rows share one bucket, so n_convs is an ordinary
    count after the per-(surface, conv) pre-group."""
    per_conv = (
        raw_with_bucket.filter(F.col("pred") == rules.PRED_MENTIONS)
        .groupBy("p_hash", F.col("obj").alias("surface_form"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_in_conv"),
            F.min("extracted_at").alias("mn"),
            F.max("extracted_at").alias("mx"),
        )
    )
    return per_conv.groupBy("p_hash", "surface_form").agg(
        F.sum("n_in_conv").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("mn").alias("first_seen"),
        F.max("mx").alias("last_seen"),
    )


def surface_rollup(stats: DataFrame) -> DataFrame:
    """``_surface_stats`` → the ``mention_counts_of_triples`` frame
    (surface_form, n_mentions, n_convs, first_seen, last_seen).
    Input is ≤ vocabulary × n_buckets rows — this aggregate never
    touches the corpus."""
    return stats.groupBy("surface_form").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_convs").alias("n_convs"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
    )


def ensure_surface_stats(
    spark: SparkSession, out_root: str, n_buckets: int
) -> str:
    """Write ``_surface_stats`` from the current Stage-A table if
    absent (one full pass).  ``run_pipeline`` calls this on every
    build and resume (beside ``materialize_frontier``), so a finished
    root always holds the table, born consistent with the downstream
    stages; ``refresh_pipeline`` refuses a root without it.  Returns
    the location.

    Consistency contract: ``_surface_stats`` must reflect the raw
    table AS OF the last downstream (link/canonicalize) sync — it is
    the record of the surface universe Stage B last saw.  Every path
    that mutates ``triples_raw`` keeps it that way: ``refresh_pipeline``
    (which the CLI's ``--refresh`` runs) upserts the touched buckets'
    rows, aggregated from the same pinned replacement the raw upsert
    writes, inside the same in-flight window as the downstream
    stages; crash recovery drops the table and rebuilds it with the
    downstream stages; stream-epoch compaction deliberately does NOT
    touch stats — the next detection-mode refresh re-detects the
    compacted conversations from the frontier and squares both up."""
    loc = _stats_location(out_root)
    if not fsutil.exists(spark, os.path.join(loc, "_schema.json")):
        raw = sio.read_table(
            spark, os.path.join(out_root, "triples_raw"), keep_bucket_col=True
        )
        sio.upsert_partitions(
            _stats_of(raw), loc, partition_key=None, n_buckets=n_buckets
        )
    return loc


def _delta_bucket_counts(
    spark: SparkSession,
    out_root: str,
    stage: str,
    touched: list[int],
    fresh_counts: list[tuple],
) -> list[tuple]:
    """O(delta) per-bucket row counts after a partial upsert: untouched
    buckets keep the counts recorded in the stage's checkpoint marker
    (written at build time and maintained by every refresh), the
    rewritten buckets take ``fresh_counts`` (the counts that
    ``sio.upsert_partitions`` or ``_materialize_by_copy`` returns for
    them) — ZERO extra jobs.  ``refresh_pipeline`` refuses a root whose
    markers carry no counts, so a refresh never pays a corpus-wide job
    for lineage bookkeeping."""
    prior = P._read_marker(spark, out_root, stage)["bucket_counts"]
    merged = {int(b): int(c) for b, c in prior}
    for b in touched:
        merged.pop(int(b), None)  # a touched bucket may now be empty
    merged.update((int(b), int(c)) for b, c in fresh_counts)
    return sorted(merged.items())


def update_stage_bucket_counts(
    spark: SparkSession,
    out_root: str,
    stage: str,
    touched: list[int],
    fresh_counts: list[tuple],
) -> None:
    """Keep a stage marker's per-bucket counts current after an
    out-of-band mutation of its table (stream compaction folds epochs
    into triples_raw without going through ``refresh_pipeline``) —
    otherwise the next ``refresh_pipeline``'s O(delta) lineage counts
    would merge against stale untouched-bucket numbers and persist the
    error back into the marker.  ``fresh_counts`` are the rewritten
    buckets' counts the mutation's upsert returned
    (``CompactResult.bucket_counts``); same O(delta) merge as
    ``_delta_bucket_counts``; no-op when the root has no marker for
    the stage (standalone tables)."""
    if not P._is_done(spark, out_root, stage):
        return
    marker = P._read_marker(spark, out_root, stage)
    merged = _delta_bucket_counts(spark, out_root, stage, touched, fresh_counts)
    marker["bucket_counts"] = merged
    marker["rows_out"] = sum(c for _, c in merged)
    P._mark_done(spark, out_root, stage, marker)


def refresh_pipeline(
    spark: SparkSession,
    turns: DataFrame | None,
    out_root: str,
    change_feed: DataFrame | None = None,
    turns_location: str | None = None,
) -> RefreshPipelineResult:
    """Refresh every stage table under ``out_root`` for a turns delta,
    leaving each one row-identical to a from-scratch ``run_pipeline``
    over the updated corpus (tests/test_refresh_e2e.py asserts this
    per stage).  See the module docstring for the per-stage O(delta)
    arguments.

    The turns snapshot feeds ONLY Stage A (every downstream stage
    derives from the refreshed raw table), so the Stage-A ladder's
    fully-pruned shape plugs in directly: pass ``turns_location`` (a
    BUCKETED raw-turns table already upserted with the delta) plus
    ``change_feed`` instead of ``turns``, and Stage A
    (``refresh_triples_partitioned`` given the location) reads only
    the fed conversations' raw buckets, so the last O(corpus) pass
    (the re-extraction semi-join over the snapshot) disappears.
    Measured at 29.3M turns in BENCH/BASELINE.md (`refresh_e2e`
    section)."""
    if turns is None and turns_location is None:
        raise ValueError("refresh_pipeline needs turns or turns_location")
    if turns_location is not None and change_feed is None:
        raise ValueError(
            "refresh_pipeline(turns_location=...) is the pruned "
            "feed path — it needs change_feed (without a feed the "
            "detection aggregate must see the full snapshot: pass "
            "turns instead)"
        )
    if recover_inflight_refresh(spark, out_root):
        # a prior refresh died between its Stage-A upsert and the
        # downstream sync; its delta cannot be re-detected (the
        # frontier advanced with the upsert).  Rebuild the downstream
        # stages in full from the raw table before processing this
        # call's delta — rare crash path, O(corpus) downstream, never
        # a re-extraction.  The rebuild inherits the raw table's bucket
        # modulus: run_pipeline refuses a raw table at any other one.
        recovery_turns = (
            turns if turns is not None
            else sio.read_table(spark, turns_location)
        )
        P.run_pipeline(
            spark, recovery_turns, out_root, resume=True,
            n_buckets=P._check_bucket_layout(
                spark, os.path.join(out_root, "triples_raw")
            ),
        )
        end_refresh(spark, out_root)
    for stage in P.STAGES:
        if not P._is_done(spark, out_root, stage):
            raise ValueError(
                f"refresh_pipeline needs a complete prior build: stage "
                f"'{stage}' has no checkpoint under {out_root} — run "
                "run_pipeline first"
            )
    raw_path = os.path.join(out_root, "triples_raw")
    triples_path = os.path.join(out_root, "triples")
    same_as_path = os.path.join(out_root, "same_as")
    canonical_path = os.path.join(out_root, "canonical")
    entities_path = os.path.join(out_root, "entities")

    # What the refresh relies on, checked before anything is written:
    # a refused refresh mutates nothing and leaves no in-flight marker
    # (which would force a spurious O(corpus) downstream rebuild).
    # Stage D copies raw buckets over materialized ones, so both tables
    # record one conv_id layout; Stage A needs its _frontier (and, on
    # the pruned path, a conv_id-bucketed turns table); Stage B derives
    # the universe diff from _surface_stats; the lineage counts merge
    # into the markers' bucket_counts.  Every build writes all of them.
    n_buckets = P._check_bucket_layout(spark, raw_path)
    P._check_bucket_layout(spark, triples_path, n_buckets)
    validate_refresh_preconditions(spark, raw_path, turns_location=turns_location)
    stats_loc = _stats_location(out_root)
    if not fsutil.exists(spark, os.path.join(stats_loc, "_schema.json")):
        raise ValueError(
            f"{out_root} has no _surface_stats: write it with "
            "run_pipeline(..., resume=True)"
        )
    for stage in ("extract", "materialize"):
        if P._read_marker(spark, out_root, stage).get("bucket_counts") is None:
            raise ValueError(
                f"the {stage} marker under {out_root} carries no "
                "bucket_counts: rebuild the root with "
                "run_pipeline(..., resume=False)"
            )

    # ── surface universe, derived beside the Stage-A upserts ──────
    # The old _surface_stats rows are pinned on a side thread
    # CONCURRENTLY with Stage A (guide §2.6): Stage A touches
    # triples_raw/_frontier, never _surface_stats, and the pin only has
    # to land before the stats upsert in _stats_and_diff moves the
    # files, which joins it first.

    def _pin_old_stats():
        return sio.read_table(
            spark, stats_loc, keep_bucket_col=True
        ).localCheckpoint(eager=True)  # pinned: the files move next

    def _stats_and_diff(pinned: DataFrame, touched: list[int]):
        """Stage-A hook, run beside the stage and frontier upserts.
        The touched raw buckets' new content IS ``pinned`` (the pinned
        Stage-A replacement) and the untouched buckets' stats rows do
        not change, so the post-refresh stats and the universe diff
        come from pinned frames — nothing reads ``triples_raw`` or
        ``_surface_stats`` back.  Returns the post-refresh stats rows,
        the (lazy) diff frame and its added/removed counts."""
        new_touched = _stats_of(
            sio.with_partition_hash(pinned, "conv_id", n_buckets)
        ).localCheckpoint(eager=True)
        old = old_stats_future.result()
        # an array literal is a reference in generated code, where
        # isin(touched) inlines each bucket id: one compiled class
        # serves every delta's bucket list
        in_touched = F.array_contains(F.lit(touched), F.col("p_hash"))
        stats_now = old.filter(~in_touched).unionByName(new_touched)
        # ONE grouped aggregate over the old rows and the new touched
        # rows, each tagged with the mentions it counts before and
        # after the refresh: a surface is in a universe iff it has
        # mentions there, and the diff frame is delta-sized (only
        # surfaces on exactly one side survive the filter).  Added,
        # removed and their counts all derive from it; it reads pinned
        # frames only, so the counts job runs while the stats upsert
        # writes.
        diff_plan = (
            old.select(
                "surface_form",
                F.col("n_mentions").alias("before"),
                F.when(in_touched, 0).otherwise(F.col("n_mentions")).alias("after"),
            )
            .unionByName(
                new_touched.select(
                    "surface_form",
                    F.lit(0).alias("before"),
                    F.col("n_mentions").alias("after"),
                )
            )
            .groupBy("surface_form")
            .agg(
                (F.sum("before") > 0).alias("__old"),
                (F.sum("after") > 0).alias("__new"),
            )
            .filter(F.col("__old") != F.col("__new"))
        )
        with ThreadPoolExecutor(max_workers=1) as pool:
            upsert = pool.submit(
                sio.upsert_partitions, new_touched, stats_loc,
                partition_key=None, n_buckets=n_buckets,
                touched_buckets=touched,
                pin_replacement=False,  # pinned above
            )
            counts_row = diff_plan.agg(
                F.count_if("__new").alias("a"), F.count_if("__old").alias("r")
            ).first()
            upsert.result()
        return stats_now, diff_plan, int(counts_row["a"]), int(counts_row["r"])

    # ── Stage A (delegated) ──────────────────────────────────────
    with ThreadPoolExecutor(max_workers=1) as side_pool:
        old_stats_future = side_pool.submit(_pin_old_stats)
        # in-flight from here until every downstream stage is synced:
        # once the Stage-A upsert returns, the frontier advances and
        # the delta is undetectable — a crash inside this window (the
        # stats upsert in _stats_and_diff included) must force a
        # downstream rebuild on the next run (recover_inflight_refresh)
        begin_refresh(spark, out_root)
        t0 = time.monotonic()
        res: RefreshResult = refresh_triples_partitioned(
            spark,
            turns_location if turns_location is not None else turns,
            raw_path, change_feed=change_feed,
            on_replacement=_stats_and_diff,
        )
    if res.n_changed == 0:
        end_refresh(spark, out_root)  # nothing moved; window closed
        return RefreshPipelineResult(0, 0, 0, 0, False, [])
    touched = sorted(res.touched_buckets)
    wall_a = int((time.monotonic() - t0) * 1000)
    stats_now, diff_plan, n_added, n_removed = res.hook_result
    links_changed = bool(n_added or n_removed)

    run_id = P._new_run_id()

    def _done(stage: str, rows_out: int, wall_ms: int, buckets, rows_in=-1):
        P._finish_stage(
            spark, out_root, run_id, stage, rows_out, wall_ms, buckets,
            rows_in=rows_in, label=f"refresh:{stage}",
        )

    raw_buckets = _delta_bucket_counts(
        spark, out_root, "extract", touched, fresh_counts=res.bucket_counts
    )
    _done(
        "extract",
        sum(c for _, c in raw_buckets),
        wall_a,
        raw_buckets,
        rows_in=res.n_changed,
    )

    refreshed = ["extract"]
    if links_changed:
        # rare, and about to pay link work anyway: pin the diff for
        # its added/removed consumers
        t0 = time.monotonic()
        diff = diff_plan.localCheckpoint(eager=True)
        added = diff.filter("__new").select("surface_form")
        removed = diff.filter("__old").select("surface_form")

        # ── Stage B: delta link ──────────────────────────────────
        surviving = sio.read_table(spark, same_as_path).join(
            removed.select(F.col("surface_form").alias("subj")),
            "subj",
            "left_anti",
        )
        new_links = link_surfaces(
            added.select(
                F.col("surface_form").alias("surface")
            ).filter(F.length("surface") > 0),
            build_catalog(spark),
        )
        same_as_new = surviving.unionByName(new_links).localCheckpoint(
            eager=True  # pinned before its own files are overwritten
        )
        sio.write_table(same_as_new, same_as_path, partition_key=None)
        n_same_as = same_as_new.count()
        wall_b = int((time.monotonic() - t0) * 1000)
        _done("link", n_same_as, wall_b, None)

        # ── Stage C: a projection of the pinned links, one row each ──
        t0 = time.monotonic()
        canonical_new = canonical_of_links(same_as_new)
        sio.write_table(canonical_new, canonical_path, partition_key=None)
        _done("canonicalize", n_same_as,
              int((time.monotonic() - t0) * 1000), None)
        refreshed += ["link", "canonicalize"]
    else:
        same_as_new = sio.read_table(spark, same_as_path)
        canonical_new = sio.read_table(spark, canonical_path)

    # ── Stage D (materialize by copy) ∥ entities ─────────────────
    # The two closing stages read disjoint inputs (D: raw buckets +
    # the pinned link/canonical frames; entities: the pinned frames +
    # the pinned stats rows) and write disjoint tables — run them as two
    # concurrent jobs (guide §2.6) so the smaller one's fixed job
    # costs hide under the larger one's tail.  Each thread reports its
    # own wall; job descriptions are thread-local so the UI stays
    # readable.
    nb = P._null_bucket(spark, n_buckets)
    mat_touched = sorted(set(touched) | ({nb} if links_changed else set()))

    def _stage_d():
        t0 = time.monotonic()
        # the touched raw buckets ARE the replacement content of the
        # materialized table (plus the extras in the NULL bucket):
        # clone them instead of re-reading + re-shuffling + re-encoding
        fresh = P._materialize_by_copy(
            spark, out_root, same_as_new.unionByName(canonical_new),
            n_buckets, touched=mat_touched,
        )
        mat_buckets = _delta_bucket_counts(
            spark, out_root, "materialize", mat_touched, fresh_counts=fresh
        )
        return mat_buckets, int((time.monotonic() - t0) * 1000)

    def _stage_entities():
        t0 = time.monotonic()
        # no pin needed: the frame reads canonical_new/same_as_new
        # (already pinned) and the pinned stats rows — never entities/ —
        # and the row count rides the write job itself (observe) so
        # no post-write count job runs at all
        entities = P.entities_dim(
            canonical_new, same_as_new, surface_rollup(stats_now)
        )
        observed = sio.write_table(
            entities, entities_path, partition_key=None, observe_counts=True
        )
        n = (
            observed[0][1]
            if observed
            else sio.read_table(spark, entities_path).count()
        )
        return n, int((time.monotonic() - t0) * 1000)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_d = pool.submit(_stage_d)
        f_e = pool.submit(_stage_entities)
        mat_buckets, wall_d = f_d.result()
        n_entities, wall_e = f_e.result()
    _done(
        "materialize",
        sum(c for _, c in mat_buckets),
        wall_d,
        mat_buckets,
    )
    refreshed.append("materialize")
    _done("entities", n_entities, wall_e, None)
    refreshed.append("entities")

    end_refresh(spark, out_root)
    return RefreshPipelineResult(
        n_changed=res.n_changed,
        n_buckets_touched=res.n_buckets_touched,
        surfaces_added=n_added,
        surfaces_removed=n_removed,
        links_changed=links_changed,
        stages_refreshed=refreshed,
    )
