"""Incremental view maintenance: process only new/changed
conversations — the Spark re-design of lexicator's RecentChanges
delta refresh (SURVEY.md §2 #2, ``ContentStore.refresh`` /
``find_recent_changes`` [M]).

Batch form (parquet backend): the processed frontier is the explicit
``_frontier(conv_id, done_max_idx)`` table stored beside the stage
table — written at build time (``materialize_frontier``,
``backfill_triples``) and bucket-upserted by every refresh, so
zero-triple conversations count as processed.  New work = every turn
of any conversation that is new or gained turns beyond its frontier
row (``changed_conversations``; the extraction window and
``replies_to`` need the whole conversation — re-deriving a
conversation is idempotent because stage writes are keyed dedups).
With Iceberg the frontier bookkeeping is replaced by incremental
snapshot reads — same function shape.

One Stage-A refresh entry, ``refresh_triples_partitioned``: ``turns``
is a snapshot DataFrame (changes detected, or named by a
``change_feed``) or the location of a bucketed raw-turns table (feed
required; the read prunes to the fed conversations' buckets).  Every
bucket modulus comes from the tables' own ``_buckets.json``.

Scale: detection is one union-aggregate shuffle over (conv_id); the
anti/semi joins run on conv_id — co-partitioned with the stage
tables' salted-hash layout, so at 10^12 turns the delta path touches
only buckets containing changed conversations.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexicator_spark.operators.extract import extract_triples
from lexicator_spark.sources import fsutil
from lexicator_spark.sources import io as sio


def changed_conversations(turns: DataFrame, frontier: DataFrame) -> DataFrame:
    """``(conv_id, max_idx)`` of every conversation in ``turns`` that is
    new or has turns beyond its ``frontier`` row (``conv_id,
    done_max_idx``): the one change detector of the refresh path.

    ONE union-aggregate instead of aggregate + left join: tagging turns
    rows live=true and frontier rows live=false, a single
    groupBy(conv_id) computes both sides' maxima — one exchange with
    map-side partial aggregation (each scan partition ships ~one row
    per conversation) replaces the aggregate-then-join shape's three
    exchanges + two sorts (the snapshot aggregate, then both sides
    re-shuffled for the sort-merge join).  Candidates are conversations
    present in ``turns`` (max_idx non-null), changed iff no frontier
    row or the snapshot advanced past it.  ``max_idx`` is the changed
    conversation's new frontier value, so callers that pin this frame
    need no second snapshot aggregate.  The plan shape is asserted in
    tests/test_plans.py."""
    merged = (
        turns.select(
            "conv_id",
            F.col("turn_idx").alias("idx"),
            F.lit(True).alias("live"),
        )
        .unionByName(
            frontier.select(
                "conv_id",
                F.col("done_max_idx").alias("idx"),
                F.lit(False).alias("live"),
            )
        )
        .groupBy("conv_id")
        .agg(
            F.max(F.when(F.col("live"), F.col("idx"))).alias("max_idx"),
            F.max(F.when(~F.col("live"), F.col("idx"))).alias("done_max_idx"),
        )
    )
    return merged.filter(
        F.col("max_idx").isNotNull()
        & (
            F.col("done_max_idx").isNull()
            | (F.col("max_idx") > F.col("done_max_idx"))
        )
    ).select("conv_id", "max_idx")


_ISIN_DELTA_MAX = 1000


def _delta_good_triples(
    turns: DataFrame,
    changed: DataFrame,
    impl: str,
    changed_ids: list[str] | None = None,
) -> DataFrame:
    """Re-extract the changed conversations, good triples only (the
    error channel stays out of stage tables, same as stage_a).  This
    function adds no broadcast hint of its own — ``changed`` is
    unbounded in general (a bulk backfill can touch most
    conversations); callers that KNOW the delta size pass a
    pre-hinted frame (refresh_triples_partitioned broadcasts it when
    n_changed ≤ 1M) and AQE decides for the rest.

    ``changed_ids`` (the collected id list, supplied by callers only
    when the delta is small — bounded by ``_ISIN_DELTA_MAX``) replaces
    the semi-join with a literal ``isin`` filter: the predicate stays
    inside the scan's codegen (no broadcast build, and extraction
    still evaluates its input subtree twice — each copy pays the join
    otherwise; measured 2.7 s → 1.1 s on the sparse bench delta), and
    on a pruned columnar read the IN-list is eligible for row-group
    skipping.  Result is identical to the semi-join by definition."""
    from lexicator_spark.operators.extract import split_rejects

    if changed_ids is not None:
        delta_turns = turns.filter(F.col("conv_id").isin(changed_ids))
    else:
        delta_turns = turns.join(changed, "conv_id", "left_semi")
    good, _rejects = split_rejects(extract_triples(delta_turns, impl=impl))
    return good


def validate_refresh_preconditions(
    spark: SparkSession,
    stage_location: str,
    turns_location: str | None = None,
) -> dict | None:
    """Raise — without mutating anything — the ValueErrors
    ``refresh_triples_partitioned`` would raise before its first
    write.  Callers that bracket a refresh with the crash-recovery
    in-flight marker (``plans/refresh.begin_refresh``) run this FIRST,
    so a mere validation failure cannot strand the marker and force a
    spurious O(corpus) downstream rebuild on the next run.

    Checks: no unfinished chunked backfill on the stage table, and —
    for the feed-pruned path (``turns_location`` given) — frontier
    existence plus conv_id bucketing of the raw-turns table.  Returns
    the turns table's bucket meta (``None`` when no ``turns_location``),
    whose modulus the feed path prunes with."""
    _refuse_unfinished_backfill(spark, stage_location)
    if turns_location is None:
        return None
    if not fsutil.exists(spark, _frontier_location(stage_location)):
        raise ValueError(
            f"stage at {stage_location} has no _frontier yet: run one "
            "full-corpus refresh_triples_partitioned to bootstrap it "
            "before feed-scoped refreshes"
        )
    t_meta = sio.read_bucket_meta(spark, turns_location)
    if t_meta is None:
        raise ValueError(
            f"turns table at {turns_location} is not bucketed "
            "(no _buckets.json): feed-scoped pruning needs "
            "sio.write_table's conv_id bucketing"
        )
    if t_meta["partition_key"] != "conv_id":
        # pruning here is load-bearing for CORRECTNESS, not just speed:
        # the fed conversations' rows must be inside the pruned buckets
        # or the refresh sees them as absent and DELETES their triples
        # (removed-conversation semantics)
        raise ValueError(
            f"turns table at {turns_location} is bucketed on "
            f"{t_meta['partition_key']} (_buckets.json), not conv_id: "
            "feed-scoped pruning would miss the fed conversations and "
            "delete their triples; rebucket on conv_id or pass the "
            "full snapshot as a DataFrame"
        )
    return t_meta


def _refuse_unfinished_backfill(spark: SparkSession, stage_location: str) -> None:
    """A detection refresh over a half-backfilled stage table would
    re-extract every remaining conversation in one unchunked pass —
    refuse until the backfill completes."""
    mpath = _backfill_marker(stage_location)
    if fsutil.exists(spark, mpath):
        marker = json.loads(fsutil.read_text(spark, mpath))
        if len(marker["done"]) != marker["n_groups"]:
            raise ValueError(
                f"stage at {stage_location} has an unfinished backfill "
                f"({len(marker['done'])}/{marker['n_groups']} groups): "
                "finish backfill_triples before refreshing — a "
                "detection refresh would re-extract every remaining "
                "conversation in one unchunked pass"
            )


def materialize_frontier(
    spark: SparkSession,
    turns: DataFrame,
    stage_location: str,
) -> bool:
    """Write the ``_frontier`` table at initial-build time, from the
    same turns snapshot the build extracted — so the FIRST refresh is
    already delta-scoped instead of paying the detection bootstrap.

    Measured cost of not doing this (BENCH/BASELINE.md, 29.3M turns):
    the bootstrap refresh runs a full triples scan + full-snapshot
    detection aggregate + complete frontier write — 374.9 s, 2.7× a
    full rebuild — before the first delta is processed.  This helper
    is one ``groupBy(conv_id).max(turn_idx)`` aggregate + one bucketed
    write over data the build just scanned anyway.

    Turns-derived (not triples-derived like the bootstrap fallback),
    so zero-triple conversations are recorded as processed from day
    one.  No-op returning False if a ``_frontier`` already exists
    (refresh maintains it from then on); returns True when written.
    Bucketing follows the stage table's ``_buckets.json`` so the
    refresh upserts stay co-partitioned."""
    floc = _frontier_location(stage_location)
    if fsutil.exists(spark, floc):
        return False
    frontier = turns.groupBy("conv_id").agg(
        F.max("turn_idx").alias("done_max_idx")
    )
    sio.write_table(
        frontier, floc, partition_key="conv_id",
        n_buckets=_stage_modulus(spark, stage_location),
    )
    return True


def _stage_modulus(spark: SparkSession, stage_location: str) -> int:
    """The stage table's bucket modulus: its ``_buckets.json``, else
    ``sio.DEFAULT_BUCKETS`` (a table not written yet)."""
    meta = sio.read_bucket_meta(spark, stage_location)
    return meta["n_buckets"] if meta is not None else sio.DEFAULT_BUCKETS


def _frontier_location(stage_location: str) -> str:
    # underscore prefix: invisible to Spark's data-file discovery when
    # the stage table itself is read, like _SUCCESS / _schema.json
    return os.path.join(stage_location, "_frontier")


def _backfill_marker(stage_location: str) -> str:
    return os.path.join(stage_location, "_backfill.json")


class BackfillResult(NamedTuple):
    table: DataFrame  # the stage table after this call
    n_groups: int
    groups_run: list[int]  # groups processed by THIS call
    groups_skipped: list[int]  # groups already done before this call
    complete: bool  # all groups done after this call


def backfill_triples(
    spark: SparkSession,
    turns: DataFrame | str,
    stage_location: str,
    impl: str = "native",
    n_buckets: int | None = None,
    n_groups: int = 8,
    rejects_location: str | None = None,
    max_groups_per_call: int | None = None,
) -> BackfillResult:
    """Crash-resumable chunked initial build of the Stage-A table —
    the shape an actual 10^12-turn backfill runs in: never one giant
    job, but ``n_groups`` bucket-aligned passes, each an idempotent
    partition upsert, with a ``_backfill.json`` progress marker so a
    killed run resumes at the first unfinished group (north_rule:
    "checkpoints per-partition extraction state … so any stage
    resumes mid-run" — this is the sub-stage granularity; stage-level
    resume lives in ``plans.pipeline``).

    Groups are defined on the STAGE bucketing (group of a conversation
    = ``pmod(xxhash64(conv_id), n_buckets) % n_groups``) because each
    group's upsert must carry COMPLETE replacement content for every
    stage bucket it touches — bucket-aligned groups touch disjoint
    stage buckets, so a crashed group re-runs idempotently and never
    clobbers a finished one.  Each group also upserts its slice of the
    ``_frontier`` (so the finished table is immediately
    delta-refreshable) and, when ``rejects_location`` is given, its
    slice of the error channel (bucketed like the stage table;
    ``sio.read_table`` reads it back identically to the full-build
    flat layout).

    ``turns`` as a STRING names a bucketed raw-turns table
    (``sio.write_table`` layout): when the raw modulus is a multiple
    of the stage modulus each group's read partition-prunes to its own
    raw buckets — total backfill I/O stays ~1× the corpus.  A
    DataFrame input is filtered per group instead (correct, but each
    pass re-scans the source — fine at test scale, documented as the
    non-pruned path).  ``max_groups_per_call`` bounds one invocation
    (operational chunking: run k groups per scheduler tick); the
    return's ``complete`` says whether the table is finished.

    Measured cost of the whole trade at 29.3M turns (n_groups=8,
    BENCH/BASELINE.md): wall-parity with the one-shot build (112.0 s
    vs 114.9 s same-run) — sub-stage crash-resumability is free at
    this scale, after rebalancing each group's pruned read to full
    parallelism and salting the per-bucket writes.

    While incomplete, the stage table must not be refreshed —
    ``refresh_triples_partitioned`` raises on an unfinished backfill
    marker (detection mode would otherwise re-extract every remaining
    conversation in one unchunked pass, silently defeating this)."""
    if max_groups_per_call is not None and max_groups_per_call < 1:
        raise ValueError("max_groups_per_call must be >= 1")
    if n_buckets is None:
        n_buckets = _stage_modulus(spark, stage_location)
    # validate the turns input BEFORE any marker is persisted: this is
    # read-only, and a marker stranded by a failed validation would
    # make every later refresh/backfill on this stage raise
    # "unfinished backfill (0/N groups)" until hand-deleted
    raw_buckets_of: dict[int, list[int]] | None = None
    if isinstance(turns, str):
        t_meta = sio.read_bucket_meta(spark, turns)
        if t_meta is None:
            raise ValueError(
                f"turns table at {turns} is not bucketed (no "
                "_buckets.json): pass a DataFrame for unbucketed input"
            )
        raw_n = t_meta["n_buckets"]
        if t_meta["partition_key"] != "conv_id":
            # bucketed, but on some other key: the bucket→group map
            # below assumes p_hash = hash(conv_id) mod raw_n, so
            # pruning would route most rows to a group whose conv_id
            # filter then discards them.  Fall back to the unpruned
            # path (exact conv_id group filter over the full scan) —
            # correct for any layout, just without partition pruning.
            raw_n = None
        if raw_n is not None and raw_n % n_buckets == 0:
            # raw bucket determines stage bucket (h mod raw_n mod
            # stage_n == h mod stage_n when stage_n | raw_n) → exact
            # partition pruning per group
            raw_buckets_of = {
                g: [b for b in range(raw_n) if (b % n_buckets) % n_groups == g]
                for g in range(n_groups)
            }
        turns_df = sio.read_table(spark, turns, keep_bucket_col=True)
    else:
        turns_df = turns
    mpath = _backfill_marker(stage_location)
    if fsutil.exists(spark, mpath):
        marker = json.loads(fsutil.read_text(spark, mpath))
        if marker["n_buckets"] != n_buckets or marker["n_groups"] != n_groups:
            raise ValueError(
                f"backfill at {stage_location} was started with "
                f"n_buckets={marker['n_buckets']} n_groups="
                f"{marker['n_groups']}; refusing to resume with "
                f"n_buckets={n_buckets} n_groups={n_groups}"
            )
        done = list(marker["done"])
    elif fsutil.exists(spark, os.path.join(stage_location, "_schema.json")):
        raise ValueError(
            f"stage at {stage_location} already exists and is not a "
            "backfill in progress: use refresh_triples_partitioned"
        )
    else:
        done = []
        # marker BEFORE any group work: the first group's upsert
        # creates the stage sidecars, so a crash inside it would
        # otherwise leave a state the existing-table guard above
        # mistakes for a complete foreign table and refuses to resume
        fsutil.write_text(
            spark, mpath,
            json.dumps(
                {"n_buckets": n_buckets, "n_groups": n_groups, "done": []}
            ),
        )

    from lexicator_spark.operators.extract import split_rejects

    stage_group = (
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        % F.lit(n_groups)
    )
    pending = [g for g in range(n_groups) if g not in done]
    if max_groups_per_call is not None:
        pending = pending[:max_groups_per_call]
    groups_run: list[int] = []
    for g in pending:
        if raw_buckets_of is not None:
            slice_df = turns_df.filter(
                F.col("p_hash").isin(raw_buckets_of[g])
            ).drop("p_hash")
            # bucket pruning is exact here; the group filter below is
            # defense in depth (and the only filter on the unpruned
            # paths)
            slice_df = slice_df.filter(stage_group == g)
        else:
            slice_df = turns_df.filter(stage_group == g)
            if "p_hash" in slice_df.columns:
                slice_df = slice_df.drop("p_hash")
        from pyspark import StorageLevel

        # REBALANCE before persist: a partition-pruned read inherits
        # its parallelism from the pruned FILE COUNT (a group's ~P/G
        # bucket files → that many scan partitions), and the cached
        # slice keeps that layout — so the regex-heavy extraction ran
        # ~P/G-way on a full cluster's worth of cores (measured: the
        # dominant per-group cost at 29.3M turns, BENCH/BASELINE.md).
        slice_df = slice_df.repartition(spark.sparkContext.defaultParallelism)
        # the group's turns feed 2-3 consumers (extraction, the
        # frontier aggregate, optionally the error channel) — persist
        # so the raw slice is read once per group, not once per
        # consumer (wall-neutral on a page-cached local disk, strictly
        # fewer object-store reads on a real cluster)
        slice_df = slice_df.persist(StorageLevel.MEMORY_AND_DISK)
        extracted = extract_triples(slice_df, impl=impl)
        if rejects_location is not None:
            # two sinks (good + error channel): evaluate the group's
            # extraction once, same as run_pipeline's stage_a persist
            extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
        good, rejects = split_rejects(extracted)
        # NO touched_buckets on these upserts, deliberately: that
        # parameter buys became-empty deletion at the price of an
        # eager checkpoint (full extra materialization) + a distinct
        # probe, both of which guard callers whose replacement frame
        # READS the files being replaced (refresh does).  Backfill's
        # replacement derives from the raw turns only, and extraction
        # is deterministic, so a crash-rerun of a group rewrites
        # exactly the same buckets with the same content — dynamic
        # overwrite alone is sound, at one evaluation per sink
        # (measured 11% of the total backfill wall at 29.3M turns,
        # BENCH/BASELINE.md).  Caveat: rows REMOVED from the raw input
        # between a crash and its rerun could strand a stale bucket;
        # route post-crash input changes through
        # refresh_triples_partitioned, whose frontier records exactly
        # what each group processed.
        # files_per_bucket: a group touches ~n_buckets/n_groups
        # buckets; at one file (= one writer task) per bucket the
        # write serializes on that handful of tasks — spread each
        # bucket over enough salted files to keep the cores busy
        # (measured: the extract+write step was the dominant group
        # cost at 29.3M turns, BENCH/BASELINE.md)
        g_buckets = sum(1 for b in range(n_buckets) if b % n_groups == g)
        fpb = max(
            1,
            min(8, spark.sparkContext.defaultParallelism // max(1, g_buckets)),
        )
        sio.upsert_partitions(
            good, stage_location, partition_key="conv_id",
            n_buckets=n_buckets, files_per_bucket=fpb,
        )
        if rejects_location is not None:
            sio.upsert_partitions(
                rejects, rejects_location, partition_key="conv_id",
                n_buckets=n_buckets, files_per_bucket=fpb,
            )
            extracted.unpersist()
        g_frontier = slice_df.groupBy("conv_id").agg(
            F.max("turn_idx").alias("done_max_idx")
        )
        sio.upsert_partitions(
            g_frontier, _frontier_location(stage_location),
            partition_key="conv_id", n_buckets=n_buckets,
        )
        slice_df.unpersist()
        done.append(g)
        groups_run.append(g)
        # marker AFTER all the group's upserts: a crash inside the
        # group re-runs it idempotently (same buckets, same content)
        fsutil.write_text(
            spark, mpath,
            json.dumps(
                {"n_buckets": n_buckets, "n_groups": n_groups, "done": done}
            ),
        )
    return BackfillResult(
        table=sio.read_table(spark, stage_location),
        n_groups=n_groups,
        groups_run=groups_run,
        groups_skipped=[g for g in done if g not in groups_run],
        complete=len(done) == n_groups,
    )


class RefreshResult(NamedTuple):
    table: DataFrame  # the refreshed stage table, read back
    n_changed: int  # conversations re-extracted this refresh
    n_buckets_touched: int  # p_hash buckets rewritten
    touched_buckets: tuple[int, ...] = ()  # the rewritten p_hash ids
    # per-bucket row counts of the rewritten buckets, straight from
    # the upsert's became-empty probe (sio.upsert_partitions) — lets
    # plans/refresh maintain lineage counts without re-reading the
    # files this refresh just wrote.  None on the 0-changed no-op.
    bucket_counts: tuple[tuple[int, int], ...] | None = None
    # what ``on_replacement`` returned; None when it was not called
    hook_result: Any = None


def refresh_triples_partitioned(
    spark: SparkSession,
    turns: DataFrame | str,
    stage_location: str,
    impl: str = "native",
    change_feed: DataFrame | None = None,
    on_replacement: Callable[[DataFrame, list[int]], Any] | None = None,
) -> RefreshResult:
    """Idempotent in-place refresh of a persisted Stage-A table: the
    parquet stand-in for Iceberg ``MERGE INTO`` (SURVEY.md §2 #2/#10).
    The one Stage-A refresh entry, for both shapes of ``turns``.

    ``change_feed`` — a DataFrame with a ``conv_id`` column naming the
    conversations known to have changed — is the RecentChanges analog
    proper: lexicator polls the wiki's change feed and re-processes
    exactly the listed pages, it never diffs the whole corpus.  With a
    feed, the snapshot-wide change *detection* (full ``turns``
    aggregate joined against the full frontier — O(corpus) shuffle
    regardless of delta size, measured as the dominant cost of a
    10-conversation refresh at 29M turns, BENCH/BASELINE.md) is
    skipped entirely: the refresh reads only the feed, the touched
    buckets, and one semi-join pass over ``turns`` for re-extraction.
    Feed rows for conversations that did not actually change are
    idempotent (their buckets rewrite to identical contents); a
    changed conversation MISSING from the feed stays stale until a
    feed mentions it or a detection-mode refresh runs — same contract
    as polling RecentChanges.  A fed conversation with NO rows in the
    ``turns`` snapshot is treated as a DELETION: its triples and its
    frontier row are removed (this is how the remove-conversation
    path works, tested in tests/test_refresh_e2e.py) — so feeds must
    be emitted only after the corresponding raw-table upsert has
    landed, or a transiently-missing conversation will be dropped and
    stay gone until a later feed re-lists it.  Without a feed (default), changes are
    detected from the snapshot as below.  The one-time frontier
    bootstrap always runs in detection mode (it must see the full
    corpus once).

    Only the ``p_hash`` buckets containing a changed conversation are
    rewritten (dynamic partition overwrite via ``sio.upsert_partitions``);
    every other bucket's files are untouched on disk — at 10^12 turns
    a daily delta touches a handful of buckets, not the whole table.
    A touched bucket is rewritten as: existing triples of its
    unchanged conversations + fresh extraction for its changed ones,
    so the result equals a full recompute (asserted in
    tests/test_incremental.py).

    The processed frontier is an explicit ``_frontier(conv_id,
    done_max_idx)`` table co-located with (and bucket-upserted like)
    the stage table, so conversations that produce zero triples are
    still recorded as processed — a refresh with no new turns rewrites
    NOTHING (a frontier derived from the triples would re-derive the
    zero-triple tail forever).  Detection is ``changed_conversations``
    against that table.  On first refresh of a pre-frontier table the
    frontier bootstraps from the triples.

    ``turns`` as a STRING names a BUCKETED raw-turns table (written /
    upserted via ``sio.write_table`` / ``sio.upsert_partitions`` keyed
    on conv_id) that already holds the fed conversations' current
    turns: the end-to-end O(delta) ingest shape.  The production loop
    is: a batch of new turns arrives with its conv_id list (the
    RecentChanges poll), the raw table is bucket-upserted with it
    (O(delta)), then this refresh re-extracts exactly those
    conversations (O(delta)).  It needs ``change_feed`` and an
    existing ``_frontier`` (``validate_refresh_preconditions``; the
    one-time bootstrap must see the full corpus), and reads only the
    raw buckets holding a fed conversation, pruned in the turns
    table's own ``_buckets.json`` modulus (it may differ from the
    stage's).  With a DataFrame and a feed, detection is skipped but
    the re-extraction semi-join still scans the whole snapshot, which
    at 29M turns cost ~47 s for a 10-conversation delta vs ~14 s on
    the pruned read (cost there ∝ touched-bucket fraction, so the gap
    widens with bucket count — BENCH/BASELINE.md).

    The stage table's bucketing comes from its ``_buckets.json``
    sidecar recorded at write time (``sio.DEFAULT_BUCKETS`` when
    there is none): a different modulus would scatter kept rows into
    new buckets while dynamic overwrite leaves the stale ones in place.

    ``on_replacement(pinned, touched)`` is called with the touched
    buckets' pinned replacement content (the stage table's new rows
    for those buckets, without ``p_hash``) and the touched bucket ids,
    as a third task beside the stage and frontier upserts; its result
    comes back as ``RefreshResult.hook_result`` and its exception
    propagates.  It must not read the stage table's touched buckets,
    which the concurrent upsert is replacing.  ``plans.refresh``
    derives its ``_surface_stats`` update and universe diff there.
    Not called when nothing changed."""
    floc = _frontier_location(stage_location)
    if isinstance(turns, str):
        if change_feed is None:
            raise ValueError(
                f"refresh from the turns table at {turns} needs "
                "change_feed: without a feed the detection aggregate "
                "must see the full snapshot — pass it as a DataFrame"
            )
        t_meta = validate_refresh_preconditions(spark, stage_location, turns)
        bootstrap = False  # validated: the frontier exists
    else:
        _refuse_unfinished_backfill(spark, stage_location)
        bootstrap = not fsutil.exists(spark, floc)
    n_buckets = _stage_modulus(spark, stage_location)

    # detection mode pins (conv_id, max_idx) — the changed set AND the
    # changed conversations' new frontier rows in ONE checkpointed
    # delta-sized frame, so the frontier replacement below needs no
    # second full-snapshot aggregate (it equals `latest` restricted to
    # the changed set by definition).  Feed mode has no `latest`;
    # changed_with_max stays None there and the frontier derives from
    # the one semi-join pass over `turns`.
    changed_with_max: DataFrame | None = None
    if change_feed is not None and not bootstrap:
        # RecentChanges proper: the feed IS the changed set — no
        # snapshot-wide detection aggregate, no full frontier read.
        # NULL feed rows name nothing: dropped.  (xxhash64(NULL) is
        # the constant seed bucket, not NULL — without this filter a
        # NULL feed row would drag that whole bucket into every
        # refresh, on the turns read and the stage upsert alike.)
        changed = (
            change_feed.select("conv_id")
            .filter(F.col("conv_id").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        if isinstance(turns, str):
            t_touched = sorted(
                r.p
                for r in changed.select(
                    F.pmod(F.xxhash64("conv_id"), F.lit(t_meta["n_buckets"]))
                    .cast("int")
                    .alias("p")
                )
                .distinct()
                .collect()
            )
            turns = (
                sio.read_table(spark, turns, keep_bucket_col=True)
                .filter(F.col("p_hash").isin(t_touched))
                .drop("p_hash")
            )
    else:
        if bootstrap:
            # one-time full scan: no frontier table yet, derive it from
            # the triples (steady-state refreshes never touch this path)
            done = sio.read_table(spark, stage_location)
            frontier = (
                done.filter(F.col("conv_id").isNotNull())
                .groupBy("conv_id")
                .agg(F.max("turn_idx").alias("done_max_idx"))
            )
        else:
            frontier = sio.read_table(spark, floc)
        changed_with_max = changed_conversations(turns, frontier).localCheckpoint(
            eager=True
        )
        changed = changed_with_max.select("conv_id")
    # ONE job answers both "how many changed?" and "which buckets?":
    # the per-bucket grouped count is bounded by n_buckets rows, and
    # n_changed is its sum (``changed`` is distinct by construction in
    # every mode) — the separate count() + distinct-collect pair this
    # replaces cost two scheduler round-trips per refresh tick.
    bucket_of = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    bucket_rows = (
        changed.select(bucket_of.alias("p_hash")).groupBy("p_hash").count().collect()
    )
    n_changed = sum(int(r["count"]) for r in bucket_rows)
    if n_changed == 0:
        # true no-op: no stage write, no frontier write, zero files
        # touched — callers can skip downstream recomputes entirely
        return RefreshResult(sio.read_table(spark, stage_location), 0, 0, ())

    # the touched-bucket list is bounded by the delta (≤ n_buckets
    # ints) and lets the upsert express "bucket became empty" — a
    # changed conversation that re-extracts to zero triples must
    # DELETE its stale bucket, which dynamic overwrite alone cannot do
    touched = sorted(int(r["p_hash"]) for r in bucket_rows)
    n_buckets_touched = len(touched)
    # small deltas: collect the id list (bounded by _ISIN_DELTA_MAX)
    # so the re-extraction runs as a literal scan filter instead of a
    # broadcast semi-join — see _delta_good_triples
    changed_ids = (
        [r.conv_id for r in changed.collect()]
        if n_changed <= _ISIN_DELTA_MAX
        else None
    )
    # `changed` is checkpoint-RDD-backed (no Catalyst size estimate),
    # so un-hinted, the anti/semi-joins below plan as sort-merge and
    # shuffle the KEPT side.  n_changed is now known EXACTLY before
    # any of these joins run, so a gated explicit broadcast (same
    # bound the graph loops use) beats both the SMJ and AQE's
    # shuffle-then-replan detour; bulk deltas beyond the bound keep
    # the shuffle plan — `changed` is unbounded in general (a backfill
    # day can touch most conversations).
    changed_j = (
        F.broadcast(changed) if n_changed <= 1_000_000 else changed
    )
    # Kept rows are read by filtering on the PARTITION COLUMN itself
    # (keep_bucket_col=True + isin(touched)), so the parquet source
    # prunes to the touched bucket directories — re-deriving the hash
    # from conv_id on a plain read would scan the whole table even for
    # a one-conversation delta, which at 10^12 turns turns every tiny
    # refresh into a full-table I/O pass.
    kept_in_touched = (
        sio.read_table(spark, stage_location, keep_bucket_col=True)
        .filter(F.col("p_hash").isin(touched))
        .drop("p_hash")
        .filter(F.col("conv_id").isNotNull())
        .join(changed_j, "conv_id", "left_anti")
    )
    # the re-extraction semi-join stays UNhinted: interleaved A/B at
    # the 1%-delta shape (3071 changed) measured the forced-broadcast
    # variant par-to-slightly-worse there — AQE already handles the
    # corpus-side join well, and the anti-joins below are where the
    # kept-side shuffle actually disappears
    replacement = kept_in_touched.unionByName(
        _delta_good_triples(turns, changed, impl, changed_ids=changed_ids)
    )
    # frontier maintenance: first refresh of a pre-frontier table
    # persists the COMPLETE frontier (one-time full write); afterwards
    # it is bucket-upserted exactly like the stage table.  Detection
    # mode reuses the pinned (conv_id, max_idx) delta — the changed
    # set's new frontier rows are BY DEFINITION `latest` restricted to
    # it, so re-aggregating the snapshot here was a second full-corpus
    # pass per refresh tick (removed r6; at 29M turns that pass is the
    # difference between O(delta) and O(corpus) frontier upkeep).
    # Feed mode still derives it from one semi-join pass over `turns`
    # (delta-scoped by construction — no snapshot aggregate exists).
    if changed_with_max is not None:
        new_frontier = changed_with_max.select(
            "conv_id", F.col("max_idx").alias("done_max_idx")
        )
    else:
        new_frontier = (
            turns.join(changed, "conv_id", "left_semi")
            .groupBy("conv_id")
            .agg(F.max("turn_idx").alias("done_max_idx"))
        )
    if bootstrap:
        frontier_replacement = frontier.join(
            changed_j, "conv_id", "left_anti"
        ).unionByName(new_frontier)
    else:
        # partition-pruned like kept_in_touched: only touched buckets
        # of the frontier table are read and rewritten
        kept_frontier = (
            sio.read_table(spark, floc, keep_bucket_col=True)
            .filter(F.col("p_hash").isin(touched))
            .drop("p_hash")
            .join(changed_j, "conv_id", "left_anti")
        )
        frontier_replacement = kept_frontier.unionByName(new_frontier)

    # Replacement frames read the very files the upserts are about to
    # replace, so they must be materialized BEFORE any write — once per
    # sink, never twice (a second pin would double the refresh's
    # dominant materialization cost).  The stage replacement is pinned
    # in _stage_upsert below, which hands the pinned frame to
    # ``on_replacement``; the frontier's pin happens INSIDE the seam
    # (touched_buckets forces an eager localCheckpoint there).  The
    # one frame NOT covered is the bootstrap frontier: it lazily reads
    # stage_location (the triples-derived frontier), goes through
    # write_table (no internal pin), and the stage upsert rewrites
    # those files first — pin it here.
    # Iceberg's snapshot isolation makes this unnecessary there; on
    # the parquet backend the staged volume is one full frontier
    # (bootstrap happens once per table).
    if bootstrap:
        frontier_replacement = frontier_replacement.localCheckpoint(eager=True)

    # a sparse delta touches few buckets: spread each touched bucket's
    # rewrite over salted files so it isn't one writer task per bucket
    # (see sio._cluster_for_write; content-deterministic)
    fpb = max(
        1,
        min(
            8,
            spark.sparkContext.defaultParallelism // max(1, n_buckets_touched),
        ),
    )

    # The stage upsert and the frontier upsert touch DISJOINT tables
    # (each one's replacement frame reads only its own table's files,
    # pinned before its write) — run them as two concurrent jobs so
    # the frontier write's fixed job costs hide under the stage
    # write's tail instead of adding to it (guide §2.6: overlap
    # independent jobs; a sparse refresh is fixed-cost-dominated, so
    # serial job count IS its wall).  ``on_replacement`` is a third
    # task in the same pool, started as soon as the stage replacement
    # is pinned.
    def _stage_upsert():
        pinned = replacement.localCheckpoint(eager=True)
        hook = (
            pool.submit(on_replacement, pinned, touched)
            if on_replacement is not None
            else None
        )
        counts = sio.upsert_partitions(
            pinned, stage_location, partition_key="conv_id",
            n_buckets=n_buckets, touched_buckets=touched,
            files_per_bucket=fpb,
            pin_replacement=False,  # pinned above
        )
        return counts, hook

    def _frontier_upsert():
        if bootstrap:
            sio.write_table(
                frontier_replacement, floc, partition_key="conv_id",
                n_buckets=n_buckets,
            )
        else:
            sio.upsert_partitions(
                frontier_replacement, floc, partition_key="conv_id",
                n_buckets=n_buckets, touched_buckets=touched,
            )

    with ThreadPoolExecutor(max_workers=3) as pool:
        stage_future = pool.submit(_stage_upsert)
        frontier_future = pool.submit(_frontier_upsert)
        stage_counts, hook = stage_future.result()
        frontier_future.result()
        hook_result = hook.result() if hook is not None else None
    return RefreshResult(
        sio.read_table(spark, stage_location),
        n_changed,
        n_buckets_touched,
        tuple(touched),
        tuple(stage_counts) if stage_counts is not None else None,
        hook_result,
    )
