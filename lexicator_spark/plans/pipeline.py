"""Stage orchestration: extract → link → canonicalize → materialize,
with per-stage checkpoints (resume skips completed stages) and
per-stage lineage metrics — the Spark re-design of lexicator's
pipeline-of-ContentStores DAG (``lexicator/__main__.py`` ::
``Lexicator``/``caches`` dict [M], SURVEY.md §3.1).

Each stage is a pure ``DataFrame → DataFrame`` function whose output
is persisted as a stage table; resumability = checking the stage's
``_SUCCESS``-backed checkpoint marker before recomputing (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Every stage, in build and refresh alike, ends in ``_finish_stage``:
it writes the stage's lineage rows (stage, partition_id, rows_in,
rows_out, wall_ms, n_partitions) as one small JSON-lines file under
``<root>/_lineage`` and then the stage's checkpoint marker under
``<root>/_checkpoints`` — both through the Hadoop FileSystem of
``out_root``, so resume works identically on local disk, HDFS or an
object store, and a marker never exists without its lineage rows
(FIXTURES.md §4 schemas; read back with ``read_lineage``).

A build overlaps stages where one does not read the other's table:
Stage B links from Stage A's pinned checkpoint while ``triples_raw``
is still being written on a side pool.  Markers and lineage rows stay
in ``STAGES`` order all the same — a stage finishes once it and every
earlier stage have — so a crash leaves a marker prefix.  A stage's
``rows_in`` is a count the build already holds: the turns count (run
beside the raw write) for extract, and the previous stage's
``rows_out`` (observed, or read from its marker on a resume) for link
and canonicalize.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexicator_spark.sources import fsutil

from lexicator_spark.operators.canonicalize import canonical_of_links
from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.link import build_catalog, link_mentions
from lexicator_spark.sources import io as sio
from lexicator_spark import rules

# The pipeline's stage order — the single authority shared by
# run_pipeline's stop_after validation, plans/refresh's marker
# deletion + completeness loop, and the CLI's --stage choices.
STAGES = ("extract", "link", "canonicalize", "materialize", "entities")


@dataclass
class PipelineResult:
    triples_path: str
    entities_path: str
    lineage: list[dict]
    stages_run: list[str]
    stages_skipped: list[str]


def _ckpt_path(root: str, stage: str) -> str:
    return os.path.join(root, "_checkpoints", f"{stage}.json")


def _mark_done(spark: SparkSession, root: str, stage: str, meta: dict) -> None:
    fsutil.write_text(
        spark,
        _ckpt_path(root, stage),
        json.dumps({"stage": stage, "status": "done", **meta}),
    )


def _is_done(spark: SparkSession, root: str, stage: str) -> bool:
    return fsutil.exists(spark, _ckpt_path(root, stage))


def _read_marker(spark: SparkSession, root: str, stage: str) -> dict:
    return json.loads(fsutil.read_text(spark, _ckpt_path(root, stage)))


def _bucket_counts(spark: SparkSession, out_path: str) -> list[tuple] | None:
    """Per-p_hash-bucket row counts of a just-written stage table, or
    None for unbucketed tables.  ONE scan of the p_hash column (row
    counts ride parquet row-group metadata); the result is at most
    ``n_buckets`` rows, so collecting it is bounded by configuration,
    not data.  Read through ``sio.read_table`` (not bare
    ``spark.read.parquet``): an all-empty bucketed stage write leaves
    only the schema sidecar — no parquet footers to infer from — and
    must yield zero bucket counts, not an inference crash."""
    raw = sio.read_table(spark, out_path, keep_bucket_col=True)
    if "p_hash" not in raw.columns:
        return None
    return [
        (int(r["p_hash"]), int(r["count"]))
        for r in raw.groupBy("p_hash").count().collect()
    ]


LINEAGE_SCHEMA = (
    "stage string, partition_id int, rows_in bigint, rows_out bigint, "
    "wall_ms bigint, n_partitions int"
)


def _new_run_id() -> str:
    """Per-call id naming one run's lineage files: sortable by start
    time, unique across concurrent or same-second runs."""
    return f"{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:8]}"


def _finish_stage(
    spark: SparkSession,
    root: str,
    run_id: str,
    stage: str,
    rows_out: int,
    wall_ms: int,
    buckets: list | None,
    rows_in: int = -1,
    n_partitions: int = -1,
    label: str | None = None,
    pre_mark_joins: list | None = None,
) -> dict:
    """Finish one stage of a build or refresh: write its lineage rows,
    then its checkpoint marker.  Returns the stage-level lineage row.

    The lineage rows — one stage-level row (``partition_id = -1``,
    named ``label``, default ``stage``) plus one per ``p_hash`` bucket
    — go to ``<root>/_lineage/<run_id>-<stage>.jsonl``: a driver-side
    small-file write that runs no Spark job.  Written BEFORE the
    marker, so every stage a resume skips already has its rows and
    nothing is ever reconstructed or re-appended.  (A crash between
    the two small writes leaves rows for a stage the resume then runs
    again, so that stage gets two rows; the other order would lose
    rows instead.)

    ``pre_mark_joins`` holds futures of side writes the stage launched
    (e.g. the extract stage's error channel); they are joined, and the
    list cleared, first — neither a lineage row nor a marker may
    promise an output a still-in-flight write could fail to deliver."""
    while pre_mark_joins:
        pre_mark_joins.pop().result()
    row = {
        "stage": label or stage,
        "rows_in": int(rows_in),
        "rows_out": int(rows_out),
        "wall_ms": int(wall_ms),
        "n_partitions": int(n_partitions),
    }
    lines = [{**row, "partition_id": -1}] + [
        {**row, "partition_id": int(b), "rows_in": -1, "rows_out": int(c),
         "wall_ms": -1}
        for b, c in buckets or []
    ]
    fsutil.write_text(
        spark,
        os.path.join(root, "_lineage", f"{run_id}-{stage}.jsonl"),
        "".join(json.dumps(line) + "\n" for line in lines),
    )
    _mark_done(
        spark, root, stage,
        {"rows_out": rows_out, "wall_ms": wall_ms, "bucket_counts": buckets},
    )
    return row


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    """Every lineage row recorded under ``root`` (FIXTURES.md §4
    ``_lineage`` schema).  Reads the ``*.jsonl`` stage files only."""
    lin = os.path.join(root, "_lineage")
    files = [
        os.path.join(lin, n)
        for n in fsutil.list_names(spark, lin)
        if n.endswith(".jsonl")
    ]
    if not files:
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).json(files)


_NULL_BUCKET_MEMO: dict[int, int] = {}


def _null_bucket(spark: SparkSession, n_buckets: int) -> int:
    """The bucket every NULL-conv_id row (same_as / canonical_of)
    hashes into: Spark's xxhash64 folds a NULL input to the seed, so
    this is a constant per modulus — computed through the engine
    rather than hard-coding the seed.  Memoized per modulus: it is an
    engine constant (pure function of the modulus, no data), so the
    one-row probe job runs once per process, not once per refresh."""
    if n_buckets not in _NULL_BUCKET_MEMO:
        _NULL_BUCKET_MEMO[n_buckets] = (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(None).cast("string")), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
            .collect()[0]
            .b
        )
    return _NULL_BUCKET_MEMO[n_buckets]


def _check_bucket_layout(
    spark: SparkSession, location: str, n_buckets: int | None = None
) -> int:
    """The one layout rule of the stage tables Stage D copies between:
    the ``_buckets.json`` at ``location`` must record
    ``{"partition_key": "conv_id", "n_buckets": n_buckets}`` (any
    modulus when ``n_buckets`` is None), or a ``ValueError`` names the
    found and expected layouts.  Runs where a root is opened, before
    anything is written.  Returns the checked modulus."""
    found = sio.read_bucket_meta(spark, location)
    if n_buckets is None and found is not None:
        n_buckets = found.get("n_buckets")
    expected = {"partition_key": "conv_id", "n_buckets": n_buckets}
    if found != expected:
        raise ValueError(
            f"{location} is bucketed as {found} (_buckets.json), expected "
            f"{expected}: the stage tables under a root share one "
            "conv_id bucket layout"
        )
    return n_buckets


def _materialize_by_copy(
    spark: SparkSession,
    root: str,
    extras: DataFrame,
    n_buckets: int,
    touched: list[int] | None = None,
) -> list[tuple[int, int]]:
    """Stage D, the only writer of ``triples``, for build
    (``touched=None``: the whole table) and refresh (only the
    ``touched`` buckets).

    ``triples`` is ``triples_raw`` ∪ ``extras`` (same_as ∪ canonical),
    bucketed by the same ``(conv_id, n_buckets)`` scheme as the raw
    table, and every extras row carries a NULL conv_id.  So each
    bucket's raw files are already that bucket's materialized content,
    except the NULL bucket, which also holds the extras.  Clone the
    raw bucket dirs at the FS level (``sio.copy_buckets`` — a
    server-side copy on an object store), then append the extras into
    the NULL bucket when it is in scope.  This skips a union's
    full-table exchange and parquet re-encode, with identical content
    (tests/test_r06_internals.py, and the refresh row-identity tests).

    Precondition, checked by the callers where they open the root
    (``_check_bucket_layout``): ``triples_raw`` — and on refresh
    ``triples`` — is bucketed on conv_id at ``n_buckets``.  So only
    the whole-table copy writes ``triples/_buckets.json``.

    The NULL-conv_id invariant is checked row-inline on the append
    job: a non-NULL conv_id fails that job before it commits, so no
    extras row lands in a bucket it does not hash to.

    Returns the written buckets' counts: the extract marker's raw
    counts, plus the appended count on the NULL bucket."""
    raw_path = os.path.join(root, "triples_raw")
    triples_path = os.path.join(root, "triples")
    raw_counts = _read_marker(spark, root, "extract")["bucket_counts"]
    if touched is None:
        fsutil.delete(spark, triples_path, recursive=True)
    sio.copy_buckets(spark, raw_path, triples_path, buckets=touched)
    counts = {
        int(b): int(c)
        for b, c in raw_counts
        if touched is None or int(b) in touched
    }
    nb = _null_bucket(spark, n_buckets)
    if touched is None or nb in touched:
        conv = F.col("conv_id")
        guarded = extras.withColumn(
            "conv_id",
            F.when(conv.isNull(), conv).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "materialize: same_as/canonical rows must "
                            "carry a NULL conv_id, got "
                        ),
                        conv,
                    )
                )
            ),
        )
        n_extra = sio.append_into_bucket(guarded, triples_path, nb)
        if n_extra:
            counts[nb] = counts.get(nb, 0) + n_extra
    fsutil.write_text(
        spark,
        os.path.join(triples_path, "_schema.json"),
        sio.with_partition_hash(
            sio.read_table(spark, raw_path).unionByName(extras),
            "conv_id",
            n_buckets,
        ).schema.json(),
    )
    if touched is None:
        sio._write_bucket_meta(spark, triples_path, "conv_id", n_buckets)
    return sorted(counts.items())


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_root: str,
    resume: bool = True,
    n_buckets: int = sio.DEFAULT_BUCKETS,
    backfill_groups: int | None = None,
    turns_source: str | None = None,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full KG-construction pipeline.

    ``stop_after`` truncates the run after the named stage (the CLI's
    ``--stage X`` contract: run up to and including X) — checkpoints
    make a later full run resume exactly where this one stopped.

    A resume that skips a finished extraction first checks that
    ``triples_raw`` is bucketed on conv_id at ``n_buckets``
    (``_check_bucket_layout``): Stage D copies its bucket files, so a
    raw table at another modulus is refused before anything is
    written.

    ``backfill_groups=N`` builds Stage A via
    ``incremental.backfill_triples`` — N bucket-aligned chunked
    passes with a ``_backfill.json`` progress marker, so a killed
    initial build resumes at the first unfinished group instead of
    restarting the whole extraction (sub-stage resume; at 10^12 turns
    Stage A is not one job).  ``turns_source`` names the bucketed
    raw-turns table ``turns`` was read from, letting each group's
    read partition-prune to its own raw buckets.  Downstream stages
    and checkpoints behave identically either way.

    Stage tables under ``out_root``:
      triples_raw/   Stage A output (+ rejects/ error channel)
      triples/       A + same_as + canonical_of, final graph edges
                     (raw bucket files copied, extras appended:
                     ``_materialize_by_copy``)
      entities/      canonical_id → surface_form rows
    """
    if stop_after is not None and stop_after not in STAGES:
        raise ValueError(
            f"stop_after must be one of {STAGES}, got {stop_after!r}"
        )

    def _runs(stage: str) -> bool:
        if stop_after is None:
            return True
        return STAGES.index(stage) <= STAGES.index(stop_after)

    lineage: list[dict] = []
    run: list[str] = []
    skipped: list[str] = []
    run_id = _new_run_id()

    # futures a stage launched that must complete BEFORE that stage's
    # checkpoint marker becomes durable (the extract stage's
    # triples_raw and error-channel writes and its turns count) —
    # joined by _finish_stage
    pre_mark_joins: list = []
    # the finish of an earlier stage whose table is still being written
    # beside the current stage (extract's, while link runs): called
    # before the current stage finishes, so markers and lineage rows
    # land in STAGES order
    deferred: list = []

    def finish(
        name: str, rows_out: int, wall_ms: int, buckets,
        rows_in: int = -1, n_partitions: int = -1,
    ) -> None:
        lineage.append(
            _finish_stage(
                spark, out_root, run_id, name, rows_out, wall_ms, buckets,
                rows_in=rows_in, n_partitions=n_partitions,
                pre_mark_joins=pre_mark_joins,
            )
        )
        run.append(name)

    def finish_deferred() -> None:
        while deferred:
            deferred.pop()()

    def rows_out_of(stage: str) -> int:
        """A finished stage's row count, the next stage's ``rows_in``:
        the count this run observed, or the marker's when a resume
        skipped the stage.  Runs no Spark job."""
        for row in lineage:
            if row["stage"] == stage:
                return row["rows_out"]
        return _read_marker(spark, out_root, stage)["rows_out"]

    def write_stage(
        out_df: DataFrame, out_path: str, partition_key, t0: float
    ) -> tuple[DataFrame, dict]:
        """Write one stage table; return it read back, with the
        arguments ``finish`` records for it apart from ``rows_in``."""
        observed = sio.write_table(
            out_df, out_path, partition_key=partition_key, n_buckets=n_buckets,
            observe_counts=True,
        )
        persisted = sio.read_table(spark, out_path)
        # row counts observed on the write job itself (CollectMetrics)
        # — no second scan of the files just written; a write that ran
        # no task (observed None: an empty relation materializes no
        # metrics) falls back to the footer-metadata count.  [(-1, n)]
        # marks an unbucketed write.
        if observed is None:
            buckets = _bucket_counts(spark, out_path)
            rows_out = (
                sum(c for _, c in buckets)
                if buckets is not None
                else persisted.count()
            )
        elif observed and observed[0][0] == -1:
            buckets = None
            rows_out = observed[0][1]
        else:
            buckets = observed
            rows_out = sum(c for _, c in observed)
        return persisted, {
            "rows_out": rows_out,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "buckets": buckets,
            "n_partitions": persisted.rdd.getNumPartitions(),
        }

    def staged(
        name: str, fn, out_path: str, partition_key,
        input_stage: str | None = None,
    ) -> DataFrame:
        """Run stage ``name`` unless a resume finds its marker.
        ``input_stage`` names the stage whose ``rows_out`` is this
        stage's lineage ``rows_in`` (-1 when None)."""
        if resume and _is_done(spark, out_root, name):
            skipped.append(name)
            return sio.read_table(spark, out_path)
        t0 = time.monotonic()
        try:
            persisted, written = write_stage(fn(), out_path, partition_key, t0)
        finally:
            # also when this stage failed: an earlier stage whose table
            # is committed keeps its marker, as if it had run first
            finish_deferred()
        finish(
            name,
            rows_in=rows_out_of(input_stage) if input_stage else -1,
            **written,
        )
        return persisted

    raw_path = os.path.join(out_root, "triples_raw")
    triples_path = os.path.join(out_root, "triples")
    entities_path = os.path.join(out_root, "entities")

    if not resume:
        # resume=False means REBUILD: clear every artifact a rebuild
        # does not unconditionally overwrite, or it silently describes
        # the previous corpus — the raw stage table (with its
        # _frontier and any _backfill.json inside; a completed
        # backfill marker would otherwise make the new backfill a
        # no-op that keeps stale triples), the group-upserted rejects
        # channel, and _surface_stats (ensure_surface_stats no-ops
        # when it exists)
        for stale in (
            raw_path,
            os.path.join(out_root, "rejects"),
            os.path.join(out_root, "_surface_stats"),
            # stage markers + lineage too: a rebuild that crashes
            # mid-run must not let a later resume=True skip downstream
            # stages on the strength of the PREVIOUS corpus's markers
            # (mixed-corpus serving), and _lineage would keep the old
            # corpus's rows next to the new ones (double-counted stage
            # totals)
            os.path.join(out_root, "_checkpoints"),
            os.path.join(out_root, "_lineage"),
            # downstream stage tables too: a full run overwrites them
            # anyway, but with stop_after truncating the run they'd
            # keep serving the PREVIOUS corpus to direct readers
            # (triples_of & co read the table paths, not the markers)
            os.path.join(out_root, "same_as"),
            os.path.join(out_root, "canonical"),
            triples_path,
            entities_path,
        ):
            fsutil.delete(spark, stale, recursive=True)

    # Side-job pool: writes and aggregates that the next
    # stage does not wait for run concurrently with the stage chain, so
    # their fixed job costs back-fill idle executor capacity instead of
    # extending the critical path:
    #   - extract's own sinks: the bucketed triples_raw write, the
    #     rejects error channel, and the turns count (its rows_in).
    #     Stage B links from the Stage-A pin on the calling thread
    #     meanwhile; extract finishes (marker, lineage) when they are
    #     joined, before link finishes — markers stay in STAGES order;
    #   - the sidecars no stage before entities reads (_frontier,
    #     _surface_stats), started once triples_raw is committed.
    # Every future is joined before the function returns: primary
    # stage errors win, side-job errors surface on the success path,
    # and the error path waits for every side write (shutdown) — see
    # _join_side_jobs below.
    from concurrent.futures import ThreadPoolExecutor

    side_pool = ThreadPoolExecutor(max_workers=3)
    side_futures = []

    # Stage A — extraction.  The extracted frame feeds two writes
    # (rejects + good) and Stage B; pin it with localCheckpoint so the
    # scan + rule evaluation runs once, not once per consumer.
    # localCheckpoint beats persist(MEMORY_AND_DISK) here by ~2 s at
    # bench scale (measured, scripts/bench_r06_probe.py stage_a at
    # commit a4597d3): the checkpoint materializes straight to
    # shuffle-format RDD blocks, while the cache path pays
    # columnar-cache encode on write AND decode on each sink read,
    # competing with execution memory.  Stage B links
    # straight from the pin instead of re-reading the parquet being
    # written (identical rows by determinism: the raw table holds
    # exactly these rows).
    def stage_a():
        # serialized checkpoint blocks (pyspark-4 naming: MEMORY_AND_DISK
        # stores serialized; the eager default is MEMORY_AND_DISK_DESER):
        # this is the one corpus-sized pin in the engine, and its
        # deserialized form held ~8.5 GB of an 8 GB local-mode heap at
        # 29.3M turns — the build then OOMed in stage B 2 of 5 runs
        # (GC-timing luck).  Serialized blocks are several-fold
        # smaller, measured bench-neutral (4.03 vs 4.08 s for the full
        # extract-pin-write cycle at sf0.1), and the consumers
        # (bucketed write, rejects write, Stage B) each decode once.
        from pyspark import StorageLevel

        extracted = extract_triples(turns).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        good, rejects = split_rejects(extracted)
        # pre_mark_joins, not side_futures: the extract marker's
        # durability must wait for the error channel (_finish_stage)
        pre_mark_joins.append(
            side_pool.submit(
                sio.write_table, rejects,
                os.path.join(out_root, "rejects"), partition_key=None,
            )
        )
        return good

    # The sidecars every refresh needs, written by every build:
    #   - _frontier (materialize_frontier): what triples_raw holds, so
    #     the first --refresh is delta-scoped.  When this call extracted,
    #     from the turns it extracted; on a resume that skipped
    #     extraction, from triples_raw's own rows — never from the
    #     current turns snapshot, which may be newer than the table and
    #     would record unextracted conversations as processed.  No-op
    #     when _frontier exists (a refreshed table maintains its own);
    #   - _surface_stats (ensure_surface_stats): one aggregate over the
    #     mention triples, so the table is born consistent with the
    #     downstream stages.
    # Both are INDEPENDENT of stages B-D (they read the turns snapshot /
    # the raw table, and write underscore-prefixed sidecars no stage
    # reads): run them on the side pool so their ~5 s of
    # aggregate+bucketed-write jobs back-fill the executor capacity
    # stages B-D leave idle (guide §2.6 — overlap independent jobs)
    # instead of extending the critical path.  They start only once
    # triples_raw is committed: its overwrite would delete a _frontier
    # written inside it, and the stats read its files.  The stats table
    # IS read by stage_entities, so the side jobs are joined before that
    # stage runs.
    from lexicator_spark.operators.incremental import materialize_frontier
    from lexicator_spark.plans.refresh import ensure_surface_stats

    def start_side_jobs(frontier_rows: DataFrame) -> None:
        side_futures.append(
            side_pool.submit(materialize_frontier, spark, frontier_rows, raw_path)
        )
        side_futures.append(
            side_pool.submit(ensure_surface_stats, spark, out_root, n_buckets)
        )

    def _join_side_jobs(swallow: bool = False) -> None:
        """Wait for every side job: a stage's own sinks first (the
        triples_raw write starts the sidecars), then the sidecars.
        ``swallow=True`` on the error path: the primary stage exception
        must not be masked by a secondary side-job failure raised out
        of a finally block."""
        for futures in (pre_mark_joins, side_futures):
            for fut in futures:
                if swallow:
                    try:
                        fut.result()
                    except Exception:
                        pass
                else:
                    fut.result()
            futures.clear()

    extract_done = resume and _is_done(spark, out_root, "extract")
    try:
        if extract_done:
            # an earlier run wrote the raw table Stage D will copy
            _check_bucket_layout(spark, raw_path, n_buckets)
            skipped.append("extract")
            link_input = sio.read_table(spark, raw_path)
            start_side_jobs(link_input.filter(F.col("conv_id").isNotNull()))
        elif backfill_groups is not None:
            from lexicator_spark.operators.incremental import backfill_triples

            t0 = time.monotonic()
            backfill_triples(
                spark,
                turns_source if turns_source is not None else turns,
                raw_path,
                n_buckets=n_buckets,
                n_groups=backfill_groups,
                rejects_location=os.path.join(out_root, "rejects"),
            )
            # same bookkeeping as staged(): the stage checkpoint marks
            # the WHOLE extraction done (group-level progress lives in
            # the backfill marker); wall_ms spans only this
            # invocation's groups
            link_input = sio.read_table(spark, raw_path)
            buckets = _bucket_counts(spark, raw_path)
            rows_out = (
                sum(c for _, c in buckets)
                if buckets is not None
                else link_input.count()
            )
            finish(
                "extract", rows_out, int((time.monotonic() - t0) * 1000),
                buckets, rows_in=turns.count(),
                n_partitions=link_input.rdd.getNumPartitions(),
            )
            start_side_jobs(turns)
        else:
            t0 = time.monotonic()
            link_input = stage_a()

            def write_raw() -> dict:
                _, written = write_stage(link_input, raw_path, "conv_id", t0)
                start_side_jobs(turns)
                return written

            raw_write = side_pool.submit(write_raw)
            n_turns = side_pool.submit(turns.count)
            pre_mark_joins.extend((raw_write, n_turns))

            def finish_extract() -> None:
                written = raw_write.result()
                finish("extract", rows_in=n_turns.result(), **written)

            deferred.append(finish_extract)

        # Stage B — linking (from the Stage-A pin, beside the
        # triples_raw write, when this call ran Stage A unchunked)
        def stage_b():
            return link_mentions(link_input, build_catalog(spark))

        if _runs("link"):
            same_as = staged(
                "link", stage_b, os.path.join(out_root, "same_as"), None,
                input_stage="extract",
            )
        finish_deferred()

        # Stage C — canonicalization, a projection of the links
        if _runs("canonicalize"):
            canonical = staged(
                "canonicalize", lambda: canonical_of_links(same_as),
                os.path.join(out_root, "canonical"), None,
                input_stage="link",
            )

        # Stage D — materialize the final graph table by file copy
        if _runs("materialize"):
            if resume and _is_done(spark, out_root, "materialize"):
                skipped.append("materialize")
            else:
                t0 = time.monotonic()
                buckets = _materialize_by_copy(
                    spark, out_root, same_as.unionByName(canonical), n_buckets
                )
                finish(
                    "materialize", sum(c for _, c in buckets),
                    int((time.monotonic() - t0) * 1000), buckets,
                    n_partitions=len(buckets),
                )

        # join BEFORE entities (reads _surface_stats) and before
        # returning: a side-job failure must fail the build, never
        # strand a root whose _frontier/_surface_stats/rejects
        # silently diverge from the stages (the refresh contract
        # depends on them)
        _join_side_jobs()
    except BaseException:
        _join_side_jobs(swallow=True)
        side_pool.shutdown()
        raise
    side_pool.shutdown()

    def stage_entities():
        """Entity dimension table (FIXTURES.md §4): one row per
        (canonical_id, member surface), carrying the Stage-B link
        score, the blocking key, and corpus mention counts — the
        flattened analog of the reference's lexeme-entity record
        (SURVEY §1.1: nested claims → triples + entities dimension).

        Mention counts come from the ``_surface_stats`` rollup the
        build just materialized (ensure_surface_stats above), NOT from
        a second corpus-wide ``mention_counts_of_triples`` aggregation
        — the rollup input is ≤ vocabulary × n_buckets rows and
        produces the identical frame by the sidecar's documented
        contract (the refresh path already relies on this equality;
        measured 1.43 s → 0.58 s at bench scale with
        scripts/bench_r06_probe.py at commit a4597d3)."""
        from lexicator_spark.plans.refresh import surface_rollup

        stats = sio.read_table(
            spark, os.path.join(out_root, "_surface_stats")
        )
        return entities_dim(canonical, same_as, surface_rollup(stats))

    if _runs("entities"):
        staged("entities", stage_entities, entities_path, None)

    return PipelineResult(
        triples_path=triples_path,
        entities_path=entities_path,
        lineage=lineage,
        stages_run=run,
        stages_skipped=skipped,
    )


def mention_counts_of_triples(triples_a: DataFrame) -> DataFrame:
    """Per-surface corpus aggregates for the entities dimension —
    n_convs / first-last seen make it the table analytics queries
    join without going back to the fact table (extracted_at is the
    source turn ts).  Two plain aggregations instead of count +
    countDistinct + min/max in one: mixing distinct and non-distinct
    aggregates makes Catalyst Expand every input row 2x through the
    first shuffle; pre-grouping on (surface, conv) ships each row
    once and n_convs becomes an ordinary count.

    The incremental refresh path (``plans.refresh``) produces the
    identical frame by rolling up its per-bucket ``_surface_stats``
    table instead of rescanning the corpus — conversations live in
    exactly one bucket, so every one of these aggregates sums/mins
    across buckets."""
    per_conv = (
        triples_a.filter(F.col("pred") == rules.PRED_MENTIONS)
        .groupBy(F.col("obj").alias("surface_form"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_in_conv"),
            F.min("extracted_at").alias("mn"),
            F.max("extracted_at").alias("mx"),
        )
    )
    return per_conv.groupBy("surface_form").agg(
        F.sum("n_in_conv").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("mn").alias("first_seen"),
        F.max("mx").alias("last_seen"),
    )


def entities_dim(
    canonical: DataFrame, same_as: DataFrame, mention_counts: DataFrame
) -> DataFrame:
    """The entities-dimension projection, factored out of the stage so
    the full build and the incremental refresh share one definition
    (they differ only in where ``mention_counts`` comes from)."""
    members = (
        canonical.select(
            F.col("obj").alias("canonical_id"), F.col("subj").alias("surface_form")
        )
        .union(
            canonical.select(
                F.col("obj").alias("canonical_id"), F.col("obj").alias("surface_form")
            )
        )
        .distinct()
    )
    link_scores = same_as.select(
        F.col("subj").alias("surface_form"), F.col("conf").alias("score")
    )
    from lexicator_spark.operators.link import _block_key

    return (
        members.join(link_scores, "surface_form", "left")
        .join(mention_counts, "surface_form", "left")
        .select(
            "canonical_id",
            "surface_form",
            _block_key(F.col("surface_form")).alias("block_key"),
            # canonical members carry score 1.0 by identity
            F.coalesce(
                F.col("score"),
                F.when(F.col("surface_form") == F.col("canonical_id"), 1.0),
            ).alias("score"),
            F.coalesce(F.col("n_mentions"), F.lit(0)).alias("n_mentions"),
            F.coalesce(F.col("n_convs"), F.lit(0)).alias("n_convs"),
            F.col("first_seen"),
            F.col("last_seen"),
            (F.col("surface_form") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def triples_of(spark: SparkSession, out_root: str) -> DataFrame:
    return sio.read_table(spark, os.path.join(out_root, "triples"))
