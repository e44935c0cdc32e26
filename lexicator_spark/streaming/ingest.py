"""Structured-Streaming ingest: incremental triple extraction.

The streaming twin of the batch pipeline — the Spark re-design of
lexicator's RecentChanges incremental refresh (SURVEY.md §2 #2,
``ContentStore.refresh`` [M]): instead of polling a changes feed, new
transcript files/snapshots arrive on a stream and flow through the
SAME batch stage functions via ``foreachBatch`` (preferred over
custom stateful operators: one code path, exactly-once via idempotent
MERGE-style writes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexicator_spark.operators.extract import extract_triples, split_rejects

_INTERVAL_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
    "week": 7 * 86_400 * 1_000_000,
}


def _interval_us(delay: str) -> int:
    """Parse the ``"N unit"`` subset of Spark's CalendarInterval
    watermark-delay strings into microseconds.  Covers every
    fixed-length unit Spark's ``withWatermark`` accepts (micro/milli/
    second/minute/hour/day/week, singular or plural); month/year are
    calendar-dependent and rejected — same as Spark's own watermark
    validation.  Raises a ``ValueError`` naming the supported forms so
    a typo fails at operator build time with a self-explanatory
    message instead of an opaque KeyError deep in the state handler."""
    parts = delay.strip().split()
    unit = parts[1].lower().rstrip("s") if len(parts) == 2 else None
    if unit not in _INTERVAL_UNIT_US or not parts[0].lstrip("-").isdigit():
        raise ValueError(
            f"unsupported watermark delay {delay!r}: expected 'N <unit>' with "
            f"unit in {sorted(_INTERVAL_UNIT_US)} (plural accepted)"
        )
    n = int(parts[0])
    if n < 0:
        raise ValueError(f"watermark delay must be non-negative, got {delay!r}")
    return n * _INTERVAL_UNIT_US[unit]


TURN_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def stream_turns(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript turns (schema declared, never
    inferred).  In production this is an Iceberg/Kafka source; the
    transformation graph is identical."""
    return (
        spark.readStream.schema(TURN_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def start_extract_stream(
    turns_stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """readStream → Stage-A extraction → idempotent per-epoch sink,
    batch-stage code reused inside foreachBatch.  Exactly-once: the
    output is partitioned by ``epoch_id`` and written with DYNAMIC
    partition overwrite, so a micro-batch retried after a crash
    rewrites its own epoch partition instead of appending duplicates.
    NOTE: ``replies_to`` needs the previous turn, which may sit in an
    earlier micro-batch; use ``start_extract_stream_stateful`` for
    cross-batch replies, or the batch recompute (run_pipeline) as the
    source of truth."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        good, _rejects = split_rejects(extract_triples(batch_df))
        # per-write dynamic overwrite (DataFrameWriter option, takes
        # precedence over the session conf) — never toggled globally,
        # so concurrent writes sharing the session keep their own
        # overwrite semantics
        (
            good.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(out_dir)
        )

    return (
        turns_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


REPLIES_STATE_SCHEMA = T.StructType(
    [T.StructField("last_turn_idx", T.IntegerType(), True)]
)
_REPLIES_OUT_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conf", T.DoubleType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("extracted_at", T.TimestampType(), True),
    ]
)


def stateful_replies_stream(
    turns_stream: DataFrame, state_ttl_minutes: int | None = None
) -> DataFrame:
    """Cross-micro-batch ``replies_to`` triples via
    ``applyInPandasWithState`` (SURVEY §2.2 stateful-streaming row,
    the only rule that NEEDS cross-batch state): per conversation the
    state is the last seen turn index, so a turn arriving in a later
    micro-batch than its predecessor still links to it — closing the
    gap ``start_extract_stream`` documents.

    Assumes log-structured arrival (a conversation's turns reach the
    stream in turn order, the normal shape for appended transcript
    logs); for out-of-order backfills the batch recompute stays the
    source of truth.  State is one int per live conversation; set
    ``state_ttl_minutes`` on long-running continuous deployments to
    evict quiet conversations (ProcessingTimeTimeout keeps firing
    micro-batches, so leave it None — the default — under
    ``Trigger.AvailableNow`` backfills, which must terminate)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lexicator_spark import rules

    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60_000

    def fn(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        last_idx = state.get[0] if state.exists else None
        # a conversation's micro-batch rows can arrive split across
        # several Arrow chunks in arbitrary chunk order — concatenate
        # and sort GLOBALLY before walking, or a later-sorted chunk
        # holding earlier turns would fail the monotone check and
        # silently drop its replies
        chunks = list(pdfs)
        if not chunks:
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values("turn_idx")
        rows = []
        for idx, ts in zip(batch["turn_idx"], batch["ts"]):
            idx = int(idx)
            if last_idx is not None and idx > last_idx:
                rows.append(
                    (
                        rules.turn_uri(conv_id, idx),
                        rules.PRED_REPLIES_TO,
                        rules.turn_uri(conv_id, last_idx),
                        1.0,
                        conv_id,
                        idx,
                        ts,
                    )
                )
            if last_idx is None or idx > last_idx:
                last_idx = idx
        if last_idx is not None:
            state.update((last_idx,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in _REPLIES_OUT_SCHEMA.fields]
            )

    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    replies = (
        turns_stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_REPLIES_OUT_SCHEMA,
            stateStructType=REPLIES_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
    from lexicator_spark.operators.extract import null_span

    return replies.select(
        "subj", "pred", "obj", "conf", null_span(),
        "conv_id", "turn_idx", "extracted_at",
    )


REPLIES_BUF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_idx", T.IntegerType(), True),
        T.StructField("buf_idx", T.ArrayType(T.IntegerType()), True),
        T.StructField("buf_ts", T.ArrayType(T.LongType()), True),
    ]
)


def stateful_replies_stream_buffered(
    turns_stream: DataFrame, watermark_delay: str = "35 days"
) -> DataFrame:
    """``replies_to`` under OUT-OF-ORDER arrival: event-time buffering
    closes the gap ``stateful_replies_stream`` documents (it assumes
    log-structured arrival and silently drops replies whose
    predecessor sits in a later micro-batch).

    Per conversation, turns are held in state until the event-time
    watermark passes them, then emitted in ``turn_idx`` order, each
    linking to the previously-emitted turn — exactly the batch
    ``lag`` semantics.  Ordering is PURELY by ``turn_idx``; the flush
    guard is the RUNNING MAX of buffered timestamps in idx order, so
    ``ts`` monotone in ``turn_idx`` is NOT assumed (r3 required it).
    A turn finalizes only when the watermark has strictly passed every
    timestamp seen at or before its idx — and since the watermark is
    monotone, also every already-emitted turn's timestamp.  A
    predecessor can therefore only be missed if it arrives with an
    event time that exceeds ALL its successors' by more than the
    watermark delay — the standard bounded-disorder contract any
    watermarked operator has, instead of a bespoke transcript
    invariant.  (Strictly ``>=``: the engine only drops rows strictly
    older than the watermark, so a row with ts == watermark can still
    arrive and must keep its successors unfinalized.)

    State per conversation is (last emitted idx, buffered suffix) —
    bounded by the watermark horizon, NOT the conversation length:
    every watermark advance flushes the passed prefix.  Timeout
    handling: with turns buffered, an ``EventTimeTimeout`` is armed at
    the earliest buffered turn's timestamp so a quiet conversation
    still flushes when the watermark passes it; once fully drained,
    a cleanup timeout is armed one ``watermark_delay`` past the last
    emitted timestamp and the state is REMOVED when it fires — the
    state store does not grow with conversations ever seen.  After
    eviction a late successor would start a fresh chain (no edge),
    which can only happen across an event-time gap of at least
    ``watermark_delay`` — the same TTL contract as the unbuffered
    variant."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lexicator_spark import rules

    ttl_us = _interval_us(watermark_delay)

    out_columns = [f.name for f in _REPLIES_OUT_SCHEMA.fields]

    def fn(key, pdfs, state):
        # Per-group cost IS the operator's throughput: the stream has
        # ~3 rows per conversation, so this function runs once per
        # conversation per micro-batch and anything per-row-ish here
        # multiplies by the whole key space (measured: state update
        # time dominates every micro-batch, bench_r06_stream.py).
        # Hence: bulk ns→µs conversion via one numpy astype per chunk
        # instead of a pd.Timestamp wrapper per row, plain-int lists
        # (tolist) to skip numpy scalar boxing in the loop, and ONE
        # vectorized to_datetime on the emitted rows instead of a
        # Timestamp construction per emitted row (guide §4.2 — do the
        # heavy lifting vectorized, keep interpreted Python minimal).
        conv_id = key[0]
        last_idx = None
        buf: dict[int, int] = {}
        if state.exists:
            st = state.get
            last_idx = st[0]
            buf = dict(zip(st[1] or [], st[2] or []))
        for pdf in pdfs:
            if not len(pdf):
                continue
            idxs = pdf["turn_idx"].to_numpy().tolist()
            # int64 ns → µs; floor division matches Timestamp.value//1000
            uss = (pdf["ts"].to_numpy().astype("int64") // 1_000).tolist()
            for idx, us in zip(idxs, uss):
                # already-emitted or replayed turns are skipped (a
                # dedup_turns_stream upstream handles true replays;
                # this is belt-and-braces)
                if (last_idx is None or idx > last_idx) and idx not in buf:
                    buf[idx] = us
        wm_us = state.getCurrentWatermarkMs() * 1_000
        rows = []
        run_max = -1
        last_emitted_us = -1
        for idx in sorted(buf):
            us = buf[idx]
            run_max = max(run_max, us)
            if run_max >= wm_us:
                break  # only the strictly-passed prefix is final
            if last_idx is not None:
                rows.append(
                    (
                        rules.turn_uri(conv_id, idx),
                        rules.PRED_REPLIES_TO,
                        rules.turn_uri(conv_id, last_idx),
                        1.0,
                        conv_id,
                        idx,
                        us,
                    )
                )
            last_idx = idx
            last_emitted_us = us
            del buf[idx]
        if buf:
            idxs = sorted(buf)
            state.update((last_idx, idxs, [buf[i] for i in idxs]))
            state.setTimeoutTimestamp(
                max(buf[idxs[0]] // 1_000, state.getCurrentWatermarkMs() + 1)
            )
        elif state.hasTimedOut and not rows:
            # cleanup fire on a drained conversation: nothing arrived
            # for a full watermark_delay past the last emitted turn
            state.remove()
        else:
            # keep last_idx: later turns (ts above the watermark) may
            # still arrive and must link back to it — but only for a
            # bounded horizon (cleanup timeout), not forever
            state.update((last_idx, [], []))
            cleanup_ms = (
                max(last_emitted_us, wm_us) + ttl_us
            ) // 1_000
            state.setTimeoutTimestamp(
                max(cleanup_ms, state.getCurrentWatermarkMs() + 1)
            )
        if rows:
            out = pd.DataFrame(rows, columns=out_columns)
            out["extracted_at"] = pd.to_datetime(
                out["extracted_at"], unit="us"
            )
            yield out

    replies = (
        turns_stream.select("conv_id", "turn_idx", "ts")
        .withWatermark("ts", watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_REPLIES_OUT_SCHEMA,
            stateStructType=REPLIES_BUF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    from lexicator_spark.operators.extract import null_span

    return replies.select(
        "subj", "pred", "obj", "conf", null_span(),
        "conv_id", "turn_idx", "extracted_at",
    )


def start_extract_stream_stateful(
    turns_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    buffered: bool = False,
    watermark_delay: str = "35 days",
):
    """Full streaming extraction INCLUDING cross-batch ``replies_to``:
    the stateless turn-local rules (one code path with batch) unioned
    with the stateful replies stream, one sink, one checkpoint.
    ``buffered=True`` swaps in the event-time-buffered replies
    operator for sources that do NOT deliver a conversation's turns in
    order (replies then wait for the ``watermark_delay`` horizon
    before finalizing)."""
    from lexicator_spark.operators.extract import extract_triples, split_rejects

    # turn-local rules run directly on the stream (no window needed
    # once replies_to comes from the stateful operator)
    local, _ = split_rejects(extract_triples(turns_stream, include_replies=False))
    replies = (
        stateful_replies_stream_buffered(turns_stream, watermark_delay)
        if buffered
        else stateful_replies_stream(turns_stream)
    )
    return (
        local.unionByName(replies)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_turns_stream(
    turns_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """In-flight exact dedup of replayed/duplicated turns: at-least-
    once sources (Kafka replays, file re-drops) re-deliver rows, and a
    downstream append sink must not double-extract them.
    ``dropDuplicatesWithinWatermark`` keys on (conv_id, turn_idx) and
    lets the engine evict state once the watermark passes — bounded
    state, unlike a plain streaming dropDuplicates which keeps every
    key forever."""
    return turns_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
