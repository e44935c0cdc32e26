"""Salting, streaming ingest, and multimodal plumbing tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lexicator_spark import synth
from lexicator_spark.operators import multimodal as MM
from lexicator_spark.operators.salting import (
    replicate_for_salt,
    salted_count,
    with_salt,
)
from lexicator_spark.streaming.ingest import (
    TURN_SCHEMA,
    start_extract_stream,
    start_extract_stream_stateful,
    stream_turns,
)


# --------------------------------------------------------------- salting
def test_salted_count_equals_plain_count(spark):
    corpus = synth.make_corpus(n_convs=60, seed=21)
    df = synth.corpus_df(spark, corpus).filter(F.col("tool").isNotNull())
    plain = {
        (r.tool, r.n)
        for r in df.groupBy("tool").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r.tool, r.n) for r in salted_count(df, "tool", "conv_id", n_salts=8).collect()
    }
    assert salted == plain


def test_salt_is_deterministic_and_bounded(spark):
    corpus = synth.make_corpus(n_convs=20, seed=2)
    df = synth.corpus_df(spark, corpus)
    a = with_salt(df, "conv_id", 8).select("conv_id", "_salt").distinct().collect()
    b = with_salt(df, "conv_id", 8).select("conv_id", "_salt").distinct().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0 <= r._salt < 8 for r in a)
    # one salt per conv_id (derived from conv_id itself)
    assert len({r.conv_id for r in a}) == len(a)


def test_replicated_dim_salted_join_matches_plain_join(spark):
    corpus = synth.make_corpus(n_convs=40, seed=3)
    fact = synth.corpus_df(spark, corpus).filter(F.col("tool").isNotNull())
    dim = spark.createDataFrame(
        [("search", "retrieval"), ("browser", "web"), ("python", "code"),
         ("bash", "code"), ("calculator", "math"), ("sql_runner", "data")],
        "tool string, category string",
    )
    plain = fact.join(dim, "tool").groupBy("category").count()
    salted = (
        with_salt(fact, "conv_id", 4)
        .join(replicate_for_salt(dim, 4), ["tool", "_salt"])
        .groupBy("category")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


# ------------------------------------------------------------- streaming
@pytest.fixture()
def corpus_dir(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=30, seed=12)
    path = str(tmp_path / "turns")
    synth.corpus_df(spark, corpus).repartition(4).write.parquet(path)
    return corpus, path


def test_stream_extract_matches_batch_modulo_replies(spark, corpus_dir, tmp_path):
    """Streaming extraction (foreachBatch over micro-batches) emits the
    same triple set as batch for turn-local rules; replies_to may
    straddle micro-batches, so compare without it."""
    from lexicator_spark.operators.extract import extract_triples
    from lexicator_spark import rules

    corpus, path = corpus_dir
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_extract_stream(stream_turns(spark, path), out, ckpt)
    q.awaitTermination(120)

    got = {
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(out).select("subj", "pred", "obj").collect()
        if r.pred != rules.PRED_REPLIES_TO
    }
    batch = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples(synth.corpus_df(spark, corpus))
        .select("subj", "pred", "obj")
        .collect()
        if r.pred != rules.PRED_REPLIES_TO
    }
    assert got == batch


def test_stateful_stream_matches_batch_including_replies(spark, tmp_path):
    """applyInPandasWithState replies: with log-structured arrival
    (turn order preserved across micro-batches), the streaming triple
    set equals batch extraction INCLUDING replies_to — the cross-batch
    gap start_extract_stream documents is closed by state."""
    import glob
    import shutil
    import time as _time

    from lexicator_spark.operators.extract import extract_triples

    corpus = synth.make_corpus(n_convs=25, seed=17, shuffled=False)
    input_dir = tmp_path / "turns_in"
    input_dir.mkdir()
    rows = sorted(corpus.rows, key=lambda r: (r[1], r[0]))
    max_idx = max(r[1] for r in corpus.rows)
    for lo in range(0, max_idx + 1, 2):
        chunk = [r for r in rows if lo <= r[1] < lo + 2]
        if not chunk:
            continue
        staging = str(tmp_path / f"w{lo}")
        synth.corpus_df(spark, synth.Corpus(rows=chunk)).coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        dst = str(input_dir / f"chunk_{lo:04d}.parquet")
        shutil.copy(part, dst)
        # strictly increasing mtimes pin the file source's batch order
        t = _time.time() + lo
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(TURN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    q = start_extract_stream_stateful(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    got = {
        (r.subj, r.pred, r.obj)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples(synth.corpus_df(spark, corpus)).collect()
    }
    assert got == batch


def test_buffered_replies_stream_matches_batch_out_of_order(spark, tmp_path):
    """Event-time buffered replies: with files dropped in SHUFFLED row
    order (a conversation's turns scattered arbitrarily across
    micro-batches), the buffered operator still emits exactly the
    batch ``replies_to`` set — turns are held in state until the
    watermark passes them, then linked in ``turn_idx`` order.  The
    unbuffered ``stateful_replies_stream`` would silently drop edges
    on this arrival order."""
    import glob
    import shutil
    import time as _time
    from datetime import timedelta

    from lexicator_spark import rules
    from lexicator_spark.operators.extract import extract_triples
    from lexicator_spark.streaming.ingest import stateful_replies_stream_buffered

    corpus = synth.make_corpus(n_convs=20, seed=23)  # rows pre-shuffled
    input_dir = tmp_path / "turns_in"
    input_dir.mkdir()
    rows = list(corpus.rows)
    chunk_size = max(1, len(rows) // 8)
    chunks = [rows[i : i + chunk_size] for i in range(0, len(rows), chunk_size)]
    # two sentinel turns far in the future: the first advances the
    # watermark past every real turn, the second triggers one more
    # micro-batch in which the armed event-time timeouts fire and
    # flush every buffered conversation
    far = synth.EPOCH + timedelta(days=90)
    chunks.append([("wm_sentinel", 0, "user", "advance", None, far)])
    chunks.append(
        [("wm_sentinel", 1, "user", "advance again", None, far + timedelta(days=1))]
    )
    for i, chunk in enumerate(chunks):
        staging = str(tmp_path / f"w{i}")
        synth.corpus_df(spark, synth.Corpus(rows=chunk)).coalesce(1).write.parquet(
            staging
        )
        part = glob.glob(staging + "/part-*.parquet")[0]
        dst = str(input_dir / f"chunk_{i:04d}.parquet")
        shutil.copy(part, dst)
        t = _time.time() + i  # strictly increasing mtimes pin batch order
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(TURN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    q = (
        stateful_replies_stream_buffered(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("buf_replies")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r.subj, r.obj)
        for r in spark.sql(
            "SELECT * FROM buf_replies WHERE conv_id != 'wm_sentinel'"
        ).collect()
    }
    batch = {
        (r.subj, r.obj)
        for r in extract_triples(synth.corpus_df(spark, corpus))
        .filter(F.col("pred") == rules.PRED_REPLIES_TO)
        .collect()
    }
    assert got == batch and got


def test_buffered_replies_nonmonotone_ts_matches_batch(spark, tmp_path):
    """The buffered operator must NOT rely on ts being monotone in
    turn_idx (r3 did): conversations here have deliberately
    non-monotone timestamps (a later turn carries an EARLIER event
    time, disorder well inside the watermark delay), rows arrive
    scattered across micro-batches, and the emitted replies_to set
    must still equal the batch lag-over-turn_idx semantics.  The
    running-max flush guard holds a small-ts successor back until the
    watermark strictly passes every timestamp at or before its idx."""
    import glob
    import shutil
    import time as _time
    from datetime import timedelta

    from lexicator_spark import rules
    from lexicator_spark.operators.extract import extract_triples
    from lexicator_spark.streaming.ingest import stateful_replies_stream_buffered

    E = synth.EPOCH
    rows = [
        # conv a: zig-zag ts (idx 1 later than idx 2's event time)
        ("conv_a", 0, "user", "hello", None, E + timedelta(days=1)),
        ("conv_a", 1, "assistant", "hi", None, E + timedelta(days=3)),
        ("conv_a", 2, "user", "again", None, E + timedelta(days=2)),
        ("conv_a", 3, "assistant", "sure", None, E + timedelta(days=2, hours=12)),
        ("conv_a", 4, "user", "bye", None, E + timedelta(days=4)),
        # conv b: strictly DECREASING ts in idx order
        ("conv_b", 0, "user", "first by idx", None, E + timedelta(days=9)),
        ("conv_b", 1, "assistant", "second by idx", None, E + timedelta(days=8)),
        ("conv_b", 2, "user", "third by idx", None, E + timedelta(days=7)),
    ]
    input_dir = tmp_path / "turns_in"
    input_dir.mkdir()
    # one row per micro-batch, in a fixed scattered order
    order = [4, 0, 6, 2, 1, 7, 3, 5]
    chunks = [[rows[i]] for i in order]
    far = E + timedelta(days=90)
    chunks.append([("wm_sentinel", 0, "user", "advance", None, far)])
    chunks.append(
        [("wm_sentinel", 1, "user", "again", None, far + timedelta(days=1))]
    )
    for i, chunk in enumerate(chunks):
        staging = str(tmp_path / f"w{i}")
        synth.corpus_df(spark, synth.Corpus(rows=chunk)).coalesce(1).write.parquet(
            staging
        )
        part = glob.glob(staging + "/part-*.parquet")[0]
        dst = str(input_dir / f"chunk_{i:04d}.parquet")
        shutil.copy(part, dst)
        t = _time.time() + i
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(TURN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(input_dir))
    )
    q = (
        stateful_replies_stream_buffered(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("buf_replies_nm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r.subj, r.obj)
        for r in spark.sql(
            "SELECT * FROM buf_replies_nm WHERE conv_id != 'wm_sentinel'"
        ).collect()
    }
    batch = {
        (r.subj, r.obj)
        for r in extract_triples(
            synth.corpus_df(spark, synth.Corpus(rows=rows))
        )
        .filter(F.col("pred") == rules.PRED_REPLIES_TO)
        .collect()
    }
    assert got == batch and len(got) == 6


def test_streaming_dedup_drops_replayed_turns(spark, tmp_path):
    """At-least-once replay: the same turns delivered twice dedup to
    one copy in-flight (bounded state via watermark eviction)."""
    from lexicator_spark.streaming.ingest import dedup_turns_stream

    corpus = synth.make_corpus(n_convs=10, seed=4)
    path = str(tmp_path / "replayed")
    df = synth.corpus_df(spark, corpus)
    df.write.parquet(path)
    df.write.mode("append").parquet(path)  # the replay
    assert spark.read.parquet(path).count() == 2 * len(corpus.rows)

    deduped = dedup_turns_stream(stream_turns(spark, path))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_turns")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT conv_id, turn_idx FROM dedup_turns").collect()
    assert len(rows) == len(corpus.rows)
    assert len({(r.conv_id, r.turn_idx) for r in rows}) == len(rows)


# ------------------------------------------------------------ multimodal
def test_media_features_deterministic_and_shaped(spark):
    media = MM.synth_media(spark, n=48)
    feats = MM.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 48
    assert all(len(r.features) == MM.FEATURE_DIM for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.features)
    # deterministic: same payload → same sha + features
    again = {r.media_id: (r.payload_sha, tuple(r.features))
             for r in MM.extract_media_features(media).collect()}
    first = {r.media_id: (r.payload_sha, tuple(r.features)) for r in rows}
    assert again == first


def test_media_codecs_roundtrip():
    """Pure-numpy decoders invert the encoders bit-exactly."""
    import numpy as np

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
    assert (MM.decode_ppm(MM.encode_ppm(rgb)) == rgb).all()
    samples = rng.integers(-32768, 32767, size=777, dtype=np.int16)
    sr, back = MM.decode_wav(MM.encode_wav(samples, 8000))
    assert sr == 8000 and (back == samples).all()
    frames = rng.integers(0, 256, size=(5, 6, 4, 3), dtype=np.uint8)
    assert (MM.decode_rvid(MM.encode_rvid(frames)) == frames).all()


def test_media_features_reflect_content(spark):
    """Features come from the decoded pixels/samples, not payload
    hashes: a bright image scores higher channel means than a dark
    one; a pure tone concentrates FFT band energy vs white noise."""
    import numpy as np

    dark = MM.encode_ppm(np.full((16, 16, 3), 10, dtype=np.uint8))
    bright = MM.encode_ppm(np.full((16, 16, 3), 240, dtype=np.uint8))
    t = np.arange(1600) / 16000.0
    tone = MM.encode_wav(
        (0.8 * np.sin(2 * np.pi * 300 * t) * 32767).astype(np.int16), 16000
    )
    rng = np.random.default_rng(3)
    noise = MM.encode_wav(
        (0.8 * rng.standard_normal(1600).clip(-1, 1) * 32767).astype(np.int16),
        16000,
    )
    meta = (None, None, None, None, None)
    media = spark.createDataFrame(
        [
            (0, "image", dark, meta),
            (1, "image", bright, meta),
            (2, "audio", tone, meta),
            (3, "audio", noise, meta),
        ],
        MM.MEDIA_SCHEMA,
    )
    feats = {r.media_id: r.features for r in MM.extract_media_features(media).collect()}
    assert feats[1][0] > feats[0][0] + 0.5  # bright vs dark red-channel mean
    # tone: one dominant FFT band; noise: spread energy
    assert max(feats[2][4:]) > 0.5 > max(feats[3][4:])


def test_media_decode_seam_raises(spark):
    media = MM.synth_media(spark, n=4)
    with pytest.raises(Exception) as exc_info:
        MM.extract_media_features(media, decode="raise").collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_media_fake_path_kept_for_unparseable_codecs(spark):
    media = MM.synth_media(spark, n=6)
    rows = MM.extract_media_features(media, decode="fake").collect()
    assert len(rows) == 6
    assert all(len(r.features) == MM.FEATURE_DIM for r in rows)


def test_watermark_interval_parser_units_and_errors():
    """_interval_us covers every fixed-length unit Spark's
    withWatermark accepts and fails loudly (ValueError naming the
    supported forms) on anything else — ADVICE r4."""
    from lexicator_spark.streaming.ingest import _interval_us

    assert _interval_us("500 milliseconds") == 500_000
    assert _interval_us("2 weeks") == 2 * 7 * 86_400 * 1_000_000
    assert _interval_us("1 second") == _interval_us("1 seconds") == 1_000_000
    assert _interval_us(" 3 Minutes ") == 180 * 1_000_000
    assert _interval_us("42 microseconds") == 42
    for bad in ("10", "5 months", "1 year", "abc seconds", "-1 second", ""):
        with pytest.raises(ValueError):
            _interval_us(bad)
