"""Property-based parity (SURVEY.md §5 item 4): for arbitrary small
corpora — adversarial text mixing aliases, noisy wikilinks, template
syntax, and junk — the distributed extraction equals the pure-Python
oracle, independent of row order and partitioning."""

from __future__ import annotations

import random
from datetime import timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lexicator_spark import rules, synth
from lexicator_spark.operators.extract import extract_triples
from tests import oracle

_ALIASES = [a for forms in rules.ENTITY_ALIASES.values() for a in forms]

_word = st.sampled_from(
    _ALIASES
    + synth.FILLER
    + [
        "[[spork]]",
        "[[apache spank]]",
        "{{search|q=1}}",
        "{{bash}}",
        "{{sql_runner|a=x|a=y}}",
        "Spark depends on Kafka",
        "{{not closed",
        "}}stray",
        "[[]]",
        "|||",
        "ключ",  # non-latin
        "",
    ]
)

_text = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@st.composite
def _corpus(draw):
    n_convs = draw(st.integers(1, 4))
    rows = []
    for c in range(n_convs):
        conv_id = f"c{c:03d}"
        n_turns = draw(st.integers(1, 5))
        ts = synth.EPOCH
        for t in range(n_turns):
            ts += timedelta(seconds=draw(st.integers(1, 500)))
            role = draw(st.sampled_from(["user", "assistant", "tool"]))
            tool = (
                draw(st.sampled_from(rules.TOOL_VOCAB)) if role == "tool" else None
            )
            rows.append((conv_id, t, role, draw(_text), tool, ts))
    seed = draw(st.integers(0, 10_000))
    random.Random(seed).shuffle(rows)
    return rows


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_corpus(), n_parts=st.integers(1, 5), impl=st.sampled_from(["native", "pandas"]))
def test_extract_equals_oracle_on_arbitrary_corpora(spark, rows, n_parts, impl):
    df = synth.corpus_df(spark, synth.Corpus(rows=rows)).repartition(n_parts)
    got = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples(df, impl=impl).select("subj", "pred", "obj").collect()
    }
    assert got == oracle.extract_oracle(rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_corpus(), impl=st.sampled_from(["native", "pandas"]))
def test_mention_spans_are_valid_on_arbitrary_corpora(spark, rows, impl):
    """Span invariant on adversarial text: every mention span indexes
    real text whose slice normalizes back to the mention surface, and
    both implementations equal the shared-rule oracle."""
    df = synth.corpus_df(spark, synth.Corpus(rows=rows))
    text_of = {(r[0], r[1]): r[3] for r in rows}
    out = (
        extract_triples(df, impl=impl)
        .filter(f"pred = '{rules.PRED_MENTIONS}'")
        .select("conv_id", "turn_idx", "obj", "span")
        .collect()
    )
    for r in out:
        text = text_of[(r.conv_id, r.turn_idx)]
        s, e = r.span.start, r.span.end
        assert 0 <= s < e <= len(text), (r, text)
        assert rules.normalize_surface(text[s:e]) == r.obj, (r, text[s:e])
    got = {
        (f"{r.conv_id}#{r.turn_idx}", r.obj, r.span.start, r.span.end) for r in out
    }
    assert got == oracle.mention_spans_oracle(rows)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_partitioned_refresh_equals_recompute_on_random_evolutions(
    spark, tmp_path_factory, data
):
    """For arbitrary append-only corpus evolutions (conversations
    added, conversations extended, some absent in v1), the
    partition-level refresh equals a full recompute and a second
    refresh is a no-op."""
    from lexicator_spark.operators.incremental import (
        materialize_frontier,
        refresh_triples_partitioned,
    )
    from lexicator_spark.sources import io as sio

    seed = data.draw(st.integers(0, 1000))
    n_convs = data.draw(st.integers(8, 30))
    n_buckets = data.draw(st.sampled_from([4, 8]))
    full = synth.make_corpus(n_convs=n_convs, seed=seed, shuffled=False)
    by_conv: dict = {}
    for r in full.rows:
        by_conv.setdefault(r[0], []).append(r)
    v1_rows = []
    for conv, rows_ in by_conv.items():
        keep = data.draw(st.integers(0, len(rows_)))  # prefix (append-only)
        v1_rows.extend(sorted(rows_, key=lambda r: r[1])[:keep])

    loc = str(tmp_path_factory.mktemp("refresh") / "triples_raw")
    v1 = synth.corpus_df(spark, synth.Corpus(rows=v1_rows))
    v2 = synth.corpus_df(spark, full)
    sio.write_table(
        extract_triples(v1), loc, partition_key="conv_id", n_buckets=n_buckets
    )
    materialize_frontier(spark, v1, loc)
    res = refresh_triples_partitioned(spark, v2, loc)
    got = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in sio.read_table(spark, loc).select("subj", "pred", "obj", "conv_id", "turn_idx").collect()
    }
    want = {
        (r.subj, r.pred, r.obj, r.conv_id, r.turn_idx)
        for r in extract_triples(v2)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
        .collect()
    }
    assert got == want
    assert refresh_triples_partitioned(spark, v2, loc).n_changed == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    weights=st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.floats(0.0, 3.0, allow_nan=False).map(lambda w: round(w, 3)),
        min_size=1,
    ),
    seed=st.integers(0, 2**31 - 1),
    n_parts=st.integers(1, 5),
)
def test_mixture_sample_invariants_on_arbitrary_weights(
    spark, weights, seed, n_parts
):
    """For ANY weight map/seed/partitioning: exact md5-twin equality,
    floor(w) unconditional copies, per-(doc,copy) uniqueness, and
    partitioning independence (hash sampling can't depend on layout)."""
    import hashlib

    from lexicator_spark.operators import curation as CU

    docs = spark.createDataFrame(
        [(i, f"t{i}", f"s{i % 3}") for i in range(90)],
        "doc_id long, text string, source string",
    ).repartition(n_parts)
    out = CU.mixture_sample(docs, weights, seed=seed).collect()
    got = {(r.doc_id, r.copy_idx) for r in out}
    assert len(out) == len(got)  # no duplicate (doc, copy) rows

    expected = set()
    for i in range(90):
        w = weights.get(f"s{i % 3}")
        if w is None:
            continue
        full, frac = int(w), round((w - int(w)) * 1_000_000)
        expected.update((i, c) for c in range(full))
        if frac > 0:
            h = hashlib.md5(f"{i}\x1f{full}\x1f{seed}".encode()).hexdigest()
            if int(h[:8], 16) % 1_000_000 < frac:
                expected.add((i, full))
    assert got == expected
