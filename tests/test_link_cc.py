"""Stage B (linking), Stage C (the ``canonical_of_links`` projection)
and connected-components tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lexicator_spark import rules, synth
from lexicator_spark.operators.canonicalize import (
    canonical_of_links,
    canonical_of_triples,
    connected_components,
)
from lexicator_spark.operators.extract import extract_triples
from lexicator_spark.operators.link import build_catalog, link_mentions
from lexicator_spark.sources import io as sio
from tests import oracle


def _tset(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_link_matches_oracle(spark):
    corpus = synth.make_corpus(n_convs=80, seed=13)
    df = synth.corpus_df(spark, corpus)
    triples = extract_triples(df)
    got = _tset(link_mentions(triples, build_catalog(spark)))
    expected = oracle.link_oracle(oracle.extract_oracle(corpus.rows))
    assert got == expected


def test_link_shuffle_path_equals_broadcast_path(spark):
    """The big-catalog degradation path (shuffled join on block_key)
    must produce identical links to the broadcast path."""
    corpus = synth.make_corpus(n_convs=50, seed=19)
    triples = extract_triples(synth.corpus_df(spark, corpus))
    cat = build_catalog(spark)
    a = _tset(link_mentions(triples, cat, broadcast_catalog=True))
    b = _tset(link_mentions(triples, cat, broadcast_catalog=False))
    assert a == b and a


def test_link_exact_alias_links_to_own_entity(spark):
    rows = [("c0", 0, "user", "we use Apache Spark and [[DuckDB]] here", None, synth.EPOCH)]
    df = synth.corpus_df(spark, synth.Corpus(rows=rows))
    links = _tset(link_mentions(extract_triples(df), build_catalog(spark)))
    assert ("apache spark", rules.PRED_SAME_AS, "Q_spark") in links
    assert ("duckdb", rules.PRED_SAME_AS, "Q_duckdb") in links


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "u string, v string")
    return {
        (r.node, r.comp)
        for r in connected_components(edges, **kw).collect()
    }


def test_cc_distributed_path_equals_hybrid(spark):
    """Force the fully distributed LSSS fixpoint (threshold=0) and
    assert it matches the hybrid driver-finish result."""
    import random

    rng = random.Random(31)
    nodes = [f"n{i:03d}" for i in range(150)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(140)]
    pairs = [(u, v) for u, v in pairs if u != v]
    hybrid = _cc(spark, pairs)
    distributed = _cc(spark, pairs, driver_finish_threshold=0)
    assert hybrid == distributed


def test_cc_distributed_on_long_chain(spark):
    """Adversarial diameter: a 300-node chain through the distributed
    fixpoint only."""
    pairs = [(f"c{i:04d}", f"c{i+1:04d}") for i in range(300)]
    got = _cc(spark, pairs, driver_finish_threshold=0)
    assert got == {(f"c{i:04d}", "c0000") for i in range(301)}


def test_cc_chain(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")}


def test_cc_star_and_two_components(spark):
    got = _cc(spark, [("hub", "x1"), ("hub", "x2"), ("hub", "x3"), ("p", "q")])
    assert got == {
        ("hub", "hub"), ("x1", "hub"), ("x2", "hub"), ("x3", "hub"),
        ("p", "p"), ("q", "p"),
    }


def test_cc_self_loop_and_dup_edges(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")])
    assert got == {("a", "a"), ("b", "a")}


def test_cc_isolated_nodes_as_self_edges(spark):
    """The documented contract: isolated nodes unioned as self-edges
    come back as their own single-node component — on the driver-finish
    path AND the fully distributed path."""
    from lexicator_spark.operators.canonicalize import connected_components

    edges = [("iso1", "iso1"), ("a", "b"), ("iso2", "iso2"), ("b", "c")]
    expected = {
        ("iso1", "iso1"), ("iso2", "iso2"),
        ("a", "a"), ("b", "a"), ("c", "a"),
    }
    for threshold in (500_000, 0):  # driver finish / distributed fixpoint
        df = spark.createDataFrame(edges, "u string, v string")
        got = {
            (r.node, r.comp)
            for r in connected_components(
                df, driver_finish_threshold=threshold
            ).collect()
        }
        assert got == expected, f"threshold={threshold}"


def test_cc_matches_union_find_on_random_graph(spark):
    import random

    rng = random.Random(17)
    nodes = [f"n{i:03d}" for i in range(120)]
    pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    pairs = [(u, v) for u, v in pairs if u != v]
    got = _cc(spark, pairs)
    # union-find ground truth with plain min-node canonical
    expected_triples = oracle.cc_oracle(set(pairs))
    # convert oracle canonical_of (min-Q preference) to plain min since
    # no Q_ nodes here
    exp = {(s, o) for s, _p, o in expected_triples}
    exp |= {(o, o) for _s, _p, o in expected_triples}
    assert got == exp


def test_canonical_of_prefers_qid(spark):
    edges = spark.createDataFrame(
        [("apache spark", "Q_spark"), ("spork", "Q_spark"), ("a lone", "z lone")],
        "u string, v string",
    )
    assignments = connected_components(edges)
    got = _tset(canonical_of_triples(assignments))
    assert ("apache spark", rules.PRED_CANONICAL_OF, "Q_spark") in got
    assert ("spork", rules.PRED_CANONICAL_OF, "Q_spark") in got
    assert ("z lone", rules.PRED_CANONICAL_OF, "a lone") in got
    # canonical node itself emits no self triple
    assert not any(s == o for s, _p, o in got)


def assert_projection_is_fixpoint(same_as):
    """``canonical_of_links(same_as)`` holds exactly the rows, under the
    same schema (nullability included), that the general path — the
    component fixpoint over the link graph, then
    ``canonical_of_triples`` — yields."""
    edges = same_as.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
    want = canonical_of_triples(connected_components(edges))
    got = canonical_of_links(same_as)
    assert got.schema == want.schema

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert rows(got) == rows(want)
    return len(rows(got))


def test_canonical_of_links_equals_component_fixpoint(spark):
    corpus = synth.make_corpus(n_convs=300, seed=7)
    same_as = link_mentions(
        extract_triples(synth.corpus_df(spark, corpus)), build_catalog(spark)
    )
    assert assert_projection_is_fixpoint(same_as) > 0


@pytest.mark.parametrize(
    "subj,obj",
    [("apache spark", "spork"), ("Q_spark", "Q_flink")],
)
def test_canonical_of_links_rejects_non_star_rows(spark, tmp_path, subj, obj):
    """A link that is not surface → catalog id would make the projection
    differ from the component fixpoint: the canonical write fails before
    it commits."""
    same_as = spark.createDataFrame(
        [("duckdb", "Q_duckdb"), (subj, obj)], "subj string, obj string"
    )
    loc = str(tmp_path / "canonical")
    with pytest.raises(Exception, match=f"Q_ catalog id, got {subj} -> {obj}"):
        sio.write_table(canonical_of_links(same_as), loc, partition_key=None)
    assert not os.path.exists(os.path.join(loc, "_SUCCESS"))
