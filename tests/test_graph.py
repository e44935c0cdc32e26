"""Graph analytics operators: degrees, degree distribution, and
degree-ordered triangle counting vs a pure-Python oracle."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from lexicator_spark.operators import graph as G


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "a string, b string"
    ).distinct()


def test_known_graph(spark):
    # square a-b-c-d-a plus diagonal a-c: triangles (a,b,c), (a,c,d)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c")]
    edges = _edges_df(spark, pairs)
    degs = {r.node: r.degree for r in G.degrees(edges).collect()}
    assert degs == {"a": 3, "b": 2, "c": 3, "d": 2}
    dist = {r.degree: r.n_nodes for r in G.degree_distribution(edges).collect()}
    assert dist == {2: 2, 3: 2}
    assert G.triangle_count(edges).first().n_triangles == 2


def test_triangle_count_matches_bruteforce_on_random_graphs(spark):
    """The degree-ordered orientation counts each triangle exactly
    once on arbitrary graphs — compared against the O(n^3) oracle."""
    rng = random.Random(7)
    for trial in range(3):
        nodes = [f"n{i:02d}" for i in range(18)]
        pairs = {
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)
        }
        want = sum(
            1
            for u, v, w in itertools.combinations(sorted(nodes), 3)
            if (u, v) in pairs and (v, w) in pairs and (u, w) in pairs
        )
        got = G.triangle_count(_edges_df(spark, pairs)).first().n_triangles
        assert got == want, f"trial {trial}: {got} != {want}"


def _py_pagerank(
    pairs, damping=0.85, iterations=10, undirected=True, tol=None, weighted=False
):
    """Reference implementation of the exact same update rule (incl.
    uniform dangling-mass redistribution, optional edge weights, and
    the max-|Δ| convergence stop).  Returns (ranks, iterations_run)."""
    edges: dict[tuple, float] = {}
    seen = set()
    for p in pairs:
        a, b, w = p if weighted else (p[0], p[1], 1.0)
        ab = [(a, b, w)] + ([(b, a, w)] if undirected else [])
        for u, v, wt in ab:
            if weighted:
                edges[(u, v)] = edges.get((u, v), 0.0) + wt
            elif (u, v) not in seen:
                seen.add((u, v))
                edges[(u, v)] = 1.0
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {u: 0.0 for u in nodes}
    for (u, _v), w in edges.items():
        out[u] += w
    rank = {u: 1.0 / n for u in nodes}
    it_run = 0
    for _ in range(iterations):
        contrib = {u: 0.0 for u in nodes}
        for (u, v), w in edges.items():
            contrib[v] += rank[u] / out[u] * w
        dangling = sum(rank[u] for u in nodes if out[u] == 0)
        new = {
            u: (1 - damping) / n + damping * (contrib[u] + dangling / n)
            for u in nodes
        }
        delta = max(abs(new[u] - rank[u]) for u in nodes)
        rank = new
        it_run += 1
        if tol is not None and delta < tol:
            break
    return rank, it_run


def test_pagerank_matches_reference_undirected(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c")]
    want, _ = _py_pagerank(pairs)
    got = {
        r.node: r.rank for r in G.pagerank(_edges_df(spark, pairs)).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[u] - want[u]) < 1e-9 for u in want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the degree-3 hubs outrank the degree-2 nodes
    assert min(got["a"], got["c"]) > max(got["b"], got["d"])


def test_pagerank_directed_with_dangling(spark):
    """Directed chain into a sink: the sink's rank leaks back uniformly
    (dangling correction) so ranks stay a distribution."""
    pairs = [("u", "v"), ("v", "w")]  # w is dangling
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        r.node: r.rank
        for r in G.pagerank(df, undirected=False, iterations=8).collect()
    }
    want, _ = _py_pagerank(pairs, iterations=8, undirected=False)
    assert all(abs(got[u] - want[u]) < 1e-9 for u in want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["w"] > got["v"] > got["u"]


def test_pagerank_tol_early_exit_matches_twin(spark):
    """With tol set, iteration stops at max |Δrank| < tol: the Spark
    result equals the Python twin running the SAME stopping rule, and
    the twin confirms convergence happened well before the iteration
    cap — so Spark must have stopped early too (running the remaining
    rounds would have changed the ranks)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c")]
    want, it_run = _py_pagerank(pairs, iterations=60, tol=1e-10)
    assert it_run < 60  # the fixture converges early
    got = {
        r.node: r.rank
        for r in G.pagerank(
            _edges_df(spark, pairs), iterations=60, tol=1e-10
        ).collect()
    }
    assert all(abs(got[u] - want[u]) < 1e-9 for u in want)
    # and differs from a deliberately-short fixed run: the stop really
    # ran extra rounds past iteration 2
    short, _ = _py_pagerank(pairs, iterations=2)
    assert any(abs(short[u] - got[u]) > 1e-9 for u in want)


def test_pagerank_weighted_matches_twin(spark):
    """Edge weights: contributions proportional to weight, parallel
    weighted edges merged by summing — exact vs the Python twin."""
    triples = [
        ("a", "b", 3.0),
        ("a", "c", 1.0),
        ("b", "c", 2.0),
        ("c", "a", 0.5),
        ("a", "b", 1.0),  # parallel edge: merges to w=4
    ]
    df = spark.createDataFrame(triples, "a string, b string, w double")
    want, _ = _py_pagerank(
        triples, iterations=8, undirected=False, weighted=True
    )
    got = {
        r.node: r.rank
        for r in G.pagerank(
            df, iterations=8, undirected=False, weight_col="w"
        ).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[u] - want[u]) < 1e-9 for u in want)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _jobs_run(spark, group, action):
    """Spark jobs ``action()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)


def test_pagerank_round_skips_unused_scalar_job(spark):
    """An undirected graph has no zero-out-weight node, so with no
    ``tol`` a round's dangling-mass/delta aggregation computes nothing
    used and is not run: at most 4 jobs per round, not 6."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"), ("a", "c")]
    edges = _edges_df(spark, pairs).localCheckpoint(eager=True)
    jobs = {
        it: _jobs_run(
            spark,
            f"pagerank-{it}-rounds",
            lambda it=it: G.pagerank(edges, iterations=it).collect(),
        )
        for it in (2, 6)
    }
    assert (jobs[6] - jobs[2]) / 4 <= 4, jobs


def test_cooccurrence_edges(spark):
    mentions = spark.createDataFrame(
        [
            ("c1", "x"), ("c1", "y"), ("c1", "y"),  # dup mention collapses
            ("c2", "y"), ("c2", "z"),
            ("c3", "w"),  # singleton group: no edges
        ],
        "conv_id string, surface string",
    )
    edges, overflow = G.cooccurrence_edges(mentions)
    got = {(r.a, r.b) for r in edges.collect()}
    assert got == {("x", "y"), ("y", "z")}
    # uncapped: overflow channel exists (stable call shape) and is empty
    assert overflow.columns == ["conv_id", "n_nodes"]
    assert overflow.count() == 0
    # weighted variant: n_groups = shared-conversation count
    wedges, _ = G.cooccurrence_edges(mentions, weighted=True)
    wgot = {(r.a, r.b, r.n_groups) for r in wedges.collect()}
    assert wgot == {("x", "y", 1), ("y", "z", 1)}


def test_cooccurrence_fanout_cap_and_overflow(spark):
    """One pathological conversation mentioning many distinct entities
    must not produce quadratic edges when a cap is set: the group is
    excluded from the self-join and reported on the overflow channel,
    while normal groups are unaffected."""
    rows = [("big", f"e{i:03d}") for i in range(50)] + [
        ("c1", "x"),
        ("c1", "y"),
        ("c2", "y"),
        ("c2", "z"),
    ]
    mentions = spark.createDataFrame(rows, "conv_id string, surface string")
    edges, overflow = G.cooccurrence_edges(mentions, max_nodes_per_group=10)
    got = {(r.a, r.b) for r in edges.collect()}
    assert got == {("x", "y"), ("y", "z")}  # no 50·49/2 blowup
    ov = {(r.conv_id, r.n_nodes) for r in overflow.collect()}
    assert ov == {("big", 50)}


def _py_bfs(pairs, seeds, k):
    """Reference BFS: min hop distance from any seed, cut at k."""
    adj: dict[str, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for hop in range(1, k + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in dist
        }
        for v in frontier:
            dist[v] = hop
    return dist


def test_khop_known_path_graph(spark):
    """Chain a-b-c-d-e, seed a: the cut at k is exact, the early exit
    on an exhausted frontier terminates before k, and an isolated
    second component is never reached."""
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")]
    edges = _edges_df(spark, pairs)
    seeds = spark.createDataFrame([("a",)], "node string")
    got2 = {(r.node, r.dist) for r in G.khop_distances(edges, seeds, 2).collect()}
    assert got2 == {("a", 0), ("b", 1), ("c", 2)}
    # k far beyond the diameter: early exit, component fully covered
    got9 = {(r.node, r.dist) for r in G.khop_distances(edges, seeds, 9).collect()}
    assert got9 == {("a", 0), ("b", 1), ("c", 2), ("d", 3), ("e", 4)}


def test_khop_matches_bruteforce_on_random_graphs(spark):
    """Min-distance semantics on arbitrary graphs (multiple shortest
    paths, cycles, multi-seed) vs the pure-Python BFS."""
    rng = random.Random(11)
    for trial in range(3):
        nodes = [f"n{i:02d}" for i in range(16)]
        pairs = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(28)}
        seeds = sorted(rng.sample(nodes, 2))
        want = _py_bfs(pairs, seeds, 3)
        seeds_df = spark.createDataFrame([(s,) for s in seeds], "node string")
        got = {
            r.node: r.dist
            for r in G.khop_distances(_edges_df(spark, pairs), seeds_df, 3).collect()
        }
        assert got == want, f"trial {trial}"


def test_negative_samples_contract(spark):
    """Every positive yields exactly n_negatives rows; neg_obj is
    always a vocabulary entity and never the true obj; output is
    deterministic across runs (no RNG)."""
    rows = [
        (f"c{i}", "mentions", obj)
        for i, obj in enumerate(["apple", "pear", "plum", "apple", "fig"] * 4)
    ]
    triples = spark.createDataFrame(rows, "subj string, pred string, obj string")
    vocab = {"apple", "pear", "plum", "fig"}
    for n_neg in (1, 3):
        out = G.negative_samples(triples, n_negatives=n_neg).collect()
        assert len(out) == len(rows) * n_neg
        assert all(r.neg_obj in vocab and r.neg_obj != r.obj for r in out)
    a = sorted(map(tuple, G.negative_samples(triples).collect()))
    b = sorted(map(tuple, G.negative_samples(triples).collect()))
    assert a == b


def test_negative_samples_null_obj_rows_dropped(spark):
    """A NULL obj has no identity to corrupt: such rows are dropped up
    front (the equi-join can never match NULL anyway) instead of
    crashing the job with a misleading 'obj absent from vocab'
    raise_error on the internal-vocab path."""
    rows = [("c0", "mentions", "apple"), ("c1", "mentions", "pear"),
            ("c2", "mentions", None), ("c3", "mentions", "apple")]
    triples = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = G.negative_samples(triples, n_negatives=2).collect()
    assert len(out) == 3 * 2  # non-NULL-obj rows only
    assert all(r.obj is not None and r.neg_obj is not None for r in out)
    assert not any(r.subj == "c2" for r in out)


def test_negative_samples_precomputed_vocab_and_guards(spark):
    """A precomputed (entity, idx) dimension — the at-scale path —
    must be honored verbatim; degenerate vocabularies are rejected."""
    triples = spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "b")],
        "subj string, pred string, obj string",
    )
    vocab = spark.createDataFrame(
        [("a", 0), ("b", 1), ("c", 2)], "entity string, idx int"
    )
    out = G.negative_samples(triples, vocab=vocab).collect()
    assert all(r.neg_obj in {"a", "b", "c"} and r.neg_obj != r.obj for r in out)
    with pytest.raises(ValueError):
        G.negative_samples(triples, n_negatives=0)
    one = spark.createDataFrame([("s", "p", "a")], "subj string, pred string, obj string")
    with pytest.raises(ValueError):
        G.negative_samples(one)


def test_negative_samples_vocab_missing_obj_raises(spark):
    """A caller-supplied vocab missing an obj must fail loudly — an
    inner join would silently drop that obj's positive triples and
    break the n_negatives x |triples| output contract."""
    triples = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y")], "subj string, pred string, obj string"
    )
    vocab = spark.createDataFrame(
        [("x", 0), ("z", 1)], "entity string, idx int"
    )
    with pytest.raises(Exception, match="absent from vocab"):
        G.negative_samples(triples, vocab=vocab).collect()


def test_negative_samples_sparse_vocab_idx_raises(spark):
    """idx gaps (stale dictionary after an entity deletion) must be
    rejected up front: the ring arithmetic assumes dense 0..n-1, and
    the neg_idx join would otherwise silently drop output rows."""
    triples = spark.createDataFrame(
        [("s", "p", "x")], "subj string, pred string, obj string"
    )
    vocab = spark.createDataFrame(
        [("x", 0), ("z", 2)], "entity string, idx int"
    )
    with pytest.raises(ValueError, match="dense"):
        G.negative_samples(triples, vocab=vocab)
