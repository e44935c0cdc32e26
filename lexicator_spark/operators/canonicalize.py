"""Stage C — connected-components canonicalization.

Clusters the ``same_as`` link graph (surface ↔ canonical-id edges,
transitively) and assigns every node a deterministic canonical
component id.  This is the one genuinely custom distributed algorithm
in the engine (SURVEY.md §2.2 'self-join iterate'): the
**large-star / small-star** method of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC'14) — O(log n) rounds on
any graph, each round two groupBy+join shuffles, with per-round
``localCheckpoint()`` to truncate lineage (SURVEY.md §4).

The reference has no graph algorithm at all (its reconciliation is a
point lookup per lexeme, ``lexicator/WikidataUploader.py`` [M]); at
10^12-turn scale transitive alias clustering has to be a fixpoint of
DataFrame self-joins instead.

Convergence detection: the edge multiset is compared between rounds
with a (count, xor/sum of xxhash64) aggregate — one cheap job, no
exceptAll shuffle.  Determinism: node ids are strings; min() over
them is total, so component labels are reproducible across runs,
partitionings and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lexicator_spark import rules
from lexicator_spark.operators.extract import null_span


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
    # no distinct here: the consumer (_small_star) re-orients and
    # dedups anyway — saves one full shuffle per round
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    kept = mins.select("u", F.col("m").alias("v"))
    return moved.union(kept).distinct()


def _driver_union_find(spark, pairs: list[tuple[str, str]]) -> DataFrame:
    """Bounded driver-side finisher: classic union-find with min-node
    canonical labels.  Only ever invoked on an edge set below the
    explicit threshold — memory is bounded and known up front."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # min-label union keeps the canonical deterministic
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    rows = sorted((node, find(node)) for node in parent)
    # slices sized to the data: default one-slice-per-core spawns a
    # Python worker per core even for a 3-row result
    n_slices = max(1, len(rows) // 100_000)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), "node string, comp string"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    driver_finish_threshold: int = 500_000,
) -> DataFrame:
    """edges(u string, v string) → assignments(node string, comp string)
    where ``comp`` is the lexicographic min node of the component.
    Nodes only appear if they occur in an edge; callers union isolated
    nodes as SELF-EDGES, which come back as their own single-node
    component (tested).

    Hybrid execution: large-star/small-star rounds shrink the edge set
    monotonically; once it fits under ``driver_finish_threshold`` (an
    explicit, bounded collect — 500k string pairs ≈ 100 MB driver RAM) the tail rounds — which would each cost
    full scheduling latency for almost no data — finish as driver-side
    union-find.  Set the threshold to 0 to force the fully distributed
    fixpoint (tests exercise both paths)."""
    spark = edges.sparkSession
    # Pin the input ONCE: the edge plan is consumed by at least three
    # downstream evaluations (the convergence fingerprint, the first
    # fixpoint round or the driver-finish collect, and the isolated-
    # node branch) — without the pin an expensive upstream derivation
    # (LSH star-edge verify, a window over the events table) re-runs
    # per consumer.  Measured on the sf0.1 star-edge input
    # (scripts/bench_r06_probe.py cc, commit a4597d3): one
    # evaluation ≈ 1.0 s, un-pinned CC ≈ 3.5 s — the extra ~2 s was
    # pure input re-evaluation.  Callers that already pass a
    # checkpointed frame pay one cheap re-materialization of
    # in-memory blocks.
    typed = edges.select(
        F.col("u").cast("string"), F.col("v").cast("string")
    ).localCheckpoint(eager=True)
    # isolated nodes arrive as self-edges per the contract above; they
    # take no part in the fixpoint (no neighbors) but MUST appear in
    # the output as their own component
    isolated = (
        typed.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"), F.col("u").alias("comp"))
        .distinct()
    )

    def with_isolated(assignments: DataFrame) -> DataFrame:
        extra = isolated.join(assignments.select("node"), "node", "left_anti")
        return assignments.unionByName(extra)

    cur = typed.filter(F.col("u") != F.col("v")).distinct()
    fp = _edge_fingerprint(cur)
    converged = False
    for _ in range(max_iter):
        if fp[0] <= driver_finish_threshold:
            # LSSS preserves connectivity of the live edge set every
            # round, so union-find over the current edges yields the
            # same components as running the fixpoint to completion
            # (asserted equal in tests).
            return with_isolated(
                _driver_union_find(spark, [(r.u, r.v) for r in cur.collect()])
            )
        # right-size parallelism to the live edge count: running wide
        # shuffles over a few thousand edges is pure scheduling
        # overhead.  ~200k edges per partition keeps tasks meaningful.
        n_parts = max(1, min(cur.rdd.getNumPartitions(), fp[0] // 200_000 + 1))
        if n_parts < cur.rdd.getNumPartitions():
            cur = cur.repartition(n_parts)
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        new_fp = _edge_fingerprint(cur)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # never return unconverged labels as if they were final —
        # LSSS converges in O(log n) rounds, so exhausting max_iter
        # means the input (or a bug) broke the contract.
        raise RuntimeError(
            f"connected_components did not reach a fixpoint within "
            f"max_iter={max_iter} rounds (live edges: {fp[0]}); raise "
            f"max_iter or lower driver_finish_threshold"
        )
    # at fixpoint every edge is (node, root)
    assignments = cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = cur.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    return with_isolated(assignments.union(roots).distinct())


def assignments_of_canonical(canonical: DataFrame) -> DataFrame:
    """Reconstruct ``assignments(node, comp)`` from a persisted
    ``canonical_of`` stage table, using the canonical id as the
    component key.  Valid because ``canonical_of_triples`` emits one
    row per non-canonical member plus (implicitly) the canonical node
    itself, and the canonical id is unique per component.  Every
    pipeline component has ≥ 2 nodes (a ``same_as`` edge always joins
    two distinct nodes), so no component is invisible here."""
    members = canonical.select(
        F.col("subj").alias("node"), F.col("obj").alias("comp")
    )
    roots = canonical.select(
        F.col("obj").alias("node"), F.col("obj").alias("comp")
    ).distinct()
    return members.unionByName(roots)


def update_components(
    assignments: DataFrame,
    added_edges: DataFrame,
    removed_edges: DataFrame | None = None,
    surviving_edges: DataFrame | None = None,
) -> DataFrame:
    """Incrementally update a component partition under an edge delta
    — the O(delta) alternative to re-running ``connected_components``
    over the full edge set when a refresh adds / removes a few edges
    (the RecentChanges analog propagated through Stage C).

    ``assignments(node, comp)`` is the current partition (``comp``
    is any per-component-unique key, e.g. the canonical id).  The new
    edge set is ``(old_edges − removed_edges) ∪ added_edges``; callers
    pass ``surviving_edges`` = old − removed whenever
    ``removed_edges`` is given (removals can SPLIT a component, and
    the split can only be recomputed from the survivors).

    Two phases, each touching only delta-adjacent components:

    1. **Splits** — components containing an endpoint of a removed
       edge are recomputed from scratch over just THEIR surviving
       edges (every old edge has both endpoints in one component, so
       a semi-join on the u-side component suffices).  Members left
       edge-less drop out, exactly as a full recompute would drop
       them (CC input is edges only).
    2. **Merges** — added edges are mapped endpoint→component
       (unknown endpoints stay themselves: brand-new nodes), and
       connected components run over that COMPONENT graph — sized by
       the delta, not the corpus.  The resulting remap is applied to
       member rows with one join.

    Component-key uniqueness is preserved (old keys are member nodes
    or prior canonical ids of disjoint node sets; merged keys are the
    min over merging keys) but keys are NOT guaranteed to be the
    min member — regenerate presentation labels downstream
    (``canonical_of_triples`` recomputes them from membership).
    Equality with a full ``connected_components`` run over the new
    edge set — as a partition, i.e. same co-membership — is asserted
    in tests/test_refresh_e2e.py including split, merge, new-node and
    vanishing-node deltas.

    Scale shape: phase 1 is bounded by the affected components'
    edges; phase 2 by the added-edge count.  The only full-table
    touches are two hash joins against ``assignments`` (node-keyed)
    and one semi-join over ``surviving_edges`` — no global fixpoint,
    no corpus-wide shuffle."""
    base = assignments
    if removed_edges is not None:
        if surviving_edges is None:
            raise ValueError(
                "update_components: removed_edges requires "
                "surviving_edges (= old edges minus removed) — splits "
                "can only be recomputed from the survivors"
            )
        rm_nodes = (
            removed_edges.select(F.col("u").alias("node"))
            .union(removed_edges.select(F.col("v").alias("node")))
            .distinct()
        )
        affected = (
            assignments.join(rm_nodes, "node", "left_semi")
            .select("comp")
            .distinct()
        )
        sub = (
            surviving_edges.join(
                assignments.select(F.col("node").alias("u"), "comp"), "u"
            )
            .join(affected, "comp", "left_semi")
            .select("u", "v")
        )
        recomputed = connected_components(sub)
        base = assignments.join(affected, "comp", "left_anti").unionByName(
            recomputed
        )
        base = base.localCheckpoint(eager=True)

    adds = added_edges.select(
        F.col("u").cast("string"), F.col("v").cast("string")
    )
    if adds.isEmpty():
        return base
    # endpoint → current component key; unknown endpoints (brand-new
    # nodes) keep their own id as the key.  A new node cannot collide
    # with an existing key: existing keys are members of existing
    # components, and the node is by definition in none of them.
    au = base.select(F.col("node").alias("u"), F.col("comp").alias("cu"))
    av = base.select(F.col("node").alias("v"), F.col("comp").alias("cv"))
    mapped = (
        adds.join(au, "u", "left")
        .join(av, "v", "left")
        .select(
            F.coalesce(F.col("cu"), F.col("u")).alias("u"),
            F.coalesce(F.col("cv"), F.col("v")).alias("v"),
        )
    )
    # self-loops (edge internal to one existing component) come back
    # from connected_components as identity rows — harmless no-ops
    remap = connected_components(mapped).select(
        F.col("node").alias("key"), F.col("comp").alias("newc")
    )
    old_keys = base.select(F.col("comp").alias("key")).distinct()
    updated = (
        base.join(remap, base.comp == remap.key, "left")
        .select(
            "node", F.coalesce(F.col("newc"), F.col("comp")).alias("comp")
        )
    )
    new_nodes = remap.join(old_keys, "key", "left_anti").select(
        F.col("key").alias("node"), F.col("newc").alias("comp")
    )
    return updated.unionByName(new_nodes)


def canonical_of_triples(assignments: DataFrame) -> DataFrame:
    """assignments → ``canonical_of`` triples.  The canonical id of a
    component is its catalog QID when one is a member (preferring the
    min QID), else the min node — deterministic either way."""
    comp_canon = assignments.groupBy("comp").agg(
        F.coalesce(
            F.min(F.when(F.col("node").startswith("Q_"), F.col("node"))),
            F.min("node"),
        ).alias("canonical_id")
    )
    return (
        assignments.join(comp_canon, "comp")
        .filter(F.col("node") != F.col("canonical_id"))
        .select(
            F.col("node").alias("subj"),
            F.lit(rules.PRED_CANONICAL_OF).alias("pred"),
            F.col("canonical_id").alias("obj"),
            F.lit(1.0).alias("conf"),
            null_span(),
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit(None).cast("timestamp").alias("extracted_at"),
        )
    )
