"""Stage C — canonicalization — and the connected-components operator.

Stage C (``canonical_of_links``) maps every linked surface to its
catalog id.  Clustering the ``same_as`` graph transitively would only
be needed if linking emitted record-to-record pairs; it does not.
``link_surfaces`` keeps one best pick per surface, every pick is a
catalog id (``Q_…``), and no surface can be one (``normalize_surface``
outputs only ``[a-z0-9 ]``).  So each component of the link graph is a
star — one catalog id plus the surfaces linked to it — and its
canonical id is that catalog id: the table is a projection of
``same_as``, with those two invariants checked row-inline.  (The
reference reconciles the same way, by a point lookup per lexeme,
``lexicator/WikidataUploader.py`` [M].)

``connected_components`` is the general clustering operator for graphs
that are not stars (the registry's ``kg_*`` queries, near-duplicate
clusters in ``operators.dedup``): the **large-star / small-star**
method of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — O(log n) rounds on any graph, each round two
groupBy+join shuffles, with per-round ``localCheckpoint()`` to
truncate lineage (SURVEY.md §4).  ``canonical_of_triples`` turns its
assignments into ``canonical_of`` triples; on a star graph that equals
``canonical_of_links`` (tested).

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


def canonical_of_links(same_as: DataFrame) -> DataFrame:
    """``same_as`` links → ``canonical_of`` triples, one per link:
    ``(surface, canonical_of, Q, 1.0)`` with a null span and NULL
    conv_id / turn_idx / extracted_at — the rows
    ``canonical_of_triples(connected_components(links))`` yields when
    every component is a star around one catalog id (module
    docstring).  A row that breaks the star shape (an ``obj`` without
    the ``Q_`` prefix ``canonical_of_triples`` keys on, or a ``subj``
    with it) fails the job that evaluates it, before its write
    commits: the projection never guesses where the general fixpoint
    would have answered differently."""
    subj, obj = F.col("subj"), F.col("obj")
    star = obj.startswith("Q_") & ~subj.startswith("Q_")
    return same_as.select(
        subj,
        F.lit(rules.PRED_CANONICAL_OF).alias("pred"),
        F.when(star, obj)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "canonicalize: same_as must link a surface to a "
                        "Q_ catalog id, got "
                    ),
                    F.coalesce(subj, F.lit("NULL")),
                    F.lit(" -> "),
                    F.coalesce(obj, F.lit("NULL")),
                )
            )
        )
        .alias("obj"),
        F.lit(1.0).alias("conf"),
        null_span(),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit(None).cast("timestamp").alias("extracted_at"),
    )
