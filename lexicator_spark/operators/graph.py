"""Graph analytics over the constructed knowledge graph.

The KG pipeline's output is a graph (entities = nodes, co-mention /
same_as / canonical_of = edges); these operators answer the standard
structural questions over it — degree profile, clustering (triangle)
structure, PageRank centrality — with 100-TB-shaped plans: joins and
aggregations on narrow (string, string) edge frames.  Nothing
data-sized ever reaches the driver: the only driver-side values are
PageRank's per-iteration scalars (dangling mass, max |Δrank|), each a
single double from a distributed aggregation.

Triangle counting uses the degree-ordered orientation (the classic
MapReduce formulation: Suri & Vassilvitskii, WWW'11 "Counting
triangles and the curse of the last reducer"): every undirected edge
is oriented from its lower-(degree, node) endpoint to the higher one,
so each triangle is counted exactly once from its lowest-rank vertex
and — crucially at scale — the wedge join's fan-out per node is
bounded by its OUT-degree under the orientation, which is O(sqrt(m))
even for hub nodes.  A naive u<v<w name ordering keeps correctness
but lets one celebrity node generate quadratic wedges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    mentions: DataFrame,
    by: str = "conv_id",
    node_col: str = "surface",
    max_nodes_per_group: int | None = None,
    weighted: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Undirected co-occurrence edges ``(a, b)`` with ``a < b``: two
    nodes are connected iff they appear in the same ``by`` group.
    ``weighted=True`` adds ``n_groups`` (distinct groups sharing the
    pair) for weighted PageRank; same shuffle count either way.
    Returns the pair ``(edges, overflow)`` — always, so the call shape
    doesn't depend on an argument value.

    One shuffle on ``by``; the within-group self-join is quadratic in
    the group's DISTINCT node count, which for entity mentions per
    conversation is bounded by the vocabulary a single conversation
    can mention — small and independent of corpus size.

    ``max_nodes_per_group`` makes that bound ENFORCED rather than
    assumed: groups whose distinct node count exceeds it are excluded
    from the self-join (capping edge output at ``groups · cap²``) and
    reported in the ``(by, n_nodes)`` overflow frame instead of being
    silently dropped — callers decide whether to log, sample, or
    reprocess them.  Uncapped (default), ``overflow`` is the same
    frame filtered to empty — a LocalRelation after constant folding,
    costing nothing unless evaluated."""
    nodes = mentions.select(by, node_col).distinct()
    counts = nodes.groupBy(by).agg(F.count(F.lit(1)).alias("n_nodes"))
    if max_nodes_per_group is not None:
        overflow = counts.filter(F.col("n_nodes") > max_nodes_per_group).select(
            by, "n_nodes"
        )
        nodes = nodes.join(
            counts.filter(F.col("n_nodes") <= max_nodes_per_group).select(by),
            by,
            "left_semi",
        )
    else:
        overflow = counts.filter(F.lit(False)).select(by, "n_nodes")
    x, y = nodes.alias("x"), nodes.alias("y")
    pairs = (
        x.join(y, by)
        .filter(F.col(f"x.{node_col}") < F.col(f"y.{node_col}"))
        .select(
            F.col(f"x.{node_col}").alias("a"), F.col(f"y.{node_col}").alias("b")
        )
    )
    if weighted:
        # weight = number of distinct groups the pair co-occurs in
        # (``n_groups``) — same single aggregation shuffle as the
        # distinct, feeds pagerank(weight_col="n_groups") directly
        edges = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_groups"))
    else:
        edges = pairs.distinct()
    return edges, overflow


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, degree)`` from an ``(a, b)`` undirected edge frame
    (edges assumed deduplicated with a < b) — one union + one hash
    aggregate with map-side combine."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """``(degree, n_nodes)`` histogram — the first sanity check on any
    constructed graph (a KG whose degree histogram collapses to 1-2
    buckets extracted nothing but noise)."""
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    undirected: bool = True,
) -> DataFrame:
    """Bounded BFS over an ``(a, b)`` edge frame: minimum hop distance
    from any seed node, cut off at ``k`` hops → ``(node, dist:int)``
    (seeds at 0; nodes further than ``k`` or unreachable are absent).

    The third iterative-DataFrame algorithm alongside the CC fixpoint
    and PageRank, and the query primitive the other two don't give you:
    "what is within N relations of this entity" is the neighborhood
    question every KG serves.  Each round is ONE equi-join (frontier ⋈
    adjacency), ONE distinct, and ONE anti-join against the visited
    set — all hash exchanges on a single string column, nothing wider
    than (node, int) ever shuffles, nothing reaches the driver but the
    per-round empty-frontier probe (a count-limited scalar).  Rounds
    are bounded by ``k`` (a query parameter, not data), and each round
    ``localCheckpoint``s exactly like the CC/PageRank loops so lineage
    never deepens.  BFS min-distance is order-insensitive: whatever
    partitioning discovers a node first, the anti-join guarantees it
    is recorded at its first (= minimum) hop count — task retries and
    AQE re-plans reproduce identical output.

    At 100 TB the frontier join is skew-safe for the same reason the
    co-occurrence build is: fan-out per frontier node is its degree,
    and hub-heavy frontiers are exactly what AQE's skew-join split
    handles; the visited anti-join grows with the REACHED set, not the
    corpus."""
    adj = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    if undirected:
        adj = adj.unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    # pin: the adjacency is joined by every hop — don't re-derive the
    # upstream edge plan k times
    adj = adj.localCheckpoint(eager=True)
    visited = (
        seeds.select("node", F.lit(0).cast("int").alias("dist"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = visited
    # frontier/visited are checkpoint-RDD-backed: Catalyst has no size
    # estimate for them, so un-hinted, every hop's joins plan as
    # sort-merge — re-shuffling the pinned, never-changing adjacency
    # each round (the same defect pagerank had, guide §3.1).  The
    # frontier size is ALREADY counted each hop (the empty-frontier
    # stop), so that exact count gates an explicit broadcast of the
    # node-sized sides; a frontier/visited set beyond the threshold
    # falls back to the shuffle plan by design.
    n_frontier = frontier.count()
    n_visited = n_frontier
    for hop in range(1, k + 1):
        f_side = frontier
        if n_frontier <= _BROADCAST_NODES_MAX:
            f_side = F.broadcast(frontier)
        v_side = visited.select("node")
        if n_visited <= _BROADCAST_NODES_MAX:
            v_side = F.broadcast(v_side)
        frontier = (
            f_side.join(adj, frontier["node"] == adj["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(v_side, "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        # NO checkpoint on the visited union: it is a flat unionAll of
        # ≤ k+1 already-checkpointed frontier RDDs, so lineage depth
        # stays 1 regardless of hop count (bounded by the query
        # parameter k, not data) and the per-hop materialization job
        # the r5 shape paid here bought nothing (measured: one job per
        # hop of pure fixed cost at bench scale)
        visited = visited.unionAll(frontier)
        n_visited += n_frontier
    return visited


def negative_samples(
    triples: DataFrame,
    vocab: DataFrame | None = None,
    n_negatives: int = 1,
) -> DataFrame:
    """Deterministic tail-corruption negative sampling for
    KG-embedding training (the TransE-family recipe: every positive
    ``(subj, pred, obj)`` yields ``n_negatives`` corrupted
    ``(subj, pred, neg_obj)`` rows with ``neg_obj ≠ obj`` drawn from
    the entity vocabulary) → ``(subj, pred, obj, neg_obj)``.

    No RNG: the "random" entity is a content-derived modular shift —
    ``neg_idx = (idx(obj) + 1 + (h + i) % (n−1)) % n`` where ``h`` is
    the first 8 hex chars of ``md5(subj|pred|obj)`` as an integer,
    ``i`` the negative's ordinal, and ``n`` the vocabulary size.  The
    ``+1 … % (n−1)`` ring walk can never land back on ``idx(obj)``, so
    the no-collision contract is algebraic, not probabilistic; md5 is
    engine-portable, so the whole operator has an exact SQL twin, and
    task retries reproduce identical samples (the property RNG-based
    samplers lose under speculative execution).

    ``vocab`` is the entity dimension ``(entity, idx)`` with ids dense
    in ``[0, n)`` — at scale this is the table the pipeline's
    entities-dim stage already maintains (dictionary-encode ONCE, not
    per training run).  When omitted it is derived from the distinct
    objects with a ``row_number`` over a global sort: correct and
    exactly SQL-twinned, but a single-partition window — fine for a
    vocabulary (≪ triples by definition), wrong for anything
    corpus-sized, hence the precomputed-dimension parameter.

    Plan shape: two equi-joins against the vocabulary (obj → idx,
    neg_idx → entity), both broadcastable when the vocabulary fits and
    plain shuffle joins when it doesn't; the triple side is touched
    once.  ``n_negatives`` fans out via an inline ``explode(sequence)``
    before the second join — output is exactly ``n_negatives ×
    |triples with non-NULL obj|`` rows (NULL-obj rows have no identity
    to corrupt and are dropped up front), linear, no distinct.  The one driver-side value is the
    vocabulary count (a scalar aggregation over the small side)."""
    if n_negatives < 1:
        raise ValueError("n_negatives must be >= 1")
    # a NULL obj cannot be corrupted (no identity to corrupt) and the
    # equi-join below would never match it even if the vocab carried a
    # NULL entity — drop such rows up front, so the contract reads
    # "n_negatives × |non-NULL-obj triples|" instead of a misleading
    # "obj absent from vocab: <NULL>" crash on the internal-vocab path
    triples = triples.filter(F.col("obj").isNotNull())
    if vocab is None:
        from pyspark.sql import Window

        # pinned: the derived vocabulary is consumed three times (the
        # density-validation aggregate plus both equi-joins below) and
        # each un-pinned evaluation re-runs the corpus-wide distinct +
        # global-sort window.  The pin materializes only the
        # vocabulary (≪ triples by definition).  A caller-supplied
        # dimension table is left as-is — pinning someone else's
        # frame is their call.
        vocab = (
            triples.select(F.col("obj").alias("entity"))
            .distinct()
            .select(
                "entity",
                (F.row_number().over(Window.orderBy("entity")) - 1).alias("idx"),
            )
            .localCheckpoint(eager=True)
        )
    # one aggregate pass validates the ring arithmetic's precondition:
    # idx must be DENSE 0..n-1, or the second join (neg_idx → entity)
    # silently drops output rows for the missing indices — the same
    # silent contract break the obj-side guard below exists to prevent
    st = vocab.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("idx").alias("nd"),
        F.min("idx").alias("lo"),
        F.max("idx").alias("hi"),
    ).first()
    n = st["n"]
    if n < 2:
        raise ValueError(f"need >= 2 distinct entities to corrupt, got {n}")
    if not (st["nd"] == n and st["lo"] == 0 and st["hi"] == n - 1):
        raise ValueError(
            "negative_samples: vocab idx must be dense 0..n-1 "
            f"(n={n}, distinct={st['nd']}, min={st['lo']}, max={st['hi']}) "
            "— re-index the vocabulary after entity deletions"
        )
    from lexicator_spark.operators.textstats import md5_bucket

    h = md5_bucket(F.concat_ws("|", "subj", "pred", "obj"))
    # left join + raise, not an inner join: a caller-supplied vocab
    # that is missing an obj (stale dictionary after the corpus grew)
    # must fail loudly — an inner join would silently drop every
    # positive triple with that obj and break the documented
    # "exactly n_negatives × |triples| rows" contract
    with_idx = triples.join(
        vocab.select(F.col("entity").alias("obj"), "idx"), "obj", "left"
    ).withColumn(
        "idx",
        F.when(F.col("idx").isNotNull(), F.col("idx")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("negative_samples: obj absent from vocab: "),
                    # coalesce: concat with a NULL obj would NULL the
                    # whole message and the job would die nameless
                    F.coalesce(F.col("obj"), F.lit("<NULL>")),
                )
            )
        ),
    ).select(
        "subj",
        "pred",
        "obj",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_negatives - 1)),
                lambda i: (
                    F.col("idx") + 1 + (h + i.cast("bigint")) % (n - 1)
                )
                % n,
            )
        ).alias("neg_idx"),
    )
    return with_idx.join(
        vocab.select(F.col("idx").alias("neg_idx"), F.col("entity").alias("neg_obj")),
        "neg_idx",
    ).select("subj", "pred", "obj", "neg_obj")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    undirected: bool = True,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank → ``(node, rank)``; ranks sum to 1.

    The second iterative-DataFrame algorithm in the engine (alongside
    the large-star/small-star connected components): each iteration is
    ONE join (contributions = rank · w / out_weight shipped along
    edges) plus ONE aggregation, both on narrow (node, double) frames
    — out-weights are computed once and joined into the rank frame, so
    the per-iteration shuffle carries 16-byte rows regardless of graph
    payload.  Every round ``localCheckpoint``s the new rank frame
    (truncating lineage exactly as the CC fixpoint does; at cluster
    scale: a scratch table, same seam) and runs ONE scalar aggregation
    over it producing (next dangling mass, max |Δrank|) together — the
    dangling mass enters the next round as a literal, so the r3
    one-row ``crossJoin(broadcast(...))`` and its per-round
    BroadcastExchange are gone from the plan.  Out-weights never
    change across rounds, so when no node has zero out-weight and no
    ``tol`` is set that aggregation is skipped: the mass stays 0 and
    the delta would go unread.

    When the node count — computed exactly, up front — is at most
    ``_BROADCAST_NODES_MAX``, the node-sized frames (ranks, then the
    contribution sums) are explicitly BROADCAST into each round's
    joins: the rank frame is checkpointed RDD-backed, so Catalyst has
    no size estimate for it and would otherwise plan a sort-merge
    join that re-shuffles the (pinned, never-changing) edge frame
    EVERY iteration — measured at a 5.9M-edge co-mention graph as
    ~19 s/round with 0.28 core-scaling efficiency vs ~1 s/round
    broadcast (guide §3.1: broadcast the side that fits, chosen here
    from an exact count, not an estimate).  Beyond the threshold the
    shuffle plan stands — web-scale node sets must not be broadcast.

    ``tol`` adds the convergence stop a real 100-TB job runs: iterate
    until ``max |rank − prev| < tol`` or ``iterations``, whichever
    first — the delta rides the same per-round scalar aggregation, so
    the stop costs nothing extra.  ``tol=None`` reproduces the exact
    fixed-iteration semantics (the pytest Python twin).

    ``weight_col`` names an edge-weight column for weighted PageRank
    (contributions proportional to weight); parallel weighted edges
    are merged by summing, unweighted edges are deduplicated.

    ``undirected=True`` symmetrizes the edge frame first, which also
    guarantees no dangling nodes (every node has out-degree ≥ 1); for
    directed graphs the dangling mass is redistributed uniformly each
    iteration (the standard correction), keeping the distribution
    stochastic.  Deterministic: pure arithmetic, no sampling — task
    retries reproduce identical ranks."""
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    fwd = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"), w.alias("w"))
    if undirected:
        directed = fwd.unionAll(
            edges.select(
                F.col("b").alias("src"), F.col("a").alias("dst"), w.alias("w")
            )
        )
    else:
        directed = fwd
    if weight_col is None:
        directed = directed.distinct()
    else:
        directed = directed.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    # pin the edge frame: it is consumed by nodes/out_w and then by
    # EVERY iteration's join — without this the full upstream edge
    # derivation (often a corpus-wide co-occurrence build) re-executes
    # ~iterations+2 times, while the ranks side is already
    # checkpointed each round for exactly this reason
    directed = directed.localCheckpoint(eager=True)
    nodes = (
        directed.select(F.col("src").alias("node"))
        .union(directed.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_w = directed.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("out_w")
    )
    ranks = nodes.join(out_w, "node", "left").select(
        "node",
        F.lit(1.0 / n).alias("rank"),
        F.coalesce(F.col("out_w"), F.lit(0.0)).alias("out_w"),
    ).localCheckpoint(eager=True)
    # dangling nodes (out_w == 0) leak their rank; redistributed
    # uniformly so the ranks stay a probability distribution
    dangling_mass = F.coalesce(
        F.sum(F.when(F.col("out_w") == 0.0, F.col("rank"))), F.lit(0.0)
    )
    init = ranks.agg(
        dangling_mass.alias("m"),
        F.count_if(F.col("out_w") == 0.0).alias("n_dangling"),
    ).first()
    mass = init["m"]
    per_round_stats = init["n_dangling"] > 0 or tol is not None
    base = (1.0 - damping) / n
    bc_nodes = n <= _BROADCAST_NODES_MAX
    for _ in range(iterations):
        ranks = _pagerank_step(
            directed, ranks, base, damping, mass, n,
            broadcast_ranks=bc_nodes,
        ).localCheckpoint(eager=True)
        if not per_round_stats:
            continue
        stats = ranks.agg(
            dangling_mass.alias("m"),
            F.max(F.abs(F.col("rank") - F.col("prev"))).alias("delta"),
        ).first()
        mass = stats["m"]
        if tol is not None and stats["delta"] < tol:
            break
    return ranks.select("node", "rank")


_BROADCAST_NODES_MAX = 1_000_000


def _pagerank_step(
    directed: DataFrame,
    ranks: DataFrame,
    base: float,
    damping: float,
    mass: float,
    n: int,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """One PageRank iteration as a frame: edge join + contribution
    aggregation + rank update.  Kept as a named seam so the plan shape
    is testable: the step must contain ZERO nested-loop/cartesian
    nodes (the dangling mass is the ``mass`` literal, not a joined
    one-row frame).  ``broadcast_ranks`` (see :func:`pagerank`)
    broadcasts the two node-sized sides so the pinned edge frame is
    probed in place instead of re-shuffled every round."""
    src_ranks = ranks.filter(F.col("out_w") > 0).select(
        F.col("node").alias("src"),
        (F.col("rank") / F.col("out_w")).alias("unit"),
    )
    if broadcast_ranks:
        src_ranks = F.broadcast(src_ranks)
    contribs = (
        directed.join(src_ranks, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("unit") * F.col("w")).alias("contrib"))
    )
    if broadcast_ranks:
        contribs = F.broadcast(contribs)
    return (
        ranks.select("node", "out_w", F.col("rank").alias("prev"))
        .join(contribs, "node", "left")
        .select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(mass / n))
            ).alias("rank"),
            "out_w",
            "prev",
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count as a 1-row ``(n_triangles)`` frame.

    Degree-ordered orientation (module docstring): rank nodes by
    (degree, node), orient each edge low → high, enumerate wedges from
    each source's out-neighborhood, close them against the oriented
    edge set.  Three shuffles total (degree join, wedge self-join,
    closure join); every join key is a single string column."""
    deg = degrees(edges)
    e = (
        edges.join(deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
    )
    # struct ordering = (degree, node) lexicographic rank
    key_a = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
    key_b = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
    a_first = key_a < key_b
    # pin: consumed three times (both wedge sides + the closure) —
    # orientation itself costs two degree joins, paid once this way
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, key_b).otherwise(key_a).alias("dst_key"),
    ).localCheckpoint(eager=True)
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst_key") < F.col("y.dst_key"))
        .select(F.col("x.dst").alias("v"), F.col("y.dst").alias("w"))
    )
    closure = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closure, ["v", "w"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
