"""Physical-plan shape tests: the scale properties we rely on must be
visible in explain() output, not assumed — predicate pushdown reaches
the parquet scan, small dimensions broadcast, column pruning holds,
and the native extract path stays inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from lexicator_spark import synth
from lexicator_spark.operators.extract import extract_triples

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reads_only_projected_columns(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = _plan(df)
    # ReadSchema must contain only the two referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_partkey" not in read_schema


def test_q3_broadcasts_customer_dim(spark):
    plan = _plan(entrymod.queries()["q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_link_stage_broadcasts_catalog(spark):
    from lexicator_spark.operators.extract import extract_triples
    from lexicator_spark.operators.link import build_catalog, link_mentions

    corpus = synth.make_corpus(n_convs=5, seed=1)
    triples = extract_triples(synth.corpus_df(spark, corpus))
    plan = _plan(link_mentions(triples, build_catalog(spark)))
    assert "BroadcastHashJoin" in plan


def test_native_extract_has_no_python_eval(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=5, seed=1)
    path = str(tmp_path / "turns")
    synth.corpus_df(spark, corpus).write.parquet(path)
    df = spark.read.parquet(path)  # real source: avoids constant folding
    plan_native = _plan(extract_triples(df, impl="native"))
    # JVM-only: no Python evaluation nodes anywhere in the native plan
    assert "ArrowEvalPython" not in plan_native and "BatchEvalPython" not in plan_native
    plan_pandas = _plan(extract_triples(df, impl="pandas"))
    # the pandas path must be Arrow-vectorized, never row-at-a-time
    assert "ArrowEvalPython" in plan_pandas
    assert "BatchEvalPython" not in plan_pandas


def test_dedup_signatures_have_no_python_eval(spark):
    """Round-2 invariant: MinHash/SimHash signature computation is
    fully JVM-side — no Python evaluation nodes in either plan, and
    the aggregation is a hash aggregate (map-side combinable)."""
    from lexicator_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for fn in (D.minhash_signatures, D.simhash_fingerprints):
        plan = _plan(fn(docs))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, fn
        assert "HashAggregate" in plan, fn


def test_lsh_band_join_carries_no_arrays(spark):
    """The LSH candidate join shuffles (bucket, doc_id) only: no array
    column may appear in any exchange partitioned on the bucket key
    (token payloads join back by doc id for the verify step).  Auto
    broadcast is disabled so the shuffle exchanges exist at test
    scale — at real scale both band sides are big."""
    from lexicator_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        exec_plan = (
            D.minhash_lsh_pairs(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bucket_exchanges = [
        l for l in exec_plan.splitlines() if "hashpartitioning(bucket" in l
    ]
    assert bucket_exchanges, "bucket join exchanges not found"
    assert all("toks" not in l for l in bucket_exchanges)


def test_star_edges_shuffle_no_arrays_no_python(spark):
    """The star-edge candidate stage (the 100-TB cluster path) keeps
    the two scale properties of the pair path: bucket-keyed exchanges
    carry (bucket, doc_id) only — token arrays rejoin by id solely for
    the verify — and nothing evaluates in Python."""
    from lexicator_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        exec_plan = (
            D.minhash_lsh_star_edges(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bucket_exchanges = [
        l for l in exec_plan.splitlines() if "hashpartitioning(bucket" in l
    ]
    assert bucket_exchanges, "bucket exchanges not found"
    assert all("toks" not in l for l in bucket_exchanges)
    assert "BatchEvalPython" not in exec_plan
    assert "ArrowEvalPython" not in exec_plan


def test_curation_is_single_pass_no_python(spark):
    """curate_corpus without a cluster table is one projection over
    the scan: no shuffle exchange at all, no Python eval, and column
    pruning still reaches the reader."""
    from lexicator_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(CU.curate_corpus(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "doc_id" in read_schema


def test_partition_pruning_on_stage_table(spark, tmp_path):
    """Salted-hash-partitioned stage tables prune by p_hash."""
    from lexicator_spark.sources import io as sio

    corpus = synth.make_corpus(n_convs=30, seed=6)
    df = extract_triples(synth.corpus_df(spark, corpus))
    loc = str(tmp_path / "triples")
    sio.write_table(df, loc, partition_key="conv_id", n_buckets=8)
    raw = spark.read.parquet(loc)
    pruned = raw.filter(F.col("p_hash") == 3)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "p_hash" in plan
    # the refresh kept-rows read path: read_table(keep_bucket_col=True)
    # + isin(touched) must prune to the touched bucket directories —
    # a refresh that re-derives the hash from conv_id instead would
    # full-scan the table for a one-conversation delta
    kept = sio.read_table(spark, loc, keep_bucket_col=True).filter(
        F.col("p_hash").isin([3, 5])
    )
    kplan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [p_hash" in kplan and "IN (3,5)" in kplan


def test_pack_sequences_window_partitions_by_bucket(spark):
    """The packing contract query's window must partition on
    (split, p_bucket), not split alone: the Exchange feeding the
    Window carries both keys, so sort parallelism = splits × buckets
    instead of a 2-partition serial sort (the r3 weak-at-scale
    shape)."""
    plan = _plan(entrymod.queries()["corpus_pack_sequences"](spark, SF))
    win_exchanges = [
        l
        for l in plan.splitlines()
        if "hashpartitioning" in l and "split" in l
    ]
    assert win_exchanges, plan
    assert any("p_bucket" in l for l in win_exchanges), win_exchanges


def test_pagerank_step_has_no_broadcast_nested_loop(spark):
    """One PageRank iteration must be plain hash joins + aggregation:
    the dangling mass enters as a literal, so the r3 one-row
    crossJoin(broadcast(...)) — a BroadcastNestedLoopJoin + an extra
    BroadcastExchange every round — must not appear in the step
    plan."""
    from lexicator_spark.operators import graph as G

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "a string, b string"
    )
    directed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(1.0).alias("w")
    )
    nodes = directed.select(F.col("src").alias("node")).union(
        directed.select(F.col("dst").alias("node"))
    ).distinct()
    ranks = nodes.select(
        "node", F.lit(1 / 3).alias("rank"), F.lit(1.0).alias("out_w")
    )
    step = G._pagerank_step(directed, ranks, 0.05, 0.85, 0.0, 3)
    plan = _plan(step)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _plan_nodes(plan: str) -> list[str]:
    """Operator names of a formatted plan, one per node (from its
    numbered detail headers, e.g. ``(7) Exchange``)."""
    import re

    return re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)


def test_refresh_detection_is_one_exchange_no_join(spark, tmp_path):
    """Refresh change detection is one union-aggregate: turns and
    frontier rows share ONE exchange and no join.  The aggregate +
    left-join shape it replaced planned a second exchange (shuffle or
    broadcast) and a join node, and at scale a sort-merge join over
    both re-shuffled sides."""
    from lexicator_spark.operators.incremental import changed_conversations

    corpus = synth.make_corpus(n_convs=30, seed=2)
    turns_path = str(tmp_path / "turns")
    synth.corpus_df(spark, corpus).write.parquet(turns_path)
    turns = spark.read.parquet(turns_path)
    frontier_path = str(tmp_path / "frontier")
    turns.groupBy("conv_id").agg(
        F.max("turn_idx").alias("done_max_idx")
    ).write.parquet(frontier_path)
    frontier = spark.read.parquet(frontier_path)

    nodes = _plan_nodes(_plan(changed_conversations(turns, frontier)))
    assert [n for n in nodes if "Join" in n] == [], nodes
    assert [n for n in nodes if n.endswith("Exchange")] == ["Exchange"], nodes


def test_graph_rounds_plan_no_sort_merge_join(spark, monkeypatch):
    """PageRank and k-hop rounds join node-sized frames backed by
    ``localCheckpoint``, which Catalyst has no size for.  Below the
    node bound both functions broadcast those sides, so no round plans
    a SortMergeJoin (which would re-shuffle the pinned edges every
    round).  Control: with the bound at 0 every round plans them."""
    from lexicator_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 12}") for i in range(12)],
        "a string, b string",
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([("n0",)], "node string")
    frame_type = type(edges)

    def round_plans():
        """Plan nodes of each PageRank round (not its one-time
        rank-init join) and of each k-hop round, taken from the frames
        k-hop checkpoints."""
        rank_rounds, khop_frames = [], []
        step, checkpoint = G._pagerank_step, frame_type.localCheckpoint

        def recorded_step(*args, **kwargs):
            frame = step(*args, **kwargs)
            rank_rounds.append(_plan_nodes(_plan(frame)))
            return frame

        def recorded_checkpoint(self, *args, **kwargs):
            khop_frames.append(_plan_nodes(_plan(self)))
            return checkpoint(self, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(G, "_pagerank_step", recorded_step)
            G.pagerank(edges, iterations=3)
            m.setattr(frame_type, "localCheckpoint", recorded_checkpoint)
            G.khop_distances(edges, seeds, 3)
        # the adjacency and seed pins join nothing; each hop frame does
        khop_rounds = [n for n in khop_frames if any("Join" in x for x in n)]
        assert len(rank_rounds) == 3 and len(khop_rounds) == 3
        return rank_rounds + khop_rounds

    for nodes in round_plans():
        assert "SortMergeJoin" not in nodes, nodes

    monkeypatch.setattr(G, "_BROADCAST_NODES_MAX", 0)
    for nodes in round_plans():
        assert "SortMergeJoin" in nodes, nodes


def test_extraction_plans_two_scans(spark):
    """Extraction reads its input twice, through both impls: the
    rule-hits branch (with ``uses_tool`` fused into the hits array)
    and the ``replies_to`` branch.  A third union branch for
    ``uses_tool`` planned a third scan, because union branches share
    no subtree."""
    from pathlib import Path

    fixture = Path(__file__).parent / "fixtures" / "synth_corpus_n300_s42.parquet"
    turns = spark.read.parquet(str(fixture))
    for impl in ("native", "pandas"):
        nodes = _plan_nodes(_plan(extract_triples(turns, impl=impl)))
        assert nodes.count("Scan") == 2, (impl, nodes)


def test_minhash_clusters_read_pinned_star_edges_once(spark, tmp_path, monkeypatch):
    """``connected_components`` pins its input, so the plan of
    ``near_dup_clusters(method="minhash_star")`` reads the verified
    star edges only through the pin — ``Scan ExistingRDD`` nodes with
    columns ``u, v``, all over ONE RDD — and scans the documents once,
    for the singletons.  Control: with that pin patched out, the
    isolated-node branches re-plan the verify subtree, which scans the
    documents again."""
    import re

    from lexicator_spark.operators import canonicalize as C
    from lexicator_spark.operators.dedup import near_dup_clusters

    templates = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "spark shuffles data between stages when a join needs co-location",
        "minhash bands turn jaccard similarity into bucket collisions fast",
    ]
    rows = [
        (i * 4 + k, f"{t} copy{k}" if k else t)
        for i, t in enumerate(templates)
        for k in range(4)
    ] + [(100, "a lone document shares nothing with the others at all")]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(path)
    docs = spark.read.parquet(path)

    def scans():
        """(source, output columns, RDD) of every scan in the plan."""
        plan = _plan(near_dup_clusters(docs, method="minhash_star"))
        return [
            (src, re.sub(r"#\d+L?", "", cols), rdd)
            for src, cols, rdd in re.findall(
                r"^\(\d+\) Scan (\w+).*\nOutput \[\d+\]: \[([^\]]*)\]"
                r"(?:\nArguments: [^\n]*?(\w+RDD\[\d+\]))?",
                plan,
                flags=re.M,
            )
        ]

    def edge_pins(found):
        return [rdd for src, cols, rdd in found if (src, cols) == ("ExistingRDD", "u, v")]

    pinned = scans()
    assert [s[:2] for s in pinned if s[0] == "parquet"] == [("parquet", "doc_id")]
    assert edge_pins(pinned) and len(set(edge_pins(pinned))) == 1, pinned

    cc, pin = C.connected_components, type(docs).localCheckpoint

    def cc_without_input_pin(edges, *args, **kwargs):
        calls = []

        def first_pin_skipped(self, *a, **kw):
            if not calls:  # the input pin is connected_components' first
                calls.append(self)
                return self
            return pin(self, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(type(docs), "localCheckpoint", first_pin_skipped)
            return cc(edges, *args, **kwargs)

    monkeypatch.setattr(C, "connected_components", cc_without_input_pin)
    unpinned = scans()
    assert len([s for s in unpinned if s[0] == "parquet"]) > 1, unpinned
    assert edge_pins(unpinned) == [], unpinned
