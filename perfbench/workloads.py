"""The benchmark workloads, driven through the public ``lexicator_spark``
API from one driver process in a closed loop with one client.

``build``: repeated from-scratch ``run_pipeline(resume=False)``.
``refresh``: RecentChanges-shaped deltas, each a raw-turns
``sio.upsert_partitions`` followed by ``refresh_pipeline``.

Each write is followed by one seeded batch of graph reads against the
stage tables it left behind, so both workloads also measure the read
side of ``sources.io`` on the layout their own write path produces (a
freshly built one and a refreshed one); traced cycles add the reads of
``operators.graph``.

Set-up leaves the JVM warm for the timed cycles: it ends with the cold
build on ``build``, and with a first, untimed delta after the cold
build on ``refresh``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

from pyspark.sql import functions as F

from lexicator_spark import rules, synth
from lexicator_spark.operators import graph
from lexicator_spark.operators.canonicalize import (
    canonical_of_triples,
    connected_components,
)
from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.link import build_catalog, link_mentions
from lexicator_spark.plans.pipeline import (
    entities_dim,
    mention_counts_of_triples,
    run_pipeline,
)
from lexicator_spark.plans.refresh import refresh_pipeline
from lexicator_spark.sources import io as sio
from perfbench import oracle, trace

# p_hash buckets of every stage table: about 125 corpus turns per
# bucket, where the default 64 would leave most of them nearly empty
N_BUCKETS = 8
READ_SPANS = {
    "lookup": "io.lookup",
    "conv": "io.conv",
    "hop2": "graph.hop2",
    "rank": "graph.rank",
}
# the reads every cycle times; the graph reads (0.5-10 s each) run in
# traced cycles only, so their cost is a per-layer metric
POINT_READS = ("lookup", "conv")
ENTITY_COLS = (
    "canonical_id", "surface_form", "block_key", "score", "n_mentions",
    "n_convs", "is_canonical",
)
TRIPLE_COLS = ("conv_id", "subj", "pred", "obj", "conf", "turn_idx")


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


class Reader:
    """The four read types, as a consumer of the materialized graph
    sends them."""

    def __init__(self, spark, root: str, buckets: dict[str, int]):
        self.spark, self.root, self.buckets = spark, root, buckets

    def _table(self, name: str, keep_bucket_col: bool = False):
        return sio.read_table(
            self.spark, os.path.join(self.root, name), keep_bucket_col=keep_bucket_col
        )

    def lookup(self, canonical_id: str) -> list[tuple]:
        ents = self._table("entities")
        return _tuples(
            ents.filter(F.col("canonical_id") == canonical_id).select(*ENTITY_COLS).collect()
        )

    def conv(self, conv_id: str) -> list[tuple]:
        triples = self._table("triples", keep_bucket_col=True)
        return _tuples(
            triples.filter(
                (F.col("p_hash") == self.buckets[conv_id]) & (F.col("conv_id") == conv_id)
            )
            .select(*TRIPLE_COLS)
            .collect()
        )

    def _comention_edges(self):
        """Co-mention graph: nodes are canonical ids, or the surface
        itself when it links to none; two nodes share an edge when one
        conversation mentions both."""
        triples = self._table("triples")
        ents = self._table("entities").select("surface_form", "canonical_id").distinct()
        mentions = triples.filter(F.col("pred") == rules.PRED_MENTIONS).select(
            "conv_id", F.col("obj").alias("surface")
        )
        nodes = mentions.join(
            ents, mentions.surface == ents.surface_form, "left"
        ).select("conv_id", F.coalesce("canonical_id", "surface").alias("node"))
        edges, _overflow = graph.cooccurrence_edges(nodes, by="conv_id", node_col="node")
        return edges

    def hop2(self, canonical_id: str) -> list[str]:
        a, b = F.col("a"), F.col("b")
        return [
            r.n
            for r in self._comention_edges()
            .filter((a == canonical_id) | (b == canonical_id))
            .select(F.when(a == canonical_id, b).otherwise(a).alias("n"))
            .collect()
        ]

    def rank(self, _arg: str = "") -> list[tuple]:
        ranks = graph.pagerank(self._comention_edges(), iterations=oracle.RANK_ITERATIONS)
        top = ranks.orderBy(F.desc("rank"), "node").limit(oracle.TOP_K)
        return [(r.node, r.rank) for r in top.collect()]


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the machine so far, from /proc/stat.
    Busy is user, nice, system, irq and softirq time; steal, in a
    virtual machine, is the time our cores were ready to run and the
    host ran someone else on them."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def clock() -> tuple[float, int, int]:
    """(wall seconds, busy ticks, steal ticks) now."""
    return (time.perf_counter(), *cpu_ticks())


def since(start: tuple[float, int, int]) -> tuple[float, float]:
    """(wall, unstolen) seconds since ``start``, a :func:`clock` reading.
    Unstolen is the wall less the share of it the host stole: wall ×
    busy / (busy + steal).  An operation that ran on p cores for its
    whole wall w, with a share f of its CPU time stolen, would have
    taken w × (1 − f) on a host that stole nothing; the share the
    kernel reports is that f."""
    wall, busy, steal = (b - a for a, b in zip(start, clock()))
    return wall, (wall * busy / (busy + steal) if busy + steal else wall)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Run:
    """State of one benchmark run: operation latencies, failure
    counts, and the directories the workload writes."""

    def __init__(self, spark, work: str, inputs, traced: bool):
        self.spark, self.work, self.inputs, self.traced = spark, work, inputs, traced
        # spans are recorded only in the timed cycles of a traced run
        self.tracer = trace.Tracer(os.path.basename(work), enabled=False)
        # (RefreshPipelineResult, traced) of each timed delta
        self.refreshes: list[tuple[object, bool]] = []
        self.applied = 0  # deltas attempted so far
        self.write_turns: list[int] = []  # turns taken in by each write
        self.triples_mb = 0.0  # size of the materialized table after the timed cycles
        self.phases: dict[str, float] = {}  # wall of untimed phases, for the record
        self.kg = os.path.join(work, "kg")
        # per kind of operation: wall seconds, and the same less the
        # share the host stole (see `since`)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.unstolen: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.counts: dict[str, float] = {}
        self.setup_s = self.setup_unstolen_s = 0.0
        self.reader: Reader | None = None

    # -- bookkeeping ------------------------------------------------

    def timed(self, kind: str, span: str, fn):
        """One closed-loop operation.  Returns its result, or None when
        it raised (counted as a failed operation)."""
        self.attempted += 1
        start = clock()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return None
        wall, unstolen = since(start)
        self.lat[kind].append(wall)
        self.unstolen[kind].append(unstolen)
        return out

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def verify(self, ok: bool, what: str) -> None:
        """A correctness check on an operation already attempted."""
        if not ok:
            self.fail(what)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check that is an operation of its own."""
        self.attempted += 1
        self.verify(ok, what)

    def read_batch(self, batch: list[tuple[str, str]]) -> None:
        """One seeded read batch, each answer checked against DuckDB.  An
        untraced cycle sends its point reads; a traced one also its
        2-hop reads and one PageRank (``graph.hop2.*``,
        ``graph.rank.*``)."""
        want = oracle.GraphOracle(self.kg)
        if self.tracer.enabled:
            batch = [*batch, ("rank", "")]
        else:
            batch = [(kind, arg) for kind, arg in batch if kind in POINT_READS]
        for kind, arg in batch:
            got = self.timed(kind, READ_SPANS[kind], lambda: getattr(self.reader, kind)(arg))
            if got is not None:
                self.verify(want.check(kind, arg, got), f"{kind}({arg!r}) answer differs from DuckDB")

    def cycles(self, seconds: float, cycle) -> None:
        """Run ``cycle(i)`` for i = 1, 2, ... until ``seconds`` have
        passed, at least once.  A traced run traces every cycle it
        times: a traced ``build`` cycle also replays the build and runs
        PageRank."""
        self.tracer.enabled = self.traced
        start = time.perf_counter()
        deadline = start + seconds
        i = 1
        while True:
            with self.tracer.span("cycle"):
                cycle(i)
            i += 1
            if time.perf_counter() >= deadline or i >= len(self.inputs.reads):
                break
        self.phases["timed_s"] = time.perf_counter() - start
        self.triples_mb = sum(
            os.path.getsize(f) for f in oracle.parquet_files(os.path.join(self.kg, "triples"))
        ) / 1e6

    def setup_step(self, fn):
        start = clock()
        out = fn()
        wall, unstolen = since(start)
        self.setup_s += wall
        self.setup_unstolen_s += unstolen
        return out


# -- build ----------------------------------------------------------


def build_graph(spark, turns, root: str):
    return run_pipeline(spark, turns, root, resume=False, n_buckets=N_BUCKETS)


def replay_build(spark, turns, root: str, tracer: trace.Tracer) -> None:
    """``run_pipeline``'s stages, called one public function at a time
    in pipeline order, each forced by writing its stage table with the
    layout ``run_pipeline`` writes."""
    from pyspark import StorageLevel

    with tracer.span("extract"):
        extracted = extract_triples(turns).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        good, rejects = split_rejects(extracted)
        sio.write_table(good, os.path.join(root, "triples_raw"), n_buckets=N_BUCKETS)
        sio.write_table(rejects, os.path.join(root, "rejects"), partition_key=None)
    raw = sio.read_table(spark, os.path.join(root, "triples_raw"))
    with tracer.span("link"):
        same_as = link_mentions(raw, build_catalog(spark))
        sio.write_table(same_as, os.path.join(root, "same_as"), partition_key=None)
    same_as = sio.read_table(spark, os.path.join(root, "same_as"))
    with tracer.span("canonicalize"):
        edges = same_as.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
        canonical = canonical_of_triples(connected_components(edges))
        sio.write_table(canonical, os.path.join(root, "canonical"), partition_key=None)
    canonical = sio.read_table(spark, os.path.join(root, "canonical"))
    # the bucket NULL conv_ids hash to, which run_pipeline memoizes
    null_bucket = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(None).cast("string")), F.lit(N_BUCKETS)).alias("b"))
        .first()
        .b
    )
    with tracer.span("materialize"):
        triples = os.path.join(root, "triples")
        sio.copy_buckets(spark, os.path.join(root, "triples_raw"), triples)
        sio.append_into_bucket(same_as.unionByName(canonical), triples, int(null_bucket))
    with tracer.span("entities"):
        ents = entities_dim(canonical, same_as, mention_counts_of_triples(raw))
        sio.write_table(ents, os.path.join(root, "entities"), partition_key=None)


def build_workload(run: Run, seconds: float) -> None:
    spark, inputs, tracer = run.spark, run.inputs, run.tracer
    corpus_path = os.path.join(run.work, "corpus")
    synth.corpus_df(spark, inputs.corpus).write.parquet(corpus_path)  # input synthesis
    turns = spark.read.parquet(corpus_path)

    run.setup_step(lambda: build_graph(spark, turns, run.kg))
    run.reader = Reader(spark, run.kg, oracle.conv_buckets(os.path.join(run.kg, "triples_raw")))
    reference = oracle.root_fingerprint(run.kg)
    precision, recall = oracle.triple_precision_recall(run.kg, inputs.corpus.golden)
    run.check(
        min(precision, recall) >= oracle.PR_THRESHOLD,
        f"triple precision {precision:.4f} / recall {recall:.4f} below {oracle.PR_THRESHOLD}",
    )
    replay_root = os.path.join(run.work, "replay")

    def cycle(i: int) -> None:
        if tracer.enabled:
            with tracer.span("replay"):
                replay_build(spark, turns, replay_root, tracer)
        built = run.timed("write", "pipeline", lambda: build_graph(spark, turns, run.kg))
        if built is not None:
            run.write_turns.append(len(inputs.corpus.rows))
            run.verify(
                oracle.root_fingerprint(run.kg) == reference,
                f"build {i}: stage-table fingerprints differ from the first build",
            )
        if tracer.enabled:
            run.check(
                oracle.root_fingerprint(replay_root) == reference,
                f"build {i}: replayed stage tables differ from run_pipeline's",
            )
        run.read_batch(inputs.reads[i])

    run.cycles(seconds, cycle)
    if run.traced:
        raw_rows = oracle.count_rows(replay_root, "triples_raw")
        rejects = oracle.count_rows(replay_root, "rejects")
        surfaces = oracle.count_distinct(
            replay_root, "triples_raw", "obj", f"pred = '{rules.PRED_MENTIONS}'"
        )
        linked = oracle.count_distinct(replay_root, "same_as", "subj")
        files, stage_bytes = dir_stats(run.kg)
        run.counts.update({
            "extract.turns_in": len(inputs.corpus.rows),
            "extract.triples_out": raw_rows,
            "extract.reject_frac": rejects / max(raw_rows + rejects, 1),
            "link.surfaces_in": surfaces,
            "link.linked_frac": linked / max(surfaces, 1),
            "canonicalize.components": oracle.count_distinct(replay_root, "canonical", "obj"),
            "io.write_amp": stage_bytes / dir_stats(corpus_path)[1],
            "io.files_written": files,
            "pipeline.self_s": statistics.median(
                (p.end - p.start) - (r.end - r.start)
                for p, r in zip(tracer.named("pipeline"), tracer.named("replay"))
            ),
        })


# -- refresh --------------------------------------------------------


def apply_delta(run: Run, raw_turns: str, rows: list[tuple]):
    """One delta: bucket-upsert the new turns into the raw-turns table
    (complete replacement content for every touched bucket), then
    ``refresh_pipeline`` over the fed conversations."""
    spark = run.spark
    feed_convs = sorted({r[0] for r in rows})
    touched = sorted({run.reader.buckets[c] for c in feed_convs})
    with run.tracer.span("io.upsert_raw"):
        new = synth.corpus_df(spark, synth.Corpus(rows=rows))
        kept = (
            sio.read_table(spark, raw_turns, keep_bucket_col=True)
            .filter(F.col("p_hash").isin(touched))
            .drop("p_hash")
        )
        sio.upsert_partitions(
            kept.unionByName(new).localCheckpoint(eager=True),
            raw_turns,
            partition_key="conv_id",
            n_buckets=N_BUCKETS,
            touched_buckets=touched,
        )
    with run.tracer.span("refresh"):
        feed = spark.createDataFrame([(c,) for c in feed_convs], "conv_id string")
        return refresh_pipeline(spark, None, run.kg, change_feed=feed, turns_location=raw_turns)


def refresh_workload(run: Run, seconds: float) -> None:
    spark, inputs, tracer = run.spark, run.inputs, run.tracer
    raw_turns = os.path.join(run.work, "raw_turns")
    base = synth.corpus_df(spark, inputs.corpus)  # input synthesis

    run.setup_step(lambda: sio.write_table(base, raw_turns, n_buckets=N_BUCKETS))
    run.setup_step(lambda: build_graph(spark, sio.read_table(spark, raw_turns), run.kg))
    run.reader = Reader(spark, run.kg, oracle.conv_buckets(raw_turns))
    # the first delta after the cold build runs the refresh path cold,
    # 15-35% slower than the next one on 4 cores, by a share that varies
    # from run to run; it is set-up
    run.setup_step(lambda: apply_delta(run, raw_turns, inputs.deltas[0]))
    run.applied = 1

    def cycle(i: int) -> None:
        run.applied = i + 1
        res = run.timed(
            "write", "delta", lambda: apply_delta(run, raw_turns, inputs.deltas[i])
        )
        if res is not None:
            run.write_turns.append(len(inputs.deltas[i]))
            run.refreshes.append((res, tracer.enabled))
        run.read_batch(inputs.reads[i])

    run.cycles(seconds, cycle)

    # the contract of tests/test_refresh_e2e.py, checked once, untimed:
    # the refreshed stage tables equal a from-scratch build over the
    # final snapshot
    t0 = time.perf_counter()
    full = os.path.join(run.work, "full")
    snapshot = synth.Corpus(rows=inputs.snapshot(run.applied))
    build_graph(spark, synth.corpus_df(spark, snapshot), full)
    got, want = oracle.root_fingerprint(run.kg), oracle.root_fingerprint(full)
    run.check(
        got == want,
        "refreshed stage tables differ from a full rebuild: "
        + ", ".join(t for t in oracle.STAGE_TABLES if got[t] != want[t]),
    )
    run.phases["final_check_s"] = time.perf_counter() - t0


WORKLOADS = {"build": build_workload, "refresh": refresh_workload}
