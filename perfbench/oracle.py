"""Correctness oracle: DuckDB over the stage-table parquet files.

DuckDB never shares code or a process with the engine, so an answer
that agrees with it was not produced by the same bug.  Every function
here reads files only; none of them is timed.
"""

from __future__ import annotations

import glob
import math
import os
from collections import defaultdict
from itertools import combinations

import duckdb

from lexicator_spark import rules

STAGE_TABLES = ("triples_raw", "same_as", "canonical", "triples", "entities")
DAMPING = 0.85
RANK_ITERATIONS = 10
TOP_K = 10
PR_THRESHOLD = 0.95  # triple precision and recall floor (BASELINE.json)


def parquet_files(table: str) -> list[str]:
    """Data files of a stage table, bucketed (``p_hash=N/``) or not."""
    return sorted(
        glob.glob(os.path.join(table, "*.parquet"))
        + glob.glob(os.path.join(table, "p_hash=*", "*.parquet"))
    )


def _scan(con: duckdb.DuckDBPyConnection, table: str) -> str | None:
    """A FROM clause over the table's files (bucket column dropped),
    or None for a table with no data files."""
    files = parquet_files(table)
    if not files:
        return None
    listing = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{listing}], hive_partitioning = false)"


def table_fingerprint(con: duckdb.DuckDBPyConnection, table: str) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes): equal for two
    tables holding the same multiset of rows, whatever their files."""
    src = _scan(con, table)
    if src is None:
        return (0, 0)
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    row = ", ".join(f'"{c}"' for c in sorted(cols))
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {src}"
    ).fetchone()
    return int(n), int(s)


def conv_buckets(table: str) -> dict[str, int]:
    """conv_id -> ``p_hash`` bucket of every conversation in a table
    bucketed on ``conv_id``, read from its directory layout."""
    with duckdb.connect() as con:
        files = ", ".join("'" + f.replace("'", "''") + "'" for f in parquet_files(table))
        return dict(
            con.execute(
                f"SELECT DISTINCT conv_id, p_hash FROM read_parquet([{files}], "
                f"hive_partitioning = true) WHERE conv_id IS NOT NULL"
            ).fetchall()
        )


def root_fingerprint(root: str) -> dict[str, tuple[int, int]]:
    with duckdb.connect() as con:
        return {t: table_fingerprint(con, os.path.join(root, t)) for t in STAGE_TABLES}


def triple_precision_recall(root: str, golden: set) -> tuple[float, float]:
    """Stage-A triples against the generator's planted triples."""
    with duckdb.connect() as con:
        got = set(
            con.execute(
                f"SELECT DISTINCT subj, pred, obj FROM "
                f"{_scan(con, os.path.join(root, 'triples_raw'))}"
            ).fetchall()
        )
    hit = len(got & golden)
    return hit / max(len(got), 1), hit / max(len(golden), 1)


def count_rows(root: str, table: str, where: str = "true") -> int:
    with duckdb.connect() as con:
        src = _scan(con, os.path.join(root, table))
        if src is None:
            return 0
        return int(con.execute(f"SELECT count(*) FROM {src} WHERE {where}").fetchone()[0])


def count_distinct(root: str, table: str, col: str, where: str = "true") -> int:
    with duckdb.connect() as con:
        src = _scan(con, os.path.join(root, table))
        if src is None:
            return 0
        return int(
            con.execute(f"SELECT count(DISTINCT {col}) FROM {src} WHERE {where}").fetchone()[0]
        )


class GraphOracle:
    """Expected answers for the read mix over one state of the graph.
    Built once per state (after each write), queried once per read."""

    def __init__(self, root: str):
        with duckdb.connect() as con:
            ents = _scan(con, os.path.join(root, "entities"))
            trip = _scan(con, os.path.join(root, "triples"))
            self.entities = defaultdict(list)
            for row in con.execute(
                f"SELECT canonical_id, surface_form, block_key, score, "
                f"n_mentions, n_convs, is_canonical FROM {ents}"
            ).fetchall():
                self.entities[row[0]].append(_norm(row))
            self.conv_triples = defaultdict(list)
            for row in con.execute(
                f"SELECT conv_id, subj, pred, obj, conf, turn_idx FROM {trip} "
                f"WHERE conv_id IS NOT NULL"
            ).fetchall():
                self.conv_triples[row[0]].append(_norm(row))
            nodes = con.execute(
                f"SELECT DISTINCT t.conv_id, coalesce(e.canonical_id, t.obj) "
                f"FROM {trip} t LEFT JOIN (SELECT DISTINCT surface_form, "
                f"canonical_id FROM {ents}) e ON t.obj = e.surface_form "
                f"WHERE t.pred = '{rules.PRED_MENTIONS}'"
            ).fetchall()
        by_conv = defaultdict(set)
        for conv_id, node in nodes:
            by_conv[conv_id].add(node)
        self.edges = {
            pair for group in by_conv.values() for pair in combinations(sorted(group), 2)
        }
        self.ranks = pagerank(self.edges)

    def check(self, kind: str, arg: str, answer) -> bool:
        if kind == "lookup":
            return _same_rows(answer, self.entities.get(arg, []))
        if kind == "conv":
            return _same_rows(answer, self.conv_triples.get(arg, []))
        if kind == "hop2":
            want = {b for a, b in self.edges if a == arg} | {
                a for a, b in self.edges if b == arg
            }
            return sorted(answer) == sorted(want)
        if kind == "rank":
            top = sorted(self.ranks.values(), reverse=True)[:TOP_K]
            return len(answer) == len(top) and all(
                math.isclose(rank, self.ranks.get(node, -1.0), abs_tol=1e-9)
                and math.isclose(rank, want, abs_tol=1e-9)
                for (node, rank), want in zip(answer, top)
            )
        raise ValueError(f"unknown read kind {kind!r}")


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality; ``repr`` orders rows that hold NULLs."""
    return sorted(map(_norm, got), key=repr) == sorted(want, key=repr)


def _norm(row: tuple) -> tuple:
    """Floats rounded so engine and oracle compare equal."""
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


def pagerank(edges: set[tuple[str, str]]) -> dict[str, float]:
    """Reference PageRank over an undirected edge set, with the
    engine's semantics: fixed iterations, uniform start, no dangling
    nodes because every edge counts in both directions."""
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n = len(adj)
    if n == 0:
        return {}
    rank = {v: 1.0 / n for v in adj}
    base = (1.0 - DAMPING) / n
    for _ in range(RANK_ITERATIONS):
        contrib = defaultdict(float)
        for u, nbrs in adj.items():
            share = rank[u] / len(nbrs)
            for v in nbrs:
                contrib[v] += share
        rank = {v: base + DAMPING * contrib[v] for v in adj}
    return rank
