"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Probes are collected and broadcast (bounded set), the corpus side
  streams: one narrow pass over the big table + a per-probe top-k
  window.  Dot products run JVM-side via ``zip_with``+``aggregate``
  higher-order functions (whole-stage codegen, no Python).
- ``lsh_ann_topk``: the scale path — random-hyperplane (signed
  projection) LSH buckets; candidates only within matching buckets,
  then exact rerank.  Hyperplanes are seeded numpy (deterministic
  across runs/cluster sizes) applied as ONE BLAS matmul per Arrow
  batch inside a pandas UDF — the measured exception to the
  JVM-only rule (see ``with_lsh_buckets``); joins and rerank stay
  JVM-side.

At 100 TB the brute-force path is a deliberate full scan (still
embarrassingly parallel: no shuffle until the final per-probe top-k
of candidate rows); the LSH path reads only matching buckets when the
corpus is written bucketed by ``bucket``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Embedding dimensionality for the LSH operators: pass ``dim``,
    or store it as column metadata ``{'dim': N}`` on ``vec_col``.  A
    silent ``df.first()`` sniff is deliberately NOT done — it runs a
    Spark job inside operator construction, a driver-side action you
    don't want hidden in a larger plan; this seam stays lazy."""
    if dim is not None:
        return dim
    for f in df.schema.fields:
        if f.name == vec_col and "dim" in (f.metadata or {}):
            return int(f.metadata["dim"])
    raise ValueError(
        f"embedding dimensionality unknown: pass dim= or attach "
        f"{{'dim': N}} metadata to column {vec_col!r} "
        f"(df.withMetadata({vec_col!r}, {{'dim': N}}))"
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """For each probe vector: top-k nearest corpus vectors by cosine.
    Output: (probe_id, neighbor_id, score) — score rounded so results
    are stable across summation orders / engines.  Self-matches are
    excluded."""
    # norms are computed ONCE per row before the join — inside the
    # join they would re-evaluate per candidate pair (O(N·P·d) folds
    # instead of O((N+P)·d))
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("p_vec"),
        _norm(F.col(vec_col)).alias("p_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                _dot(F.col("p_vec"), F.col("c_vec"))
                / (F.col("p_norm") * F.col("c_norm")),
                round_to,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "score", F.col("rn").alias("rank"))
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def with_lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    n_tables: int,
    bits_per_table: int,
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Multi-table sign-bit LSH: one row per (row, table) with bucket
    = (table_id, sign bits of that table's hyperplanes).  Pure
    Catalyst — each bit is one fold over the array column.  At scale
    the exploded table is written bucketed by ``bucket`` so probes
    read only matching buckets.

    With ``multiprobe`` (probe side only), each table additionally
    emits the ``bits_per_table`` buckets at Hamming distance 1 from
    the row's code — the classic multiprobe-LSH recall boost without
    touching the corpus layout.

    Implementation note (measured): the 144 hyperplane projections per
    row are one BLAS matmul across the Arrow batch inside a pandas
    UDF.  Two pure-Catalyst alternatives were tried and rejected —
    per-plane unrolled expressions cost ~25 s of driver analysis per
    query, and a literal-matrix + higher-order-function fold still ran
    interpreted (non-codegen) at ~3 µs per element, 12 s for a 2000-row
    table.  This is the hot loop where vectorized Python beats the
    built-ins; everything downstream (multiprobe expansion, joins,
    rerank) stays JVM-side."""
    planes_arr = np.asarray(planes, dtype=np.float64)
    n_planes = n_tables * bits_per_table
    if planes_arr.shape[0] != n_planes:
        raise ValueError(f"need {n_planes} planes, got {planes_arr.shape[0]}")
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)
    table_base = np.arange(n_tables, dtype=np.int64) << bits_per_table

    @F.pandas_udf("array<long>")
    def _codes(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        signs = (x @ planes_arr.T) > 0  # (n, n_planes)
        bits = signs.reshape(len(x), n_tables, bits_per_table)
        codes = table_base[None, :] + (bits * weights).sum(axis=2)
        return pd.Series(codes.tolist())

    codes = _codes(F.col(vec_col))
    if multiprobe:
        # flipping a low bit never crosses the table-id prefix; the
        # expansion is 24×7 long-ops per row — cheap in any engine
        two_i = lambda i: F.pow(F.lit(2.0), i.cast("double")).cast("long")
        codes = F.flatten(
            F.transform(
                codes,
                lambda c: F.concat(
                    F.array(c),
                    F.transform(
                        F.sequence(F.lit(0), F.lit(bits_per_table - 1)),
                        lambda i: c.bitwiseXOR(two_i(i)),
                    ),
                ),
            )
        )
    return df.withColumn("bucket", F.explode(codes))


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    blocked: bool = True,
    n_tables: int = 24,
    bits_per_table: int = 6,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥
    threshold) over one table.

    ``blocked=True`` (the scale path): candidates are pairs sharing
    any sign-LSH table bucket — the self-join runs per bucket, never
    all-pairs — then exact cosine rerank.  Recall < 1 by design
    (measured in pytest); raise ``n_tables`` to trade candidates for
    recall.  ``blocked=False``: exact all-pairs — quadratic, for
    oracle comparison and small slices only.

    Scores are rounded then emitted as integer micro-units so results
    are stable across engines and summation orders."""
    if blocked:
        dim = _resolve_dim(corpus, vec_col, dim)
        planes = hyperplanes(dim, n_tables * bits_per_table, seed)
        # norm BEFORE the bucket explode (once per vector, not once
        # per (vector, table) row)
        ab = with_lsh_buckets(
            corpus.select(
                id_col, vec_col, _norm(F.col(vec_col)).alias("nrm")
            ),
            planes, n_tables, bits_per_table, vec_col,
        )
        l = ab.select(
            "bucket", F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
            F.col("nrm").alias("na"),
        )
        r = ab.select(
            "bucket", F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
            F.col("nrm").alias("nb"),
        )
        cand = (
            l.join(r, "bucket")
            .filter(F.col("a") < F.col("b"))
            .select("a", "va", "na", "b", "vb", "nb")
            .dropDuplicates(["a", "b"])
        )
    else:
        a = corpus.select(
            F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
            _norm(F.col(vec_col)).alias("na"),
        )
        b = corpus.select(
            F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
            _norm(F.col(vec_col)).alias("nb"),
        )
        cand = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        round_to,
    )
    return (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(
            "a",
            "b",
            F.round(F.col("cos") * 1_000_000, 0).cast("bigint").alias("cos_micro"),
        )
    )


def lsh_ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 1,
    n_tables: int = 24,
    bits_per_table: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share any LSH table bucket, exact
    cosine rerank inside.  Recall vs cosine_topk measured in tests;
    more tables → higher recall, more candidates (classic L·(p^b)
    tradeoff).

    ``dim``: embedding dimensionality — pass it or attach ``{'dim':
    N}`` metadata to the vector column; omitting both raises (no
    hidden driver-side sniff job, see ``_resolve_dim``).

    ``multiprobe``: additionally probe, per table, every bucket whose
    code differs in exactly one bit — 1+bits buckets per probe per
    table.  The CORPUS side stays at one row per table (its layout on
    disk is unchanged); only the small probe side fans out, which
    buys the recall of ~7× more tables for free at 100-TB corpus
    scale."""
    dim = _resolve_dim(corpus, vec_col, dim)
    planes = hyperplanes(dim, n_tables * bits_per_table, seed)
    c = with_lsh_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            _norm(F.col(vec_col)).alias("c_norm"),
        ),
        planes, n_tables, bits_per_table, "c_vec",
    )
    p = with_lsh_buckets(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("p_vec"),
            _norm(F.col(vec_col)).alias("p_norm"),
        ),
        planes, n_tables, bits_per_table, "p_vec",
        multiprobe=multiprobe,
    )
    cand = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "score",
        F.round(
            _dot(F.col("p_vec"), F.col("c_vec"))
            / (F.col("p_norm") * F.col("c_norm")),
            6,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "neighbor_id", "score", F.col("rn").alias("rank"))
    )
