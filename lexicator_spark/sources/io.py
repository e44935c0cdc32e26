"""Storage seam: stage tables are bucketed parquet directories with
``_schema.json`` / ``_buckets.json`` sidecars (SURVEY.md §7 hard-part
(c)).

Every stage boundary in the pipeline goes through ``write_table`` /
``read_table``.  Tables are salted-hash-partitioned on ``conv_id``
(``p_hash = pmod(xxhash64(conv_id), n_buckets)``, north_rule) so that

- a downstream stage reading one stage-table partition sees complete
  conversations (extraction windows never straddle partitions), and
- hot conversations spread across buckets deterministically.

The reference's equivalent is the per-stage sqlite/file ContentStore
(``lexicator/wikicache/ContentStore.py`` [M]).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexicator_spark.sources import fsutil

DEFAULT_BUCKETS = 64


def with_partition_hash(df: DataFrame, key: str = "conv_id", n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("p_hash", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def _cluster_for_write(
    df: DataFrame,
    partition_key: str,
    files_per_bucket: int,
    n_write_buckets: int = DEFAULT_BUCKETS,
):
    """Cluster rows by bucket before a partitioned write.

    ``files_per_bucket=1`` (default everywhere) gives each ``p_hash``
    dir exactly ONE file — the small-file discipline object-store
    listings need.  But one file per bucket also means one WRITER TASK
    per distinct bucket: a write that touches few buckets (a backfill
    group, a sparse refresh) serializes its write stage on a handful
    of tasks no matter how many cores exist — marginal at sandbox
    bucket sizes (~1M rows/task, measured wall-neutral at 29.3M
    turns), decisive when a bucket is GBs and one writer task means
    minutes.  A
    ``files_per_bucket`` of k adds a deterministic intra-bucket salt
    (``xxhash64(key) % k`` — same row, same file, so rewrites stay
    byte-stable) letting k tasks share each bucket, at ≤ k files per
    dir.  Callers that touch few buckets size k ≈ cores/buckets.

    ``n_write_buckets`` (the distinct buckets the frame can contain)
    pins the salted shuffle's partition count at buckets × k —
    EXPLICIT, because a column-only ``repartition`` is
    AQE-coalescible and AQE would merge the salted partitions right
    back into one per bucket at exactly the small-write sizes the
    salt exists for."""
    if files_per_bucket <= 1:
        return df.repartition(F.col("p_hash"))
    # hash WITH an extra literal: p_hash is pmod(xxhash64(key), P), so
    # pmod(xxhash64(key), k) would be fully determined by the bucket
    # whenever k divides P — the same hash under correlated moduli —
    # and the "salt" would never split anything
    salt = F.pmod(
        F.xxhash64(F.col(partition_key), F.lit(1)), F.lit(files_per_bucket)
    )
    return df.repartition(
        n_write_buckets * files_per_bucket, F.col("p_hash"), salt
    )


def write_table(
    df: DataFrame,
    location: str,
    partition_key: str | None = "conv_id",
    n_buckets: int = DEFAULT_BUCKETS,
    observe_counts: bool = False,
) -> list[tuple[int, int]] | None:
    """Overwrite the stage table at ``location`` (a path).

    ``observe_counts=True`` rides row counts on the write job itself
    (``Observation``/CollectMetrics — per-bucket ``count_if`` for
    bucketed tables, one count otherwise) and returns them as sorted
    ``[(bucket, count), ...]`` (unbucketed: ``[(-1, total)]``), so
    stage bookkeeping never pays a second scan of the files it just
    wrote.  Returns None when not requested, or when the write ran no
    task (a plan collapsed to an empty relation materializes no
    metrics)."""
    spark = df.sparkSession
    obs = None
    counts: list[tuple[int, int]] | None = None
    if observe_counts:
        from pyspark.sql import Observation

        obs = Observation()
    if partition_key is not None and partition_key in df.columns:
        df = with_partition_hash(df, partition_key, n_buckets)
        if obs is not None:
            df = df.observe(
                obs,
                *[
                    F.count_if(F.col("p_hash") == b).alias(f"b{b}")
                    for b in range(n_buckets)
                ],
            )
        # one file per p_hash dir (see _cluster_for_write): small-file
        # explosion is the thing that kills object-store listings at
        # scale, and a full-table write touches ≥ cores buckets so
        # write parallelism is not the constraint here
        _cluster_for_write(df, partition_key, 1, n_buckets).write.mode(
            "overwrite"
        ).partitionBy("p_hash").parquet(location)
        if obs is not None:
            try:
                got = obs.get
                counts = sorted(
                    (b, int(got[f"b{b}"]))
                    for b in range(n_buckets)
                    if int(got[f"b{b}"]) > 0
                )
            except Exception:
                # a write whose plan collapsed to an empty relation
                # runs zero tasks and never materializes metrics —
                # callers fall back to their footer-count path
                counts = None
    else:
        if obs is not None:
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.mode("overwrite").parquet(location)
        if obs is not None:
            try:
                counts = [(-1, int(obs.get["n"]))]
            except Exception:
                counts = None
    # explicit schema sidecar: reads never infer (and an all-empty
    # write — no parquet footers — still reads back as an empty table).
    # Written through the Hadoop FS of `location` so it lands next to
    # the data on S3/HDFS too, not on the driver's local disk.
    fsutil.write_text(spark, _schema_sidecar(location), df.schema.json())
    if partition_key is not None and "p_hash" in df.columns:
        _write_bucket_meta(spark, location, partition_key, n_buckets)
    return counts


def _schema_sidecar(location: str) -> str:
    return os.path.join(location, "_schema.json")


def _buckets_sidecar(location: str) -> str:
    return os.path.join(location, "_buckets.json")


def read_bucket_meta(spark: SparkSession, location: str) -> dict | None:
    """{'partition_key': ..., 'n_buckets': ...} recorded at write time,
    or None for unpartitioned / pre-sidecar tables.  Upserts MUST use
    the recorded bucketing — a different modulus would scatter kept
    rows into new buckets while dynamic overwrite leaves the stale
    ones in place."""
    path = _buckets_sidecar(location)
    if not fsutil.exists(spark, path):
        return None
    return json.loads(fsutil.read_text(spark, path))


def _write_bucket_meta(
    spark: SparkSession, location: str, partition_key: str, n_buckets: int
) -> None:
    fsutil.write_text(
        spark,
        _buckets_sidecar(location),
        json.dumps({"partition_key": partition_key, "n_buckets": n_buckets}),
    )


def upsert_partitions(
    df: DataFrame,
    location: str,
    partition_key: str | None = "conv_id",
    n_buckets: int = DEFAULT_BUCKETS,
    touched_buckets: list[int] | None = None,
    files_per_bucket: int = 1,
    pin_replacement: bool = True,
) -> list[tuple[int, int]] | None:
    """Idempotent partition-level upsert on the parquet backend — the
    stand-in for Iceberg ``MERGE INTO``: dynamic partition overwrite
    rewrites ONLY the ``p_hash`` buckets present in ``df``; every
    other bucket's files are left untouched.  Callers must therefore
    pass complete replacement content for every bucket they touch
    (see ``operators.incremental.refresh_triples_partitioned``).

    Dynamic overwrite cannot express "this bucket became EMPTY" — a
    replacement with zero rows for a touched bucket writes nothing,
    leaving the stale files in place and resurrecting deleted rows.
    Callers that know which buckets they intended to replace pass
    ``touched_buckets``; any of those absent from ``df`` is explicitly
    deleted here.

    The target's recorded bucketing (``_buckets.json``) is enforced
    HERE at the seam: a different modulus would scatter replacement
    rows into new buckets while the stale ones survive untouched.

    Overwrite mode is set per-write (DataFrameWriter option, Spark
    ≥ 2.4) — never on the session conf, which would leak dynamic-
    overwrite semantics into concurrent writes sharing the session.

    ``partition_key=None`` upserts a table whose ``p_hash`` column is
    PRECOMPUTED by the caller (e.g. the ``_surface_stats`` sidecar
    table, whose bucket is the SOURCE conversation's bucket, not a
    hash of its own key).  ``files_per_bucket`` must stay 1 there —
    the intra-bucket salt needs a hashable key.

    Returns the replacement's per-bucket row counts (sorted
    ``[(bucket, count), ...]``) when ``touched_buckets`` is given,
    else ``None``.  The counts ride the became-empty probe the upsert
    already runs over the pinned frame (a ``groupBy(p_hash).count()``
    instead of a bare ``distinct()`` — same tiny job), so callers
    maintaining per-bucket lineage (``plans.refresh``) never pay a
    second partition-pruned read of the files just written."""
    spark = df.sparkSession
    meta = read_bucket_meta(spark, location)
    if meta is not None and (
        meta["n_buckets"] != n_buckets or meta["partition_key"] != partition_key
    ):
        raise ValueError(
            f"table at {location} is bucketed as "
            f"{meta['partition_key']}%{meta['n_buckets']} (_buckets.json); "
            f"refusing upsert with {partition_key}%{n_buckets}"
        )
    if partition_key is None:
        if "p_hash" not in df.columns:
            raise ValueError(
                "upsert_partitions(partition_key=None) requires a "
                "precomputed p_hash column"
            )
        if files_per_bucket != 1:
            raise ValueError(
                "files_per_bucket > 1 needs a partition_key to salt on"
            )
        hashed = df
    else:
        hashed = with_partition_hash(df, partition_key, n_buckets)
    counts: list[tuple[int, int]] | None = None
    if touched_buckets is not None:
        # pin ONE evaluation of the replacement frame: `present` and
        # the write below must see identical rows, or a lazily-self-
        # reading / nondeterministic input could count a bucket
        # present yet write it empty — escaping deletion and
        # resurrecting stale rows.  ``pin_replacement=False`` is the
        # caller's assertion that the frame is DETERMINISTIC and reads
        # no files under ``location`` (e.g. the _surface_stats upsert,
        # whose replacement aggregates the raw table) — the probe and
        # the write then each evaluate the cheap plan once, instead of
        # paying a full eager materialization job first.
        if pin_replacement:
            hashed = hashed.localCheckpoint(eager=True)
        # NOTE: folding this probe into the write as observed metrics
        # (the write_table observe_counts trick) was A/B-measured and
        # NOT adopted: over 7 interleaved fresh-JVM rounds the fused
        # shape was par-to-5%-slower on the sparse refresh — this
        # probe over the pinned in-memory frame costs ~0.1 s, below
        # the observation's own overhead on this path.
        counts = sorted(
            (int(r["p_hash"]), int(r["count"]))
            for r in hashed.groupBy("p_hash").count().collect()
        )
        present = {b for b, _ in counts}
    n_write_buckets = (
        len(touched_buckets) if touched_buckets is not None else n_buckets
    )
    _cluster_for_write(
        hashed, partition_key, files_per_bucket, max(1, n_write_buckets)
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("p_hash").parquet(location)
    if touched_buckets is not None:
        # after the write (which never touches row-less buckets), so a
        # replacement frame that lazily reads `location` is never
        # evaluated against half-deleted data
        for b in set(touched_buckets) - present:
            fsutil.delete(spark, os.path.join(location, f"p_hash={b}"), recursive=True)
    # the schema can change across upserts, so its sidecar is always
    # rewritten; the bucketing cannot (checked at entry), so a table
    # that already records it keeps its _buckets.json
    fsutil.write_text(spark, _schema_sidecar(location), hashed.schema.json())
    if meta != {"partition_key": partition_key, "n_buckets": n_buckets}:
        _write_bucket_meta(spark, location, partition_key, n_buckets)
    return counts


def copy_buckets(
    spark: SparkSession,
    src: str,
    dst: str,
    buckets: list[int] | None = None,
) -> list[int]:
    """Clone ``p_hash=N`` bucket dirs of a bucketed parquet table into
    ``dst`` — file-level reuse of data a previous stage already wrote
    with the identical bucketing, instead of re-shuffling and
    re-encoding the same rows (the parquet-backend stand-in for an
    Iceberg metadata-only operation).  ``buckets=None`` copies every
    bucket present; otherwise only the named ones (each dst bucket dir
    is replaced whole — a bucket absent from ``src`` is simply left
    deleted, the became-empty case).  Returns the bucket ids copied.

    Content contract is the CALLER's: the copied files must be the
    complete replacement content for those buckets of ``dst``."""
    names = [
        n for n in fsutil.list_names(spark, src) if n.startswith("p_hash=")
    ]
    by_id = {int(n.split("=", 1)[1]): n for n in names}
    todo = sorted(by_id) if buckets is None else sorted(set(buckets) & set(by_id))
    if buckets is not None:
        # replace-whole semantics for every REQUESTED bucket, including
        # ones with no src files (became empty)
        for b in buckets:
            fsutil.delete(spark, os.path.join(dst, f"p_hash={b}"), recursive=True)
    fsutil.copy_paths(
        spark,
        [
            (os.path.join(src, by_id[b]), os.path.join(dst, by_id[b]))
            for b in todo
        ],
    )
    return todo


def append_into_bucket(df: DataFrame, location: str, bucket: int) -> int:
    """Append ``df`` (no ``p_hash`` column) as extra file(s) of ONE
    bucket dir of a bucketed table, returning the row count (observed
    during the write — no second pass).  Used for the NULL-conv_id
    bucket's same_as/canonical rows next to a copied raw bucket."""
    from pyspark.sql import Observation

    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .withColumn("p_hash", F.lit(bucket).cast("int"))
        .write.mode("append")
        .partitionBy("p_hash")
        .parquet(location)
    )
    try:
        return int(obs.get["n"])
    except Exception:
        # empty-relation write: zero tasks ran, zero rows appended
        return 0


def read_table(
    spark: SparkSession, location: str, keep_bucket_col: bool = False
) -> DataFrame:
    from pyspark.sql import types as T

    reader = spark.read
    schema_path = _schema_sidecar(location)
    schema = None
    if fsutil.exists(spark, schema_path):
        schema = T.StructType.fromJson(
            json.loads(fsutil.read_text(spark, schema_path))
        )
        reader = reader.schema(schema)
    try:
        df = reader.parquet(location)
    except Exception as exc:
        # the declared schema already reads a zero-data-files table (a
        # write of an all-empty frame leaves just the sidecars) as
        # empty, without inference; of the failures ONLY a missing
        # path reads back as an empty table — anything else (lost
        # files, permissions, transient store errors) must raise, or a
        # resumed pipeline would silently materialize an empty graph
        # as success
        empty_shaped = any(
            marker in str(exc)
            for marker in ("PATH_NOT_FOUND", "Path does not exist")
        )
        if schema is None or not empty_shaped:
            raise
        df = spark.createDataFrame([], schema)
    if keep_bucket_col:
        return df
    return df.drop("p_hash") if "p_hash" in df.columns else df
