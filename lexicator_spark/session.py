"""SparkSession factory with the scale-oriented defaults the engine
assumes everywhere (AQE, Arrow, UTC, skew-join handling).

In the sandbox this is ``local[N]`` (one JVM); on a real cluster the
same builder is used by ``spark-submit --py-files`` with master /
memory supplied externally — nothing here hard-codes local mode
except the explicit ``master`` argument tests pass.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# Spark's generated-code (Janino) cache keeps 100 classes by default,
# fewer than the engine generates, so a warm call recompiled what an
# earlier call had compiled: 67-100 classes per warm perfbench build,
# 139-148 per warm refresh delta (about 1 s of a 3-4 s delta).
# Distinct classes generated, counted with an unbounded cache at
# local[4]: a perfbench `refresh` run (seed 1, four deltas) 218 -- 10
# for the raw-turns write, 118 for the cold build, 76 for the first
# delta, 0 per later delta, 14 for the point and 2-hop reads;
# bench.py 785; the tier-1 test session 2,822.  The size covers the
# largest with headroom.  A generated class averaged 7.7 K characters
# of source and 2.8 KB of bytecode in bench.py, so a full cache holds
# about 45 MB of both, plus class metadata.  Static: read once per
# JVM, when the first class is generated.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    master: str | None = None,
    app_name: str = "lexicator_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a cluster, caller sets this to ~2-3× total cores
        shuffle_partitions = (
            int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit()
            else cpus
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    check_codegen_cache(
        spark, int((extra_conf or {}).get(CODEGEN_CACHE_CONF, CODEGEN_CACHE_ENTRIES))
    )
    # ship the package to Python workers (the --py-files story) so UDF
    # closures resolve lexicator_spark.* regardless of driver cwd
    from lexicator_spark.submit import ship_package

    ship_package(spark)
    return spark


def check_codegen_cache(spark: SparkSession, wanted: int) -> bool:
    """Warn when the session's codegen cache is smaller than ``wanted``.
    ``getOrCreate`` on a live session ignores static confs, so a session
    started elsewhere keeps its own size and every warm call recompiles
    what falls out of it.  Returns whether the size applies."""
    have = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if have >= wanted:
        return True
    log.warning(
        "%s is %d in this session, below the engine's %d: the session "
        "was started before get_spark could set it, so warm calls "
        "recompile generated code; set it where the session is created",
        CODEGEN_CACHE_CONF, have, wanted,
    )
    return False
