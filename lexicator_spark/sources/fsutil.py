"""Small-file I/O through the Hadoop FileSystem API.

Checkpoint markers and schema sidecars are tiny driver-written files
that must live NEXT TO the stage tables — which on a real deployment
means S3/HDFS/GCS, not the driver's local disk.  Python ``open()`` /
``os.path`` silently write to the wrong place there, so every marker
and sidecar goes through these helpers instead: they resolve the
path's own filesystem from the active Hadoop configuration, which is
the local FS in the sandbox and the object store on a cluster —
same code path either way.

The JVM classes these helpers call (``Path``, ``IOUtils``,
``FileUtil``) are resolved once per gateway by ``_jclass``.  py4j
resolves ``jvm.org.apache.hadoop.fs.Path`` one package segment at a
time, one driver↔JVM round-trip per segment, and these helpers run on
every marker, sidecar and graph read: measured on a 4-core box,
``exists`` took 3.5 ms walking the packages and 0.36 ms with the
class handle held, ``read_text`` 4.6 ms and 1.3 ms.  A class handle
is only a name bound to a gateway client, so it never goes stale
while that gateway lives; the memo is keyed on ``spark._jvm``, so a
relaunched gateway resolves afresh.
"""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import SparkSession

# spark._jvm -> {dotted class name -> py4j JavaClass}
_JCLASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jclass(spark: SparkSession, name: str):
    """The py4j class handle for ``name``, resolved once per gateway."""
    jvm = spark._jvm  # noqa: SLF001
    classes = _JCLASSES.setdefault(jvm, {})
    if name not in classes:
        classes[name] = functools.reduce(getattr, name.split("."), jvm)
    return classes[name]


def _jvm_path(spark: SparkSession, path: str):
    return _jclass(spark, "org.apache.hadoop.fs.Path")(path)


def _fs_and_path(spark: SparkSession, path: str):
    p = _jvm_path(spark, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p  # noqa: SLF001


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomic-enough small-file write (create with overwrite); parent
    directories are created by the filesystem."""
    fs, p = _fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, recursive))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory (empty list when it doesn't exist)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


_COPY_WORKERS = 16  # the thread count measured in copy_paths' docstring


def copy_paths(spark: SparkSession, pairs: list[tuple[str, str]]) -> None:
    """Copy (src, dst) path pairs through ``FileUtil.copy`` — the
    FS-generic clone primitive behind the materialize-by-copy path
    (on S3 this is a server-side copy; locally a byte copy).  Threaded:
    each copy is an independent py4j call and the per-call overhead
    dominates at sandbox file sizes (measured 1.15 s serial → 0.20 s
    at 16 threads over 64 bucket dirs, with the probe script
    ``scripts/bench_r06b_copystrat.py`` at commit 0eb8be1; that serial
    figure predates the class-handle memo of ``_jclass``, so it still
    paid the package walk per copy); on an object store the same
    threading hides per-object latency."""
    from concurrent.futures import ThreadPoolExecutor

    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    file_util = _jclass(spark, "org.apache.hadoop.fs.FileUtil")

    def one(pair: tuple[str, str]) -> None:
        src, dst = pair
        sp, dp = _jvm_path(spark, src), _jvm_path(spark, dst)
        file_util.copy(
            sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp,
            False, True, conf,
        )

    if len(pairs) == 1:
        one(pairs[0])
        return
    with ThreadPoolExecutor(max_workers=_COPY_WORKERS) as pool:
        # list() so the first failure raises here, not silently
        list(pool.map(one, pairs))
