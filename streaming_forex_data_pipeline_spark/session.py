"""SparkSession factory.

Local test profile mirrors the driver environment (local[N], single JVM)
while the config block documents the 100 TB cluster posture: AQE on for
runtime re-planning / skew joins, shuffle partitions sized to cores
locally (set to ~2-3x total cluster cores in production), UTC session
timezone so results are oracle-comparable, Arrow enabled for the few
pandas-UDF escape hatches.

The local profile serves the ``file:`` scheme from an in-process
filesystem (``jvm/InProcessLocalFs.java``).  Without libhadoop, Hadoop's
stock local filesystem forks ``chmod`` for every file it creates and
``readlink`` for every FileContext rename; a streaming trigger writes
offset and commit logs, state-store deltas and sink parquet plus their
``.crc`` files, so most of its latency was process creation.  The
in-process classes do the same two calls with ``java.nio`` and keep the
stock checksum wrappers, so ``.crc`` files are still written and
verified.  They are compiled once per checkout (``jvm/build/``, keyed by
the sources' hash and the Spark version); a host without ``javac``
keeps the stock filesystem and logs one warning.  Only ``file:`` is
touched: HDFS, S3 and Spark's checkpoint file manager keep their
defaults, so the cluster posture is unchanged.  State that outlives
a query goes through `session_memo`.
"""

from __future__ import annotations

import atexit
import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
import zipfile

from pyspark.sql import DataFrame, SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS = "forexflow.fs.InProcessLocalFs"


def local_fs_jar(cache_dir: str = os.path.join(_JVM_DIR, "build")) -> str | None:
    """Path of the in-process local filesystem jar, compiled on first use.

    The jar's name carries the Spark version and the sources' hash, so a
    matching jar is reused without running ``javac``.  Each caller
    compiles into its own temp dir and ``os.replace``s the jar into
    place, so concurrent sessions never see a partial jar.  Returns None
    when ``javac`` is not on the PATH."""
    import pyspark

    sources = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
    key = hashlib.sha256(pyspark.__version__.encode())
    for src in sources:
        with open(src, "rb") as fh:
            key.update(fh.read())
    jar = os.path.join(cache_dir, f"localfs-{pyspark.__version__}-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        return None
    os.makedirs(cache_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=cache_dir)
    try:
        spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
        subprocess.run(
            [javac, "--release", "17", "-cp", spark_jars, "-d", tmp, *sources],
            check=True,
            capture_output=True,
        )
        part = os.path.join(tmp, "localfs.jar")
        with zipfile.ZipFile(part, "w") as z:
            for cls in glob.glob(os.path.join(tmp, "**", "*.class"), recursive=True):
                z.write(cls, os.path.relpath(cls, tmp))
        os.replace(part, jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return jar


@functools.lru_cache(maxsize=None)
def _local_fs_confs() -> tuple[tuple[str, str], ...]:
    """The confs that serve ``file:`` in-process; empty (after one
    warning per process) when the classes cannot be built or the
    running JVM cannot load them."""
    from pyspark import SparkContext
    from py4j.java_gateway import JavaClass

    try:
        jar = local_fs_jar()
    except (OSError, subprocess.CalledProcessError) as exc:
        detail = getattr(exc, "stderr", None) or b""
        jar, why = None, f"compiling it failed: {exc} {detail.decode(errors='replace')}"
    else:
        why = "no javac on the PATH"
    jvm = SparkContext._jvm
    if jar is not None and jvm is not None:
        # a JVM started without the jar cannot pick it up later
        if not isinstance(jvm.forexflow.fs.InProcessLocalFs, JavaClass):
            jar, why = None, "the running JVM was started without its jar"
    if jar is None:
        logging.getLogger(__name__).warning(
            "file: stays on Hadoop's stock local filesystem, which forks a "
            "process per chmod and readlink (%s)",
            why,
        )
        return ()
    return (
        ("spark.driver.extraClassPath", jar),
        ("spark.hadoop.fs.file.impl", f"{_LOCAL_FS}$Checked"),
        ("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_LOCAL_FS}$Context"),
    )


def get_spark(app_name: str = "sfdp-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert to
        # microsecond TimestampType in the loader (truncation —
        # identical to DuckDB's CAST(ts_ns AS TIMESTAMP)).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in _local_fs_confs():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class _SessionDir(str):
    """A scratch dir, removed when the memo entry holding it is released."""


_memo_lock = threading.RLock()
_memo_app: str | None = None
_session_entries: dict = {}  # key -> (value, source fingerprints)
_frame_entries: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def memo_entries(owner: SparkSession | DataFrame) -> dict:
    """The live entries hanging off ``owner``, key -> (value, source
    fingerprints).  The first call under a new applicationId releases
    every entry of the previous application."""
    global _memo_app
    spark = owner if isinstance(owner, SparkSession) else owner.sparkSession
    app = spark.sparkContext.applicationId
    with _memo_lock:
        if app != _memo_app:
            if _memo_app is None:
                # after the JVM gateway's own exit hook, so it runs first
                atexit.register(_release_all)
            _release_all()
            _memo_app = app
        if owner is spark:
            return _session_entries
        return _frame_entries.setdefault(owner, {})


def _release(value) -> None:
    if isinstance(value, DataFrame):
        _release_entries(_frame_entries.pop(value, {}))
        # a stopped context has already dropped its cache
        if value.is_cached and value.sparkSession.sparkContext._jsc is not None:
            value.unpersist()
    elif isinstance(value, _SessionDir):
        shutil.rmtree(value, ignore_errors=True)


def _release_entries(entries: dict) -> None:
    while entries:
        _release(entries.popitem()[1][0])


def _release_all() -> None:
    with _memo_lock:
        _release_entries(_session_entries)
        while _frame_entries:
            _release_entries(_frame_entries.popitem()[1])


def session_memo(
    owner: SparkSession | DataFrame,
    key,
    build,
    *,
    sources: tuple[str, ...] = (),
    log: str | None = None,
):
    """``build()``'s value for ``key``, built once per owner.

    The owner is a SparkSession (the entry lives as long as its
    application) or a DataFrame (held weakly; its entries go with it).
    ``sources`` names the parquet paths the value derives from: their
    `listing_fingerprint` is checked on every hit, and a rewritten source
    releases the entry and rebuilds it.  Releasing unpersists a
    DataFrame value, with the entries hanging off it, and removes a
    `session_dir`; it happens when the entry goes stale, when a new
    application starts, and at exit.  A cold build with ``log`` set is
    logged under that name (`scratch.log_silver_build`)."""
    from .sources.scratch import listing_fingerprint, log_silver_build

    with _memo_lock:
        entries = memo_entries(owner)
        stamp = tuple(listing_fingerprint(p) for p in sources)
        hit = entries.get(key)
        if hit is not None and hit[1] == stamp:
            return hit[0]
        if hit is not None:
            del entries[key]
            _release(hit[0])
        value = log_silver_build(log, build) if log else build()
        entries[key] = (value, stamp)
        return value


def session_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh scratch dir that outlives the query that made it (a
    returned DataFrame reads it lazily), removed with the session."""
    from .sources.scratch import scratch_dir

    path = _SessionDir(scratch_dir(prefix))
    return str(session_memo(spark, ("session_dir", path), lambda: path))
