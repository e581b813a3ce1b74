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
defaults, so the cluster posture is unchanged.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession

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
