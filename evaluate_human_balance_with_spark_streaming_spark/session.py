"""SparkSession construction tuned for both local test runs and a
large multi-executor cluster.

The reference creates bare sessions (``SparkSession.builder.appName(...)
.getOrCreate()``, reference sparkpykafkajoin.py:56) and leaves every
performance knob at its default. For a 100 TB deployment we want AQE,
Arrow transfer for any pandas interchange, Kryo and a sane
shuffle-partition count. Streaming state stays in the JVM
(HDFSBackedStateStoreProvider); ``SPARK_GRAFT_STATE_STORE=rocksdb``
switches to RocksDB, which bounds memory for the unbounded
stream-stream join state the reference accumulates but costs more per
micro-batch (see the provider comment in ``get_spark``).

Local sessions this process launches also put one small jar on the
driver classpath (see ``jvm_jar``), compiled from the committed
``jvm/*.java`` with the JDK's ``javac`` on first use and cached under
the gitignored ``jvm/build/``. It holds ``NoForkLocalFileSystem``, the
``file:`` filesystem, which sets file modes without forking ``chmod``,
``HadoopConfKryoRegistrator``, which Kryo-serializes the Hadoop
confs Spark broadcasts as plain strings instead of through Java
serialization's per-property gzip, and ``LeanHadoopConf``, a driver
plugin that keeps the YARN and MapReduce default resources out of the
context's Hadoop conf: about 400 properties instead of 1,117, in every
copy Spark makes of it. Other launches keep Hadoop's full conf.

Sessions ``get_spark`` builds also size Spark's cache of compiled
generated classes (``spark.sql.codegen.cache.maxEntries``, 100 by
default) to the engine's working set: at sf0.01 the 7 benchmark batch
queries generate about 121 distinct classes and all 50 registered
queries about 680, so at 100 entries each pass evicted the classes the
next pass needed, and a second pass of the 50 recompiled 748 classes
with Janino; at 1,000 entries it recompiles 10. The conf is static: it
binds when ``get_spark`` creates the session's context, so a session
handed in from outside (the correctness driver's) keeps its own value.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable confs we also apply defensively to externally-created
# sessions (the correctness driver passes us its own SparkSession).
RUNTIME_CONF = {
    # Deterministic timestamp rendering; matches DuckDB's naive reading
    # of the parquet test tables.
    "spark.sql.session.timeZone": "UTC",
    # AQE re-plans at runtime: coalesces small shuffle partitions and
    # splits skewed join partitions — essential at scale, free locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark cannot represent natively; read as int64 nanos and convert
    # explicitly in sources/testdata.py (micros truncation — all query
    # semantics are ≥ second granularity).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Spark's default checkpoint manager goes through Hadoop's FileContext.
# Without a native libhadoop, Hadoop's local filesystem forks `readlink`
# for every path of a rename and `chmod` for every file create, so each
# micro-batch forks about a hundred processes for its offset and commit
# logs and its state-store deltas (4 stores per shuffle partition on the
# stream-stream join). The FileSystem-based manager renames in-process;
# file creates go through `fs.file.impl`, which get_spark points at
# NoForkLocalFileSystem where it can (see jvm_conf).
# Its createAtomic is a temp file plus FileSystem.rename, which is atomic
# only on a local filesystem, so it is set only for sessions whose
# Hadoop default filesystem is `file:`; HDFS and object-store
# deployments keep FileContext. Not covered: an explicit `hdfs://`
# checkpoint location on a session whose default filesystem is local.
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_conf(default_fs: str) -> dict[str, str]:
    """The checkpoint-manager conf for a session whose Hadoop
    ``fs.defaultFS`` is ``default_fs``: the FileSystem-based manager on
    a local default filesystem, nothing (Spark's FileContext default)
    otherwise."""
    if default_fs.startswith("file:"):
        return {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER}
    return {}


# Without a native libhadoop, Hadoop's RawLocalFileSystem also forks
# `chmod` for every file (and `.crc`) it creates and every directory it
# makes: offset, commit and source logs, sink files and metadata, and
# each state-store delta with its checksum file. NoForkLocalFileSystem
# sets the same modes in-process.
# Spark's Kryo registration sends SerializableConfiguration through Java
# serialization to Configuration.write, which gzips each property's
# sources; the stream-stream join broadcasts a fresh one with every copy
# of its plan; a micro-batch of the live risk join makes 19 broadcasts
# in all. HadoopConfKryoRegistrator writes the properties as plain
# strings.
# A stock Hadoop conf holds 1,117 properties, 714 of them from
# yarn-default.xml and mapred-default.xml, and every conf copy, broadcast
# and write-task closure pays per property. LeanHadoopConf, started as a
# driver plugin, keeps the context's conf to core-default.xml,
# core-site.xml and the values Spark and this code set (about 400).
JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
NO_FORK_FS_CLASS = "stedi.spark.NoForkLocalFileSystem"
KRYO_REGISTRATOR_CLASS = "stedi.spark.HadoopConfKryoRegistrator"
LEAN_CONF_CLASS = "stedi.spark.LeanHadoopConf"
FS_FILE_IMPL_KEY = "spark.hadoop.fs.file.impl"
KRYO_REGISTRATOR_KEY = "spark.kryo.registrator"
PLUGINS_KEY = "spark.plugins"
CLASSPATH_KEY = "spark.driver.extraClassPath"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _jar_cache_root() -> str:
    build = os.path.join(JVM_DIR, "build")
    try:
        os.makedirs(build, exist_ok=True)
    except OSError:
        pass
    return build if os.access(build, os.W_OK) else tempfile.gettempdir()


def jvm_jar() -> str | None:
    """Path of one jar holding every class in ``jvm/*.java``, compiled
    from the committed sources against the jars Spark ships, or None
    when ``javac`` or those jars are missing or the build fails.

    The jar is cached in a directory named by a hash of the sources and
    the names of Spark's jars, so an edit to a source or a different
    Spark rebuilds it; it is written to a temp file and renamed into
    place, so concurrent first runs never see a partial jar."""
    javac = shutil.which("javac")
    spark_jars = os.path.join(
        os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars"
    )
    jars = sorted(os.path.basename(j) for j in glob.glob(os.path.join(spark_jars, "*.jar")))
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    if not javac or not jars:
        return None
    key = hashlib.sha256("\0".join(jars).encode())
    for source in sources:
        with open(source, "rb") as f:
            key.update(b"\0" + os.path.basename(source).encode() + b"\0" + f.read())
    cache = os.path.join(_jar_cache_root(), f"ehb-jvm-{key.hexdigest()[:16]}")
    jar = os.path.join(cache, "ehb-jvm.jar")
    if os.path.exists(jar):
        return jar
    try:
        os.makedirs(cache, exist_ok=True)
        scratch = tempfile.mkdtemp(dir=cache)
        try:
            subprocess.run(
                [javac, "--release", "17", "-cp", os.path.join(spark_jars, "*"),
                 "-d", scratch, *sources],
                check=True, capture_output=True, timeout=300,
            )
            staged = os.path.join(scratch, "staged.jar")
            with zipfile.ZipFile(staged, "w") as zf:
                for name in sorted(glob.glob(os.path.join(scratch, "stedi", "spark", "*.class"))):
                    zf.write(name, os.path.relpath(name, scratch))
            os.replace(staged, jar)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar


def jvm_conf(master: str, extra: dict[str, str] | None = None) -> tuple[dict[str, str], str]:
    """Launch conf that puts the ``jvm_jar`` on the driver classpath and
    installs NoForkLocalFileSystem as the session's ``file:`` filesystem,
    HadoopConfKryoRegistrator as its Kryo registrator and the
    LeanHadoopConf plugin, or ({}, why not). A caller whose ``extra``
    conf sets the filesystem or the classpath owns the driver classpath
    and gets nothing; one that sets a Kryo registrator or plugins keeps
    its own (and, for plugins, Hadoop's full conf).

    The JVM's classpath is fixed when it starts and Hadoop's FileSystem
    cache already holds a ``file:`` instance once a context runs, so
    this applies only when this process is about to launch the JVM (no
    PYSPARK_GATEWAY_PORT from spark-submit, no active context). Only a
    ``local[...]`` master runs its executors in the driver JVM and so
    on the driver's classpath: a registrator class an executor cannot
    load breaks every Kryo instance there, and so every broadcast; and
    a cluster needs the YARN and MapReduce keys the lean conf drops."""
    extra = extra or {}
    if FS_FILE_IMPL_KEY in extra or CLASSPATH_KEY in extra:
        return {}, ""
    if os.environ.get("PYSPARK_GATEWAY_PORT") or SparkContext._active_spark_context:
        return {}, "the JVM was launched before this session"
    if not _LOCAL_MASTER.fullmatch(master):
        return {}, f"master {master!r} runs executors outside the driver JVM"
    jar = jvm_jar()
    if not jar:
        return {}, "javac or Spark's jars are missing, or the build failed"
    conf = {CLASSPATH_KEY: jar, FS_FILE_IMPL_KEY: NO_FORK_FS_CLASS,
            KRYO_REGISTRATOR_KEY: KRYO_REGISTRATOR_CLASS, PLUGINS_KEY: LEAN_CONF_CLASS}
    return {k: v for k, v in conf.items() if k not in extra}, ""


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (e.g. one
    handed to us by the test driver).

    The sizing knobs are applied ONLY while the session still carries
    Spark's stock default (review finding: the driver's bare
    getOrCreate() session ran every certification query at 200
    shuffle partitions and a 10 MB broadcast threshold — exactly the
    local overhead get_spark's builder eliminates). A value the owner
    set deliberately (tests at 8, bench at 32, connected_components'
    temporary 4-pin) is never overridden.

    The checkpoint manager (see ``checkpoint_conf``) is chosen here and
    nowhere else; an explicitly set manager is kept."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Some confs may be fixed by the session owner; never fail.
            pass
    try:
        # The session's own Hadoop conf: a session-level fs.defaultFS
        # overrides the context's.
        default_fs = (
            spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
        )
        for key, value in checkpoint_conf(default_fs or "").items():
            if spark.conf.get(key, None) is None:
                spark.conf.set(key, value)
    except Exception:
        # No JVM handle (e.g. Spark Connect): keep Spark's default.
        pass
    sizing = {
        "spark.sql.shuffle.partitions": (
            {"200"},
            str(default_parallelism()),
        ),
        "spark.sql.autoBroadcastJoinThreshold": (
            {"10485760", "10485760b", "10MB"},
            str(64 * 1024 * 1024),
        ),
    }
    for key, (stock, tuned) in sizing.items():
        try:
            if spark.conf.get(key) in stock:
                spark.conf.set(key, tuned)
        except Exception:
            pass
    return spark


# Spark compiles every generated class (whole-stage code, projections,
# orderings) with Janino and keeps the compiled class in an LRU cache
# keyed by its source, `spark.sql.codegen.cache.maxEntries` classes
# large (100 by default). At sf0.01 the 7 analytics_batch queries
# generate about 121 distinct classes per pass and all 50 registered
# queries about 680, so at 100 entries a pass evicts what the next pass
# needs: a second pass recompiled 96 of the 7 queries' classes and 748
# of the 50's, and each recompiled class also starts its JIT warm-up
# over. At 1,000 entries the second passes recompile 0-6 and 10 classes
# (copies of cached ones that AQE numbered or ordered differently; a
# third pass compiles none), and Metaspace after two passes of the 50
# queries reads 208 MB against 214 MB at 100. On the analytics_batch
# benchmark (4-core box, 12 interleaved pairs) CPU per query fell 18%.
# STATIC conf: it binds when get_spark creates the context (a plain
# launch or spark-submit), and Spark reads it once per JVM, when it
# first compiles generated code. A session handed in from outside (the
# correctness driver's) keeps its own value, by default 100.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "ehb-spark-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``spark.sql.shuffle.partitions`` should be sized to
    ~2-3x total executor cores (and AQE coalesces down); locally we match
    the core count so small tests don't pay 200-partition overhead.
    """
    par = shuffle_partitions or default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.default.parallelism", str(par))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Broadcast small dimension tables aggressively (region/nation/
        # customer-sized dims); AQE also converts to broadcast at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Larger scan partitions keep task count sane on wide scans.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # Streaming state store: RocksDB spills to disk instead of
        # exhausting executor heap — the right choice when the parity
        # join's unbounded state (SURVEY §2.4) actually grows large.
        # But every micro-batch pays a native open/commit/snapshot per
        # store (partitions × stateful-ops × sides), plus per-row native
        # ingest. Interleaved on 4 cores at sf0.1, the 8 stream_*
        # replays took 24.1-30.6 s on RocksDB vs 22.4-23.2 s on the
        # in-JVM HDFSBacked provider, and the x10 flagship replay
        # 1.5-2.1x as long. Default to the JVM provider; flip the env
        # var on a real cluster with big state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            + (
                "RocksDBStateStoreProvider"
                if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb"
                else "HDFSBackedStateStoreProvider"
            ),
        )
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # STATIC conf: binds ONLY when this process launches the JVM
        # (plain `python ...` / pytest / bench). Under spark-submit the
        # driver JVM already exists and this line is silently ignored —
        # size the driver there with `spark-submit --driver-memory`
        # (the jobs/*.py headers launch that way).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # STATIC conf too; see CODEGEN_CACHE_ENTRIES.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    extra = extra_conf or {}
    jvm, why_stock = jvm_conf(master, extra)
    for key, value in {**jvm, **extra}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if why_stock and spark.sparkContext.getConf().get(FS_FILE_IMPL_KEY) is None:
        print(f"# ehb-spark: local files keep Hadoop's stock filesystem "
              f"(a chmod fork per file), Hadoop confs Spark's Java "
              f"serialization and Hadoop's full default conf: {why_stock}",
              file=sys.stderr)
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_conf(spark)
