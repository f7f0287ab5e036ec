"""Checkpoint manager scoping, the local filesystem checkpoint files go
through, and restart of the stateful flagship join.

Local sessions checkpoint through Spark's FileSystem-based manager
(session.checkpoint_conf). Every way a session reaches the engine must
carry it, and the stream-stream join must still deliver each event once
across a stop and restart on the same checkpoint, since the manager
decides how offset logs and state-store deltas are renamed into place.
Sessions get_spark launches locally create those files through
NoForkLocalFileSystem, which must set exactly the stock modes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter

from conftest import envelope
from pyspark import SparkContext

from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
    flagship_pipeline,
)
from evaluate_human_balance_with_spark_streaming_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    CLASSPATH_KEY,
    FS_CHECKPOINT_MANAGER,
    FS_FILE_IMPL_KEY,
    KRYO_REGISTRATOR_CLASS,
    KRYO_REGISTRATOR_KEY,
    LEAN_CONF_CLASS,
    NO_FORK_FS_CLASS,
    PLUGINS_KEY,
    apply_runtime_conf,
    checkpoint_conf,
    jvm_conf,
    jvm_jar,
)
from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    stream_json_dir,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    replay_session,
    start_query,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_checkpoint_manager_on_every_session_path(spark):
    """The get_spark session, a bare newSession() handed in and passed
    through apply_runtime_conf, and the replay session all carry the
    FileSystem-based manager."""
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    bare = spark.newSession()
    apply_runtime_conf(bare)
    assert bare.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    assert replay_session(spark).conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER


def test_checkpoint_manager_scoped_to_local_default_fs(spark):
    """HDFS and object-store defaults keep Spark's FileContext manager,
    whose rename is atomic there; the FS-based one is atomic only on a
    local filesystem."""
    assert checkpoint_conf("file:///") == {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER}
    assert checkpoint_conf("hdfs://nn:8020") == {}
    assert checkpoint_conf("s3a://bucket") == {}
    remote = spark.newSession()
    remote.conf.set("fs.defaultFS", "hdfs://nn:8020")
    apply_runtime_conf(remote)
    assert remote.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def _drop(directory: str, name: str, lines: list[str]) -> None:
    """Write one JSON-lines file and rename it into the watched
    directory, so the file source never lists a partial file."""
    staged = os.path.join(os.path.dirname(directory), f".{name}")
    with open(staged, "w") as f:
        f.writelines(json.dumps({"value": v}) + "\n" for v in lines)
    os.rename(staged, os.path.join(directory, name))


def _customers(ids: range) -> list[str]:
    return [
        envelope(
            {
                "customerName": f"C{i}",
                "email": f"c{i}@x.io",
                "birthDay": f"{1950 + i % 50}-01-01",
            }
        )
        for i in ids
    ]


def _events(ids: range, first_score: int) -> tuple[list[str], list[tuple]]:
    """One risk event per customer id; scores are unique, so each
    expected output row names exactly one event."""
    wire, rows = [], []
    for n, i in enumerate(ids):
        score = float(first_score + n) + 0.5
        wire.append(
            json.dumps(
                {"customer": f"c{i}@x.io", "score": score,
                 "riskDate": "2020-09-14T07:54:06.417Z"}
            )
        )
        rows.append((f"c{i}@x.io", score, f"c{i}@x.io", str(1950 + i % 50)))
    return wire, rows


def test_flagship_join_restart_emits_each_event_once(spark):
    """Stop the stream-stream join mid-stream and restart it on the same
    checkpoint: join state (customers seen before the stop) survives,
    and the file sink holds every event row exactly once."""
    base = tempfile.mkdtemp(prefix="ehb-restart-")
    cust_dir, risk_dir = os.path.join(base, "cust"), os.path.join(base, "risk")
    out_dir, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(cust_dir)
    os.makedirs(risk_dir)
    wire = "value string"
    joined = flagship_pipeline(
        stream_json_dir(spark, cust_dir, wire, max_files_per_trigger=100),
        stream_json_dir(spark, risk_dir, wire, max_files_per_trigger=100),
    )

    def start(available_now: bool):
        return start_query(joined, "parquet", ckpt, options={"path": out_dir},
                           trigger_available_now=available_now)

    def sink_rows() -> list[tuple]:
        # Only batches the sink's _spark_metadata log has committed.
        sink = spark.read.schema(joined.schema).parquet(out_dir)
        return [tuple(r) for r in sink.collect()]

    expected: list[tuple] = []
    _drop(cust_dir, "c0.json", _customers(range(0, 20)))
    wire_rows, rows = _events(range(0, 20), 0)
    _drop(risk_dir, "r0.json", wire_rows)
    expected += rows
    q = start(available_now=False)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and q.isActive:
            if len(sink_rows()) >= len(expected):
                break
            time.sleep(0.2)
        assert len(sink_rows()) == len(expected), "first batch never committed"
        # More input while the query runs, then stop it mid-stream.
        _drop(cust_dir, "c1.json", _customers(range(20, 30)))
        wire_rows, rows = _events(range(10, 30), 100)
        _drop(risk_dir, "r1.json", wire_rows)
        expected += rows
        time.sleep(0.3)
    finally:
        q.stop()
    # Input that arrives while the query is down: old customers join
    # only through the state restored from the checkpoint.
    wire_rows, rows = _events(range(0, 30), 200)
    _drop(risk_dir, "r2.json", wire_rows)
    expected += rows
    q = start(available_now=True)
    assert q.awaitTermination(120), "restarted drain did not finish"
    assert q.exception() is None
    got = Counter(sink_rows())
    assert [r for r, n in got.items() if n > 1] == []
    assert set(got) == set(expected)


# --- NoForkLocalFileSystem ---------------------------------------------


def _file_fs(spark, cls: str, umask: str):
    """A fresh, uncached ``file:`` filesystem of class ``cls`` whose
    Hadoop umask is ``umask``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", umask)
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
        jvm.java.lang.Class.forName(cls), conf
    )
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _modes(root: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, n), root): os.stat(os.path.join(d, n)).st_mode
        for d, dirs, files in os.walk(root) for n in dirs + files
    }


def test_session_file_filesystem_is_no_fork(spark):
    """The get_spark session's ``file:`` filesystem, the one every
    checkpoint, source and sink file goes through, is the in-process
    one (the exactly-once restart test above runs on it)."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == NO_FORK_FS_CLASS
    assert spark.sparkContext.getConf().get(FS_FILE_IMPL_KEY) == NO_FORK_FS_CLASS


def test_no_fork_fs_sets_the_stock_modes(spark, tmp_path):
    """Files, their .crc files and new directories, including a
    directory under a setgid parent, get the modes a stock
    LocalFileSystem gives them, under the same Hadoop umask."""
    jvm = spark._jvm
    trees = {}
    stock_cls = "org.apache.hadoop.fs.LocalFileSystem"
    for umask in ("022", "077", "002"):
        for cls in (stock_cls, NO_FORK_FS_CLASS):
            root = str(tmp_path / f"{umask}-{cls}")
            os.makedirs(os.path.join(root, "sgid"))
            os.chmod(os.path.join(root, "sgid"), 0o2775)
            fs = _file_fs(spark, cls, umask)
            fs.create(jvm.org.apache.hadoop.fs.Path(f"file://{root}/f")).close()
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"file://{root}/d/e"))
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"file://{root}/sgid/d"))
            trees[umask, cls] = _modes(root)
        stock, no_fork = trees[umask, stock_cls], trees[umask, NO_FORK_FS_CLASS]
        assert {"f", ".f.crc", "d", "d/e", "sgid/d"} <= set(stock)
        assert no_fork == stock, umask
    assert trees["022", NO_FORK_FS_CLASS]["f"] & 0o7777 == 0o644
    assert trees["077", NO_FORK_FS_CLASS]["d"] & 0o7777 == 0o700
    assert trees["022", NO_FORK_FS_CLASS]["sgid/d"] & 0o7777 == 0o2755


def test_no_fork_fs_sticky_bit_takes_the_stock_path(spark, tmp_path):
    """A sticky-bit mode has no rwx string for java.nio, so it goes to
    RawLocalFileSystem.setPermission; the mode still lands."""
    jvm = spark._jvm
    fs = _file_fs(spark, NO_FORK_FS_CLASS, "022")
    path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/t")
    fs.mkdirs(path)
    fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert os.stat(tmp_path / "t").st_mode & 0o7777 == 0o1777


def test_no_javac_keeps_the_stock_filesystem(monkeypatch, tmp_path):
    """Without javac the build helper returns nothing, and a session
    launched by get_spark leaves fs.file.impl, the Kryo registrator and
    the lean-conf plugin unset, keeps Hadoop's full conf and says why."""
    real_which = shutil.which
    monkeypatch.setattr(
        shutil, "which", lambda cmd, *a, **k: None if cmd == "javac" else real_which(cmd, *a, **k)
    )
    assert jvm_jar() is None
    # get_spark itself, in a process that launches its own JVM.
    script = tmp_path / "no_javac.py"
    script.write_text(
        "import shutil, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "real = shutil.which\n"
        "shutil.which = lambda cmd, *a, **k: None if cmd == 'javac' else real(cmd, *a, **k)\n"
        "from evaluate_human_balance_with_spark_streaming_spark.session import get_spark\n"
        "spark = get_spark('ehb-no-javac')\n"
        "jvm = spark._jvm\n"
        "fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI('file:///'),"
        " spark._jsc.hadoopConfiguration())\n"
        "impl = spark.sparkContext.getConf().get('spark.hadoop.fs.file.impl')\n"
        "registrator = spark.sparkContext.getConf().get('spark.kryo.registrator')\n"
        "plugins = spark.sparkContext.getConf().get('spark.plugins')\n"
        "props = spark._jsparkSession.sessionState().newHadoopConf().size()\n"
        "print(impl, registrator, plugins, props, fs.getClass().getName())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="512m")
    run = subprocess.run([sys.executable, str(script)], capture_output=True, text=True,
                         env=env, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    impl, registrator, plugins, props, fs_class = run.stdout.split()[-5:]
    assert impl == "None" and registrator == "None" and fs_class != NO_FORK_FS_CLASS
    assert plugins == "None" and int(props) > 1000
    assert "keep Hadoop's stock filesystem" in run.stderr


def test_no_fork_fs_only_when_this_process_launches_a_local_jvm(spark, monkeypatch):
    """A running context (a session handed in, or a second get_spark)
    and non-local masters keep the stock filesystem and Kryo
    registrations and Hadoop's full conf: the classpath is fixed at
    launch, cluster executors do not share the driver's, and a cluster
    needs the YARN and MapReduce keys. A caller that owns the classpath
    gets nothing; one that sets a registrator or plugins keeps its own."""
    assert jvm_conf("local[2]")[0] == {}
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    for master in ("yarn", "spark://h:7077", "local-cluster[2,1,1024]"):
        assert jvm_conf(master)[0] == {}
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert jvm_conf("local[2]")[0] == {}
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    conf, _ = jvm_conf("local[*]")
    assert conf[FS_FILE_IMPL_KEY] == NO_FORK_FS_CLASS
    assert conf[KRYO_REGISTRATOR_KEY] == KRYO_REGISTRATOR_CLASS
    assert conf[PLUGINS_KEY] == LEAN_CONF_CLASS
    assert os.path.isfile(conf[CLASSPATH_KEY])
    assert jvm_conf("local[*]", {CLASSPATH_KEY: "/opt/own.jar"}) == ({}, "")
    assert jvm_conf("local[*]", {FS_FILE_IMPL_KEY: "own.FileSystem"}) == ({}, "")
    own = jvm_conf("local[*]", {KRYO_REGISTRATOR_KEY: "own.Registrator"})[0]
    assert KRYO_REGISTRATOR_KEY not in own and own[FS_FILE_IMPL_KEY] == NO_FORK_FS_CLASS
    assert own[PLUGINS_KEY] == LEAN_CONF_CLASS
    own = jvm_conf("local[*]", {PLUGINS_KEY: "own.Plugin"})[0]
    assert PLUGINS_KEY not in own and own[KRYO_REGISTRATOR_KEY] == KRYO_REGISTRATOR_CLASS
