"""scripts/jfr_summary.py on a synthetic event list shaped like the
output of ``jfr print --json``; no recording or JDK is needed."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "jfr_summary",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts",
                 "jfr_summary.py"),
)
jfr_summary = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(jfr_summary)


def _stack(*frames: str) -> dict:
    """A JFR stack trace of ``package/Class.method`` frames, top first."""
    return {"frames": [
        {"method": {"type": {"name": f.rsplit(".", 1)[0]}, "name": f.rsplit(".", 1)[1]}}
        for f in frames
    ]}


def _sample(*frames: str) -> dict:
    return {"type": "jdk.ExecutionSample", "values": {"stackTrace": _stack(*frames)}}


def test_summarize_groups_samples_by_nearest_spark_frame():
    deflate = _sample("java/util/zip/Deflater.deflate",
                      "org/apache/hadoop/conf/Configuration.write",
                      "org/apache/spark/util/SerializableConfiguration.writeObject",
                      "org/apache/spark/broadcast/TorrentBroadcast$.blockifyObject")
    events = [
        deflate, deflate,
        _sample("java/util/HashMap.put",
                "org/apache/spark/sql/execution/streaming/state/"
                "HDFSBackedStateStoreProvider.getLoadedMapForStore"),
        _sample("java/lang/Thread.run"),
        {"type": "jdk.ExecutionSample", "values": {}},
        {"type": "jdk.ProcessStart",
         "values": {"command": "chmod 0644 /tmp/x", "eventThread": {"javaName": "pool-12-thread-3"}}},
        {"type": "jdk.GarbageCollection",
         "values": {"name": "G1New", "cause": "G1 Humongous Allocation", "sumOfPauses": "PT0.004S"}},
        {"type": "jdk.GarbageCollection",
         "values": {"name": "G1New", "cause": "G1 Humongous Allocation", "sumOfPauses": 2000000}},
    ]
    s = jfr_summary.summarize(events)
    assert s["samples"] == 5
    assert s["top_frames"] == {"java.util.zip.Deflater.deflate": 2, "java.util.HashMap.put": 1,
                               "java.lang.Thread.run": 1, "?": 1}
    assert s["spark_callers"] == {
        "org.apache.spark.util.SerializableConfiguration.writeObject": 2,
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider.getLoadedMapForStore": 1,
        "(no Spark frame)": 2,
    }
    assert s["conf_samples"] == 2
    assert s["process_starts"] == 1
    assert s["starts_by_thread"] == {"pool-#-thread-#": 1}
    assert s["starts_by_command"] == {"chmod 0644 <path>": 1}
    assert s["gc"] == {("G1New", "G1 Humongous Allocation"): (2, 6.0, 4.0)}


def test_conf_share_counts_samples_with_any_conf_frame():
    """A sample counts once however many conf frames it has, wherever
    they sit in the stack, nested classes included; a class whose name
    only starts with a conf class's name does not count."""
    events = [
        _sample("org/apache/hadoop/conf/Configuration.getProps",
                "org/apache/hadoop/conf/Configuration.<init>",
                "org/apache/spark/sql/internal/SessionState.newHadoopConf"),
        _sample("java/util/HashMap.putVal", "java/util/Properties.put",
                "org/apache/hadoop/conf/Configuration$DeprecationContext.<init>"),
        _sample("com/esotericsoftware/kryo/io/Output.writeString",
                "stedi/spark/HadoopConfKryoRegistrator$ConfSerializer.write"),
        _sample("java/io/ObjectInputStream.readObject",
                "org/apache/spark/util/SerializableConfiguration.readObject",
                "org/apache/spark/scheduler/ResultTask.runTask"),
        _sample("org/apache/hadoop/conf/ConfigurationWithLogging.get"),
        _sample("stedi/spark/HadoopConfKryoRegistrator.registerClasses"),
        _sample("java/lang/Thread.run"),
    ]
    s = jfr_summary.summarize(events)
    assert (s["conf_samples"], s["samples"]) == (4, 7)
    assert jfr_summary.conf_share(s) == "Hadoop conf share: 4 of 7 samples (57.1%)"
    assert jfr_summary.conf_share(jfr_summary.summarize([])) == (
        "Hadoop conf share: 0 of 0 samples (0.0%)"
    )


def test_codegen_share_counts_compiles_of_generated_code():
    """A sample counts once when any frame is Spark's doCompile or in
    Janino; the cache lookup around a compile and a class whose name
    only starts with Janino's package name do not count."""
    codegen = "org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator$"
    events = [
        _sample("org/codehaus/janino/UnitCompiler.compileGet2",
                "org/codehaus/janino/UnitCompiler.compileGet",
                f"{codegen}.doCompile",
                f"{codegen}.compile",
                "org/apache/spark/sql/execution/WholeStageCodegenExec.doExecute"),
        _sample("org/codehaus/janino/Parser.read"),
        _sample("java/util/HashMap.get", f"{codegen}.doCompile"),
        _sample("java/util/concurrent/ConcurrentHashMap.get", f"{codegen}.compile"),
        _sample("org/codehaus/janinox/Other.run"),
        _sample("org/codehaus/commons/compiler/util/Numbers.parse"),
    ]
    s = jfr_summary.summarize(events)
    assert (s["codegen_samples"], s["conf_samples"], s["samples"]) == (3, 0, 6)
    assert jfr_summary.codegen_share(s) == "codegen share: 3 of 6 samples (50.0%)"


def test_jit_line_counts_and_sums_compilations():
    events = [
        {"type": "jdk.Compilation", "values": {"duration": "PT0.25S", "isOsr": False}},
        {"type": "jdk.Compilation", "values": {"duration": 1500000000}},
        {"type": "jdk.Compilation", "values": {}},
        _sample("java/lang/Thread.run"),
    ]
    s = jfr_summary.summarize(events)
    assert (s["jit_compilations"], s["jit_ms"]) == (3, 1750.0)
    assert jfr_summary.jit_line(s) == "JIT compilations (jdk.Compilation): 3, 1750.0 ms summed"
    assert jfr_summary.jit_line(jfr_summary.summarize([])) == (
        "JIT compilations (jdk.Compilation): 0, 0.0 ms summed"
    )
