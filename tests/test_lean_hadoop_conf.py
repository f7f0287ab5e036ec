"""LeanHadoopConf: the Hadoop conf of a local session get_spark launches
loads core-default.xml, core-site.xml and the values Spark and this
code set, but none of the YARN and MapReduce default resources, and
every copy Spark makes of it stays that way.

Sessions whose JVM this process does not launch keep Hadoop's full
conf; ``tests/test_checkpointing.py`` covers those launch rules next to
the filesystem and Kryo registrator that share them.
"""

from __future__ import annotations

import uuid

from evaluate_human_balance_with_spark_streaming_spark.session import (
    LEAN_CONF_CLASS,
    NO_FORK_FS_CLASS,
    PLUGINS_KEY,
)

DROPPED = {"yarn-default.xml", "mapred-default.xml"}


def _sources(conf) -> dict[str, str | None]:
    """key -> last recorded source of each property of a Hadoop conf."""
    out, it = {}, conf.iterator()
    while it.hasNext():
        key = it.next().getKey()
        out[key] = (list(conf.getPropertySources(key) or []) or [None])[-1]
    return out


def _assert_lean(conf):
    sources = _sources(conf)
    assert not DROPPED & set(sources.values())
    assert "core-default.xml" in sources.values()
    assert not any(k.startswith("yarn.") for k in sources)
    assert len(sources) < 500


def _full_conf(spark):
    """The conf SparkContext would hold with Hadoop's full defaults: a
    fresh conf built from the session's SparkConf after the MapReduce
    classes registered their default resources."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.hadoop.mapred.JobConf")
    util = jvm.org.apache.spark.deploy.SparkHadoopUtil.get()
    return util.newConfiguration(spark.sparkContext._jsc.sc().getConf())


def test_session_conf_holds_no_yarn_or_mapreduce_defaults(spark):
    assert spark.sparkContext.getConf().get(PLUGINS_KEY) == LEAN_CONF_CLASS
    _assert_lean(spark._jsc.hadoopConfiguration())
    _assert_lean(spark._jsparkSession.sessionState().newHadoopConf())


def test_conf_stays_lean_after_mapreduce_and_yarn_use(spark):
    """Job and JobConf copy the conf, YarnConfiguration reloads it, and
    Configuration.addDefaultResource with a new name reloads every
    registered conf that loads defaults: none of them brings the
    dropped resources back."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    _assert_lean(jvm.org.apache.hadoop.mapreduce.Job.getInstance(conf).getConfiguration())
    _assert_lean(jvm.org.apache.hadoop.mapred.JobConf(conf))
    _assert_lean(jvm.org.apache.hadoop.yarn.conf.YarnConfiguration(conf))
    full = jvm.org.apache.hadoop.conf.Configuration()
    assert DROPPED <= set(_sources(full).values())
    jvm.org.apache.hadoop.conf.Configuration.addDefaultResource(f"ehb-{uuid.uuid4().hex}.xml")
    assert DROPPED <= set(_sources(full).values())
    _assert_lean(conf)
    _assert_lean(spark._jsc.hadoopConfiguration())
    _assert_lean(spark._jsparkSession.sessionState().newHadoopConf())


def test_own_resources_still_override_the_core_defaults(spark, tmp_path):
    """LeanHadoopConf.apply loads core-default.xml and core-site.xml
    before a conf's own resources, as a stock conf does, so a value a
    resource sets wins over the core default, and one set in code wins
    over both."""
    jvm = spark._jvm
    site = tmp_path / "ehb-site.xml"
    site.write_text(
        "<configuration>"
        "<property><name>hadoop.tmp.dir</name><value>/ehb/tmp</value></property>"
        "<property><name>io.file.buffer.size</name><value>8192</value></property>"
        "</configuration>"
    )
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.addResource(jvm.org.apache.hadoop.fs.Path(f"file://{site}"))
    conf.set("io.file.buffer.size", "16384")
    jvm.org.apache.hadoop.mapred.JobConf(conf)  # registers the MapReduce defaults
    jvm.stedi.spark.LeanHadoopConf.apply(conf)
    _assert_lean(conf)
    assert conf.get("hadoop.tmp.dir") == "/ehb/tmp"
    assert conf.get("io.file.buffer.size") == "16384"
    assert conf.get("fs.defaultFS") == "file:///"


def test_lean_conf_keeps_every_other_value(spark):
    """Against the same conf built with Hadoop's full defaults, the
    session's conf drops exactly the YARN and MapReduce defaults and
    keeps every other property with its raw value and source."""
    lean, full = spark._jsc.hadoopConfiguration(), _full_conf(spark)
    lean_sources, full_sources = _sources(lean), _sources(full)
    assert len(full_sources) > 1000
    kept = {k for k, source in full_sources.items() if source not in DROPPED}
    assert {k: lean.getRaw(k) for k in kept} == {k: full.getRaw(k) for k in kept}
    assert {k: lean_sources[k] for k in kept} == {k: full_sources[k] for k in kept}
    # The rest was set on the context's conf after it started (the
    # session's warehouse dir).
    assert {lean_sources[k] for k in set(lean_sources) - kept} <= {"programmatically"}
    session = spark._jsparkSession.sessionState().newHadoopConf()
    assert session.get("fs.file.impl") == NO_FORK_FS_CLASS  # from spark.hadoop.fs.file.impl
    assert session.get("fs.defaultFS") == "file:///"
    assert session.get("mapreduce.fileoutputcommitter.algorithm.version") == full.get(
        "mapreduce.fileoutputcommitter.algorithm.version"
    )


def test_writes_read_back_the_same_rows(spark, tmp_path):
    """The file sink's committers and the noop sink run on the lean conf."""
    df = spark.createDataFrame(
        [(i, f"name-{i}", i * 0.5) for i in range(200)], "id int, name string, score double"
    ).repartition(3)
    expected = sorted(df.collect())
    for fmt in ("parquet", "json"):
        path = str(tmp_path / fmt)
        df.write.format(fmt).save(path)
        back = spark.read.schema(df.schema).format(fmt).load(path)
        assert sorted(back.collect()) == expected
    path = str(tmp_path / "text")
    df.selectExpr("concat_ws('|', id, name, score) AS value").write.text(path)
    lines = sorted(r.value for r in spark.read.text(path).collect())
    assert lines == sorted(f"{r.id}|{r.name}|{r.score}" for r in expected)
    df.write.format("noop").mode("overwrite").save()
