"""HadoopConfKryoRegistrator: the Kryo serializer local sessions use for
the Hadoop confs Spark broadcasts.

Spark broadcasts a SerializableConfiguration from every file scan and
every stream-stream join plan copy. In local mode a broadcast is read
back from the driver's memory store without being deserialized, so the
serializer's read path runs only on a cluster, after an eviction, or in
these tests, which therefore call it directly.

Each round trip runs on two confs: the session's, which LeanHadoopConf
keeps to the core defaults (about 400 properties), and one with
Hadoop's full defaults (over 1,000 properties from core-default.xml,
mapred-default.xml and yarn-default.xml), as a cluster session holds.
"""

from __future__ import annotations

from evaluate_human_balance_with_spark_streaming_spark.session import (
    KRYO_REGISTRATOR_CLASS,
    KRYO_REGISTRATOR_KEY,
)

SERIALIZABLE_CONF = "org.apache.spark.util.SerializableConfiguration"
FULL_DEFAULTS = {"core-default.xml", "mapred-default.xml", "yarn-default.xml"}


def _confs(spark):
    """(conf, default resources among its sources, fewer properties than
    it holds) for the session's Hadoop conf and one with Hadoop's full
    defaults, each plus a value that needs expansion and a deprecated
    key, set through its deprecated name."""
    jvm = spark._jvm
    # JobConf's class load registers the MapReduce and YARN defaults.
    jvm.java.lang.Class.forName("org.apache.hadoop.mapred.JobConf")
    confs = [(spark._jsparkSession.sessionState().newHadoopConf(), {"core-default.xml"}, 350),
             (jvm.org.apache.hadoop.conf.Configuration(), FULL_DEFAULTS, 1000)]
    for conf, _, _ in confs:
        conf.set("ehb.test.dir", "${hadoop.tmp.dir}/ehb")
        conf.set("fs.default.name", "file:///")
    return confs


def _props(conf) -> dict[str, str]:
    """Raw (unexpanded) key -> value map of a Hadoop Configuration."""
    out, it = {}, conf.iterator()
    while it.hasNext():
        e = it.next()
        out[e.getKey()] = e.getValue()
    return out


def _last_sources(conf, keys) -> dict[str, str | None]:
    return {k: (list(conf.getPropertySources(k) or []) or [None])[-1] for k in keys}


def _kryo(spark):
    jvm = spark._jvm
    return jvm.org.apache.spark.serializer.KryoSerializer(spark.sparkContext._jsc.sc().getConf())


def _assert_same_conf(back, conf, resources, min_props):
    before, after = _props(conf), _props(back)
    assert after == before
    # The default resources' properties travelled too.
    assert len(before) > min_props
    assert resources <= set(_last_sources(conf, before).values())
    assert before["ehb.test.dir"] == "${hadoop.tmp.dir}/ehb"
    assert back.get("ehb.test.dir") == conf.get("ehb.test.dir")
    assert "${" not in back.get("ehb.test.dir")
    assert before["fs.default.name"] == "file:///"
    assert back.get("fs.defaultFS") == "file:///"
    assert _last_sources(back, before) == _last_sources(conf, before)
    assert _last_sources(conf, ["fs.defaultFS"]) == {
        "fs.defaultFS": "because fs.default.name is deprecated"
    }


def test_kryo_round_trip_keeps_every_property_and_source(spark):
    """Serialize and deserialize each conf with a KryoSerializer built
    from the session's SparkConf: every raw value, including an
    unexpanded ${...} and a deprecated key, and every property's last
    recorded source come back."""
    jvm = spark._jvm
    ser = _kryo(spark).newInstance()
    for conf, resources, min_props in _confs(spark):
        wrapped = jvm.org.apache.spark.util.SerializableConfiguration(conf)
        tag = jvm.scala.reflect.ClassTag.apply(wrapped.getClass())
        back = ser.deserialize(ser.serialize(wrapped, tag), tag).value()
        assert not back.equals(conf)
        _assert_same_conf(back, conf, resources, min_props)


def test_new_kryo_registers_the_conf_serializer(spark):
    """The registrator runs after Spark's own registrations, so a fresh
    Kryo serializes SerializableConfiguration with its serializer
    rather than Spark's Java-serialization fallback."""
    jvm = spark._jvm
    assert spark.sparkContext.getConf().get(KRYO_REGISTRATOR_KEY) == KRYO_REGISTRATOR_CLASS
    kryo = _kryo(spark).newKryo()
    registration = kryo.getRegistration(jvm.java.lang.Class.forName(SERIALIZABLE_CONF))
    assert registration.getSerializer().getClass().getName() == (
        f"{KRYO_REGISTRATOR_CLASS}$ConfSerializer"
    )


def test_broadcast_conf_reads_back_the_same_properties(spark):
    """sc.broadcast of a SerializableConfiguration returns its
    properties, both from the driver's memory store and, once the
    whole value is evicted, from the broadcast's serialized pieces (the
    executor path), which goes through the serializer's read."""
    jvm = spark._jvm
    jsc = spark.sparkContext._jsc
    java = jvm.org.apache.spark.serializer.JavaSerializer(jsc.sc().getConf()).newInstance()
    env = jvm.org.apache.spark.SparkEnv.get()
    for conf, resources, min_props in _confs(spark):
        bc = jsc.broadcast(jvm.org.apache.spark.util.SerializableConfiguration(conf))
        try:
            assert bc.value().value().equals(conf)
            # A copy of the handle as a task closure carries it, with no
            # memoized value; then drop the driver's cached whole value.
            tag = jvm.scala.reflect.ClassTag.apply(bc.getClass())
            shipped = java.deserialize(java.serialize(bc, tag), tag)
            block = jvm.org.apache.spark.storage.BroadcastBlockId(bc.id(), "")
            env.broadcastManager().cachedValues().remove(block)
            env.blockManager().removeBlock(block, False)
            back = shipped.value().value()
            assert not back.equals(conf)
            _assert_same_conf(back, conf, resources, min_props)
        finally:
            bc.destroy()
