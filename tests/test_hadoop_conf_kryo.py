"""HadoopConfKryoRegistrator: the Kryo serializer local sessions use for
the Hadoop confs Spark broadcasts.

Spark broadcasts a SerializableConfiguration from every file scan and
every stream-stream join plan copy. In local mode a broadcast is read
back from the driver's memory store without being deserialized, so the
serializer's read path runs only on a cluster, after an eviction, or in
these tests, which therefore call it directly.
"""

from __future__ import annotations

from evaluate_human_balance_with_spark_streaming_spark.session import (
    KRYO_REGISTRATOR_CLASS,
    KRYO_REGISTRATOR_KEY,
)

SERIALIZABLE_CONF = "org.apache.spark.util.SerializableConfiguration"


def _conf(spark):
    """The session's Hadoop conf plus a value that needs expansion and
    a deprecated key, set through its deprecated name."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set("ehb.test.dir", "${hadoop.tmp.dir}/ehb")
    conf.set("fs.default.name", "file:///")
    return conf


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


def _assert_same_conf(back, conf):
    before, after = _props(conf), _props(back)
    assert after == before
    assert len(before) > 1000  # the default resources' properties travelled too
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
    """Serialize and deserialize the session's conf with a KryoSerializer
    built from the session's SparkConf: every raw value, including an
    unexpanded ${...} and a deprecated key, and every property's last
    recorded source come back."""
    jvm = spark._jvm
    conf = _conf(spark)
    wrapped = jvm.org.apache.spark.util.SerializableConfiguration(conf)
    tag = jvm.scala.reflect.ClassTag.apply(wrapped.getClass())
    ser = _kryo(spark).newInstance()
    back = ser.deserialize(ser.serialize(wrapped, tag), tag).value()
    assert not back.equals(conf)
    _assert_same_conf(back, conf)


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
    conf = _conf(spark)
    bc = jsc.broadcast(jvm.org.apache.spark.util.SerializableConfiguration(conf))
    try:
        assert bc.value().value().equals(conf)
        # A copy of the handle as a task closure carries it, with no
        # memoized value; then drop the driver's cached whole value.
        java = jvm.org.apache.spark.serializer.JavaSerializer(jsc.sc().getConf()).newInstance()
        tag = jvm.scala.reflect.ClassTag.apply(bc.getClass())
        shipped = java.deserialize(java.serialize(bc, tag), tag)
        env = jvm.org.apache.spark.SparkEnv.get()
        block = jvm.org.apache.spark.storage.BroadcastBlockId(bc.id(), "")
        env.broadcastManager().cachedValues().remove(block)
        env.blockManager().removeBlock(block, False)
        back = shipped.value().value()
        assert not back.equals(conf)
        _assert_same_conf(back, conf)
    finally:
        bc.destroy()
