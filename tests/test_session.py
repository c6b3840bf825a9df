"""The session is sized from the host it runs on."""

from __future__ import annotations

import os
import types

from reddit_sse_stream_spark import session


def test_session_is_sized_from_the_host(spark, monkeypatch):
    host_mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    jvm = spark.sparkContext._jvm
    heap = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.driver.memory")
    )
    assert heap < host_mem
    # the setting reached the running JVM, not just the conf
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() < host_mem

    # with SPARK_GRAFT_CPUS unset: one executor thread per usable CPU
    calls: dict[str, str] = {}

    class Builder:
        def master(self, m):
            calls["master"] = m
            return self

        def appName(self, _name):
            return self

        def config(self, key, value):
            calls[key] = value
            return self

        def getOrCreate(self):
            return spark

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    session.get_spark("sizing")
    n = len(os.sched_getaffinity(0))
    assert calls["master"] == f"local[{n}]"
    assert calls["spark.sql.shuffle.partitions"] == str(n)
