"""Host-sized session defaults: the heap never exceeds host memory, a
pre-touched heap always fits, and every SPARK_GRAFT_* variable still
overrides its default (no JVM is started for these). The session's codegen
cache holds more distinct plans than one warehouse upload compiles."""

from pyspark.sql import functions as F

from rudder_server_spark import session


def test_default_heap_never_exceeds_host_memory(monkeypatch):
    for host in (512 << 20, 4 << 30, 15 << 30, 256 << 30):
        monkeypatch.setattr(session, "host_memory_bytes", lambda h=host: h)
        got = session.host_settings({})
        heap = session._size_bytes(got["heap"])
        assert 0 < heap <= host // 2 and heap <= 24 << 30
        assert got["pretouch"]
    monkeypatch.undo()
    got = session.host_settings({})
    assert session._size_bytes(got["heap"]) <= session.host_memory_bytes()
    assert int(got["cpus"]) >= 1


def test_overrides_win_and_an_oversized_heap_is_not_pretouched(monkeypatch):
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 15 << 30)
    env = {
        "SPARK_GRAFT_CPUS": "3",
        "SPARK_GRAFT_DRIVER_MEM": "24g",
        "SPARK_GRAFT_LOCAL_DIR": "/scratch/spark",
    }
    assert session.host_settings(env) == {
        "cpus": "3", "heap": "24g", "pretouch": False, "local_dir": "/scratch/spark",
    }
    assert session.host_settings({**env, "SPARK_GRAFT_DRIVER_MEM": "2g"})["pretouch"]


def test_codegen_cache_keeps_a_plan_across_150_others(spark):
    """A plan compiled before 150 other distinct plans still hits Spark's
    codegen cache. With Spark's default 100 entries it is evicted and
    compiled again; a warehouse upload compiles ~145 distinct classes, so
    every upload recompiled the last one's."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i: int) -> None:  # the literal is inlined: one new class per i
        spark.range(2).select((F.col("id") * 7 + i).alias("x")).collect()

    for i in range(151):
        run(i)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() == before
