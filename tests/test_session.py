"""Host-sized session defaults: the heap never exceeds host memory, a
pre-touched heap always fits, and every SPARK_GRAFT_* variable still
overrides its default. No JVM is started."""

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
