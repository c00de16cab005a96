import pytest

from rudder_server_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _no_leaked_streaming_queries(request):
    """Fail a test that leaves a streaming query running on the shared
    session; the query is stopped first so later tests start clean."""
    yield
    if "spark" not in request.fixturenames:
        return
    active = request.getfixturevalue("spark").streams.active
    for q in active:
        q.stop()
    assert not active, f"streaming queries left active: {[q.id for q in active]}"
