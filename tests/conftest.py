import contextlib
import threading

import pytest


@pytest.fixture(scope="session")
def spark():
    from s2_geometry_library_java_spark.session import get_spark

    # get_spark sizes local[N] from the box; the shuffle width stays fixed
    # so plans are the same on every box
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """``with py4j_round_trips() as calls:`` counts, in ``calls[0]``, the
    py4j round trips the calling thread makes inside the block.  py4j's own
    thread releases dead JVM references whenever Python collects them; those
    calls are not the build's and are not counted."""
    from py4j.clientserver import ClientServerConnection

    @contextlib.contextmanager
    def count():
        calls = [0]
        send = ClientServerConnection.send_command
        builder = threading.current_thread()

        def counted(self, command, *args, **kwargs):
            if threading.current_thread() is builder:
                calls[0] += 1
            return send(self, command, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counted)
            yield calls

    return count
