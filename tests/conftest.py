import os
import sys
import threading
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_gang_spark.session import _ram_mb, get_spark

    # a quarter of RAM, not get_spark's half: G1 grows the heap to its
    # cap before collecting, so at half the suite's JVM held 9.3 GB RSS
    # on a 16 GB host; at a quarter it held 5.1 GB, ran as fast, and the
    # heap left after each collection peaked at 3.0 GB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{_ram_mb() // 4}m")
    s = get_spark("ocr-gang-tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture()
def py4j_round_trips(monkeypatch):
    """Counter of the Python -> JVM py4j round trips the test's thread
    makes: each ``ClientServerConnection.send_command`` call from it adds
    one to ``.n``.  py4j's own thread that releases garbage JVM objects
    is not counted, since when it runs depends on the garbage earlier
    tests left.  Request it after ``spark`` so session start is not
    counted."""
    from py4j.clientserver import ClientServerConnection

    counter = types.SimpleNamespace(n=0)
    send = ClientServerConnection.send_command
    owner = threading.get_ident()

    def counted(self, *args, **kwargs):
        if threading.get_ident() == owner:
            counter.n += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return counter
