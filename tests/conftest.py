from __future__ import annotations

import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_mapreduce_joins_spark import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


class Py4jCalls:
    """Counts the commands the Python driver sends to the JVM over py4j
    from the thread inside ``with calls.measure():``; ``calls.count``
    holds the last block's count. py4j's finalizer thread, which
    releases freed proxies on its own schedule, is not counted."""

    def __init__(self) -> None:
        self.count = 0
        self.thread: int | None = None

    @contextlib.contextmanager
    def measure(self):
        self.count = 0
        self.thread = threading.get_ident()
        try:
            yield self
        finally:
            self.thread = None


@pytest.fixture
def py4j_calls(monkeypatch) -> Py4jCalls:
    """A :class:`Py4jCalls` counter, so a test can pin how many JVM
    round trips a builder makes."""
    from py4j.clientserver import ClientServerConnection

    counter = Py4jCalls()
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.get_ident() == counter.thread:
            counter.count += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return counter
