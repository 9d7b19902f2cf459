"""Result transfer: the driver's reader of a DataFrame's partition stream.

Every PG and CH result leaves Spark through ``iter_rows``. It speaks the
protocol of ``DataFrame.toLocalIterator`` to the same JVM server
(``Dataset.toPythonIterator``): over a local TCP socket the driver asks
for the next partition, and the JVM answers with a status int and that
partition's pickled row batches while it computes the partition after
(prefetch). Rows arrive in order; the driver holds one partition.

Only the socket handling differs. The JVM writes each reply in small
pieces on a Nagle socket, so each piece after the first waits for the
driver's ACK, which Linux delays ~40 ms: through ``toLocalIterator``
every statement paid that once per partition. Here the driver re-arms
TCP_QUICKACK before each blocking read (the kernel drops it after a few
segments) and sends its requests with TCP_NODELAY. An abandoned stream
sends the stop code and closes its socket at once, not at GC.
"""

from __future__ import annotations

import io
import socket
import struct
from typing import Iterator

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import UnknownException, convert_exception
from pyspark.serializers import BatchedSerializer, CPickleSerializer, read_int
from pyspark.util import local_connect_and_auth

_ROWS = BatchedSerializer(CPickleSerializer())
_NEXT, _STOP = struct.pack("!i", 1), struct.pack("!i", 0)
_QUICKACK = getattr(socket, "TCP_QUICKACK", None)  # Linux only


class _QuickAckIO(socket.SocketIO):
    """Raw socket reads that ask the kernel to ACK without delay."""

    def readinto(self, b):
        self._sock.setsockopt(socket.IPPROTO_TCP, _QUICKACK, 1)
        return super().readinto(b)


def iter_rows(df) -> Iterator[tuple]:
    """Yield df's rows as tuples, in order. Must run on the thread that
    owns the statement's job group: the first request starts its jobs.

    A JVM-side failure (status -1) is raised as _raise_failure finds
    it. Closing the generator early sends the stop code and closes the
    socket."""
    port, secret, server = df._jdf.toPythonIterator(True)
    authfile, sock = local_connect_and_auth(port, secret)
    authfile.close()
    status = 1
    try:
        # partitions take as long as they take (SPARK-18281)
        sock.settimeout(None)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        raw = (_QuickAckIO if _QUICKACK is not None else socket.SocketIO)(sock, "rb")
        with io.BufferedReader(raw, 1 << 16) as infile:
            while status == 1:
                sock.sendall(_NEXT)
                status = read_int(infile)
                if status == 1:
                    yield from map(tuple, _ROWS.load_stream(infile))
        if status == -1:
            _raise_failure(server)
    finally:
        if status == 1:
            try:
                sock.sendall(_STOP)
            except OSError:
                pass
        sock.close()


def _raise_failure(server) -> None:
    """Raise the failure the JVM server's getResult() reports, the way
    collect() would: the serving thread wraps a task's error in
    awaitResult SparkExceptions, so the first cause PySpark can convert
    is raised instead. An engine error (DIVIDE_BY_ZERO, a bad cast, …)
    thus keeps its SQLSTATE; a cancelled job has none and is re-raised
    as it is."""
    try:
        server.getResult()
    except Py4JJavaError as e:
        cause = e.java_exception
        while cause is not None:
            converted = convert_exception(cause)
            if not isinstance(converted, UnknownException):
                raise converted from None
            cause = cause.getCause()
        raise
    raise RuntimeError("result stream failed without an error")
