"""Result transfer: the Spark driver's reader of a DataFrame's Arrow
batches.

Every PG and CH result leaves Spark through ``iter_batches`` as Arrow
record batches. The JVM encodes each partition as Arrow IPC record
batch messages (``Dataset.toArrowBatchRdd``), served with the protocol
of ``RDD.toLocalIterator`` (``PythonRDD.toLocalIteratorAndServe``):
over a local TCP socket the reader asks for the next partition, and the
JVM answers with a status int and that partition's length-prefixed
messages while it computes the partition after (prefetch). Batches
arrive in partition order, and the reader holds one partition.
(``collectAsArrowToPython``, behind ``DataFrame.toArrow``, sends
batches out of order with the order index last, so the whole result
would have to be held.)

Each message is a record batch without a schema: it is read against
the Arrow schema of the frame's Spark schema, computed by the caller,
with the same large-var-types setting the JVM writes with.

The socket handling is what keeps small statements fast. The JVM
writes each reply in small pieces on a Nagle socket, so each piece
after the first waits for the reader's ACK, which Linux delays ~40 ms.
The reader re-arms TCP_QUICKACK before each blocking read (the kernel
drops it after a few segments) and sends its requests with TCP_NODELAY.
An abandoned stream sends the stop code and closes its socket at once,
not at GC.
"""

from __future__ import annotations

import io
import socket
import struct
from typing import Iterator

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import UnknownException, convert_exception
from pyspark.serializers import NoOpSerializer, read_int
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import local_connect_and_auth

_FRAMES = NoOpSerializer()
_NEXT, _STOP = struct.pack("!i", 1), struct.pack("!i", 0)
_QUICKACK = getattr(socket, "TCP_QUICKACK", None)  # Linux only


class _QuickAckIO(socket.SocketIO):
    """Raw socket reads that ask the kernel to ACK without delay."""

    def readinto(self, b):
        self._sock.setsockopt(socket.IPPROTO_TCP, _QUICKACK, 1)
        return super().readinto(b)


def arrow_schema(df) -> pa.Schema:
    """The Arrow schema the JVM writes df's batches with. Raises for a
    Spark type Arrow cannot carry (year-month intervals)."""
    large = df.sparkSession._jconf.arrowUseLargeVarTypes()
    return to_arrow_schema(df.schema, prefers_large_types=large)


def iter_batches(df, schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Yield df's rows as Arrow record batches against `schema`
    (arrow_schema(df)), in order. Must run on the thread that owns the
    statement's job group: the first call starts its jobs.

    A JVM-side failure (status -1) is raised as _raise_failure finds
    it. Closing the generator early sends the stop code and closes the
    socket."""
    rdd = df._jdf.toArrowBatchRdd()
    jvm = df.sparkSession.sparkContext._jvm
    port, secret, server = jvm.PythonRDD.toLocalIteratorAndServe(rdd, True)
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
                    for frame in _FRAMES.load_stream(infile):
                        yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)
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
