"""Lean PostgreSQL v3 client for load generation.

It frames messages and keeps DataRow payloads as raw bytes: a result is
summarised by its row count, wire bytes, time to first row and an
order-insensitive digest of the row payloads. Values are decoded only
when a caller asks for them (`decode_rows`), outside the timed path."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import socket
import struct
import time
from dataclasses import dataclass, field

_HDR = struct.Struct(">ci")
_I16 = struct.Struct(">h")
_I32 = struct.Struct(">i")
MASK = (1 << 64) - 1


def row_hash(payload: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")


@dataclass
class Result:
    ok: bool = True
    sqlstate: str | None = None
    message: str = ""
    tag: str = ""
    rows: int = 0
    nbytes: int = 0
    digest: int = 0
    latency_s: float = 0.0
    first_row_s: float | None = None
    oids: list[int] = field(default_factory=list)
    formats: list[int] = field(default_factory=list)
    payloads: list[bytes] | None = None  # kept only when asked for


class PgConn:
    def __init__(self, host: str, port: int, user: str = "bench"):
        self.sock = socket.create_connection((host, port), timeout=120)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        params = f"user\x00{user}\x00database\x00main\x00\x00".encode()
        body = _I32.pack(196608) + params
        self.sock.sendall(_I32.pack(len(body) + 4) + body)
        res = Result()
        self._read_until_ready(res, time.perf_counter(), False, None)
        if not res.ok:
            raise ConnectionError(f"startup failed: {res.message}")

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + _I32.pack(4))
        except OSError:
            pass
        self.sock.close()

    # ---------------------------------------------------------- framing

    def _fill(self) -> int:
        chunk = self.sock.recv(1 << 18)
        if not chunk:
            raise ConnectionError("server closed the connection")
        self.buf += chunk
        return len(chunk)

    def _read_until_ready(self, res: Result, t0: float, keep: bool, copy_data) -> Result:
        """Consume messages through ReadyForQuery. DataRow and CopyData
        payloads are hashed per row and optionally kept; everything else
        is parsed only for status."""
        buf = self.buf
        pos = 0
        payloads = [] if keep else None
        digest = 0
        rows = 0
        nbytes = 0
        carry = b""
        while True:
            if len(buf) - pos < 5:
                del buf[:pos]
                pos = 0
                nbytes += self._fill()
                continue
            t, ln = _HDR.unpack_from(buf, pos)
            end = pos + 1 + ln
            if len(buf) < end:
                del buf[:pos]
                pos = 0
                nbytes += self._fill()
                continue
            body = bytes(buf[pos + 5 : end])
            pos = end
            if t == b"D":
                if res.first_row_s is None:
                    res.first_row_s = time.perf_counter() - t0
                rows += 1
                digest = (digest + row_hash(body)) & MASK
                if payloads is not None:
                    payloads.append(body)
            elif t == b"d":  # CopyData: rows are lines, chunks are not
                if res.first_row_s is None:
                    res.first_row_s = time.perf_counter() - t0
                lines = (carry + body).split(b"\n")
                carry = lines.pop()
                for line in lines:
                    rows += 1
                    digest = (digest + row_hash(line)) & MASK
                    if payloads is not None:
                        payloads.append(line)
            elif t == b"T":
                (n,) = _I16.unpack_from(body, 0)
                off = 2
                res.oids, res.formats = [], []
                for _ in range(n):
                    off = body.index(b"\x00", off) + 1
                    _tab, _col, oid, _sz, _mod, fmt = struct.unpack_from(">ihihih", body, off)
                    res.oids.append(oid)
                    res.formats.append(fmt)
                    off += 18
            elif t == b"C":
                res.tag = body[:-1].decode()
            elif t == b"E":
                res.ok = False
                for part in body.split(b"\x00"):
                    if part[:1] == b"C":
                        res.sqlstate = part[1:].decode()
                    elif part[:1] == b"M":
                        res.message = part[1:].decode(errors="replace")
            elif t == b"G":  # CopyInResponse: stream the data, then CopyDone
                for chunk in copy_data:
                    self.sock.sendall(b"d" + _I32.pack(len(chunk) + 4) + chunk)
                self.sock.sendall(b"c" + _I32.pack(4))
            elif t == b"Z":
                del buf[:pos]
                res.rows, res.nbytes = rows, nbytes
                res.digest = digest
                res.payloads = payloads
                res.latency_s = time.perf_counter() - t0
                return res

    # --------------------------------------------------------- requests

    def query(self, sql: str, keep: bool = False) -> Result:
        """Simple-query protocol."""
        body = sql.encode() + b"\x00"
        t0 = time.perf_counter()
        self.sock.sendall(b"Q" + _I32.pack(len(body) + 4) + body)
        return self._read_until_ready(Result(), t0, keep, None)

    def copy_in(self, sql: str, chunks: list[bytes]) -> Result:
        body = sql.encode() + b"\x00"
        t0 = time.perf_counter()
        self.sock.sendall(b"Q" + _I32.pack(len(body) + 4) + body)
        return self._read_until_ready(Result(), t0, False, chunks)

    def extended(self, sql: str, params: list[str | None], binary: bool, keep: bool = False) -> Result:
        """Unnamed statement: Parse, Bind (text parameters, all-binary or
        all-text results), Describe portal, Execute, Sync in one write."""
        p = b"\x00" + sql.encode() + b"\x00" + _I16.pack(0)
        b = b"\x00\x00" + _I16.pack(0) + _I16.pack(len(params))
        for v in params:
            if v is None:
                b += _I32.pack(-1)
            else:
                e = v.encode()
                b += _I32.pack(len(e)) + e
        b += _I16.pack(1) + _I16.pack(1 if binary else 0)
        msg = (
            b"P" + _I32.pack(len(p) + 4) + p
            + b"B" + _I32.pack(len(b) + 4) + b
            + b"D" + _I32.pack(6) + b"P\x00"
            + b"E" + _I32.pack(9) + b"\x00" + _I32.pack(0)
            + b"S" + _I32.pack(4)
        )
        t0 = time.perf_counter()
        self.sock.sendall(msg)
        res = self._read_until_ready(Result(), t0, keep, None)
        if binary and not res.formats:
            res.formats = [1] * len(res.oids)
        return res


# ------------------------------------------------------------- decoding

_PG_EPOCH = datetime.date(2000, 1, 1)
_PG_EPOCH_TS = datetime.datetime(2000, 1, 1)


def _text(oid: int, raw: bytes):
    s = raw.decode()
    if oid in (20, 21, 23):
        return int(s)
    if oid in (700, 701):
        return float(s)
    if oid == 1700:
        return decimal.Decimal(s)
    if oid == 16:
        return s == "t"
    return s


def _binary(oid: int, raw: bytes):
    if oid == 20:
        return struct.unpack(">q", raw)[0]
    if oid == 23:
        return struct.unpack(">i", raw)[0]
    if oid == 21:
        return struct.unpack(">h", raw)[0]
    if oid == 701:
        return struct.unpack(">d", raw)[0]
    if oid == 700:
        return struct.unpack(">f", raw)[0]
    if oid == 16:
        return raw == b"\x01"
    if oid == 1082:
        return str(_PG_EPOCH + datetime.timedelta(days=struct.unpack(">i", raw)[0]))
    if oid in (1114, 1184):
        us = struct.unpack(">q", raw)[0]
        return str(_PG_EPOCH_TS + datetime.timedelta(microseconds=us))
    return raw.decode()


def decode_rows(res: Result) -> list[tuple]:
    """DataRow payloads → Python values by column OID and format."""
    out = []
    for body in res.payloads or ():
        (n,) = _I16.unpack_from(body, 0)
        off = 2
        row = []
        for i in range(n):
            (ln,) = _I32.unpack_from(body, off)
            off += 4
            if ln < 0:
                row.append(None)
                continue
            raw = body[off : off + ln]
            off += ln
            fmt = res.formats[i] if i < len(res.formats) else 0
            row.append((_binary if fmt == 1 else _text)(res.oids[i], raw))
        out.append(tuple(row))
    return out
