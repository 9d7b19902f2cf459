"""Minimal PostgreSQL wire-protocol v3 test client (raw sockets) — the
container has no PG client library, so this drives the server the way
psql/pgx would (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct


class PgClient:
    def __init__(self, host: str, port: int, user: str = "test", password: str | None = None):
        self.sock = socket.create_connection((host, port), timeout=120)
        # each protocol message is its own write, as in libpq: send it at once
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.backend_pid = None
        self.secret_key = None
        self.last_ready_status = None  # ReadyForQuery txn byte: I / T / E
        self._startup(user, password)

    # ------------------------------------------------------------ framing

    def _send(self, msg_type: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(msg_type + struct.pack(">i", len(payload) + 4) + payload)

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("closed")
            buf += chunk
        return buf

    def recv_message(self) -> tuple[bytes, bytes]:
        t = self._recv_exact(1)
        (length,) = struct.unpack(">i", self._recv_exact(4))
        return t, self._recv_exact(length - 4)

    # ------------------------------------------------------------ startup

    def _startup(self, user: str, password: str | None) -> None:
        params = f"user\x00{user}\x00database\x00main\x00\x00".encode()
        payload = struct.pack(">i", 196608) + params
        self.sock.sendall(struct.pack(">i", len(payload) + 4) + payload)
        while True:
            t, data = self.recv_message()
            if t == b"R":
                (code,) = struct.unpack(">i", data[:4])
                if code == 0:
                    continue
                if code == 10:
                    self._scram(user, password or "", data)
                    continue
                raise RuntimeError(f"unsupported auth code {code}")
            elif t == b"K":
                self.backend_pid, self.secret_key = struct.unpack(">ii", data)
            elif t == b"Z":
                self.last_ready_status = data[:1].decode()
                return
            elif t == b"E":
                raise RuntimeError(f"startup error: {data!r}")

    def _scram(self, user: str, password: str, _data: bytes) -> None:
        client_nonce = base64.b64encode(os.urandom(18)).decode()
        bare = f"n={user},r={client_nonce}"
        first = "n,," + bare
        mech = b"SCRAM-SHA-256\x00" + struct.pack(">i", len(first)) + first.encode()
        self._send(b"p", mech)
        t, data = self.recv_message()
        assert t == b"R" and struct.unpack(">i", data[:4])[0] == 11, (t, data)
        server_first = data[4:].decode()
        attrs = dict(kv.split("=", 1) for kv in server_first.split(","))
        nonce, salt, iters = attrs["r"], base64.b64decode(attrs["s"]), int(attrs["i"])
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        final_wo_proof = f"c=biws,r={nonce}"
        auth_msg = f"{bare},{server_first},{final_wo_proof}".encode()
        client_sig = hmac.new(stored_key, auth_msg, hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
        final = f"{final_wo_proof},p={base64.b64encode(proof).decode()}"
        self._send(b"p", final.encode())
        t, data = self.recv_message()
        assert t == b"R" and struct.unpack(">i", data[:4])[0] == 12, (t, data)

    # ------------------------------------------------------------ queries

    def simple_query(self, sql: str):
        """→ (columns, rows, tag) or raises on ErrorResponse."""
        self._send(b"Q", sql.encode() + b"\x00")
        return self._collect_result()

    def _collect_result(self):
        columns, rows, tag, error = [], [], None, None
        while True:
            t, data = self.recv_message()
            if t == b"T":
                columns = self._parse_row_desc(data)
            elif t == b"D":
                rows.append(self._parse_data_row(data))
            elif t == b"C":
                tag = data.rstrip(b"\x00").decode()
            elif t == b"E":
                error = data
            elif t == b"I":
                tag = "EMPTY"
            elif t == b"Z":
                self.last_ready_status = data[:1].decode()
                if error:
                    raise RuntimeError(error.decode(errors="replace"))
                return columns, rows, tag

    @staticmethod
    def _parse_row_desc(data: bytes):
        (n,) = struct.unpack(">h", data[:2])
        cols, off = [], 2
        for _ in range(n):
            end = data.index(b"\x00", off)
            name = data[off:end].decode()
            off = end + 1
            _table, _attr, oid, _size, _mod, _fmt = struct.unpack(">ihihih", data[off : off + 18])
            off += 18
            cols.append((name, oid))
        return cols

    @staticmethod
    def _parse_data_row(data: bytes):
        (n,) = struct.unpack(">h", data[:2])
        vals, off = [], 2
        for _ in range(n):
            (length,) = struct.unpack(">i", data[off : off + 4])
            off += 4
            if length == -1:
                vals.append(None)
            else:
                vals.append(data[off : off + length].decode())
                off += length
        return tuple(vals)

    # ------------------------------------------- extended protocol helpers

    def parse(self, name: str, sql: str) -> None:
        self._send(b"P", name.encode() + b"\x00" + sql.encode() + b"\x00" + struct.pack(">h", 0))

    def parse_typed(self, name: str, sql: str, oids: list) -> None:
        """Parse with declared param type OIDs (psycopg3/JDBC binary mode)."""
        buf = name.encode() + b"\x00" + sql.encode() + b"\x00"
        buf += struct.pack(">h", len(oids)) + b"".join(struct.pack(">i", o) for o in oids)
        self._send(b"P", buf)

    def bind_binary(
        self,
        portal: str,
        stmt: str,
        raw_params: list,
        result_formats: list | None = None,
    ) -> None:
        """Bind with ALL params in binary format (format code 1);
        raw_params are pre-encoded wire bytes (None = NULL)."""
        buf = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        buf += struct.pack(">hh", 1, 1)  # one format code, applies to all
        buf += struct.pack(">h", len(raw_params))
        for p in raw_params:
            if p is None:
                buf += struct.pack(">i", -1)
            else:
                buf += struct.pack(">i", len(p)) + p
        fmts = result_formats or []
        buf += struct.pack(">h", len(fmts)) + b"".join(struct.pack(">h", f) for f in fmts)
        self._send(b"B", buf)

    def bind(
        self, portal: str, stmt: str, params: list, result_formats: list | None = None
    ) -> None:
        buf = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        buf += struct.pack(">h", 0)  # no param format codes (all text)
        buf += struct.pack(">h", len(params))
        for p in params:
            if p is None:
                buf += struct.pack(">i", -1)
            else:
                b = str(p).encode()
                buf += struct.pack(">i", len(b)) + b
        fmts = result_formats or []
        buf += struct.pack(">h", len(fmts)) + b"".join(struct.pack(">h", f) for f in fmts)
        self._send(b"B", buf)

    def collect_execute_raw(self):
        """Like collect_execute but keeps DataRow cells as raw bytes
        (for binary result-format tests)."""
        rows = []
        while True:
            t, data = self.recv_message()
            if t == b"T":
                continue
            if t == b"D":
                (n,) = struct.unpack(">h", data[:2])
                vals, off = [], 2
                for _ in range(n):
                    (length,) = struct.unpack(">i", data[off : off + 4])
                    off += 4
                    if length == -1:
                        vals.append(None)
                    else:
                        vals.append(data[off : off + length])
                        off += length
                rows.append(tuple(vals))
            elif t == b"s":
                return rows, "suspended"
            elif t == b"C":
                return rows, data.rstrip(b"\x00").decode()
            elif t == b"E":
                raise RuntimeError(data.decode(errors="replace"))

    def describe_portal(self, portal: str) -> None:
        self._send(b"D", b"P" + portal.encode() + b"\x00")

    def describe_stmt(self, stmt: str) -> None:
        self._send(b"D", b"S" + stmt.encode() + b"\x00")

    def execute(self, portal: str, max_rows: int = 0) -> None:
        self._send(b"E", portal.encode() + b"\x00" + struct.pack(">i", max_rows))

    def sync_collect(self):
        self._send(b"S")
        return self._collect_result()

    def sync_collect_raw(self):
        """Sync, then return every raw (type, payload) message up to
        ReadyForQuery (for protocol-level assertions, e.g. on
        ParameterDescription). Raises on ErrorResponse."""
        self._send(b"S")
        msgs, error = [], None
        while True:
            t, data = self.recv_message()
            if t == b"E":
                error = data
            elif t == b"Z":
                self.last_ready_status = data[:1].decode()
                if error:
                    raise RuntimeError(error.decode(errors="replace"))
                return msgs
            msgs.append((t, data))

    @staticmethod
    def _decode_raw_datarow(data: bytes):
        """DataRow payload → tuple of raw cell bytes (None = NULL)."""
        (n,) = struct.unpack(">h", data[:2])
        vals, off = [], 2
        for _ in range(n):
            (length,) = struct.unpack(">i", data[off : off + 4])
            off += 4
            if length == -1:
                vals.append(None)
            else:
                vals.append(data[off : off + length])
                off += length
        return tuple(vals)

    def collect_execute(self):
        """Collect ONE Execute's output without Sync: data rows until
        PortalSuspended → (rows, "suspended") or CommandComplete →
        (rows, tag). Skips a RowDescription from a preceding Describe."""
        rows = []
        while True:
            t, data = self.recv_message()
            if t == b"T":
                continue
            if t == b"D":
                rows.append(self._parse_data_row(data))
            elif t == b"s":
                return rows, "suspended"
            elif t == b"C":
                return rows, data.rstrip(b"\x00").decode()
            elif t == b"E":
                raise RuntimeError(data.decode(errors="replace"))

    def copy_in(self, sql: str, data):
        """data: one str payload or a list of str chunks (each becomes a
        CopyData message — chunk boundaries may split csv records)."""
        self._send(b"Q", sql.encode() + b"\x00")
        t, payload = self.recv_message()
        assert t == b"G", (t, payload)  # CopyInResponse
        for chunk in [data] if isinstance(data, str) else data:
            self._send(b"d", chunk.encode())
        self._send(b"c")
        return self._collect_result()

    def close_stmt(self, name: str) -> None:
        self._send(b"C", b"S" + name.encode() + b"\x00")

    def close_portal(self, name: str) -> None:
        self._send(b"C", b"P" + name.encode() + b"\x00")

    def copy_out(self, sql: str):
        """COPY ... TO STDOUT → (payload_str, tag). Collects CopyData
        chunks between CopyOutResponse and CopyDone."""
        self._send(b"Q", sql.encode() + b"\x00")
        t, payload = self.recv_message()
        assert t == b"H", (t, payload)  # CopyOutResponse
        chunks, tag = [], None
        while True:
            t, data = self.recv_message()
            if t == b"d":
                chunks.append(data)
            elif t == b"c":
                continue
            elif t == b"C":
                tag = data.rstrip(b"\x00").decode()
            elif t == b"E":
                raise RuntimeError(data.decode(errors="replace"))
            elif t == b"Z":
                return b"".join(chunks).decode(), tag

    def cancel_backend(self, host: str, port: int) -> None:
        s = socket.create_connection((host, port), timeout=10)
        payload = struct.pack(">iii", 80877102, self.backend_pid, self.secret_key)
        s.sendall(struct.pack(">i", len(payload) + 4) + payload)
        s.close()

    def terminate(self) -> None:
        try:
            self._send(b"X")
        finally:
            self.sock.close()
