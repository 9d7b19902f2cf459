"""ClickHouse-compatible HTTP server over the Spark engine.

Reference parity: /root/reference/ch_server.go —
- A18 dispatcher (ServeHTTP :80-150): GET → ?query (+body concat); POST →
  body classified SELECT / INSERT…FORMAT / other via the same regexes
  (:39-41, :152).
- A19 SELECT path (:157-224): rewrites, FORMAT suffix extraction
  (default TabSeparated), chunked transfer, x-clickhouse-format +
  content-type headers.
- A20 INSERT…FORMAT path (:236-343): parseTablesAndColumns (:345-362),
  schema from catalog (their LIMIT-0 probe ≙ our spark.table(t).schema),
  format reader → batched append; column-subset inserts fill NULL.
- A21 generic exec (:226-234): everything else → engine execute, 200.
- A22 basic auth (:49-104): HTTP basic or ?user=&password= against the
  SCRAM verifier store, 60 s cache — keyed by USERNAME (the reference
  caches under the literal string "user", quirk Q2; fixed here).

Scale: results stream through the format writer from the engine's
partition reader (engine/transfer.py), one chunk per batch —
O(partition) server memory; ingest batches rows and appends through one
DataFrame write per request (the Appender analogue, README.md:32).
"""

from __future__ import annotations

import re
import threading
import time
import urllib.parse
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from duck_server_spark.engine.executor import Engine, verify_password
from duck_server_spark.sources.formats import READERS, WRITERS
from duck_server_spark.engine.errors import PgError

# ch_server.go:39-41,152 classification regexes
_INSERT_FORMAT = re.compile(r"(?i)^\s*insert\s+into\s+([\w.]+)\s*(\(([^)]*)\))?\s*format\s+(\w+)\s*", re.DOTALL)
_INSERT_VALUES = re.compile(r"(?i)^\s*insert\s+into\s+.+values", re.DOTALL)
_SELECT = re.compile(
    r"(?i)^\s*(select|with|show|describe|desc|values|summarize|pivot|unpivot|pragma|from|call)\b"
)
_FORMAT_SUFFIX = re.compile(r"(?i)\s+format\s+(\w+)\s*;?\s*$")

AUTH_CACHE_TTL = 60.0  # ch_server.go:24


class ChRequestHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    # each response write is one whole chunk: send it at once
    disable_nagle_algorithm = True
    engine: Engine = None  # type: ignore[assignment]
    auth_cache: dict[str, tuple[str, float]] = {}
    auth_lock = threading.Lock()
    require_auth = False

    # silence per-request stderr logging
    def log_message(self, fmt: str, *args) -> None:
        pass

    # ----------------------------------------------------------- helpers

    def _auth_ok(self) -> bool:
        if not self.require_auth:
            return True
        user = password = None
        hdr = self.headers.get("Authorization", "")
        if hdr.startswith("Basic "):
            import base64

            try:
                user, password = base64.b64decode(hdr[6:]).decode().split(":", 1)
            except Exception:
                return False
        else:
            qs = urllib.parse.urlparse(self.path).query
            params = urllib.parse.parse_qs(qs)
            user = (params.get("user") or [None])[0]
            password = (params.get("password") or [None])[0]
        if not user or password is None:
            return False
        now = time.monotonic()
        with self.auth_lock:
            hit = self.auth_cache.get(user)  # keyed by username (fixes Q2)
            if hit and hit[0] == password and now - hit[1] < AUTH_CACHE_TTL:
                return True
        verifier = self.engine.get_verifier(user)
        if verifier is None or not verify_password(password, verifier):
            return False
        with self.auth_lock:
            self.auth_cache[user] = (password, now)
        return True

    def _send_text(self, code: int, body: str) -> None:
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", "text/plain; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _read_body(self) -> bytes:
        length = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(length) if length else b""

    def _body_chunks(self, chunk_size: int = 1 << 20):
        """Yield the request body in ≤1 MiB chunks (bounded ingest memory)."""
        remaining = int(self.headers.get("Content-Length") or 0)
        while remaining > 0:
            chunk = self.rfile.read(min(chunk_size, remaining))
            if not chunk:
                break
            remaining -= len(chunk)
            yield chunk

    # ------------------------------------------------------------ routes

    def do_GET(self) -> None:  # noqa: N802  (stdlib API)
        if not self._auth_ok():
            self._send_text(401, "unauthorized\n")
            return
        parsed = urllib.parse.urlparse(self.path)
        if parsed.path == "/ping":
            self._send_text(200, "Ok.\n")
            return
        params = urllib.parse.parse_qs(parsed.query)
        query = (params.get("query") or [""])[0]
        body = self._read_body().decode()
        if body:
            query = f"{query} {body}" if query else body  # ch_server.go:105-111
        if not query.strip():
            self._send_text(200, "Ok.\n")
            return
        self._dispatch(query)

    def do_POST(self) -> None:  # noqa: N802
        if not self._auth_ok():
            self._send_text(401, "unauthorized\n")
            return
        parsed = urllib.parse.urlparse(self.path)
        params = urllib.parse.parse_qs(parsed.query)
        url_query = (params.get("query") or [""])[0]
        m = _INSERT_FORMAT.match(url_query) if url_query else None
        if m:  # INSERT statement in URL, data in body → stream it
            self._insert_format(m, self._body_chunks())
            return
        body = self._read_body()
        text = body.decode(errors="replace")
        full = f"{url_query} {text}".strip() if url_query else text
        m = _INSERT_FORMAT.match(full)
        if m:
            self._insert_format(m, [full[m.end():].encode()])
            return
        self._dispatch(full)

    def _dispatch(self, query: str) -> None:
        if _SELECT.match(query):
            self._select(query)
        else:
            try:
                tag = self.engine.execute(query, dialect="ch")
                self._send_text(200, "")
                _ = tag
            except Exception as e:  # noqa: BLE001 — error → HTTP 500 (ch_server.go:231)
                self._send_text(500, f"{e}\n")

    def _select(self, query: str) -> None:
        fmt = "TabSeparated"  # ch_server.go:170-174 default
        m = _FORMAT_SUFFIX.search(query)
        if m:
            fmt = m.group(1)
            query = query[: m.start()]
        writer_factory = WRITERS.get(fmt)
        if writer_factory is None:
            self._send_text(400, f"unknown format {fmt}\n")
            return
        # per-request job group: the handler thread both sets the group
        # (inside the stream iterator) and launches the jobs, so a
        # disconnect can cancel exactly this request's work — parity with
        # the reference's per-request context (ch_server.go:316-324)
        import secrets

        job_group = f"ch-{secrets.token_hex(8)}"
        try:
            schema, stream = self.engine.stream_batches(
                query, dialect="ch", job_group=job_group
            )
        except Exception as e:  # noqa: BLE001 — ch_server.go:183-185
            self._send_text(500, f"{e}\n")
            return
        writer = writer_factory(schema)
        # gzip response compression when the client advertises it — a
        # reference README TODO (README.md:105) landed here as parity-plus.
        # Streaming: each result chunk goes through the compressor and out
        # as a chunked-transfer frame, so memory stays O(batch).
        use_gzip = "gzip" in (self.headers.get("Accept-Encoding") or "").lower()
        self.send_response(200)
        self.send_header("Content-Type", writer.content_type)
        self.send_header("x-clickhouse-format", fmt)  # ch_server.go:202-204
        if use_gzip:
            self.send_header("Content-Encoding", "gzip")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        comp = zlib.compressobj(6, zlib.DEFLATED, 31) if use_gzip else None  # 31 = gzip wrapper

        def emit(chunk: bytes) -> None:
            if comp is not None:
                chunk = comp.compress(chunk)
                if not chunk:
                    return
            self._write_chunk(chunk)

        # A long-running query never writes, so a write failure can't be
        # the only disconnect signal: poll the socket between queue waits
        # and cancel the engine-side jobs the moment the client hangs up —
        # parity with the reference's per-request context propagation
        # (ch_server.go:316-324, ctx cancelled on connection close).
        import queue as queuelib

        try:
            header = writer.header()
            if header:
                emit(header)
            while True:
                try:
                    batch = stream.next_batch(timeout=0.25)
                except queuelib.Empty:
                    if self._client_disconnected():
                        self.engine.cancel(job_group)
                        self.close_connection = True
                        return
                    continue
                if batch is None:
                    break
                # one chunk per batch; an empty chunk would end the body
                data = writer.write_batch(batch)
                if data:
                    emit(data)
            if comp is not None:
                tail = comp.flush()
                if tail:
                    self._write_chunk(tail)
            self._write_chunk(b"")
        except (BrokenPipeError, ConnectionResetError):
            # client hung up mid-stream → stop the engine-side query
            self.engine.cancel(job_group)
            self.close_connection = True
        finally:
            stream.close()  # idempotent; cancels only if still running

    def _client_disconnected(self) -> bool:
        """True iff the client socket is readable with EOF (orderly close)
        or errored. Readable-with-data means a pipelined next request —
        the client is alive, keep streaming.

        Known trade-off (ADVICE r4): a client that half-closes its write
        side (shutdown(SHUT_WR)) after sending the request — legal HTTP —
        reads as EOF here and gets its still-wanted query cancelled.
        This matches Go-style connection-close detection (the reference's
        http server treats request-body EOF the same way); supporting
        half-close would mean only treating WRITE failures as gone."""
        import select as selectlib
        import socket as socketlib

        try:
            r, _, x = selectlib.select([self.connection], [], [self.connection], 0)
            if x:
                return True
            if not r:
                return False
            return self.connection.recv(1, socketlib.MSG_PEEK) == b""
        except OSError:
            return True

    def _write_chunk(self, data: bytes) -> None:
        self.wfile.write(f"{len(data):X}\r\n".encode() + data + b"\r\n")

    def _insert_format(self, m: re.Match, chunks) -> None:
        """INSERT…FORMAT ingest from an iterable of body chunks.

        The subset schema is built in the CLIENT's column-list order and
        unknown columns 400 (ch_server.go:345-362 parity — table-order
        filtering silently swaps same-typed columns). Rows append in
        micro-batches (sources/ingest.BatchAppender), so a multi-MB
        payload keeps O(batch) server memory.
        """
        table = m.group(1)
        cols = [c.strip().strip('`"') for c in (m.group(3) or "").split(",") if c.strip()]
        fmt = m.group(4)
        reader_factory = READERS.get(fmt)
        if reader_factory is None:
            self._send_text(400, f"unknown format {fmt}\n")
            return
        try:
            full_schema = self.engine.spark.table(table).schema  # LIMIT-0 probe analogue
        except Exception as e:  # noqa: BLE001
            self._send_text(500, f"{e}\n")
            return
        try:
            # engine.appender wires in PK/UNIQUE validation
            appender = self.engine.appender(table, cols or None)
        except ValueError as e:  # unknown column in list
            self._send_text(400, f"{e}\n")
            return
        reader = reader_factory(appender.schema)
        try:
            for chunk in chunks:
                for row in reader.feed(chunk):
                    if appender.add(row):
                        appender.flush()
            for row in reader.finish():
                if appender.add(row):
                    appender.flush()
            appender.flush()
            self._send_text(200, "")
        except PgError as e:  # constraint violation → client error, not 500
            self._send_text(400, f"{e} ({e.pgcode})\n")
        except Exception as e:  # noqa: BLE001
            self._send_text(500, f"{e}\n")


def serve(engine: Engine, host: str = "127.0.0.1", port: int = 8123, require_auth: bool = False) -> ThreadingHTTPServer:
    handler = type(
        "BoundChHandler",
        (ChRequestHandler,),
        {"engine": engine, "require_auth": require_auth, "auth_cache": {}},
    )
    server = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
