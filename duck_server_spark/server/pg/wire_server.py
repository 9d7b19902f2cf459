"""PostgreSQL wire-protocol v3 server over the Spark engine.

Reference parity (/root/reference, SURVEY.md §2A):
- A1/A2 accept loop + startup negotiation: SSLRequest refused with 'N'
  (wire.go:53-58), CancelRequest routed (wire.go:35-61), protocol 3.0
  startup params parsed (message.go:79-144).
- A3 framing: type byte + int32 length (wire.go:10-16).
- A4 simple query ('Q'): the reference hands every statement, whichever
  protocol it arrives on, to one delegation point (c.conn.Prepare,
  pg_conn.go:314). Here that point is PgConnection._route: simple Query,
  Describe and Execute all classify a statement there, once (transaction
  control, SQL PREPARE/EXECUTE, DISCARD ALL :299, DEALLOCATE, SET/RESET,
  COPY :302, SHOW of a GUC incl. transaction_read_only :305, then a
  write or a query), so both protocols answer a statement alike. Empty
  → EmptyQueryResponse :295. Results stream as
  RowDescription/DataRow/CommandComplete (pg_conn.go:215-272). The
  reference's CommandComplete tag is literally "(N row)"
  (pg_conn.go:271) — replicated.
- A5-A9 extended protocol: Parse/Bind/Describe/Execute/Sync state
  machine with error-skip-until-Sync (pg_conn.go:133-208); text params
  coerced int→float→string (message.go:430-438); params always inlined
  as literals (the reference does this past 20 params to dodge per-param
  cgo cost, pg_conn.go:213,716-766 — our py4j boundary has the same
  shape so we always inline).
- A10/A11 RowDescription derived from df.schema (better than the
  reference's first-row sniffing, and gives zero-row describes for free).
  OID quirks Q3/Q4 deliberately fixed (int4=23, timestamps=1114).
- A12 COPY FROM STDIN csv: CopyInResponse → CopyData stream → batch
  append → "COPY n" tag (pg_conn.go:545-621).
- A14 cancel: BackendKeyData key registered and CancelRequest actually
  cancels the job group — the reference never stores its backends
  (quirk Q1) so its cancel is a no-op; ours works.
- A15 SCRAM-SHA-256 SASL auth + localhost bypass (pg_auth.go:18-110).
- A28 ParameterStatus bookkeeping (pg_conn.go:20-24,109-127).
- A29 ErrorResponse with severity/code/message (pg_conn.go:385-397).

Concurrency: asyncio sockets; every Spark action runs in a worker thread
(run_in_executor) so one slow query never blocks other connections.
Every result stream (SELECT, COPY TO, DML RETURNING, portal Execute) is
pulled by one loop, PgConnection._drain, from a _BatchStream whose
producer thread owns the statement's job group; an encoder per target
turns each batch into DataRows or CopyData.
"""

from __future__ import annotations

import asyncio
import base64
import csv
import hashlib
import hmac
import io
import itertools
import re
import secrets
import struct
from dataclasses import dataclass, field

from duck_server_spark.engine.errors import PgError
from duck_server_spark.engine.executor import Engine, parse_verifier
from duck_server_spark.engine.transactions import TxnOverlay
from duck_server_spark.engine.types import (
    coerce_text_param,
    decode_pg_binary_param,
    parse_csv_cell,
    render_pg_binary,
    render_pg_text,
    spark_type_to_pg_oid,
)
from duck_server_spark.plans import rewrites
from duck_server_spark.sources.ingest import CsvChunkSplitter, csv_rows_null_aware
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

PROTO_V3 = 196608
SSL_REQUEST = 80877103
CANCEL_REQUEST = 80877102

_COPY_IN = re.compile(
    r"^\s*copy\s+([\w.]+)\s*(\(([^)]*)\))?\s+from\s+stdin\s*(with\s*)?(\(?\s*(format\s+)?csv[^)]*\)?)?\s*;?\s*$",
    re.IGNORECASE,
)
# COPY <table>[(cols)] | (<query>) TO STDOUT [WITH (FORMAT csv [, HEADER])]
# — the reference's own unchecked TODO (README.md:102); implemented here
# because psql \copy-to and JDBC CopyManager.copyOut drive it.
_COPY_OUT = re.compile(
    r"^\s*copy\s+(?:\(\s*(?P<query>.+?)\s*\)|(?P<table>[\w.]+)(?:\s*\((?P<cols>[^)]*)\))?)"
    r"\s+to\s+stdout(?P<opts>[^;]*);?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# generic `SHOW <guc>` (round 7, narrowed round 8 per ADVICE r7): only
# names present in the shared GUC table (engine/gucs.py — the same table
# ParameterStatus advertises) are intercepted here; EVERY other SHOW
# form falls through to engine.query, so Spark's SHOW DATABASES/SCHEMAS/
# VIEWS/FUNCTIONS, DuckDB's `SHOW <table>` describe shortcut, and
# `SHOW ALL` keep working (the round-7 blanket interception 42704'd all
# of these). The regex admits identifiers plus the dotted custom-GUC
# namespace form.
_SHOW_GUC = re.compile(r"^\s*show\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE)
_DISCARD = re.compile(r"^\s*discard\s+all\s*;?\s*$", re.IGNORECASE)
# Session-scoped SET/RESET (round 8): `SET app_name = 'x'; SHOW
# app_name` must round-trip per connection — ORMs and psql scripts set
# search_path/timezone/application_name and read them back. Known GUCs
# (and dotted custom-namespace names, PG's extension convention) store
# in the connection's overlay; everything else falls through to the
# engine (noop-ack for the reference's pg_conn.go:448-453 list, loud
# otherwise). SET LOCAL is treated as session-scoped — a pinned, minor
# divergence (PG reverts it at COMMIT); DuckDB has no LOCAL either.
_SET_GUC = re.compile(
    r"^\s*set\s+(?:session\s+|local\s+)?(?P<name>[A-Za-z_][\w.]*)\s*"
    r"(?:=|\bto\b)\s*(?P<val>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_GUC = re.compile(
    r"^\s*reset\s+(all|[A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
)
# Only GUCs the engine actually honors are echo-settable: storing
# timezone/datestyle/encoding in the overlay would make SHOW claim a
# rendering the UTC-pinned engine does not perform — those keep the
# existing accept-and-ignore ack, and SHOW keeps reporting the engine's
# REAL value (honest, like the reference's fixed ParameterStatus table).
# statement_timeout IS enforced (ADVICE r8): _drain arms a timer over
# every stream that runs a statement's query (SELECT, COPY TO, portal
# Execute); it cancels the job group and surfaces PG's 57014.
# extra_float_digits dropped to accept-and-ignore for the same honesty
# rule (floats already render shortest-round-trip, the PG 12+ default
# behavior — SET can't change what the engine does).
_SETTABLE_GUCS = frozenset(
    ("application_name", "search_path", "statement_timeout")
)


def _parse_timeout_seconds(raw: str | None) -> float | None:
    """PG statement_timeout value → seconds (None = disabled). Bare
    integers are milliseconds; unit suffixes us/ms/s/min/h/d as in PG."""
    if not raw:
        return None
    m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*(us|ms|s|min|h|d)?\s*$", raw, re.IGNORECASE)
    if m is None:
        return None
    n = float(m.group(1))
    unit = (m.group(2) or "ms").lower()
    sec = n * {"us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "d": 86400.0}[unit]
    return sec if sec > 0 else None


class _StatementTimer:
    """Arms a loop.call_later that cancels a statement's job group when
    the session's statement_timeout elapses (group None: never armed).
    `fired` tells the error path to report PG's 57014 instead of the raw
    cancelled-job error."""

    # cancelJobGroup interrupts only ACTIVE jobs — a timeout that fires
    # during analysis (before the first job is submitted) must keep
    # re-cancelling until the statement path disarms it, or a job
    # submitted just after the fire would run to completion.
    _REFIRE_S = 0.25

    def __init__(self, conn, group: str | None):
        self.fired = False
        self._handle = None
        self._sec = _parse_timeout_seconds(conn.session_gucs.get("statement_timeout"))
        if self._sec is not None and group is not None:
            self._loop = asyncio.get_running_loop()
            self._engine = conn.engine
            self._group = group
            self._handle = self._loop.call_later(self._sec, self._fire)

    def _fire(self) -> None:
        self.fired = True
        try:
            self._engine.cancel(self._group)
        except Exception:  # noqa: BLE001 — cancel is best-effort
            pass
        if self._handle is not None:  # not disarmed → keep firing
            self._handle = self._loop.call_later(self._REFIRE_S, self._fire)

    def disarm(self) -> None:
        if self._handle is not None:
            self._handle.cancel()
            self._handle = None
# DEALLOCATE [PREPARE] <name> | ALL — frees prepared statements (psql
# and connection poolers send this as a simple query; vanilla Spark
# would error on the verb)
_DEALLOCATE = re.compile(
    r"^\s*deallocate\s+(?:prepare\s+)?(all|[\w\"]+)\s*;?\s*$", re.IGNORECASE
)
# SQL-level PREPARE name [(types)] AS stmt / EXECUTE name [(args)] —
# the reference delegates these to DuckDB like any statement
# (/root/reference/pg_conn.go:314; DuckDB supports them natively), so a
# psql script in text mode can use them. Spark SQL rejects the verbs, so
# they are intercepted here: PREPARE stores into the SAME statement map
# the extended protocol and DEALLOCATE use; EXECUTE substitutes the
# argument expressions for $n (literal-safe: the args are SQL text from
# the same statement) and dispatches the expanded statement normally —
# including through an open transaction's staged-identifier rewrite.
_PREPARE_SQL = re.compile(
    r'^\s*prepare\s+("?[\w$]+"?)\s*(?:\(([^)]*)\))?\s+as\s+(.+?);?\s*$',
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_SQL = re.compile(
    r'^\s*execute\s+("?[\w$]+"?)\s*(?:\((.*)\))?\s*;?\s*$',
    re.IGNORECASE | re.DOTALL,
)
# Transaction control is REAL (rounds 4-5): BEGIN opens a session-scoped
# staged-write overlay (engine/transactions.py), COMMIT conflict-checks
# (40001 on a concurrent publish), journals, and republishes the
# shadows, ROLLBACK drops them, and ReadyForQuery reports T/I/E.
# CREATE/DROP TABLE/VIEW inside the block are staged catalog intents.
# The reference gets the same semantics from embedded DuckDB
# (pg_conn.go:215-272, README.md:21-22).
_TXN_CTL = re.compile(
    r"^\s*(begin|start\s+transaction|commit|end|rollback|abort)\b[^;]*;?\s*$",
    re.IGNORECASE,
)
_TXN_TAGS = {
    "begin": "BEGIN", "start": "BEGIN",
    "commit": "COMMIT", "end": "COMMIT",
    "rollback": "ROLLBACK", "abort": "ROLLBACK",
}
_WRITE_VERB = re.compile(
    r"^\s*(insert|update|delete|create|drop|alter|truncate|set|copy|grant|vacuum|analyze|export|import|attach|detach)\b",
    re.IGNORECASE,
)

# pg_conn.go:20-24 — startup subset of the shared GUC table
from duck_server_spark.engine import gucs as _gucs

PARAMETER_STATUS = {k: _gucs.ALL_GUCS[k][0] for k in _gucs.STARTUP_PARAMS}


@dataclass
class StmtDesc:
    query: str
    num_params: int
    # param type OIDs the client declared in Parse (may be shorter than
    # num_params; 0 = unspecified). Binary Bind params decode by these.
    param_oids: tuple = ()
    # type NAMES a SQL-level `PREPARE name (int, text) AS …` declared —
    # EXECUTE casts each argument expression to its declared type,
    # matching PG/DuckDB typed-prepare semantics
    param_types: tuple = ()


@dataclass
class Portal:
    stmt: StmtDesc
    params: list = field(default_factory=list)
    # Bind result-format codes (PG semantics: [] = all text, [c] = c for
    # every column, else per-column). Honored — the reference always
    # sends text (pg_conn.go:379, message.go:449-455).
    result_formats: list = field(default_factory=list)
    # Suspended-execution state (PG portal protocol): an open batch
    # stream plus the portal's DataRow encoder, which holds the schema
    # and the rows already fetched but not yet sent. Execute with
    # maxRows pauses here; a re-Execute resumes. None = not started.
    stream: object = None
    rows: "_DataRows | None" = None
    # Per-portal Spark job group: several portals can be suspended
    # concurrently on one connection, and releasing one must cancel ONLY
    # its own jobs — a shared group would kill the others' producers.
    group: str | None = None


class PgConnection:
    def __init__(self, server: "PgServer", reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        self.server = server
        self.engine = server.engine
        self.reader = reader
        self.writer = writer
        self.stmts: dict[str, StmtDesc] = {}
        self.portals: dict[str, Portal] = {}
        self.in_error = False
        # Open transaction overlay (None = autocommit). Real staged-write
        # semantics, unlike the reference-era no-op acks — see
        # engine/transactions.py (pg_conn.go:215-272 parity).
        self.txn: TxnOverlay | None = None
        self.backend_pid = secrets.randbelow(1 << 31)
        self.secret_key = secrets.randbelow(1 << 31)
        self.job_group = f"pg-{self.backend_pid}"
        self.active_portal_groups: set[str] = set()
        self._portal_seq = 0
        # per-connection GUC overlay (round 8): SET stores here, SHOW
        # reads it before the shared defaults; RESET/DISCARD ALL clear
        self.session_gucs: dict[str, str] = {}

    # ------------------------------------------------------------ frames

    def _send(self, msg_type: bytes, payload: bytes = b"") -> None:
        self.writer.write(msg_type + struct.pack(">i", len(payload) + 4) + payload)

    def send_error(self, message: str, code: str = "SQL-0000") -> None:
        # pg_conn.go:385-397 field layout
        payload = b"SERROR\x00" + b"C" + code.encode() + b"\x00M" + message.encode() + b"\x00\x00"
        self._send(b"E", payload)
        self.in_error = True

    def send_exception(self, e: Exception) -> None:
        """ErrorResponse for a failed statement: the first line of its
        message, and its SQLSTATE — PgError's pgcode, else the engine's
        own (SparkThrowable.getSqlState), else the generic SQL-0000. An
        open transaction block becomes failed (E)."""
        if self.txn is not None:
            self.txn.status = "E"
        code = getattr(e, "pgcode", None)
        if code is None and hasattr(e, "getSqlState"):
            code = e.getSqlState()
        self.send_error(str(e).strip().split("\n")[0][:500], code or "SQL-0000")

    def send_ready(self) -> None:
        # ReadyForQuery carries the real transaction status: I idle,
        # T in transaction, E failed transaction (the reference always
        # sends I because its engine autocommits unless the client's
        # statements are delegated — ours tracks the overlay).
        if self.txn is None:
            status = b"I"
        else:
            status = b"E" if self.txn.status == "E" else b"T"
        self._send(b"Z", status)
        self.in_error = False

    @staticmethod
    def _col_formats(formats: list | None, ncols: int) -> list[int]:
        """PG Bind format-code semantics: [] = all text, [c] = c for every
        column, else exactly per-column."""
        if not formats:
            return [0] * ncols
        if len(formats) == 1:
            return formats * ncols
        return list(formats)

    def send_row_description(self, schema, formats: list | None = None) -> None:
        fmts = self._col_formats(formats, len(schema.fields))
        buf = struct.pack(">h", len(schema.fields))
        for f, fmt in zip(schema.fields, fmts):
            oid = spark_type_to_pg_oid(f.dataType)
            buf += f.name.encode() + b"\x00"
            buf += struct.pack(">ihihih", 0, 0, oid, -1, -1, fmt)
        self._send(b"T", buf)

    def send_data_row(self, row: tuple, formats: list | None = None, schema=None) -> None:
        fmts = self._col_formats(formats, len(row)) if formats else None
        buf = struct.pack(">h", len(row))
        for i, v in enumerate(row):
            if fmts and fmts[i] == 1 and schema is not None:
                b = render_pg_binary(v, schema.fields[i].dataType)
                if b is None:
                    buf += struct.pack(">i", -1)
                else:
                    buf += struct.pack(">i", len(b)) + b
                continue
            s = render_pg_text(v)
            if s is None:
                buf += struct.pack(">i", -1)  # NULL (pg_conn.go:403-405)
            else:
                b = s.encode()
                buf += struct.pack(">i", len(b)) + b
        self._send(b"D", buf)

    def send_command_complete(self, tag: str) -> None:
        self._send(b"C", tag.encode() + b"\x00")

    # ----------------------------------------------------------- startup

    async def run(self) -> None:
        try:
            if not await self._startup():
                return
            await self._message_loop()
        except (asyncio.IncompleteReadError, ConnectionResetError, BrokenPipeError):
            pass
        finally:
            self.server.backends.pop(self.backend_pid, None)
            for p in self.portals.values():
                self._release_portal(p)  # suspended streams → cancel jobs
            if self.txn is not None:
                # disconnect mid-transaction = implicit ROLLBACK (PG
                # semantics): drop the shadows, base tables untouched
                txn, self.txn = self.txn, None
                try:
                    await asyncio.get_running_loop().run_in_executor(None, txn.rollback)
                except Exception:  # noqa: BLE001 — cleanup must not mask close
                    pass
            self.writer.close()

    async def _startup(self) -> bool:
        while True:
            raw = await self.reader.readexactly(4)
            (length,) = struct.unpack(">i", raw)
            payload = await self.reader.readexactly(length - 4)
            (code,) = struct.unpack(">i", payload[:4])
            if code == SSL_REQUEST:
                self.writer.write(b"N")  # wire.go:53-58 refusal
                await self.writer.drain()
                continue
            if code == CANCEL_REQUEST:
                pid, key = struct.unpack(">ii", payload[4:12])
                self.server.handle_cancel(pid, key)
                return False
            if code == PROTO_V3:
                params = self._parse_startup_params(payload[4:])
                break
            self.send_error(f"unsupported protocol {code}")
            return False
        user = params.get("user", "")
        if not await self._auth(user):
            return False
        self.server.backends[self.backend_pid] = (self.secret_key, self)
        self._send(b"K", struct.pack(">ii", self.backend_pid, self.secret_key))
        for k, v in PARAMETER_STATUS.items():
            self._send(b"S", k.encode() + b"\x00" + v.encode() + b"\x00")
        self.send_ready()
        await self.writer.drain()
        return True

    @staticmethod
    def _parse_startup_params(data: bytes) -> dict[str, str]:
        parts = data.split(b"\x00")
        out = {}
        for i in range(0, len(parts) - 1, 2):
            if parts[i]:
                out[parts[i].decode()] = parts[i + 1].decode()
        return out

    # -------------------------------------------------------------- auth

    async def _auth(self, user: str) -> bool:
        peer = self.writer.get_extra_info("peername") or ("",)
        localhost = peer[0] in ("127.0.0.1", "::1", "")
        if localhost and not self.server.require_auth:
            self._send(b"R", struct.pack(">i", 0))  # AuthenticationOk (bypass, pg_auth.go:18-27)
            await self.writer.drain()
            return True
        verifier = self.engine.get_verifier(user)
        if verifier is None:
            # unknown user must NOT bypass auth (reference runs SCRAM for
            # every non-localhost user and rejects unknowns, pg_auth.go)
            self.send_error(f'password authentication failed for user "{user}"', "28P01")
            await self.writer.drain()
            return False
        return await self._scram(user, verifier)

    async def _scram(self, user: str, verifier: str) -> bool:
        """Server-side SCRAM-SHA-256 (RFC 5802), same flow as
        pg_auth.go:29-110."""
        iters, salt, stored_key, server_key = parse_verifier(verifier)
        self._send(b"R", struct.pack(">i", 10) + b"SCRAM-SHA-256\x00\x00")
        await self.writer.drain()
        t, payload = await self._read_message()
        if t != b"p":
            self.send_error("expected SASLInitialResponse")
            return False
        idx = payload.index(b"\x00")
        (resp_len,) = struct.unpack(">i", payload[idx + 1 : idx + 5])
        client_first = payload[idx + 5 : idx + 5 + resp_len].decode()
        bare = client_first.split(",", 2)[2]  # strip gs2 header
        attrs = dict(kv.split("=", 1) for kv in bare.split(","))
        client_nonce = attrs["r"]
        server_nonce = client_nonce + base64.b64encode(secrets.token_bytes(18)).decode()
        server_first = f"r={server_nonce},s={base64.b64encode(salt).decode()},i={iters}"
        self._send(b"R", struct.pack(">i", 11) + server_first.encode())
        await self.writer.drain()
        t, payload = await self._read_message()
        if t != b"p":
            self.send_error("expected SASLResponse")
            return False
        client_final = payload.decode()
        fattrs = dict(kv.split("=", 1) for kv in client_final.split(","))
        client_proof = base64.b64decode(fattrs["p"])
        final_without_proof = client_final[: client_final.rindex(",p=")]
        auth_message = f"{bare},{server_first},{final_without_proof}".encode()
        client_sig = hmac.new(stored_key, auth_message, hashlib.sha256).digest()
        client_key = bytes(a ^ b for a, b in zip(client_proof, client_sig))
        if hashlib.sha256(client_key).digest() != stored_key:
            self.send_error(f'password authentication failed for user "{user}"', "28P01")
            await self.writer.drain()
            return False
        server_sig = hmac.new(server_key, auth_message, hashlib.sha256).digest()
        final = b"v=" + base64.b64encode(server_sig)
        self._send(b"R", struct.pack(">i", 12) + final)
        self._send(b"R", struct.pack(">i", 0))
        await self.writer.drain()
        return True

    # ------------------------------------------------------ message loop

    async def _read_message(self) -> tuple[bytes, bytes]:
        t = await self.reader.readexactly(1)
        (length,) = struct.unpack(">i", await self.reader.readexactly(4))
        payload = await self.reader.readexactly(length - 4)
        return t, payload

    async def _message_loop(self) -> None:
        while True:
            t, payload = await self._read_message()
            if t == b"X":  # Terminate
                return
            if t == b"S":  # Sync — always processed (pg_conn.go:199)
                self.send_ready()
                await self.writer.drain()
                continue
            if t == b"H":  # Flush
                await self.writer.drain()
                continue
            if self.in_error and t in (b"P", b"B", b"D", b"E", b"C"):
                continue  # error-skip until Sync (pg_conn.go:148-201)
            try:
                if t == b"Q":
                    await self._simple_query(payload[:-1].decode())
                elif t == b"P":
                    self._parse_msg(payload)
                elif t == b"B":
                    self._bind_msg(payload)
                elif t == b"D":
                    await self._describe_msg(payload)
                elif t == b"E":
                    await self._execute_msg(payload)
                elif t == b"C":
                    self._close_msg(payload)
                # unknown types silently skipped (message.go lazy skip)
            except Exception as e:  # noqa: BLE001 — engine errors → ErrorResponse
                self.send_exception(e)
            await self.writer.drain()

    # ------------------------------------------------------ simple query

    async def _simple_query(self, query: str) -> None:
        """Simple-query message: may carry MULTIPLE ';'-separated
        statements (psql scripts do); each gets its own result set, one
        ReadyForQuery at the end, first error aborts the rest — standard
        PG simple-protocol semantics. (The reference hands the whole
        string to its engine, which handles multi-statements natively.)"""
        stmts = _split_statements(query)
        if not stmts:  # pg_conn.go:295-298
            self._send(b"I")  # EmptyQueryResponse
            self.send_ready()
            return
        try:
            for q in stmts:
                await self._route(q)
        except Exception as e:  # noqa: BLE001 — abort remaining stmts
            self.send_exception(e)
        finally:
            self.send_ready()

    async def _route(
        self, q: str, portal: Portal | None = None, max_rows: int = 0, describe: bool = False
    ) -> StructType | None:
        """The one statement router. Simple Query (no portal), Describe
        (`describe`) and Execute (a portal and its maxRows) all classify
        a statement here, once, in this order. Query and Execute run it
        and send its result; Execute's rows take the Bind result formats
        (its RowDescription came from Describe). Describe runs nothing:
        → the result shape, None for NoData."""
        loop = asyncio.get_running_loop()
        m = _TXN_CTL.match(q)
        if m:
            if not describe:
                await self._txn_control(_TXN_TAGS[m.group(1).split()[0].lower()])
            return None
        if self.txn is not None and self.txn.status == "E":
            # aborted transaction block: everything except COMMIT/ROLLBACK
            # is rejected until the block ends
            raise PgError(
                "25P02",
                "current transaction is aborted, commands ignored until end of transaction block",
            )
        # SQL-level PREPARE/EXECUTE BEFORE the transaction rewrite: the
        # stored statement text must stay pristine (it can outlive the
        # transaction; staged identifiers rewrite at EXECUTE time
        # instead, so read-your-writes still holds for the expansion)
        m = _PREPARE_SQL.match(q)
        if m:
            if not describe:
                self._prepare_stmt_sql(m.group(1), m.group(2), m.group(3))
                self.send_command_complete("PREPARE")
            return None
        m = _EXECUTE_SQL.match(q)
        if m:  # the expanded statement routes on normally
            q = self._expand_execute_sql(m.group(1), m.group(2))
        if self.txn is not None and describe:
            q = self.txn.rewrite(q)  # read-your-writes, nothing staged
        elif self.txn is not None:
            # transactional DDL (round 5): CREATE/DROP TABLE/VIEW inside
            # BEGIN..COMMIT stage catalog intents — applied on COMMIT,
            # vaporized on ROLLBACK (engine/transactions.py)
            tag = await loop.run_in_executor(None, self.txn.intercept_ddl, q)
            if tag is not None:
                self.send_command_complete(tag)
                return None
            # stage the DML target (first touch clones it) and redirect all
            # staged identifiers to their shadows — runs Spark jobs, so off
            # the event loop
            q = await loop.run_in_executor(None, self.txn.prepare, q)
        if _DISCARD.match(q):
            if not describe:
                self.stmts.clear()
                for p in self.portals.values():
                    self._release_portal(p)
                self.portals.clear()
                self.session_gucs.clear()  # DISCARD ALL resets session GUCs too
                self.send_command_complete("DISCARD ALL")
            return None
        m = _DEALLOCATE.match(q)
        if m:
            if not describe:
                name = m.group(1).strip('"')
                if name.lower() == "all":
                    self.stmts.clear()
                elif self.stmts.pop(name, None) is None:
                    raise PgError("26000", f'prepared statement "{name}" does not exist')
                self.send_command_complete("DEALLOCATE")
            return None
        if describe and (_SET_GUC.match(q) or _RESET_GUC.match(q)):
            return None
        tag = None if describe else await self._intercept_set_reset(q)
        if tag is not None:
            self.send_command_complete(tag)
            return None
        q = self._substitute_session_settings(q)
        m = _COPY_IN.match(q)
        if m:
            if not describe:
                await self._copy_in(m.group(1), m.group(3))
            return None
        m = _COPY_OUT.match(q)
        if m:
            if not describe:
                await self._copy_out(m)
            return None
        local = self._show_local(q)
        if local is not None:
            schema, rows = local
            if describe:
                return schema
            out = _DataRows(self, portal)
            out.begin(schema)
            out.send(rows)
            out.end()
            return None
        if _WRITE_VERB.match(q):
            if describe:
                # DML RETURNING: schema from a zero-row projection over
                # the target; every other write is NoData — PG never
                # executes a statement to describe it
                return await loop.run_in_executor(None, self.engine.describe_returning, q)
            ret = await loop.run_in_executor(None, self.engine.execute_returning, q, "pg")
            if ret is None:
                tag = await loop.run_in_executor(None, self.engine.execute, q, "pg")
                self.send_command_complete(tag)
                return None
            # RETURNING rows + the DML tag (PG shape). The affected rows
            # are already materialized, and the write has committed, so
            # the drain is untimed: a 57014 now would misreport the write
            df, tag = ret
            await self._drain(
                lambda: self.engine.stream_batches(tag, "pg", self.job_group, df=df),
                _DataRows(self, portal, tag),
                None,
            )
            return None
        if describe:
            return await loop.run_in_executor(None, lambda: self.engine.query(q, "pg").schema)
        if portal is None:
            await self._drain(
                lambda: self.engine.stream_batches(q, "pg", self.job_group),
                _DataRows(self),
                self.job_group,
            )
            return None
        # Execute honors maxRows (PortalSuspended + resumable portal) —
        # the reference parses it then ignores it (quirk Q5,
        # message.go:485 vs pg_conn.go:509-531); JDBC setFetchSize drives
        # real clients through this path.
        self._portal_seq += 1
        portal.group = f"{self.job_group}-p{self._portal_seq}"
        self.active_portal_groups.add(portal.group)
        portal.rows = _DataRows(self, portal)
        await self._run_portal(
            portal, max_rows, lambda: self.engine.stream_batches(q, "pg", portal.group)
        )
        return None

    def _show_local(self, q: str) -> tuple[StructType, list[tuple]] | None:
        """`SHOW <guc>` answered from this connection's SET overlay and
        the shared GUC table (engine/gucs.py — the one ParameterStatus
        advertises): → (schema, rows), or None for every other SHOW form,
        which the engine runs (Spark SHOW verbs, DuckDB's SHOW <table>,
        SHOW ALL without a session overlay). A GUC read is a dictionary
        lookup: no rewrite pipeline, no Spark job, no statement timer —
        a distributed query costs ~100 ms per call and would let a
        sub-second statement_timeout cancel its own bookkeeping."""
        m = _SHOW_GUC.match(q)
        if m is None:
            return None
        name = m.group(1).lower()
        if name == "transaction_read_only":
            # pgjdbc's probe; the int4 0 of pg_conn.go:305's SELECT
            return StructType([StructField(name, IntegerType())]), [(0,)]
        if name == "all":
            if not self.session_gucs:
                return None
            # SHOW ALL reflects THIS session's overlay (PG semantics);
            # the engine's table carries only the shared defaults
            rows = {k: (v[0], v[1]) for k, v in _gucs.ALL_GUCS.items()}
            for k, v in self.session_gucs.items():
                rows[k] = (v, rows.get(k, ("", "Session-defined setting."))[1])
            cols = ("name", "setting", "description")
            return _text_schema(cols), [(k, s, d) for k, (s, d) in sorted(rows.items())]
        val = self.session_gucs.get(name, _gucs.guc_value(name))
        if val is not None:
            return _text_schema((name,)), [(val,)]
        if "." in name and not name.startswith("spark."):
            # custom-namespace GUC never SET in this session: PG's exact
            # 42704, never a Spark parse error (spark.* keys are engine
            # configuration and fall through)
            raise PgError("42704", f'unrecognized configuration parameter "{name}"')
        return None

    def _prepare_stmt_sql(self, name_raw: str, types_csv: str | None, body: str) -> None:
        """SQL-level `PREPARE name [(types)] AS stmt` → same statement map
        the extended protocol and DEALLOCATE use (pg_conn.go:314 delegates
        this to DuckDB; Spark SQL rejects the verb so we store it here)."""
        name = name_raw.strip('"')
        if name in self.stmts:
            raise PgError("42P05", f'prepared statement "{name}" already exists')
        types = (
            tuple(t.strip() for t in types_csv.split(",") if t.strip())
            if types_csv
            else ()
        )
        body = body.strip()
        nparams = max(rewrites.count_params(body), len(types))
        self.stmts[name] = StmtDesc(body, nparams, (), types)

    def _expand_execute_sql(self, name_raw: str, args_csv: str | None) -> str:
        """`EXECUTE name [(args)]` → the stored statement with each $n
        replaced by its (parenthesized, optionally CAST-to-declared-type)
        argument expression. The args are SQL text from this same
        statement, so substitution is literal-safe by construction;
        placeholders inside string literals stay data."""
        name = name_raw.strip('"')
        stmt = self.stmts.get(name)
        if stmt is None:
            raise PgError("26000", f'prepared statement "{name}" does not exist')
        exprs = (
            rewrites.split_expr_list(args_csv)
            if args_csv and args_csv.strip()
            else []
        )
        if len(exprs) != stmt.num_params:
            raise PgError(
                "42601",
                f'wrong number of parameters for prepared statement "{name}": '
                f"expected {stmt.num_params}, got {len(exprs)}",
            )
        wrapped = []
        for i, e in enumerate(exprs):
            if i < len(stmt.param_types) and stmt.param_types[i]:
                wrapped.append(
                    f"CAST(({e}) AS {rewrites.normalize_type(stmt.param_types[i])})"
                )
            else:
                wrapped.append(f"({e})")
        return rewrites.substitute_param_exprs(stmt.query, wrapped)

    async def _txn_control(self, tag: str) -> None:
        """BEGIN/COMMIT/ROLLBACK with real staged-write semantics
        (engine/transactions.py). COMMIT of a failed transaction rolls
        back and reports ROLLBACK, as PostgreSQL does."""
        loop = asyncio.get_running_loop()
        if tag == "BEGIN":
            if self.txn is None:
                self.txn = TxnOverlay(self.engine, self.backend_pid)
            # BEGIN inside a transaction: PG warns and keeps the open txn
        elif self.txn is not None:
            txn, self.txn = self.txn, None
            if tag == "COMMIT" and txn.status != "E":
                await loop.run_in_executor(None, txn.commit)
            else:
                await loop.run_in_executor(None, txn.rollback)
                if tag == "COMMIT":
                    tag = "ROLLBACK"
        self.send_command_complete(tag)

    async def _drain(self, open_stream, out, timer_group: str | None):
        """The one batch-drain loop, for SELECT, COPY TO, DML RETURNING
        and portal Execute. `open_stream` runs on a worker thread and
        returns (schema, _BatchStream): the stream's producer thread owns
        the job group (so CancelRequest interrupts exactly this
        statement — run_in_executor pool threads would lose the
        thread-local group), and its bounded queue keeps server memory
        O(batch). Each batch goes to the encoder `out`, then the socket
        drains once. `timer_group` arms statement_timeout over the whole
        statement, analysis included; None leaves it untimed.
        → the still-open stream when `out` is full (Execute's maxRows),
        else None: the stream is closed on every other exit."""
        loop = asyncio.get_running_loop()
        # disarmed on EVERY exit — including an analysis error raised by
        # open_stream before any row flows (a leaked armed timer re-fires
        # forever and cancels the connection's job group under later
        # statements)
        timer = _StatementTimer(self, timer_group)
        stream = kept = None
        try:
            schema, stream = await loop.run_in_executor(None, open_stream)
            out.begin(schema)
            while True:
                if out.full:
                    kept = stream
                    return kept
                batch = await loop.run_in_executor(None, stream.next_batch)
                if batch is None:
                    break
                out.send(batch)
                await self.writer.drain()
        except Exception:
            if timer.fired:  # enforced statement_timeout (ADVICE r8)
                raise PgError(
                    "57014", "canceling statement due to statement timeout"
                ) from None
            raise
        finally:
            timer.disarm()
            if stream is not None and stream is not kept:
                stream.close()
        out.end()
        return None

    # ------------------------------------------------------ COPY FROM STDIN

    async def _copy_in(self, table: str, cols_csv: str | None) -> None:
        """COPY t [(cols)] FROM STDIN WITH csv.

        The subset schema is built in the CLIENT's column-list order and
        unknown columns error (pg_conn.go:545-556 semantics) — zipping
        cells against table-order fields silently swaps same-typed
        columns. CopyData chunks are parsed incrementally (record-safe
        splitter) and appended in micro-batches, so a multi-GB COPY
        never materializes in driver memory (Appender analogue,
        pg_conn.go:557-619).
        """
        cols = [c.strip().strip('"') for c in cols_csv.split(",")] if cols_csv else None
        # engine.appender wires in PK/UNIQUE validation (23505 before any
        # violating batch is appended)
        appender = self.engine.appender(table, cols)
        schema = appender.schema
        ncols = len(schema.fields)
        # CopyInResponse: text format, per-column format codes 0
        self._send(b"G", struct.pack(">bh", 0, ncols) + b"\x00\x00" * ncols)
        await self.writer.drain()
        loop = asyncio.get_running_loop()
        splitter = CsvChunkSplitter()

        def _parse_into(text: str) -> bool:
            # PG/duck CSV NULL rule: unquoted empty = NULL, "" = empty
            # string (csv_rows_null_aware; round-13 wire battery find)
            full = False
            for cells in csv_rows_null_aware(text):
                if not cells:
                    continue
                row = tuple(
                    parse_csv_cell(c, f.dataType) if c is not None else None
                    for c, f in zip(cells, schema.fields)
                )
                full = appender.add(row) or full
            return full

        while True:
            t, payload = await self._read_message()
            if t == b"d":
                if _parse_into(splitter.feed(payload)):
                    await loop.run_in_executor(None, appender.flush)
            elif t == b"c":  # CopyDone
                break
            elif t == b"f":  # CopyFail
                self.send_error("COPY cancelled: " + payload.rstrip(b"\x00").decode())
                return
            else:  # ignore Flush/Sync during copy
                continue
        _parse_into(splitter.finish())
        await loop.run_in_executor(None, appender.flush)
        self.send_command_complete(f"COPY {appender.total}")  # pg_conn.go:620

    async def _copy_out(self, m: "re.Match[str]") -> None:
        """COPY ... TO STDOUT: the SELECT it names, through the same
        drain and statement timer as a SELECT, encoded as CopyData
        (_CopyRows)."""
        q = m.group("query")
        if q is None:
            cols = m.group("cols")
            collist = (
                ", ".join(c.strip() for c in cols.split(",")) if cols else "*"
            )
            q = f"SELECT {collist} FROM {m.group('table')}"
        opts = (m.group("opts") or "").lower()
        # HEADER [true] enables; HEADER false/off/0 (valid PG forms)
        # disables — a bare substring check would treat them as enabled
        hm = re.search(r"\bheader\b(?:\s+(true|false|on|off|0|1))?", opts)
        with_header = bool(hm) and (hm.group(1) or "true") not in ("false", "off", "0")
        await self._drain(
            lambda: self.engine.stream_batches(q, "pg", self.job_group),
            _CopyRows(self, "csv" in opts, with_header),
            self.job_group,
        )

    # -------------------------------------------------- extended protocol

    def _parse_msg(self, payload: bytes) -> None:
        raw_name, rest = _read_cstr(payload)
        query, rest = _read_cstr(rest)
        name = raw_name.decode()
        if name and name in self.stmts:
            raise ValueError(f'prepared statement "{name}" already exists')  # pg_conn.go:456
        q = query.decode()
        # declared param type OIDs (psycopg3/JDBC binary mode sends these)
        oids: tuple = ()
        if len(rest) >= 2:
            (ntypes,) = struct.unpack(">h", rest[:2])
            if ntypes > 0 and len(rest) >= 2 + 4 * ntypes:
                oids = struct.unpack(f">{ntypes}i", rest[2 : 2 + 4 * ntypes])
        nparams = max(rewrites.count_params(q), len(oids))
        self.stmts[name] = StmtDesc(q, nparams, oids)
        self._send(b"1")  # ParseComplete

    def _bind_msg(self, payload: bytes) -> None:
        portal, rest = _read_cstr(payload)
        stmt_name, rest = _read_cstr(rest)
        stmt = self.stmts.get(stmt_name.decode())
        if stmt is None:
            raise ValueError(f'prepared statement "{stmt_name.decode()}" does not exist')
        (nfmt,) = struct.unpack(">h", rest[:2])
        param_fmts = list(struct.unpack(f">{nfmt}h", rest[2 : 2 + 2 * nfmt]))
        rest = rest[2 + 2 * nfmt:]
        (nparams,) = struct.unpack(">h", rest[:2])
        rest = rest[2:]
        params = []
        for i in range(nparams):
            (plen,) = struct.unpack(">i", rest[:4])
            rest = rest[4:]
            # PG format-code semantics: [] = all text, [c] = c for all
            fmt = (
                param_fmts[i]
                if i < len(param_fmts)
                else (param_fmts[0] if len(param_fmts) == 1 else 0)
            )
            if plen == -1:
                params.append(None)
            elif fmt == 1:
                # binary param (round 5): decode by the OID declared in
                # Parse — the reference misparses these as text
                # (message.go:449-455 unchecked TODO); an undeclared OID
                # still errors clearly rather than guessing
                oid = stmt.param_oids[i] if i < len(stmt.param_oids) else 0
                params.append(decode_pg_binary_param(rest[:plen], oid))
                rest = rest[plen:]
            else:
                params.append(coerce_text_param(rest[:plen].decode()))
                rest = rest[plen:]
        # result-format codes: honored (binary DataRows), unlike the
        # reference's always-text path (pg_conn.go:379)
        result_fmts: list[int] = []
        if len(rest) >= 2:
            (nrfmt,) = struct.unpack(">h", rest[:2])
            result_fmts = list(struct.unpack(f">{nrfmt}h", rest[2 : 2 + 2 * nrfmt]))
        old = self.portals.get(portal.decode())
        if old is not None:
            self._release_portal(old)  # re-Bind discards a suspended stream
        self.portals[portal.decode()] = Portal(stmt, params, result_fmts)
        self._send(b"2")  # BindComplete

    async def _describe_msg(self, payload: bytes) -> None:
        kind, rest = payload[:1], payload[1:]
        name, _ = _read_cstr(rest)
        if kind == b"S":
            stmt = self.stmts.get(name.decode())
            if stmt is None:
                raise ValueError(f'prepared statement "{name.decode()}" does not exist')
            # ParameterDescription: OIDs the client declared in Parse,
            # 0 = unknown for the rest (the reference always sends all
            # zeros, pg_conn.go:334)
            oids = [
                stmt.param_oids[i] if i < len(stmt.param_oids) else 0
                for i in range(stmt.num_params)
            ]
            self._send(
                b"t",
                struct.pack(">h", stmt.num_params)
                + b"".join(struct.pack(">i", o) for o in oids),
            )
            q = rewrites.params_to_null(stmt.query)  # pg_conn.go:652-656
            formats = None
        else:
            portal = self.portals.get(name.decode())
            if portal is None:
                raise ValueError(f'portal "{name.decode()}" does not exist')
            q = rewrites.substitute_params(portal.stmt.query, portal.params)
            formats = portal.result_formats
        schema = await self._route(q, describe=True)
        if schema is None:
            self._send(b"n")  # NoData
        else:
            self.send_row_description(schema, formats)

    def _substitute_session_settings(self, q: str) -> str:
        """PG's current_setting('name') for names THIS connection SET:
        substituted here (the engine only knows the shared defaults
        table — the session overlay lives per-connection). Names not in
        the overlay fall through to the engine's rewrite, which answers
        from defaults or raises PG's 42704 (round 9).

        Round 10 (VERDICT r9 item 4): pg_settings / duckdb_settings
        READS get the same session-overlay-first treatment — the
        snapshot temp views are engine-global (one shared SparkSession),
        so a connection with SET values sees an inline merged relation
        substituted in FROM position instead. Connections with no
        overlay keep the shared views untouched."""
        if not self.session_gucs:
            return q
        low = q.lower()
        if "current_setting" in low:
            from duck_server_spark.engine.gucs import sql_str
            from duck_server_spark.plans.rewrites import (
                _CURRENT_SETTING,
                _mask_literals,
            )

            masked = _mask_literals(q)

            def repl(m: re.Match) -> str:
                # same literal guard as the engine-side rewrite: a call
                # whose text sits inside a string literal stays verbatim
                if not masked[m.start() :].lower().startswith("current_setting"):
                    return m.group(0)
                val = self.session_gucs.get(m.group(1).lower())
                return m.group(0) if val is None else f"'{sql_str(val, 'duck')}'"

            q = _CURRENT_SETTING.sub(repl, q)
            low = q.lower()
        if "pg_settings" in low or "duckdb_settings" in low:
            q = self._inline_settings_views(q)
        return q

    # settings views in FROM/JOIN position — including comma-style FROM
    # lists (`FROM t, pg_settings s` — review finding: the comma form
    # silently bypassed the session overlay). Qualified column refs like
    # pg_settings.name bind to the kept alias; an optional user alias
    # after the name takes over, so `FROM pg_settings s` stays valid.
    # (?!\.) — a comma can also precede a QUALIFIED COLUMN REF in a
    # select list (`SELECT a, pg_settings.name …`), which must not be
    # rewritten; in FROM position the view name is never dot-followed
    _SETTINGS_VIEW_REF = re.compile(
        r"(\bfrom|\bjoin|,)(\s+|(?<=,)\s*)"
        r"((?:pg_catalog\.)?pg_settings|duckdb_settings)"
        r"(\s*\(\s*\))?\b(?!\.)(\s+(?:as\s+)?[a-zA-Z_]\w*)?",
        re.IGNORECASE,
    )
    _SETTINGS_ALIAS_KEYWORDS = frozenset(
        "where group order limit offset having qualify union except intersect "
        "join on inner left right full cross natural using as and or not".split()
    )

    def _inline_settings_views(self, q: str) -> str:
        """Swap pg_settings / duckdb_settings references for an inline
        VALUES relation: shared defaults merged with THIS connection's
        SET overlay (custom GUCs included, like PG). Text-level and
        bounded by the GUC table size — no jobs, no shared state."""
        from duck_server_spark.engine.gucs import ALL_GUCS, sql_str
        from duck_server_spark.plans.rewrites import _mask_literals

        masked = _mask_literals(q)

        def rows_pg() -> str:
            merged = {k: (v[0], v[1]) for k, v in ALL_GUCS.items()}
            for k, v in self.session_gucs.items():
                desc = merged[k][1] if k in merged else ""
                merged[k] = (v, desc)
            return ", ".join(
                f"('{sql_str(k, 'duck')}', '{sql_str(v, 'duck')}', '{sql_str(d, 'duck')}')"
                for k, (v, d) in sorted(merged.items())
            )

        def rows_duckdb() -> str:
            merged = {
                k: (v[0], v[1], "VARCHAR", "LOCAL") for k, v in ALL_GUCS.items()
            }
            for k, v in self.session_gucs.items():
                desc = merged[k][1] if k in merged else ""
                merged[k] = (v, desc, "VARCHAR", "LOCAL")
            merged["threads"] = (
                str(self.engine.spark.sparkContext.defaultParallelism),
                "The number of total threads used by the system.",
                "BIGINT",
                "GLOBAL",
            )
            return ", ".join(
                f"('{sql_str(k, 'duck')}', '{sql_str(v, 'duck')}', '{sql_str(d, 'duck')}', "
                f"'{ty}', '{sc}')"
                for k, (v, d, ty, sc) in sorted(merged.items())
            )

        def repl(m: re.Match) -> str:
            # ignore matches whose text sits inside a string literal
            start = m.start()
            if (
                masked[start : start + len(m.group(1))].lower()
                != m.group(1).lower()
            ):
                return m.group(0)
            name = m.group(3).lower().rsplit(".", 1)[-1]
            if name == "pg_settings":
                inline = (
                    f"(SELECT * FROM (VALUES {rows_pg()}) AS "
                    "__pg_settings_inline(name, setting, short_desc))"
                )
            else:
                inline = (
                    f"(SELECT * FROM (VALUES {rows_duckdb()}) AS "
                    "__duckdb_settings_inline(name, value, description, "
                    "input_type, scope))"
                )
            alias = m.group(5) or ""
            alias_word = alias.split()[-1].lower() if alias.split() else ""
            if not alias_word or alias_word in self._SETTINGS_ALIAS_KEYWORDS:
                # no user alias: keep the view name as the alias so
                # qualified refs still bind; put back any trailing token
                return f"{m.group(1)}{m.group(2)}{inline} AS {name}{alias}"
            return f"{m.group(1)}{m.group(2)}{inline}{alias}"

        return self._SETTINGS_VIEW_REF.sub(repl, q)

    async def _intercept_set_reset(self, q: str) -> str | None:
        """Session GUC SET/RESET, shared by BOTH protocols (asyncpg
        drives SET through Parse/Bind/Execute, psycopg2 through simple
        query). Returns the command tag when handled, None to dispatch
        normally. spark.* keys are ENGINE configuration, not PG custom
        GUCs: they reach spark.sql('SET …') with the PG-quoted value
        normalized (Spark's SET keeps literal quotes verbatim)."""
        m = _SET_GUC.match(q)
        if m:
            name = m.group("name").lower()
            raw = m.group("val").strip()
            lit = re.match(r"^'(.*)'$", raw, re.DOTALL)
            unq = lit.group(1).replace("''", "'") if lit else raw
            if name in _SETTABLE_GUCS or (
                "." in name and not name.startswith("spark.")
            ):
                self.session_gucs[name] = unq
                return "SET"
            if name.startswith("spark."):
                loop = asyncio.get_running_loop()
                await loop.run_in_executor(
                    None, self.engine.execute, f"SET {name}={unq}", "pg"
                )
                return "SET"
            return None  # engine ack / loud error; SHOW stays honest
        m = _RESET_GUC.match(q)
        if m:
            tgt = m.group(1).lower()
            if tgt == "all":
                self.session_gucs.clear()
            else:
                self.session_gucs.pop(tgt, None)
            return "RESET"
        return None

    async def _execute_msg(self, payload: bytes) -> None:
        name, rest = _read_cstr(payload)
        (max_rows,) = struct.unpack(">i", rest[:4]) if len(rest) >= 4 else (0,)
        # PostgreSQL treats non-positive maxRows as "no limit"; without the
        # clamp a negative value would send zero rows + PortalSuspended forever.
        max_rows = max(max_rows, 0)
        portal = self.portals.get(name.decode())
        if portal is None:
            raise ValueError(f'portal "{name.decode()}" does not exist')
        if portal.stream is None:
            q = rewrites.substitute_params(portal.stmt.query, portal.params)
            await self._route(q, portal, max_rows)
        else:  # a suspended portal resumes where it stopped
            await self._run_portal(portal, max_rows, lambda: (portal.rows.schema, portal.stream))

    async def _run_portal(self, portal: Portal, max_rows: int, open_stream) -> None:
        """Send up to max_rows DataRows (0 = all). If the limit is hit
        before the result set is exhausted, send PortalSuspended and keep
        the batch stream open on the portal; a re-Execute resumes exactly
        where it stopped. Exhaustion sends CommandComplete (row count =
        rows sent by THIS Execute segment, as in PG) and releases the
        stream and its job group."""
        portal.rows.n, portal.rows.max_rows = 0, max_rows
        try:
            portal.stream = await self._drain(open_stream, portal.rows, portal.group)
        except BaseException:  # engine error or client gone → release the job
            self._release_portal(portal)
            raise
        if portal.stream is None:
            self._release_portal(portal)
        else:
            self._send(b"s")  # PortalSuspended

    def _release_portal(self, portal: Portal) -> None:
        if portal.stream is not None:
            try:
                portal.stream.close()  # cancels only THIS portal's job group
            except Exception:  # noqa: BLE001 — release must not mask errors
                pass
        if portal.group is not None:
            self.active_portal_groups.discard(portal.group)
            portal.group = None
        portal.stream = None
        portal.rows = None

    def _close_msg(self, payload: bytes) -> None:
        kind, rest = payload[:1], payload[1:]
        name, _ = _read_cstr(rest)
        if kind == b"S":
            stmt = self.stmts.pop(name.decode(), None)
            if stmt is not None:
                # PG spec: closing a prepared statement implicitly closes
                # any open portals constructed from it
                for pname in [k for k, p in self.portals.items() if p.stmt is stmt]:
                    self._release_portal(self.portals.pop(pname))
        else:
            gone = self.portals.pop(name.decode(), None)
            if gone is not None:
                self._release_portal(gone)  # suspended stream → cancel job
        self._send(b"3")  # CloseComplete


def _text_schema(cols) -> StructType:
    return StructType([StructField(c, StringType()) for c in cols])


class _DataRows:
    """DataRow encoder. Simple Query (no portal) sends its own
    RowDescription and text rows; Execute sends rows in the portal's
    Bind result formats, at most `max_rows` of them (0 = all) — once
    `full`, the rest of the batch waits in `pending` for the next
    Execute. `end` sends CommandComplete: `tag`, else the reference's
    literal "(n row)" (pg_conn.go:271)."""

    def __init__(self, conn: PgConnection, portal: Portal | None = None, tag: str | None = None):
        self.conn = conn
        self.portal = portal
        self.formats = portal.result_formats if portal is not None else None
        self.tag = tag
        self.schema = None  # binary result formats need the dtypes
        self.max_rows = 0
        self.n = 0
        self.pending: list[tuple] = []

    @property
    def full(self) -> bool:
        return self.max_rows > 0 and self.n >= self.max_rows

    def begin(self, schema: StructType) -> None:
        self.schema = schema
        if self.portal is None:
            self.conn.send_row_description(schema)
        elif self.pending:  # rows a suspended Execute left over
            self.send([])

    def send(self, batch: list[tuple]) -> None:
        rows = self.pending + batch if self.pending else batch
        k = min(len(rows), self.max_rows - self.n) if self.max_rows else len(rows)
        send, formats, schema = self.conn.send_data_row, self.formats, self.schema
        for row in itertools.islice(rows, k):
            send(row, formats, schema)
        self.n += k
        self.pending = rows[k:]

    def end(self) -> None:
        self.conn.send_command_complete(self.tag or f"({self.n} row)")


class _CopyRows:
    """COPY TO STDOUT encoder: CopyOutResponse, one CopyData per batch,
    CopyDone, COPY-n tag. PG text format (tab separators, \\N nulls,
    backslash escapes) or CSV (optional HEADER line), as psql \\copy and
    JDBC CopyManager expect."""

    full = False

    def __init__(self, conn: PgConnection, as_csv: bool, header: bool):
        self.conn = conn
        self.as_csv = as_csv
        self.with_header = as_csv and header
        self.header: list[str] | None = None  # CSV header not yet sent
        self.n = 0

    def begin(self, schema: StructType) -> None:
        ncols = len(schema.fields)
        self.conn._send(b"H", struct.pack(">bh", 0, ncols) + b"\x00\x00" * ncols)
        if self.with_header:
            self.header = [f.name for f in schema.fields]

    def send(self, batch: list[tuple]) -> None:
        if self.as_csv:
            data = self._csv(batch)
        else:
            data = "".join(_copy_text_row(r) + "\n" for r in batch).encode()
        self.conn._send(b"d", data)
        self.n += len(batch)

    def end(self) -> None:
        if self.header is not None:  # no batch came: the header still goes out
            self.conn._send(b"d", self._csv([]))
        self.conn._send(b"c")  # CopyDone
        self.conn.send_command_complete(f"COPY {self.n}")

    def _csv(self, rows: list[tuple]) -> bytes:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        if self.header is not None:
            w.writerow(self.header)
            self.header = None
        for row in rows:
            w.writerow(["" if c is None else c for c in map(render_pg_text, row)])
        return buf.getvalue().encode()


def _copy_text_row(row: tuple) -> str:
    # PG COPY text format: \N for NULL; escape \, tab, LF, CR
    out = []
    for v in row:
        s = render_pg_text(v)
        if s is None:
            out.append("\\N")
        else:
            out.append(
                s.replace("\\", "\\\\")
                .replace("\t", "\\t")
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
    return "\t".join(out)


class PgServer:
    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 5433, require_auth: bool = False):
        self.engine = engine
        self.host = host
        self.port = port
        self.require_auth = require_auth
        self.backends: dict[int, tuple[int, "PgConnection"]] = {}  # pid → (secret_key, connection)
        self._server: asyncio.AbstractServer | None = None

    def handle_cancel(self, pid: int, key: int) -> None:
        """CancelRequest → job-group cancel (done correctly; quirk Q1).
        Cancels the connection's base group AND every suspended portal's
        group — PG cancel kills whatever that backend is running."""
        entry = self.backends.get(pid)
        if entry and entry[0] == key:
            conn = entry[1]
            self.engine.cancel(conn.job_group)
            for g in list(conn.active_portal_groups):
                self.engine.cancel(g)

    async def _client(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        await PgConnection(self, reader, writer).run()

    async def start(self) -> None:
        self._server = await asyncio.start_server(self._client, self.host, self.port)

    async def serve_forever(self) -> None:
        await self.start()
        assert self._server is not None
        async with self._server:
            try:
                await self._server.serve_forever()
            except asyncio.CancelledError:
                # close() ends serving by closing the server, which
                # cancels serve_forever's inner future; only a cancel of
                # this task itself propagates
                if asyncio.current_task().cancelling():
                    raise

    def close(self) -> None:
        if self._server is None:
            return
        loop = self._server.get_loop()
        if loop.is_running():
            # asyncio servers are not thread-safe: schedule the close on
            # the loop's own thread
            loop.call_soon_threadsafe(self._server.close)
        else:
            self._server.close()


def _split_statements(query: str) -> list[str]:
    """Split a simple-query payload on top-level semicolons (quote-aware:
    '…' and "…" protected)."""
    out: list[str] = []
    cur: list[str] = []
    quote: str | None = None
    for ch in query:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            cur.append(ch)
        elif ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
    stmt = "".join(cur).strip()
    if stmt:
        out.append(stmt)
    return out


def _read_cstr(data: bytes) -> tuple[bytes, bytes]:
    idx = data.index(b"\x00")
    return data[:idx], data[idx + 1:]


def run_threaded(engine: Engine, host: str = "127.0.0.1", port: int = 5433, require_auth: bool = False):
    """Start the asyncio server on a daemon thread (for tests / embedding
    alongside the CH server)."""
    import threading

    server = PgServer(engine, host, port, require_auth)
    loop = asyncio.new_event_loop()

    def _run() -> None:
        asyncio.set_event_loop(loop)
        loop.run_until_complete(server.serve_forever())

    thread = threading.Thread(target=_run, daemon=True)
    thread.start()
    return server, loop
