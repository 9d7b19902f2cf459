"""Byte goldens for every result encoder, end to end through the servers.

One table holds the values encoders get wrong: NULL next to the empty
string, NaN, ±Infinity, -0.0, floats whose repr differs from a C-style
%g (17.0, 1e15, 1e16, 1.5e-07), timestamps and timestamp_ntz with and
without microseconds, strings with every separator and escape character
and non-ASCII text, bytes, booleans, dates, the small integer types,
negative and tiny decimal(38,10) values, a day-time interval, and
array / map / struct columns. Each output is compared byte for byte,
one DataRow or line at a time:

- PG simple query: RowDescription, DataRows, CommandComplete;
- PG extended query with Bind result format 1 (binary DataRows);
- COPY ... TO STDOUT in text format, and as CSV with a HEADER line;
- CH HTTP TabSeparated, CSV and JSONEachRow bodies.

The expected bytes live in tests/encoder_golden.py. Decimal text is
also pinned against live DuckDB: plain notation at the column's scale,
never E-notation."""

from __future__ import annotations

import datetime
import decimal
import socket
import time
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from duck_server_spark.engine.executor import Engine
from duck_server_spark.server.ch.http_server import serve
from duck_server_spark.server.pg.wire_server import run_threaded
from tests.encoder_golden import EXPECTED
from tests.pg_client import PgClient

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("r", T.FloatType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tsn", T.TimestampNTZType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("bo", T.BooleanType()),
        T.StructField("dt", T.DateType()),
        T.StructField("sm", T.ShortType()),
        T.StructField("ti", T.ByteType()),
        T.StructField("l", T.LongType()),
        T.StructField("dec", T.DecimalType(38, 10)),
        T.StructField("iv", T.DayTimeIntervalType()),
        T.StructField("arr", T.ArrayType(T.StringType())),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField(
            "st",
            T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]),
        ),
    ]
)

_TS = datetime.datetime(2024, 1, 2, 3, 4, 5)
_DEC = decimal.Decimal
ROWS = [
    (1, "", float("nan"), 1.5, _TS, _TS, b"\x00\xff", True, datetime.date(1995, 1, 1),
     -32768, -128, -(2**63), _DEC("-12345.6789012345"),
     datetime.timedelta(days=1, seconds=3723, microseconds=5),
     ["a", None, "b,c", "{x}", 'q"t', "sp ace", "b\\s"], {"a": 1, "b": None}, Row(a=1, b="x")),
    (2, None, None, None, None, None, None, None, None,
     None, None, None, None, None, None, None, None),
    (3, "a\tb\nc\rd\\e\"f,g{h}i", float("inf"), float("-inf"), _TS.replace(microsecond=123456),
     _TS.replace(microsecond=7), b"", False, datetime.date(2001, 11, 4),
     32767, 127, 2**63 - 1, _DEC("0"), datetime.timedelta(0), [], {}, Row(a=None, b=None)),
    (4, "héllo ✓ 日本", float("-inf"), -0.0, datetime.datetime(1970, 1, 1), None, b"abc", None, None,
     0, 0, 0, _DEC("0.0000001"), datetime.timedelta(days=-2, microseconds=1), [None], None, None),
    (5, "plain", -0.0, 17.0, None, datetime.datetime(1999, 12, 31, 23, 59, 59), None, True, None,
     1, 1, 1, _DEC("1234567890123456789012345678.0123456789"), None, None, {"k": 0}, Row(a=-5, b="")),
    (6, "\\N", 17.0, float("nan"), None, None, None, None, None,
     None, None, None, _DEC("-0.0000000001"), None, None, None, None),
    (7, " lead, trail ", 1e15, 1e15, None, None, None, None, None,
     None, None, None, _DEC("100"), None, None, None, None),
    (8, "x", 1e16, 1.5e-07, None, None, None, None, None,
     None, None, None, None, None, None, None, None),
    (9, "'", 1.5e-07, None, None, None, None, None, None,
     None, None, None, None, None, None, None, None),
]

QUERY = "SELECT * FROM enc_golden ORDER BY k"


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


@pytest.fixture(scope="module")
def servers(spark):
    spark.createDataFrame(ROWS, SCHEMA).createOrReplaceTempView("enc_golden")
    engine = Engine(spark)
    pg_port, ch_port = _free_port(), _free_port()
    pg_server, _loop = run_threaded(engine, port=pg_port)
    ch_server = serve(engine, port=ch_port)
    time.sleep(0.5)
    yield ("127.0.0.1", pg_port), f"http://127.0.0.1:{ch_port}"
    ch_server.shutdown()
    pg_server.close()
    spark.catalog.dropTempView("enc_golden")


def _messages_until_ready(c: PgClient) -> list[bytes]:
    """Every message up to ReadyForQuery, as type byte + payload."""
    out = []
    while True:
        t, data = c.recv_message()
        if t == b"Z":
            return out
        out.append(t + data)


def pg_text(addr) -> list[bytes]:
    c = PgClient(*addr)
    c._send(b"Q", QUERY.encode() + b"\x00")
    msgs = _messages_until_ready(c)
    c.terminate()
    return msgs


def pg_binary(addr) -> list[bytes]:
    c = PgClient(*addr)
    c.parse("s", QUERY)
    c.bind("p", "s", [], result_formats=[1])
    c.execute("p")
    c._send(b"S")
    msgs = _messages_until_ready(c)
    c.terminate()
    return msgs


def copy_out(addr, opts: str) -> list[bytes]:
    c = PgClient(*addr)
    c._send(b"Q", f"COPY ({QUERY}) TO STDOUT{opts}".encode() + b"\x00")
    msgs = _messages_until_ready(c)
    c.terminate()
    data = b"".join(m[1:] for m in msgs if m[:1] == b"d")
    return [m for m in msgs if m[:1] != b"d"] + data.splitlines(keepends=True)


def ch_body(base: str, fmt: str) -> list[bytes]:
    url = f"{base}/?{urllib.parse.urlencode({'query': f'{QUERY} FORMAT {fmt}'})}"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        return r.read().splitlines(keepends=True)


OUTPUTS = {
    "pg_text": lambda pg, ch: pg_text(pg),
    "pg_binary": lambda pg, ch: pg_binary(pg),
    "copy_text": lambda pg, ch: copy_out(pg, ""),
    "copy_csv_header": lambda pg, ch: copy_out(pg, " WITH (FORMAT csv, HEADER)"),
    "ch_tsv": lambda pg, ch: ch_body(ch, "TabSeparated"),
    "ch_csv": lambda pg, ch: ch_body(ch, "CSV"),
    "ch_json": lambda pg, ch: ch_body(ch, "JSONEachRow"),
}


@pytest.mark.parametrize("name", sorted(OUTPUTS))
def test_encoder_bytes(servers, name):
    got = OUTPUTS[name](*servers)
    want = EXPECTED[name]
    assert len(got) == len(want), got
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"{name} item {i}"


DECIMALS = (
    "SELECT k, CAST(v AS DECIMAL(38,10)) AS d38, CAST(v AS DECIMAL(18,4)) AS d18 "
    "FROM (VALUES (1, 0), (2, 0.0000001), (3, -0.0000000001), (4, -12345.6789012345), "
    "(5, 100), (6, 0.5)) AS t(k, v) ORDER BY k"
)


def test_decimal_text_matches_duckdb(servers, duck):
    """PG text cells, COPY CSV lines and CH TabSeparated lines carry
    decimals exactly as DuckDB prints them (0.0000000000, not 0E-10)."""
    want = duck.execute(
        f"SELECT CAST(k AS VARCHAR), CAST(d38 AS VARCHAR), CAST(d18 AS VARCHAR) "
        f"FROM ({DECIMALS}) ORDER BY k"
    ).fetchall()
    assert ("2", "0.0000001000", "0.0000") in want
    pg_addr, ch_base = servers
    c = PgClient(*pg_addr)
    assert c.simple_query(DECIMALS)[1] == want
    csv_text, _tag = c.copy_out(f"COPY ({DECIMALS}) TO STDOUT WITH (FORMAT csv)")
    assert csv_text.splitlines() == [",".join(r) for r in want]
    c.terminate()
    url = f"{ch_base}/?{urllib.parse.urlencode({'query': DECIMALS + ' FORMAT TabSeparated'})}"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.read().decode().splitlines() == ["\t".join(r) for r in want]
