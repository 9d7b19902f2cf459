"""Type mapping + value rendering: Spark SQL types ↔ PG OIDs ↔ ClickHouse
type names, plus the two text renderers (PG wire cells, CH formats).

Reference parity: /root/reference/pg_types.go:13-56 (OID table),
/root/reference/duckdb_types.go:9-33 (duck→pg names),
/root/reference/ch_format.go:167-184 (duck→CH names),
/root/reference/duckdb_types.go:85-125 (CH value rendering: `\\N` nulls,
1/0 booleans, `{a,b}` lists) and pg_types.go:57-133 (PG text cells:
t/f booleans, PG array literals, JSON maps).

We deliberately fix the reference's OID quirks (SURVEY.md Q3/Q4):
INTEGER → OID 23 (not 21), TIMESTAMP values carry OID 1114 (not text 25).
Unknown types fall back to string rendering instead of panicking (Q7).
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
from typing import Any

from pyspark.sql import types as T

# PG OIDs (public catalog constants)
OID_BOOL = 16
OID_BYTEA = 17
OID_CHAR = 18
OID_INT8 = 20
OID_INT2 = 21
OID_INT4 = 23
OID_TEXT = 25
OID_JSON = 114
OID_FLOAT4 = 700
OID_FLOAT8 = 701
OID_DATE = 1082
OID_TIMESTAMP = 1114
OID_TIMESTAMPTZ = 1184
OID_NUMERIC = 1700


def spark_type_to_pg_oid(dt: T.DataType) -> int:
    """Spark type → PG OID for RowDescription (derived from df.schema —
    better than the reference's first-row value sniffing, pg_conn.go:353)."""
    if isinstance(dt, T.BooleanType):
        return OID_BOOL
    if isinstance(dt, T.ByteType):
        return OID_CHAR
    if isinstance(dt, T.ShortType):
        return OID_INT2
    if isinstance(dt, T.IntegerType):
        return OID_INT4
    if isinstance(dt, T.LongType):
        return OID_INT8
    if isinstance(dt, T.FloatType):
        return OID_FLOAT4
    if isinstance(dt, T.DoubleType):
        return OID_FLOAT8
    if isinstance(dt, T.DecimalType):
        return OID_NUMERIC
    if isinstance(dt, T.DateType):
        return OID_DATE
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return OID_TIMESTAMP
    if isinstance(dt, T.BinaryType):
        return OID_BYTEA
    if isinstance(dt, T.ArrayType):
        return OID_TEXT  # rendered as PG array literal (pg_types.go:109)
    if isinstance(dt, T.MapType):
        return OID_JSON  # JSON-marshalled (pg_types.go:120)
    return OID_TEXT


def spark_type_to_ch_name(dt: T.DataType) -> str:
    """Spark type → ClickHouse type name (ch_format.go:167-184 semantics)."""
    if isinstance(dt, T.BooleanType):
        return "UInt8"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "Int16"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "Float64"
    if isinstance(dt, T.DateType):
        return "Date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "DateTime"
    return "String"  # decimals, strings, arrays, maps (ch_format.go:180 fallback)


def spark_type_to_pg_name(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.DecimalType):
        return "numeric"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    return "text"


def duckdb_type_name(dt: T.DataType) -> str:
    """Spark DataType → DuckDB's DESCRIBE type spelling (pinned against
    live DuckDB in tests/test_compat.py)."""
    if isinstance(dt, T.ArrayType):
        return duckdb_type_name(dt.elementType) + "[]"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({duckdb_type_name(dt.keyType)}, "
            f"{duckdb_type_name(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {duckdb_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    return {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "float": "FLOAT",
        "double": "DOUBLE",
        "string": "VARCHAR",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB",
    }.get(dt.simpleString(), dt.simpleString().upper())


_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _render_ts(v: datetime.datetime) -> str:
    # reference format: '2006-01-02 15:04:05' + fractional if present
    # (duckdb_types.go:112 uses seconds precision; we keep micros when set)
    if v.microsecond:
        return v.strftime(_TS_FMT + ".%f")
    return v.strftime(_TS_FMT)


def render_pg_text(v: Any) -> str | None:
    """One result cell → PG text-format value (pg_types.go:57-133).
    None → SQL NULL (wire length -1, handled by the caller)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"  # pg_types.go:59-66
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return repr(v)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return _render_ts(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return "\\x" + v.hex()
    if isinstance(v, (list, tuple)):
        # PG array literal (pg_types.go:109-119)
        return "{" + ",".join("NULL" if x is None else _pg_array_elem(x) for x in v) + "}"
    if isinstance(v, dict):
        return json.dumps(v, separators=(",", ":"), sort_keys=True)  # pg_types.go:120-128
    return str(v)


def _pg_array_elem(x: Any) -> str:
    s = render_pg_text(x)
    assert s is not None
    if isinstance(x, str) and any(c in s for c in ',{}" \\'):
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return s


def render_ch_text(v: Any) -> str:
    """One result cell → ClickHouse TSV/CSV text (duckdb_types.go:85-125):
    `\\N` nulls, 1/0 booleans, `{a,b}` lists, seconds-precision times."""
    if v is None:
        return "\\N"  # duckdb_types.go:88
    if isinstance(v, bool):
        return "1" if v else "0"  # duckdb_types.go:101-106
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return repr(v)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return _render_ts(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "{" + ",".join(render_ch_text(x) for x in v) + "}"  # duckdb_types.go:115-120
    if isinstance(v, dict):
        return json.dumps(v, separators=(",", ":"), sort_keys=True)
    return str(v)


def render_json_value(v: Any) -> Any:
    """One result cell → JSON-serializable value (JSONEachRow)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return None
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return _render_ts(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "__fields__"):  # pyspark Row (named struct) → object,
        # matching modern ClickHouse's named-tuple-as-object JSONEachRow
        # rendering and making SELECT→INSERT roundtrips type-preserving
        return {k: render_json_value(x) for k, x in zip(v.__fields__, v)}
    if isinstance(v, (list, tuple)):
        return [render_json_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): render_json_value(x) for k, x in v.items()}
    return str(v)


# --------------------------------------------------------------- binary wire
#
# PG binary result format (Bind result-format code 1). Parity-PLUS over the
# reference, which always sends text (pg_conn.go:379) and parses-then-
# ignores format codes (message.go:449-455) — a psycopg3/JDBC binary-mode
# client gets real binary DataRows here. Layouts are the documented
# send/recv formats of the PG catalog types.

_PG_EPOCH_DATE = datetime.date(2000, 1, 1)
_PG_EPOCH_TS = datetime.datetime(2000, 1, 1)


def render_pg_binary(v: Any, dt: T.DataType) -> bytes | None:
    """One result cell → PG binary-format value. None → SQL NULL
    (wire length -1, handled by the caller). Types without a binary
    serializer here fall back to the text bytes of the cell — matching
    servers that degrade gracefully is kinder than erroring mid-row, and
    the RowDescription already told the client the OID."""
    import struct

    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(dt, T.ShortType):
        return struct.pack(">h", int(v))
    if isinstance(dt, (T.IntegerType, T.ByteType)):
        return struct.pack(">i", int(v))
    if isinstance(dt, T.LongType):
        return struct.pack(">q", int(v))
    if isinstance(dt, T.FloatType):
        return struct.pack(">f", float(v))
    if isinstance(dt, T.DoubleType):
        return struct.pack(">d", float(v))
    if isinstance(dt, T.DateType):
        return struct.pack(">i", (v - _PG_EPOCH_DATE).days)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        ts = v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
        delta = ts - _PG_EPOCH_TS
        micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        return struct.pack(">q", micros)
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.DecimalType):
        return _numeric_binary(decimal.Decimal(v))
    if isinstance(dt, T.StringType):
        return str(v).encode()
    s = render_pg_text(v)
    return b"" if s is None else s.encode()


def _numeric_binary(d: decimal.Decimal) -> bytes:
    """PG numeric binary: ndigits, weight, sign, dscale + base-10000
    digits (the documented NumericVar send format)."""
    import struct

    sign = 0x4000 if d < 0 else 0x0000
    d = abs(d)
    exp = d.as_tuple().exponent
    dscale = max(0, -exp)
    # scale the integer mantissa into base-10000 "digits" aligned to the
    # decimal point: pad the fraction out to a multiple of 4 places
    pad = (-dscale) % 4
    scaled = int(d.scaleb(dscale + pad))
    frac_groups = (dscale + pad) // 4
    digits: list[int] = []
    while scaled:
        digits.append(scaled % 10_000)
        scaled //= 10_000
    digits.reverse()
    if not digits:
        return struct.pack(">hhhh", 0, 0, sign, dscale)
    weight = len(digits) - frac_groups - 1
    while digits and digits[-1] == 0:  # strip trailing zero groups
        digits.pop()
    return struct.pack(">hhhh", len(digits), weight, sign, dscale) + b"".join(
        struct.pack(">h", g) for g in digits
    )


def coerce_text_param(s: str) -> Any:
    """Bind-parameter coercion: try int → float → string, exactly the
    reference's tryParseValue (message.go:430-438)."""
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s


def parse_csv_cell(s: str, dt: T.DataType) -> Any:
    """String cell → typed value for ingest (duckdb_types.go:39-71
    converter table). `\\N` is the NULL marker; an empty cell is the
    empty STRING for string columns (the reference's VARCHAR converter
    returns the input verbatim, duckdb_types.go:44-46) and NULL for
    every other type (where the reference would error on '')."""
    if s == "\\N":
        return None
    if s == "":
        return "" if isinstance(dt, T.StringType) else None
    if isinstance(dt, T.BooleanType):
        return s.lower() in ("t", "true", "1")
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(s)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(s)
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(s)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(s)
    if isinstance(dt, T.BinaryType):
        return bytes.fromhex(s.removeprefix("\\x"))
    return s


def _numeric_from_binary(raw: bytes) -> decimal.Decimal:
    """Inverse of _numeric_binary: PG numeric wire value → Decimal."""
    import struct

    ndigits, weight, sign, dscale = struct.unpack(">hhhh", raw[:8])
    digits = struct.unpack(f">{ndigits}h", raw[8 : 8 + 2 * ndigits])
    val = decimal.Decimal(0)
    for i, g in enumerate(digits):
        val += decimal.Decimal(g).scaleb(4 * (weight - i))
    if sign == 0x4000:
        val = -val
    return val.quantize(decimal.Decimal(1).scaleb(-dscale)) if dscale else val


def decode_pg_binary_param(raw: bytes, oid: int) -> Any:
    """Bind parameter in binary format (format code 1) → Python value,
    keyed by the type OID the client declared in Parse. Completes the
    psycopg3/JDBC binary-mode story whose RESULT side landed in round 4:
    the reference misparses binary params as text (message.go:449-455
    unchecked TODO); decoding them properly is strictly better. Types
    without a decoder raise a clear error telling the client to send
    text — never silent garbage."""
    import struct

    if oid == 16:  # bool
        return raw != b"\x00"
    if oid == 21:  # int2
        return struct.unpack(">h", raw)[0]
    if oid == 23:  # int4
        return struct.unpack(">i", raw)[0]
    if oid == 20:  # int8
        return struct.unpack(">q", raw)[0]
    if oid == 700:  # float4
        return struct.unpack(">f", raw)[0]
    if oid == 701:  # float8
        return struct.unpack(">d", raw)[0]
    if oid == 1082:  # date: int4 days since 2000-01-01
        return _PG_EPOCH_DATE + datetime.timedelta(days=struct.unpack(">i", raw)[0])
    if oid in (1114, 1184):  # timestamp[tz]: int8 micros since 2000-01-01
        return _PG_EPOCH_TS + datetime.timedelta(
            microseconds=struct.unpack(">q", raw)[0]
        )
    if oid == 1700:  # numeric
        return _numeric_from_binary(raw)
    if oid == 17:  # bytea
        return bytes(raw)
    if oid in (25, 1043, 114, 3802, 18, 19):  # text-shaped: bytes ARE utf-8
        return raw.decode()
    raise ValueError(
        f"binary parameter with type OID {oid} not supported; send it as text"
    )
