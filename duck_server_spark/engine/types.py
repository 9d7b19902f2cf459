"""Type mapping + value rendering: Spark SQL types ↔ PG OIDs ↔ ClickHouse
type names, plus the result renderers. Results arrive as Arrow record
batches, and each output kind (PG text, PG binary, CH text, JSON) has
one column renderer that turns an Arrow column into a column of cells;
the per-value render_* functions serve the nested columns (arrays,
maps, structs) and the types without a vectorized renderer.

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
from json.encoder import encode_basestring_ascii
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema

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
        return format(v, "f")
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
        return format(v, "f")
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
        return format(v, "f")
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
    """One result cell of a type without a fixed-width binary layout
    (pg_binary_column encodes those a column at a time) → PG binary
    value. None → SQL NULL (wire length -1, handled by the caller).
    Decimals get numeric's binary form; other types fall back to the
    text bytes of the cell — matching servers that degrade gracefully
    is kinder than erroring mid-row, and the RowDescription already
    told the client the OID."""
    if v is None:
        return None
    if isinstance(dt, T.DecimalType):
        return _numeric_binary(decimal.Decimal(v))
    return render_pg_text(v).encode()


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


# ------------------------------------------------------- column renderers
#
# Results arrive as Arrow record batches and are rendered a column at a
# time: each renderer maps an Arrow column to an Arrow string (or
# binary) column of cells, NULL where the value is NULL, and the
# encoders assemble rows from those columns. Floats are rendered with
# repr (Arrow's cast spells 17.0 as 17 and 1e15 as 1e+15); decimals in
# plain notation at the column's scale, as DuckDB prints them.

_PG_FLOAT = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}
_JSON_FLOAT = {"nan": "null", "inf": "null", "-inf": "null"}
_BINARY_NUMBERS = {
    T.ShortType: ">i2",
    T.ByteType: ">i4",
    T.IntegerType: ">i4",
    T.LongType: ">i8",
    T.FloatType: ">f4",
    T.DoubleType: ">f8",
}
_INTEGERS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TIMESTAMPS = (T.TimestampType, T.TimestampNTZType)
_PG_EPOCH_DAYS = (_PG_EPOCH_DATE - datetime.date(1970, 1, 1)).days  # Arrow counts from 1970
_PG_EPOCH_US = _PG_EPOCH_DAYS * 86_400_000_000


def record_batch(rows: list[tuple], schema: T.StructType) -> pa.RecordBatch:
    """Python rows → one record batch of `schema`, for results the
    server computes itself."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def _py_values(col: pa.Array, dt: T.DataType) -> list:
    """A column's values as the Python objects PySpark rows carry
    (map → dict, struct → Row, day-time interval → timedelta)."""
    schema = T.StructType([T.StructField("c", dt)])
    rows = ArrowTableToRowsConversion.convert(
        pa.table([col], names=["c"]), schema, return_as_tuples=True
    )
    return [r[0] for r in rows]


def _per_value(col: pa.Array, dt: T.DataType, render, kind=pa.string()) -> pa.Array:
    return pa.array([None if v is None else render(v) for v in _py_values(col, dt)], kind)


def _null_mask(col: pa.Array) -> np.ndarray | None:
    return col.is_null().to_numpy(zero_copy_only=False) if col.null_count else None


def _float_text(col: pa.Array, spelling: dict | None) -> pa.Array:
    """repr of each value; `spelling` renames nan, inf and -inf."""
    vals = col.to_numpy(zero_copy_only=False)  # NULLs read as NaN, masked below
    out = list(map(repr, vals.tolist()))
    if spelling and not np.isfinite(vals).all():
        out = [spelling.get(s, s) for s in out]
    return pa.array(out, pa.string(), mask=_null_mask(col))


def _decimal_text(col: pa.Array) -> pa.Array:
    """Plain notation at the column's scale. Arrow's cast, like
    str(Decimal), switches to E-notation below 1e-6 (0.E-10)."""
    out = col.cast(pa.string())
    if pc.any(pc.match_substring(out, "E")).as_py():
        out = pa.array(
            [None if v is None else format(v, "f") for v in col.to_pylist()], pa.string()
        )
    return out


def _timestamp_text(col: pa.Array) -> pa.Array:
    """_render_ts a column at a time: the whole seconds as
    'YYYY-MM-DD HH:MM:SS' (Arrow's cast of timestamp[s]; pc.strftime is
    ~30× slower), then '.%06d' where the microseconds are non-zero."""
    secs, micros = np.divmod(col.cast(pa.int64()).fill_null(0).to_numpy(), 1_000_000)
    out = pa.array(secs, pa.timestamp("s"), mask=_null_mask(col)).cast(pa.string())
    if micros.any():
        frac = pc.utf8_lpad(pa.array(micros).cast(pa.string()), 6, "0")
        out = pc.if_else(pa.array(micros != 0), pc.binary_join_element_wise(out, frac, "."), out)
    return out


def _text_column(col, dt, true: str, false: str, floats, hex_prefix: str, render) -> pa.Array:
    if isinstance(dt, T.NullType):
        return pa.nulls(len(col), pa.string())
    if isinstance(dt, T.BooleanType):
        return pc.if_else(col, true, false)
    if isinstance(dt, (*_INTEGERS, T.DateType)):
        return col.cast(pa.string())
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return _float_text(col, floats)
    if isinstance(dt, T.DecimalType):
        return _decimal_text(col)
    if isinstance(dt, _TIMESTAMPS):
        return _timestamp_text(col)
    if isinstance(dt, T.StringType):
        return col
    if isinstance(dt, T.BinaryType):
        return pa.array(
            [None if b is None else hex_prefix + b.hex() for b in col.to_pylist()], pa.string()
        )
    return _per_value(col, dt, render)  # arrays, maps, structs, intervals, …


def pg_text_column(col: pa.Array, dt: T.DataType) -> pa.Array:
    """render_pg_text, a column at a time."""
    return _text_column(col, dt, "t", "f", _PG_FLOAT, "\\x", render_pg_text)


def ch_text_column(col: pa.Array, dt: T.DataType) -> pa.Array:
    """render_ch_text, a column at a time; NULL stays NULL for each
    format to spell."""
    return _text_column(col, dt, "1", "0", None, "", render_ch_text)


def _json_strings(col: pa.Array) -> pa.Array:
    """JSON string literals, escaped as json.dumps does (ASCII only)."""
    if pc.any(pc.match_substring_regex(col, r'[^ -~]|["\\]')).as_py():
        return pa.array(
            [None if s is None else encode_basestring_ascii(s) for s in col.to_pylist()],
            pa.string(),
        )
    return pc.binary_join_element_wise('"', col, '"', "")


def json_column(col: pa.Array, dt: T.DataType) -> pa.Array:
    """json.dumps(render_json_value(v)), a column at a time; 'null' for
    NULL."""
    if isinstance(dt, T.BooleanType):
        out = pc.if_else(col, "true", "false")
    elif isinstance(dt, _INTEGERS):
        out = col.cast(pa.string())
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        out = _float_text(col, _JSON_FLOAT)
    elif isinstance(dt, T.StringType):
        out = _json_strings(col)
    elif isinstance(dt, (T.DecimalType, T.DateType, *_TIMESTAMPS, T.BinaryType)):
        out = _json_strings(ch_text_column(col, dt))
    else:
        out = _per_value(
            col, dt, lambda v: json.dumps(render_json_value(v), separators=(",", ":"))
        )
    return out.fill_null("null")


def _fixed_cells(values: np.ndarray, col: pa.Array) -> pa.Array:
    """Fixed-width big-endian values → a binary column, NULL (and
    empty) where col is NULL."""
    n, width = len(values), values.dtype.itemsize
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    validity = None
    if col.null_count:
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        values = values[valid]
        offsets[1:] = np.cumsum(valid * width)
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(values))],
        null_count=col.null_count,
    )


def pg_binary_column(col: pa.Array, dt: T.DataType) -> pa.Array:
    """render_pg_binary, a column at a time: a binary column of PG
    binary cells."""
    fmt = _BINARY_NUMBERS.get(type(dt))
    if fmt is not None:
        return _fixed_cells(col.fill_null(0).to_numpy().astype(fmt), col)
    if isinstance(dt, T.BooleanType):
        return _fixed_cells(col.fill_null(False).to_numpy(zero_copy_only=False).astype(np.uint8), col)
    if isinstance(dt, T.DateType):
        days = col.cast(pa.int32()).fill_null(0).to_numpy() - _PG_EPOCH_DAYS
        return _fixed_cells(days.astype(">i4"), col)
    if isinstance(dt, _TIMESTAMPS):
        micros = col.cast(pa.int64()).fill_null(0).to_numpy() - _PG_EPOCH_US
        return _fixed_cells(micros.astype(">i8"), col)
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return col
    return _per_value(col, dt, lambda v: render_pg_binary(v, dt), pa.binary())


# ------------------------------------------------------- row assembly


def offsets_and_data(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A string or binary column's value offsets (len + 1 of them) and
    its data buffer, as numpy arrays; col[i] is data[off[i]:off[i+1]]."""
    large = pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type)
    kind = np.int64 if large else np.int32
    _validity, offsets, data = col.buffers()
    off = np.frombuffer(offsets, kind, len(col) + 1, col.offset * kind().itemsize)
    return off, np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)


def join_rows(pieces: list) -> bytes:
    """Concatenate string columns (without NULLs) and literal strings
    row by row → every row's bytes, back to back."""
    rows = pc.binary_join_element_wise(*pieces, "")
    off, data = offsets_and_data(rows)
    return data[off[0] : off[-1]].tobytes()


def delimited_rows(cells: list[pa.Array], sep: str) -> bytes:
    """One line per row: its cells joined by `sep`."""
    pieces = [x for c in cells for x in (sep, c)][1:]
    return join_rows(pieces + ["\n"])


def tsv_escape(cells: pa.Array) -> pa.Array:
    """Backslash-escape backslash, tab, LF and CR (PG COPY text, CH
    TabSeparated)."""
    if pc.any(pc.match_substring_regex(cells, r"[\\\t\n\r]")).as_py():
        for raw, esc in (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r")):
            cells = pc.replace_substring(cells, raw, esc)
    return cells


def csv_quote(cells: pa.Array, specials: str) -> pa.Array:
    """Double-quote the cells holding a character of `specials`,
    doubling their quotes (RFC 4180)."""
    needs = pc.match_substring_regex(cells, f"[{specials}]")
    if not pc.any(needs).as_py():
        return cells
    quoted = pc.binary_join_element_wise('"', pc.replace_substring(cells, '"', '""'), '"', "")
    return pc.if_else(needs, quoted, cells)


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
