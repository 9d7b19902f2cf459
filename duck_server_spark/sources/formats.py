"""ClickHouse I/O format codecs: JSONEachRow, CSV(WithNames),
TabSeparated(WithNames[AndTypes]).

Reference parity: /root/reference/ch_format.go (readers :86-146, writers
:148-226, registries :228-264). Same registry names, same content types,
same header semantics (names row, then CH type names row for
*AndTypes), `\\N` nulls, 1/0 booleans.

Writers encode one Arrow record batch at a time, a column at a time
(engine/types.py renders each column): the server streams a result's
batches through them as Spark's partitions arrive, so the codec never
holds a full result (O(batch) memory, matching the reference's
row-at-a-time relay, ch_server.go:211-222). Readers turn payload bytes
into typed row tuples for ingest.
"""

from __future__ import annotations

import csv
import io
import json
from collections.abc import Iterable, Iterator
from json.encoder import encode_basestring_ascii
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import types as T

from duck_server_spark.engine.types import (  # noqa: F401 — the render_* names are perfbench trace hooks
    ch_text_column,
    csv_quote,
    delimited_rows,
    join_rows,
    json_column,
    parse_csv_cell,
    render_ch_text,
    render_json_value,
    spark_type_to_ch_name,
    tsv_escape,
)
from duck_server_spark.sources.ingest import CsvChunkSplitter

# ---------------------------------------------------------------- writers


class FormatWriter:
    """Base: stream record batches → bytes chunks."""

    content_type = "text/plain; charset=utf-8"

    def __init__(self, schema: T.StructType):
        self.schema = schema

    def header(self) -> bytes:
        return b""

    def write_batch(self, batch: pa.RecordBatch) -> bytes:
        raise NotImplementedError


class _SVWriter(FormatWriter):
    delimiter = "\t"
    with_names = False
    with_types = False
    content_type = "text/tab-separated-values; charset=utf-8"

    def header(self) -> bytes:
        out = []
        if self.with_names:
            out.append(self.delimiter.join(f.name for f in self.schema.fields))
        if self.with_types:
            out.append(self.delimiter.join(spark_type_to_ch_name(f.dataType) for f in self.schema.fields))
        return ("".join(x + "\n" for x in out)).encode()

    def write_batch(self, batch: pa.RecordBatch) -> bytes:
        cells = [ch_text_column(c, f.dataType) for c, f in zip(batch.columns, self.schema.fields)]
        if self.delimiter == ",":
            # RFC-4180 quoting mirroring Go's csv.Writer (the reference):
            # quote when the field contains delimiter, quote, \r or \n —
            # Python's csv.writer leaves a bare \r unquoted, which its
            # own reader then rejects. NULL is the bare \N marker.
            cells = [csv_quote(c, ',"\r\n').fill_null("\\N") for c in cells]
        else:
            # TSV: escape embedded backslashes/tabs/newlines in VALUES,
            # then the \N marker verbatim for NULLs (duckdb_types.go:88)
            cells = [tsv_escape(c).fill_null("\\N") for c in cells]
        return delimited_rows(cells, self.delimiter)


class TabSeparatedWriter(_SVWriter):
    pass


class TabSeparatedWithNamesWriter(_SVWriter):
    with_names = True


class TabSeparatedWithNamesAndTypesWriter(_SVWriter):
    with_names = True
    with_types = True


class CSVWriter(_SVWriter):
    delimiter = ","
    content_type = "text/csv; charset=utf-8"


class CSVWithNamesWriter(CSVWriter):
    with_names = True


class JSONEachRowWriter(FormatWriter):
    content_type = "application/x-ndjson; charset=utf-8"

    def write_batch(self, batch: pa.RecordBatch) -> bytes:
        # one object per row, keyed by column name; a repeated name
        # keeps its first place and its last value, as a dict does
        last = {f.name: i for i, f in enumerate(self.schema.fields)}
        pieces = []
        for k, (name, i) in enumerate(last.items()):
            pieces.append(("{" if k == 0 else ",") + encode_basestring_ascii(name) + ":")
            pieces.append(json_column(batch.column(i), self.schema.fields[i].dataType))
        return join_rows(pieces + ["}\n"])


# ---------------------------------------------------------------- readers


class FormatReader:
    """Base: payload bytes → typed row tuples. Two APIs:

    - push: ``feed(chunk)`` yields rows completed by that chunk,
      ``finish()`` yields the tail — lets the server parse multi-MB
      ingests incrementally with O(chunk) memory;
    - pull: ``read(payload)`` = feed + finish for one-shot payloads.
    """

    skip_header_rows = 0

    def __init__(self, schema: T.StructType):
        self.schema = schema

    def feed(self, chunk: bytes) -> Iterator[tuple]:
        raise NotImplementedError

    def finish(self) -> Iterator[tuple]:
        raise NotImplementedError

    def read(self, payload: bytes) -> Iterator[tuple]:
        yield from self.feed(payload)
        yield from self.finish()


def _tsv_unescape(s: str) -> str:
    """Reverse the TSV writer's escaping (left-to-right scan — chained
    str.replace would corrupt a literal backslash-t)."""
    if "\\" not in s:
        return s
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n:
            nxt = s[i + 1]
            sub = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}.get(nxt)
            if sub is not None:
                out.append(sub)
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


class _SVReader(FormatReader):
    delimiter = "\t"

    def __init__(self, schema: T.StructType):
        super().__init__(schema)
        self._splitter = CsvChunkSplitter()
        self._seen = 0  # records parsed so far (for header skipping)

    def _parse(self, text: str) -> Iterator[tuple]:
        if not text:
            return
        if self.delimiter == "\t":
            # TSV is escape-based, not quote-based: split raw lines/tabs
            # (embedded \t/\n are escaped by the writer), unescape each
            # cell, with the exact marker `\N` as NULL *before* unescape.
            for line in text.split("\n"):
                line = line.removesuffix("\r")
                if line == "":
                    continue
                self._seen += 1
                if self._seen <= self.skip_header_rows:
                    continue
                cells = line.split("\t")
                yield tuple(
                    None if c == "\\N" else parse_csv_cell(_tsv_unescape(c), f.dataType)
                    for c, f in zip(cells, self.schema.fields)
                )
            return
        reader = csv.reader(io.StringIO(text), delimiter=self.delimiter)
        for cells in reader:
            self._seen += 1
            if self._seen <= self.skip_header_rows or not cells:
                continue
            yield tuple(
                parse_csv_cell(c, f.dataType) for c, f in zip(cells, self.schema.fields)
            )

    def feed(self, chunk: bytes) -> Iterator[tuple]:
        yield from self._parse(self._splitter.feed(chunk))

    def finish(self) -> Iterator[tuple]:
        yield from self._parse(self._splitter.finish())


class TabSeparatedReader(_SVReader):
    pass


class TabSeparatedWithNamesReader(_SVReader):
    skip_header_rows = 1


class CSVReader(_SVReader):
    delimiter = ","


class CSVWithNamesReader(CSVReader):
    skip_header_rows = 1


def _coerce_json(v: Any, dt: T.DataType) -> Any:
    """JSON value → Spark-ingestible value for the field type. JSON
    carries date/timestamp/decimal as strings (and sometimes ints as
    floats); createDataFrame rejects those raw, so coerce per-type
    (the SV readers get this via parse_csv_cell — same table)."""
    if v is None:
        return None
    if isinstance(v, str) and not isinstance(dt, T.StringType):
        return parse_csv_cell(v, dt)
    if isinstance(dt, T.DecimalType) and isinstance(v, (int, float)):
        import decimal

        return decimal.Decimal(str(v))
    if isinstance(dt, (T.FloatType, T.DoubleType)) and isinstance(v, int):
        return float(v)
    if (
        isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        and isinstance(v, float)
        and v.is_integer()
    ):
        return int(v)
    if isinstance(dt, T.BooleanType) and isinstance(v, int):
        return bool(v)
    if isinstance(dt, T.ArrayType) and isinstance(v, list):
        return [_coerce_json(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType) and isinstance(v, dict):
        # JSON object keys are strings; coerce both sides (a map<date,…>
        # or map<…,decimal> arrives with string keys/values)
        return {
            _coerce_json(k, dt.keyType): _coerce_json(x, dt.valueType)
            for k, x in v.items()
        }
    if isinstance(dt, T.StructType):
        # object form {"a":…} (ClickHouse named-tuple-as-object) or
        # positional array form [a, b] (classic Tuple rendering) — both
        # coerce per-field so nested dates/decimals land typed
        if isinstance(v, dict):
            return tuple(_coerce_json(v.get(f.name), f.dataType) for f in dt.fields)
        if isinstance(v, (list, tuple)):
            if len(v) != len(dt.fields):
                # zip would silently truncate extras / produce a short
                # tuple that dies deep inside createDataFrame — fail the
                # row here with an actionable message instead (r7 review)
                raise ValueError(
                    f"struct value arity {len(v)} does not match "
                    f"{dt.simpleString()} ({len(dt.fields)} fields)"
                )
            return tuple(
                _coerce_json(x, f.dataType) for x, f in zip(v, dt.fields)
            )
    return v


class JSONEachRowReader(FormatReader):
    def __init__(self, schema: T.StructType):
        super().__init__(schema)
        self._buf = ""

    def _parse(self, text: str) -> Iterator[tuple]:
        fields = self.schema.fields
        for line in text.splitlines():
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            yield tuple(_coerce_json(obj.get(f.name), f.dataType) for f in fields)

    def feed(self, chunk: bytes) -> Iterator[tuple]:
        # JSON strings escape newlines, so a raw '\n' always ends a record
        self._buf += chunk.decode()
        pos = self._buf.rfind("\n")
        if pos == -1:
            return
        text, self._buf = self._buf[: pos + 1], self._buf[pos + 1 :]
        yield from self._parse(text)

    def finish(self) -> Iterator[tuple]:
        text, self._buf = self._buf, ""
        yield from self._parse(text)


# --------------------------------------------------------------- registry
# Same names as ch_format.go:228-264 (TabSeparatedWithNamesAndTypes is
# output-only there too).

WRITERS: dict[str, Callable[[T.StructType], FormatWriter]] = {
    "TabSeparated": TabSeparatedWriter,
    "TSV": TabSeparatedWriter,
    "TabSeparatedWithNames": TabSeparatedWithNamesWriter,
    "TabSeparatedWithNamesAndTypes": TabSeparatedWithNamesAndTypesWriter,
    "CSV": CSVWriter,
    "CSVWithNames": CSVWithNamesWriter,
    "JSONEachRow": JSONEachRowWriter,
}

READERS: dict[str, Callable[[T.StructType], FormatReader]] = {
    "TabSeparated": TabSeparatedReader,
    "TSV": TabSeparatedReader,
    "TabSeparatedWithNames": TabSeparatedWithNamesReader,
    "CSV": CSVReader,
    "CSVWithNames": CSVWithNamesReader,
    "JSONEachRow": JSONEachRowReader,
}


def write_all(writer: FormatWriter, batches: Iterable[pa.RecordBatch]) -> Iterator[bytes]:
    h = writer.header()
    if h:
        yield h
    for batch in batches:
        yield writer.write_batch(batch)
