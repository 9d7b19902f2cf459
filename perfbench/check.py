"""Output checks: canonical, order-insensitive comparison of a server
result against DuckDB run on the same parquet files."""

from __future__ import annotations

import csv
import decimal
import hashlib
import io
import json

import duckdb

from fixture import TABLES


def canon(v):
    """One value → a comparable string: numbers to 9 significant digits
    (float aggregates may differ in the last bits), lists/structs as the
    PG text form, everything else as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float, decimal.Decimal)):
        return f"{float(v):.9g}"
    if isinstance(v, (list, tuple)):
        return "{" + ",".join("NULL" if x is None else canon(x) for x in v) + "}"
    if isinstance(v, dict):
        return json.dumps(v, separators=(",", ":"), sort_keys=True)
    s = str(v)
    try:
        return f"{float(s):.9g}"
    except ValueError:
        return s


def digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of canonical rows."""
    keys = sorted(repr(tuple(canon(v) for v in r)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]


def split_text_copy(lines) -> list[tuple]:
    out = []
    for line in lines:
        cells = line.decode().split("\t")
        out.append(tuple(None if c in ("\\N",) else c.replace("\\t", "\t").replace("\\\\", "\\") for c in cells))
    return out


def split_csv(lines) -> list[tuple]:
    out = []
    for line in lines:
        raw = line.decode()
        cells = next(csv.reader(io.StringIO(raw)))
        # PG CSV NULL is an unquoted empty field
        out.append(tuple(None if (c == "" and '""' not in raw) else c for c in cells))
    return out


def split_json(lines) -> list[tuple]:
    return [tuple(json.loads(line).values()) for line in lines]


class Oracle:
    def __init__(self, fixture_dir: str, setup_sql: list[str] = ()):
        self.con = duckdb.connect(config={"threads": 2})
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
            )
        for s in setup_sql:
            self.con.execute(s)

    def rows(self, sql: str, params: list | None = None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def digest(self, sql: str, params: list | None = None) -> tuple[int, str]:
        return digest(self.rows(sql, params))
