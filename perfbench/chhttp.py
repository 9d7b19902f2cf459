"""Lean ClickHouse-HTTP client: one keep-alive connection, results
summarised like the PG client's (rows are lines; digest over line
bytes; gzip bodies decompressed as they stream)."""

from __future__ import annotations

import http.client
import time
import urllib.parse
import zlib

from pgwire import MASK, Result, row_hash


class ChConn:
    def __init__(self, host: str, port: int):
        self.host, self.port = host, port
        self.http = http.client.HTTPConnection(host, port, timeout=120)

    def close(self) -> None:
        self.http.close()

    def select(self, sql: str, gzip: bool = False, keep: bool = False) -> Result:
        headers = {"Accept-Encoding": "gzip"} if gzip else {}
        path = "/?" + urllib.parse.urlencode({"query": sql})
        res = Result()
        t0 = time.perf_counter()
        self.http.request("GET", path, headers=headers)
        resp = self.http.getresponse()
        dec = zlib.decompressobj(31) if resp.getheader("Content-Encoding") == "gzip" else None
        carry = b""
        payloads = [] if keep else None
        while True:
            chunk = resp.read1(1 << 18)
            if not chunk:
                break
            if res.first_row_s is None:
                res.first_row_s = time.perf_counter() - t0
            res.nbytes += len(chunk)
            if dec is not None:
                chunk = dec.decompress(chunk)
            lines = (carry + chunk).split(b"\n")
            carry = lines.pop()
            for line in lines:
                res.rows += 1
                res.digest = (res.digest + row_hash(line)) & MASK
                if payloads is not None:
                    payloads.append(line)
        res.latency_s = time.perf_counter() - t0
        res.payloads = payloads
        if resp.status != 200:
            res.ok, res.message = False, b"\n".join(payloads or [carry]).decode(errors="replace")
        return res

    def post(self, sql: str, body: bytes = b"") -> Result:
        """`INSERT … FORMAT f` with the rows as the request body, or a
        statement in the body when `sql` is empty."""
        path = "/?" + urllib.parse.urlencode({"query": sql}) if sql else "/"
        t0 = time.perf_counter()
        self.http.request("POST", path, body=body)
        resp = self.http.getresponse()
        text = resp.read()
        res = Result(latency_s=time.perf_counter() - t0)
        if resp.status != 200:
            res.ok, res.message = False, text.decode(errors="replace")
        return res
