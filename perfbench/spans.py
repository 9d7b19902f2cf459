"""Benchmark-owned tracing: wrappers around the calls into each layer's
public functions, installed only in traced runs.

A span records its duration and its self time (duration minus the time
of child spans on the same thread). Spans nest through a per-thread
stack; coroutine spans (`drain`, Describe) are leaves, since other
coroutines interleave with them on the loop thread. Totals are kept in
memory, per thread, and written out once when the process ends."""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time

_perf = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self._local = threading.local()
        self._tables: list[dict] = []
        self._lock = threading.Lock()
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}

    def _state(self):
        st = getattr(self._local, "st", None)
        if st is None:
            st = self._local.st = ([], {})
            with self._lock:
                self._tables.append(st[1])
        return st

    def top(self) -> str | None:
        stack = self._state()[0]
        return stack[-1][0] if stack else None

    def record(self, name: str, dur: float) -> None:
        """A leaf span: its self time is its duration."""
        rec = self._state()[1].setdefault(name, [0, 0.0, 0.0])
        rec[0] += 1
        rec[1] += dur
        rec[2] += dur

    def add(self, name: str, value: float = 1) -> None:
        # counters are bumped from many threads; a lock keeps them exact
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + value

    def reset(self) -> None:
        """Forget everything recorded so far, except set-up times: the
        measurement window starts now."""
        with self._lock:
            for t in self._tables:
                t.clear()
            self.counters = {k: v for k, v in self.counters.items() if k.startswith("session.")}
            for v in self.samples.values():
                v.clear()

    def span(self, name: str, fn):
        """Wrap a plain function, a coroutine function or a generator
        function (each `next` is timed, not the time between them)."""
        if inspect.iscoroutinefunction(fn):

            @functools.wraps(fn)
            async def aw(*a, **k):
                t0 = _perf()
                try:
                    return await fn(*a, **k)
                finally:
                    self.record(name, _perf() - t0)

            return aw
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gw(*a, **k):
                return self.timed_iter(name, fn(*a, **k))

            return gw

        @functools.wraps(fn)
        def w(*a, **k):
            stack, table = self._state()
            frame = [name, 0.0]
            stack.append(frame)
            t0 = _perf()
            try:
                return fn(*a, **k)
            finally:
                d = _perf() - t0
                stack.pop()
                if stack:
                    stack[-1][1] += d
                rec = table.setdefault(name, [0, 0.0, 0.0])
                rec[0] += 1
                rec[1] += d
                rec[2] += d - frame[1]

        return w

    def timed_iter(self, name: str, it):
        step = self.span(name, lambda: next(it, _END))
        while True:
            v = step()
            if v is _END:
                return
            yield v

    def wrap_attr(self, owner, attr: str, name: str) -> None:
        setattr(owner, attr, self.span(name, getattr(owner, attr)))

    def totals(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        with self._lock:
            tables = list(self._tables)
        for t in tables:
            for k, (n, tot, slf) in list(t.items()):
                r = out.setdefault(k, [0, 0.0, 0.0])
                r[0] += n
                r[1] += tot
                r[2] += slf
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "spans": self.totals(),
                    "counters": self.counters,
                    "samples": self.samples,
                    "wrapper_cost_s": wrapper_cost(),
                    **(extra or {}),
                },
                f,
            )
        os.replace(tmp, path)


_END = object()


def wrapper_cost(n: int = 20000) -> float:
    """Seconds one traced call adds over a bare call, measured here."""
    t = Tracer()
    f = t.span("x", lambda: None)
    g = lambda: None  # noqa: E731
    best = []
    for fn in (g, f):
        t0 = _perf()
        for _ in range(n):
            fn()
        best.append((_perf() - t0) / n)
    return max(0.0, best[1] - best[0])


TRACER = Tracer()


def install_session(tracer: Tracer = TRACER) -> None:
    """Session layer: Spark start, view registration, Engine set-up; and
    the SparkSession.sql hook that splits front-end probes from the
    statement's own analysis (the call made directly by Engine.query or
    Engine.execute)."""
    from duck_server_spark.engine import executor, session

    orig_get = session.get_session

    @functools.wraps(orig_get)
    def get_session(*a, **k):
        t0 = _perf()
        spark = orig_get(*a, **k)
        tracer.counters["session.spark_start_s"] = _perf() - t0
        sql = spark.sql
        probe = tracer.span("frontend.probe", sql)
        analysis = tracer.span("catalyst.analysis", sql)

        def traced_sql(*a, **k):
            top = tracer.top()
            if top in ("frontend.query", "frontend.execute"):
                return analysis(*a, **k)
            if top is None:
                return sql(*a, **k)
            return probe(*a, **k)

        spark.sql = traced_sql
        return spark

    session.get_session = get_session
    orig_views = session.register_views

    def register_views(*a, **k):
        t0 = _perf()
        orig_views(*a, **k)
        tracer.counters.setdefault("session.register_views_s", _perf() - t0)

    session.register_views = register_views
    orig_init = executor.Engine.__init__

    def engine_init(self, *a, **k):
        t0 = _perf()
        orig_init(self, *a, **k)
        tracer.counters["session.engine_init_s"] = _perf() - t0

    executor.Engine.__init__ = engine_init


def install_engine(tracer: Tracer = TRACER) -> None:
    """Front end, Catalyst phases, result transfer and ingest."""
    from duck_server_spark.engine import executor, macros, transactions
    from duck_server_spark.plans import rewrites
    from duck_server_spark.sources import ingest

    E = executor.Engine
    tracer.wrap_attr(E, "query", "frontend.query")
    tracer.wrap_attr(E, "execute", "frontend.execute")
    tracer.wrap_attr(E, "_prepare_sql", "frontend.prepare")
    for fn in ("rewrite_pg_query", "rewrite_ch_query", "normalize_literals"):
        tracer.wrap_attr(rewrites, fn, "frontend.rewrite")
    tracer.wrap_attr(macros, "expand_calls", "frontend.rewrite")
    mask = rewrites._mask_literals

    def counted_mask(q):
        tracer.add("frontend.mask_literals_calls")
        return mask(q)

    rewrites._mask_literals = counted_mask

    # transfer: the consumer's waits on the producer thread's queue
    B = executor._BatchStream
    orig_bs_init, orig_next, orig_produce = B.__init__, B.next_batch, B._produce

    def bs_init(self, *a, **k):
        self._t0 = _perf()
        self._first = True
        orig_bs_init(self, *a, **k)

    def next_batch(self, *a, **k):
        t0 = _perf()
        try:
            batch = orig_next(self, *a, **k)
        finally:
            t1 = _perf()
            tracer.record("transfer.wait", t1 - t0)
        if self._first:
            self._first = False
            tracer.record("transfer.first_batch", t1 - self._t0)
        if batch:
            tracer.add("transfer.rows", len(batch))
            tracer.add("transfer.batches")
        return batch

    def produce(self, df, *a, **k):
        try:
            return orig_produce(self, df, *a, **k)
        finally:
            _read_phases(tracer, df)

    B.__init__, B.next_batch, B._produce = bs_init, next_batch, produce

    # ingest: micro-batch flush, validate-then-append, copy-on-write
    tracer.wrap_attr(ingest.BatchAppender, "flush", "ingest.flush")
    orig_gated = transactions.gated_append

    def gated_append(spark, table, df, validate=None):
        v = tracer.span("ingest.validate", validate) if validate else None
        return orig_gated(spark, table, df, validate=v)

    transactions.gated_append = tracer.span("ingest.append", gated_append)
    for fn in ("_copy_on_write_update", "_copy_on_write_delete", "_overwrite_table"):
        tracer.wrap_attr(E, fn, "ingest.cow_rewrite")


def _read_phases(tracer: Tracer, df) -> None:
    """Catalyst phase times of a finished statement, from its
    QueryExecution's tracker."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                tracer.add(f"catalyst.{ph}_s", opt.get().durationMs() / 1000.0)
        tracer.add("catalyst.statements")
    except Exception:  # noqa: BLE001 — a closed session at shutdown
        pass


def install_wire(tracer: Tracer = TRACER) -> None:
    """PG and CH protocol layers and the value codecs in engine/types."""
    import asyncio

    from duck_server_spark.server.ch import http_server
    from duck_server_spark.server.pg import wire_server as ws
    from duck_server_spark.sources import formats

    C = ws.PgConnection
    for fn in ("_parse_msg", "_bind_msg", "_describe_msg"):
        tracer.wrap_attr(C, fn, "pg.decode")
    for fn in ("send_row_description", "send_data_row"):
        tracer.wrap_attr(C, fn, "pg.encode")
    orig_send = C._send

    def send(self, msg_type, payload=b""):
        tracer.add("pg.bytes_out", len(payload) + 5)
        if msg_type == b"D":
            tracer.add("pg.rows_out")
        elif msg_type == b"d":
            tracer.add("pg.rows_out", payload.count(b"\n"))
        return orig_send(self, msg_type, payload)

    C._send = send
    tracer.wrap_attr(asyncio.StreamWriter, "drain", "pg.drain_wait")
    for fn in ("render_pg_text", "render_pg_binary"):
        tracer.wrap_attr(ws, fn, "types.render")
    tracer.wrap_attr(ws, "parse_csv_cell", "types.parse")
    for fn in ("render_ch_text", "render_json_value"):
        tracer.wrap_attr(formats, fn, "types.render")
    tracer.wrap_attr(formats, "parse_csv_cell", "types.parse")

    for cls in {*formats.WRITERS.values()}:
        for k in cls.__mro__:
            if "write_row" in k.__dict__ and k is not formats.FormatWriter:
                if not getattr(k.write_row, "_traced", False):
                    k.write_row = _counted_span(tracer, "ch.encode", "ch.rows_out", k.write_row)
    for cls in {*formats.READERS.values()}:
        for k in cls.__mro__:
            for fn in ("feed", "finish"):
                f = k.__dict__.get(fn)
                if f is not None and k is not formats.FormatReader and not getattr(f, "_traced", False):
                    w = _iter_span(tracer, "ch.decode", f)
                    w._traced = True
                    setattr(k, fn, w)
    H = http_server.ChRequestHandler
    orig_chunk = H._write_chunk

    def write_chunk(self, data):
        tracer.add("ch.bytes_out", len(data))
        return orig_chunk(self, data)

    H._write_chunk = write_chunk

    orig_serve = ws.PgServer.serve_forever

    async def serve_forever(self):
        tracer.tick = asyncio.get_running_loop().create_task(_loop_ticks(tracer))
        return await orig_serve(self)

    ws.PgServer.serve_forever = serve_forever


def _counted_span(tracer: Tracer, name: str, counter: str, fn):
    timed = tracer.span(name, fn)

    def w(*a, **k):
        tracer.add(counter)
        return timed(*a, **k)

    w._traced = True
    return w


def _iter_span(tracer: Tracer, name: str, fn):
    """feed/finish return iterators; time the iteration, not the call."""

    @functools.wraps(fn)
    def w(*a, **k):
        return tracer.timed_iter(name, iter(fn(*a, **k)))

    return w


async def _loop_ticks(tracer: Tracer, period: float = 0.01) -> None:
    """Lateness of a 10 ms tick on the server's event loop."""
    import asyncio

    lag = tracer.samples.setdefault("pg.loop_lag_s", [])
    while True:
        t0 = _perf()
        await asyncio.sleep(period)
        lag.append(_perf() - t0 - period)
        if len(lag) > 200_000:
            del lag[:100_000]
