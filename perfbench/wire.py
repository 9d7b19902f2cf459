"""The `wire` workload's two phases, interactive and bulk: closed loops
over at most three connections (PG v3 and ClickHouse HTTP), each sending
its next request only after the previous reply arrived. Statement
inputs come from the seed."""

from __future__ import annotations

import functools
import itertools
import random
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import check
from chhttp import ChConn
from pgwire import PgConn, decode_rows

MACRO = "CREATE OR REPLACE MACRO add_tax(p, t) AS p * (1 + t)"
GENERIC_STATE = "SQL-0000"


@dataclass
class Op:
    """One request: what to send and how its result is checked.
    `check` is "oracle" (DuckDB on the same parquet), a pinned list of
    rows, "state:<SQLSTATE>" for a deliberate failure, or "ok"."""

    cls: str  # latency class: "stmt", "bulk", "load", "dml", "read"
    proto: str  # "q" simple, "x" extended text, "xb" extended binary, "copy", "csv", "ch", "chgz", "post", "copyin"
    sql: str
    params: list[str] = field(default_factory=list)
    check: object = "oracle"
    oracle_sql: str | None = None
    body: list[bytes] | bytes | None = None
    rows_in: int = 0
    on_ok: Callable[[], None] | None = None  # applied once acknowledged


@dataclass
class Done:
    op: Op
    res: object


# Engine error classes by SQLSTATE, for errors whose message names the
# class but not the code.
ERROR_CLASS = {"42P01": "TABLE_OR_VIEW_NOT_FOUND", "22003": "ARITHMETIC_OVERFLOW", "22012": "DIVIDE_BY_ZERO"}


def has_state(res, want: str) -> bool:
    """The error carries SQLSTATE `want`: in the C field, or — where the
    server's PG front end sends its generic code for an engine error —
    as the engine's SQLSTATE or error class in the message."""
    if res.sqlstate == want:
        return True
    if res.sqlstate not in (GENERIC_STATE, None):
        return False
    msg = res.message or ""
    return f"SQLSTATE: {want}" in msg or f"[{ERROR_CLASS.get(want, want)}]" in msg


# ------------------------------------------------------------- runner


class Loop:
    """One client: sends requests one at a time, over its own PG and/or
    CH connection, and keeps every result. Connections are opened per
    `drive` and closed after it."""

    def __init__(self, name: str, pg_port: int, ch_port: int, ops):
        self.name = name
        self.pg_port, self.ch_port = pg_port, ch_port
        self.pg = self.ch = None
        self.ops = ops  # iterator of Op
        self.deadline = 0.0
        self.done: list[Done] = []
        self.error: BaseException | None = None
        self.keys: set = set()
        self.retries = 0
        self.warmup: list[Op] = []
        self.pre: list[Done] = []

    def request(self, op: Op):
        """Send `op`; a serialization failure (40001, "retry the
        statement") is retried as a client would, up to five times."""
        res = self.send(op)
        for _ in range(5):
            if res.ok or not (res.sqlstate == "40001" or "(40001)" in res.message):
                break
            self.retries += 1
            res = self.send(op)
        if res.ok and op.on_ok is not None:
            op.on_ok()
        return res

    def send(self, op: Op):
        key = (op.proto, op.sql, tuple(op.params))
        keep = key not in self.keys and op.check != "ok"
        self.keys.add(key)
        if op.proto == "q":
            return self.pg.query(op.sql, keep)
        if op.proto in ("x", "xb"):
            return self.pg.extended(op.sql, op.params, op.proto == "xb", keep)
        if op.proto in ("copy", "csv"):
            return self.pg.query(op.sql, keep)
        if op.proto == "copyin":
            return self.pg.copy_in(op.sql, op.body)
        if op.proto in ("ch", "chgz"):
            return self.ch.select(op.sql, op.proto == "chgz", keep)
        if op.proto == "post":
            return self.ch.post(op.sql, op.body)
        raise ValueError(op.proto)

    def drive(self, ops, deadline: float, into: list) -> None:
        t_start = time.perf_counter()
        try:
            self.pg = PgConn("127.0.0.1", self.pg_port) if self.pg_port else None
            self.ch = ChConn("127.0.0.1", self.ch_port) if self.ch_port else None
            for sql in CONNECT if self.pg else ():
                res = self.pg.query(sql)
                if not res.ok:
                    raise RuntimeError(f"{sql}: {res.message}")
            for op in ops:
                if time.perf_counter() >= deadline:
                    break
                t0 = time.perf_counter()
                res = self.request(op)
                res.latency_s = time.perf_counter() - t0
                into.append(Done(op, res))
        except BaseException as e:  # noqa: BLE001 — reported by the caller
            self.error = e
        finally:
            self.span = time.perf_counter() - t_start
            for c in (self.pg, self.ch):
                if c is not None:
                    c.close()

    def run(self) -> None:
        self.drive(self.ops, self.deadline, self.done)

    def warm(self) -> None:
        """Pay first-use costs (code generation, first writes) before the
        window: a long-running server has paid them long ago."""
        self.drive(self.warmup, float("inf"), self.pre)


def warm_up(bulk: list[Loop], stmt: list[Loop]) -> float:
    """Both phases' warm-up requests, on the bulk phase's three
    connections (first-use costs are the server's, not a connection's);
    the interactive ones go to the writer's connection."""
    for s in stmt:
        bulk[2].warmup += s.warmup
    return run_loops(bulk, warm=True)


def run_loops(loops: list[Loop], warm: bool = False) -> float:
    threads = [threading.Thread(target=lp.warm if warm else lp.run, name=lp.name) for lp in loops]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    for lp in loops:
        if lp.error is not None:
            raise RuntimeError(f"connection {lp.name} failed") from lp.error
    return wall


def cycle(rng: random.Random, cards: list, offset: int = 0):
    """Endless walk over a fixed sequence of request makers, starting at
    `offset`: every run sees the same mix in the same order; the seed
    picks each request's parameters."""
    i = offset
    while True:
        yield cards[i % len(cards)](rng)
        i += 1


# ------------------------------------------------------------- checks


def verify(done: list[Done], oracle: check.Oracle) -> tuple[int, list[str]]:
    """→ (failed count, messages). The first result of each distinct
    request is decoded and checked; repeats must match its digest."""
    failed, msgs, ref = 0, [], {}
    for d in done:
        op, res = d.op, d.res
        key = (op.proto, op.sql, tuple(op.params))
        why = None
        if isinstance(op.check, str) and op.check.startswith("state:"):
            want = op.check[6:]
            if res.ok or not has_state(res, want):
                why = f"expected SQLSTATE {want}, got {'success' if res.ok else res.sqlstate}: {res.message[:120]}"
        elif not res.ok:
            why = f"error {res.sqlstate}: {res.message[:160]}"
        elif op.check == "ok":
            pass
        elif key in ref:
            if (res.rows, res.digest) != ref[key]:
                why = "result differs from the first execution"
        else:
            ref[key] = (res.rows, res.digest)
            got = check.digest(_rows(op, res))
            if op.check == "oracle":
                want = oracle.digest(op.oracle_sql or op.sql, [int(p) for p in op.params] or None)
            else:
                want = check.digest(op.check)
            if got != want:
                why = f"rows/hash {got} != expected {want}"
        if why:
            failed += 1
            if len(msgs) < 10:
                msgs.append(f"{op.proto} {op.sql[:100]!r}: {why}")
    return failed, msgs


def _rows(op: Op, res):
    if op.proto in ("q", "x", "xb"):
        return decode_rows(res)
    if op.proto == "copy":
        return check.split_text_copy(res.payloads)
    if op.proto == "csv":
        return check.split_csv(res.payloads)
    if op.sql.rstrip().endswith("JSONEachRow"):
        return check.split_json(res.payloads)
    return check.split_text_copy(res.payloads)


# ----------------------------------------------------------- workloads


def _lookup_cards(n_orders: int, n_cust: int, n_part: int):
    ok = lambda r: r.randrange(n_orders)  # noqa: E731
    ck = lambda r: r.randrange(n_cust)  # noqa: E731
    return [
        lambda r: Op("stmt", "q", f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders WHERE o_orderkey = {ok(r)}"),
        lambda r: Op("stmt", "q", f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {ck(r)}"),
        lambda r: Op("stmt", "q", f"SELECT count(*), sum(l_quantity) FROM lineitem WHERE l_orderkey = {ok(r)}"),
        lambda r: Op("stmt", "x", "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = $1 ORDER BY o_orderkey LIMIT 20", [str(ck(r))]),
        lambda r: (lambda a: Op("stmt", "x", "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_partkey BETWEEN $1 AND $2 ORDER BY p_partkey", [str(a), str(a + 15)]))(r.randrange(n_part - 16)),
        lambda r: Op("stmt", "q", f"SELECT COLUMNS('o_.*key') FROM orders WHERE o_orderkey = {ok(r)}"),
        lambda r: Op("stmt", "q", f"SELECT [o_orderkey, o_custkey]::BIGINT[] AS pair, ([1, 2, 3]::INTEGER[])[2] AS x FROM orders WHERE o_orderkey = {ok(r)}"),
        lambda r: Op("stmt", "q", f"SELECT DATE '2001-12-31' - CAST(o_orderdate AS DATE) AS days FROM orders WHERE o_orderkey = {ok(r)}"),
        lambda r: Op("stmt", "q", f"SELECT #1, #2 FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = {ok(r)})"),
        lambda r: Op("stmt", "q", f"SELECT o_orderstatus, count(*) FROM orders WHERE o_custkey = {ck(r)} GROUP BY 1 ORDER BY 1"),
        lambda r: Op("stmt", "q", f"SELECT add_tax(l_extendedprice, l_tax) AS gross FROM lineitem WHERE l_orderkey = {ok(r)} ORDER BY 1"),
    ]


def _day(r: random.Random, lo: int = 1995, hi: int = 2000) -> str:
    return f"{r.randrange(lo, hi)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}"


# Revenue is summed in DECIMAL: float sums differ in the last bits between
# engines, which moves rounding and LIMIT boundaries.
REV = "sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2)))"
TPCH = [
    lambda r: Op("stmt", "q", "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_base, "
        "sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS sum_disc, count(*) AS n "
        f"FROM lineitem WHERE l_shipdate <= DATE '{_day(r, 1998, 2001)}' GROUP BY 1, 2 ORDER BY 1, 2"),
    lambda r: (lambda d, seg: Op("stmt", "q", f"SELECT o.o_orderkey, {REV} AS revenue, o.o_orderdate "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < DATE '{d}' AND l.l_shipdate > DATE '{d}' "
        "GROUP BY o.o_orderkey, o.o_orderdate ORDER BY revenue DESC, o.o_orderkey LIMIT 10"))(_day(r), r.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"])),
    lambda r: (lambda y, reg: Op("stmt", "q", f"SELECT n.n_name, {REV} AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey JOIN nation n ON s.s_nationkey = n.n_nationkey "
        f"JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = '{reg}' AND o.o_orderdate >= DATE '{y}-01-01' "
        f"AND o.o_orderdate < DATE '{y + 1}-01-01' GROUP BY n.n_name ORDER BY revenue DESC, n.n_name"))(r.randrange(1995, 2001), r.choice(["ASIA", "EUROPE", "AMERICA"])),
    lambda r: (lambda y, q: Op("stmt", "q", f"SELECT c.c_custkey, c.c_name, {REV} AS revenue, c.c_acctbal, n.n_name "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        f"JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_orderdate >= DATE '{y}-{q:02d}-01' "
        f"AND o.o_orderdate < DATE '{y}-{q:02d}-01' + INTERVAL 3 MONTH AND l.l_returnflag = 'R' "
        "GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name ORDER BY revenue DESC, c.c_custkey LIMIT 20"))(r.randrange(1995, 2001), r.choice([1, 4, 7, 10])),
]

FAILING = [
    lambda r: Op("stmt", "q", "SELECT * FROM no_such_table", check="state:42P01"),
    lambda r: Op("stmt", "q", f"SELECT CAST(2147483647 AS INTEGER) + CAST({r.randrange(1, 100)} AS INTEGER)", check="state:22003"),
    lambda r: Op("stmt", "q", f"SELECT {r.randrange(1, 100)} / 0", check="state:22012"),
]

# Client-tool chatter served by the wire layer or a trivial plan. The
# expected rows are pinned: they do not depend on the data.
CHATTER = [
    lambda r: Op("stmt", "q", "SET application_name = 'perfbench'", check="ok"),
    lambda r: Op("stmt", "q", "SHOW timezone", check=[("Etc/UTC",)]),
    lambda r: Op("stmt", "q", "SHOW search_path", check=[('"$user", public',)]),
    lambda r: Op("stmt", "q", "SELECT current_setting('application_name')", check=[("perfbench",)]),
    lambda r: Op("stmt", "q", "SELECT 1", check=[(1,)]),
]

# Sent on every PG connect, as client tools do. (Their catalog queries,
# such as information_schema.tables, take 3-10 s each on this server,
# so the workload leaves them out: they would swamp every statement.)
CONNECT = ["SET application_name = 'perfbench'"]


def _interactive_cards(sizes: dict) -> list:
    """One cycle: lookups, prepared and dialect statements with chatter
    between them; a TPC-H-shaped statement every 18 positions and a
    deliberately failing one every 36."""
    look = _lookup_cards(sizes["orders"], sizes["customer"], sizes["part"])
    out = []
    for i in range(22):
        out.append(look[i % len(look)])
        if i % 2:
            out.append(CHATTER[(i // 2) % len(CHATTER)])
    out.insert(8, TPCH[0])
    out.insert(17, FAILING[0])
    out.insert(26, TPCH[1])
    heavy = TPCH[2:] + FAILING[1:]
    return out + [heavy[0], heavy[2]] + out[:1] + [heavy[1], heavy[3]]


def interactive(seed: int, sizes: dict, ports, conns: int = 3) -> list[Loop]:
    """Phase 1 of `wire`: PG connections walking the statement cycle,
    each starting at its own offset."""
    cards = _interactive_cards(sizes)
    look = _lookup_cards(sizes["orders"], sizes["customer"], sizes["part"])
    loops = []
    for i in range(conns):
        lp = Loop(f"pg-stmt{i}", ports[0], 0, cycle(random.Random(seed * 101 + i), cards, i * len(cards) // conns))
        r = random.Random(seed * 103 + i)
        lp.warmup = [look[i % len(look)](r)]
        loops.append(lp)
    return loops


BULK_COLS = "l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag, l_shipdate"

INGEST_DDL = [
    "CREATE TABLE ing_plain (k BIGINT, g INTEGER, v BIGINT, s VARCHAR, d DATE)",
    "CREATE TABLE ing_pk (k BIGINT PRIMARY KEY, g INTEGER, v BIGINT, s VARCHAR, d DATE)",
]


class IngestModel:
    """What the ingest tables must hold: row count and key/value sums of
    every acknowledged write, per table."""

    def __init__(self):
        self.lock = threading.Lock()
        self.tables = {"ing_plain": [0, 0, 0], "ing_pk": [0, 0, 0]}

    def apply(self, table: str, n: int, ksum: int, vsum: int) -> None:
        with self.lock:
            t = self.tables[table]
            t[0] += n
            t[1] += ksum
            t[2] += vsum


def bulk(seed: int, sizes: dict, ports, bulk_rows: int, batch: int, model: IngestModel) -> list[Loop]:
    """Phase 2 of `wire`. *pg-bulk* pulls ~4k-row results as simple-query
    text, binary extended results and COPY TO STDOUT (text, CSV);
    *ch-bulk* pulls the same results as TabSeparated, JSONEachRow and
    gzip. *writer* keeps both tables under write load throughout, in a
    fixed rotation: COPY FROM STDIN loads into the unconstrained table,
    the steps of the single-row DML cycle, and INSERT … FORMAT loads
    into the PRIMARY KEY table. Writes on a connection of their own load
    every read alike; between the reads they would delay a few reads by
    seconds and leave the read rate to chance."""
    r = random.Random(seed)
    per_order = max(1, sizes["lineitem"] // sizes["orders"])
    span = max(1, bulk_rows // per_order)
    pg_out, ch_out = _bulk_reads([r.randrange(0, sizes["orders"] - span) for _ in range(2)], span)
    # rows loaded before the window, for the DML cycle's UPDATE and DELETE
    warm_rows = _batch_rows(random.Random(seed * 11), 4 * 10**9, 10)
    dml = _dml(seed, model, warm_rows)
    loops = [
        Loop("pg-bulk", ports[0], 0, itertools.cycle(pg_out)),
        Loop("ch-bulk", 0, ports[1], itertools.cycle(ch_out)),
        Loop("writer", ports[0], ports[1], _rotate(_loads(seed, 1, batch, model, "pg"), dml, _loads(seed, 2, batch, model, "ch"), dml)),
    ]
    pg_warm, ch_warm = _bulk_reads([r.randrange(0, sizes["orders"] - 10)], 10)
    # reads and one small load per format: each first write of a kind
    # costs seconds, and the window has time for few writes; their
    # latency is reported, not gated
    loops[0].warmup = pg_warm[:2]
    loops[1].warmup = ch_warm
    loops[2].warmup = [_load("ing_plain", warm_rows, "csv", model),
                       _load("ing_pk", _batch_rows(random.Random(seed * 17), 5 * 10**9, 10), "TabSeparated", model)]
    return loops


def _bulk_reads(starts: list[int], span: int) -> tuple[list[Op], list[Op]]:
    pg_out, ch_out = [], []
    for a in starts:
        sel = f"SELECT {BULK_COLS} FROM lineitem WHERE l_orderkey >= {a} AND l_orderkey < {a + span}"
        text = _as_text(sel)
        pg_out += [
            Op("bulk", "q", sel),
            Op("bulk", "xb", f"SELECT {BULK_COLS} FROM lineitem WHERE l_orderkey >= $1 AND l_orderkey < $2", [str(a), str(a + span)]),
            Op("bulk", "copy", f"COPY ({sel}) TO STDOUT", oracle_sql=text),
            Op("bulk", "csv", f"COPY ({sel}) TO STDOUT (FORMAT csv)", oracle_sql=text),
        ]
        ch_out += [
            Op("bulk", "ch", f"{sel} FORMAT TabSeparated", oracle_sql=text),
            Op("bulk", "ch", f"{sel} FORMAT JSONEachRow", oracle_sql=sel),
            Op("bulk", "chgz", f"{sel} FORMAT TabSeparated", oracle_sql=text),
        ]
    return pg_out, ch_out


def _as_text(sel: str) -> str:
    """Text formats carry doubles as text; the oracle casts the same
    columns so both sides compare as strings."""
    return sel.replace(BULK_COLS, ", ".join(f"CAST({c} AS VARCHAR)" for c in BULK_COLS.split(", ")))


def _rotate(*gens):
    while True:
        for g in gens:
            yield next(g)


def _batch_rows(r: random.Random, base: int, n: int) -> list[tuple]:
    return [(k, r.randrange(100), r.randrange(1_000_000), f"s{r.randrange(10_000)}",
             f"{r.randrange(1995, 2002)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}")
            for k in range(base, base + n)]


def _load(table: str, rows: list[tuple], fmt: str, model: IngestModel) -> Op:
    """One batch as PG COPY (CSV) or CH INSERT … FORMAT; acknowledged
    rows are applied to the model."""
    done = functools.partial(model.apply, table, len(rows), sum(x[0] for x in rows), sum(x[2] for x in rows))
    if fmt == "csv":
        body = "".join(f"{k},{g},{v},{s},{d}\n" for k, g, v, s, d in rows).encode()
        return Op("load", "copyin", f"COPY {table} FROM STDIN (FORMAT csv)", body=[body], check="ok", rows_in=len(rows), on_ok=done)
    if fmt == "TabSeparated":
        body = "".join(f"{k}\t{g}\t{v}\t{s}\t{d}\n" for k, g, v, s, d in rows).encode()
    else:
        body = "".join(f'{{"k":{k},"g":{g},"v":{v},"s":"{s}","d":"{d}"}}\n' for k, g, v, s, d in rows).encode()
    return Op("load", "post", f"INSERT INTO {table} FORMAT {fmt}", body=body, check="ok", rows_in=len(rows), on_ok=done)


def _loads(seed: int, conn: int, batch: int, model: IngestModel, via: str):
    """Seeded row batches with keys unique to this connection: PG COPY
    (CSV) into ing_plain, CH INSERT … FORMAT (TabSeparated, JSONEachRow)
    into ing_pk."""
    r = random.Random(seed * 7 + conn)
    i = 0
    while True:
        rows = _batch_rows(r, conn * 10**9 + i * batch, batch)
        if via == "pg":
            yield _load("ing_plain", rows, "csv", model)
        else:
            yield _load("ing_pk", rows, ("TabSeparated", "JSONEachRow")[i % 2], model)
        i += 1


def _dml(seed: int, model: IngestModel, plain_rows: list[tuple]):
    """A fixed cycle over both tables: UPDATE and DELETE of rows loaded
    before the window (copy-on-write rewrites), single-row INSERTs, a
    re-insert of a live primary key that must fail with 23505, and two
    aggregate reads."""
    r = random.Random(seed * 13)
    live = {"ing_plain": [(x[0], x[2]) for x in plain_rows], "ing_pk": []}
    n = 0

    def track(kind, table, k, v):
        def apply():
            if kind == "ins":
                live[table].append((k, v))
                model.apply(table, 1, k, v)
            elif kind == "upd":
                live[table][live[table].index((k, v))] = (k, v + 1)
                model.apply(table, 0, 0, 1)
            else:
                live[table].remove((k, v))
                model.apply(table, -1, -k, -v)
        return apply

    def insert(table):
        k, v = 3 * 10**9 + n, r.randrange(1_000_000)
        return Op("dml", "q", f"INSERT INTO {table} VALUES ({k}, 1, {v}, 'dml', DATE '2000-01-01')",
                  check="ok", on_ok=track("ins", table, k, v))

    while True:
        step = n % 8
        n += 1
        table = ("ing_plain", "ing_pk")[step in (1, 2, 4, 7)]
        if step in (1, 5) or (step in (0, 3, 4) and not live[table]):
            yield insert(table)
        elif step in (0, 4):
            k, v = r.choice(live[table])
            yield Op("dml", "q", f"UPDATE {table} SET v = v + 1 WHERE k = {k}", check="ok", on_ok=track("upd", table, k, v))
        elif step == 3:
            k, v = live[table][0]
            yield Op("dml", "q", f"DELETE FROM {table} WHERE k = {k}", check="ok", on_ok=track("del", table, k, v))
        elif step == 2:
            k = live["ing_pk"][0][0]
            yield Op("dml", "q", f"INSERT INTO ing_pk VALUES ({k}, 2, 0, 'dup', DATE '2000-01-01')", check="state:23505")
        else:
            yield Op("read", "q", f"SELECT count(*), sum(k), sum(v) FROM {table}", check="ok")


def end_state(pg_port: int, model: IngestModel) -> list[str]:
    """Both ingest tables hold exactly what was acknowledged."""
    c = PgConn("127.0.0.1", pg_port)
    bad = []
    try:
        for table, (n, ks, vs) in model.tables.items():
            res = c.query(f"SELECT count(*), sum(k), sum(v) FROM {table}", keep=True)
            got = tuple(None if x is None else int(x) for x in decode_rows(res)[0]) if res.ok else res.message
            want = (n, ks, vs) if n else (0, None, None)
            if got != want:
                bad.append(f"{table}: end state {got} != expected {want}")
    finally:
        c.close()
    return bad
