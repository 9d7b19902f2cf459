"""End-to-end: launch the real server entrypoint as a subprocess (the
documented `python -m duck_server_spark.server` command) and drive both
protocol ports. The entrypoint registers the startup tables sorted by
their leading column and marks them for Spark's in-memory columnar
cache; the tests below pin what that must not change. They run in file
order, so each first-touch test names a table no earlier test reads.
The last test checks the cache's batch skipping in process."""

import os
import socket
import subprocess
import sys
import threading
import time
import urllib.request

import pytest

from tests.pg_client import PgClient


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


@pytest.fixture(scope="module")
def server_proc(sf_dir):
    pg_port, ch_port = _free_port(), _free_port()
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "duck_server_spark.server",
            "--pg-port",
            str(pg_port),
            "--ch-port",
            str(ch_port),
            "--sf-dir",
            sf_dir,
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
    )
    # wait for both ports to accept
    deadline = time.monotonic() + 120
    for port in (ch_port, pg_port):
        while time.monotonic() < deadline:
            try:
                socket.create_connection(("127.0.0.1", port), timeout=1).close()
                break
            except OSError:
                if proc.poll() is not None:
                    pytest.fail("server process exited early")
                time.sleep(0.5)
        else:
            proc.kill()
            pytest.fail(f"port {port} never came up")
    yield pg_port, ch_port
    proc.terminate()
    proc.wait(timeout=30)


def _duck_rows(duck, sql):
    return [tuple(None if v is None else str(v) for v in r) for r in duck.execute(sql).fetchall()]


def test_timeout_during_first_scan_leaves_the_cache_whole(server_proc, duck):
    """A statement cancelled by statement_timeout while its first scan of
    lineitem fills the cache must leave no partial table behind: the
    next scan counts every row."""
    pg_port, _ = server_proc
    c = PgClient("127.0.0.1", pg_port)
    c.simple_query("SET statement_timeout = '200ms'")
    with pytest.raises(RuntimeError, match="57014"):
        c.simple_query(
            "SELECT sum(a.l_linenumber * b.l_linenumber) AS s FROM lineitem a CROSS JOIN lineitem b"
        )
    c.simple_query("SET statement_timeout = 0")
    sql = "SELECT count(*) AS n, sum(l_orderkey) AS s FROM lineitem"
    for _ in range(2):
        _, rows, _ = c.simple_query(sql)
        assert rows == _duck_rows(duck, sql)
    c.terminate()


def test_startup_tables_are_served_from_the_cache(server_proc, duck):
    """A key lookup plans over the in-memory scan, and lookups, a
    GROUP BY and a three-table join answer DuckDB's rows both on the run
    that fills the cache and on a repeat."""
    pg_port, _ = server_proc
    (key,) = duck.execute("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1 OFFSET 700").fetchone()
    lookup = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority "
        f"FROM orders WHERE o_orderkey = {key}"
    )
    c = PgClient("127.0.0.1", pg_port)
    _, rows, _ = c.simple_query(f"EXPLAIN {lookup}")
    assert "Scan In-memory table orders" in rows[0][0], rows[0][0]
    statements = [
        lookup,
        "SELECT l_returnflag, count(*) AS n, sum(l_orderkey) AS s FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT n_name, count(*) AS n, sum(o_orderkey) AS s FROM customer "
        "JOIN orders ON c_custkey = o_custkey JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name",
    ]
    for _ in range(2):
        for sql in statements:
            _, rows, _ = c.simple_query(sql)
            assert rows == _duck_rows(duck, sql), sql
    c.terminate()


def test_concurrent_first_touch_of_one_table(server_proc, duck):
    """Three connections whose first statement fills the same table's
    cache at the same moment all get the whole table."""
    pg_port, _ = server_proc
    sql = "SELECT p_size, count(*) AS n, sum(p_partkey) AS s FROM part GROUP BY p_size ORDER BY p_size"
    clients = [PgClient("127.0.0.1", pg_port) for _ in range(3)]
    start = threading.Barrier(len(clients))
    results, errors = {}, []

    def run(i, c):
        try:
            start.wait()
            results[i] = c.simple_query(sql)[1]
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i, c)) for i, c in enumerate(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    expected = _duck_rows(duck, sql)
    assert [results.get(i) for i in range(3)] == [expected] * 3
    for c in clients:
        c.terminate()


def test_clustered_key_reads_match_duckdb(server_proc, duck):
    """The startup tables are cached sorted by their leading column, so
    a key read skips batches; a lineitem key-range read and l_orderkey
    lookup (lineitem was filled by the first test) and an events one
    (its first touch, so the filling run) answer DuckDB's rows, on the
    first run and on a repeat."""
    pg_port, _ = server_proc
    statements = []
    for table, key, cols in (
        ("lineitem", "l_orderkey", "l_orderkey, l_linenumber, l_partkey, l_suppkey"),
        ("events", "event_id", "event_id, user_id"),
    ):
        lo, hi, one = duck.execute(
            f"SELECT quantile_disc({key}, 0.4), quantile_disc({key}, 0.45), "
            f"quantile_disc({key}, 0.7) FROM {table}"
        ).fetchone()
        order = cols.split(", ", 2)[:2]
        statements += [
            f"SELECT {cols} FROM {table} WHERE {key} BETWEEN {lo} AND {hi} "
            f"ORDER BY {', '.join(order)}",
            f"SELECT {cols} FROM {table} WHERE {key} = {one} ORDER BY {', '.join(order)}",
        ]
    c = PgClient("127.0.0.1", pg_port)
    for _ in range(2):
        for sql in statements:
            _, rows, _ = c.simple_query(sql)
            assert rows and rows == _duck_rows(duck, sql), sql
    c.terminate()


def test_both_protocols_serve_fixture_queries(server_proc):
    pg_port, ch_port = server_proc
    # ClickHouse HTTP
    url = f"http://127.0.0.1:{ch_port}/?query=SELECT%20count(*)%20AS%20n%20FROM%20lineitem"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        assert int(r.read().decode().strip()) > 0
    # PostgreSQL wire
    c = PgClient("127.0.0.1", pg_port)
    _, rows, tag = c.simple_query(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY 1"
    )
    assert len(rows) == 3 and tag == "(3 row)"
    c.terminate()


def test_replaced_and_dropped_startup_view_serve_no_cached_rows(server_proc):
    """The cache is keyed by plan, so a replaced startup view answers
    with its new rows and a dropped one is gone."""
    pg_port, _ = server_proc
    c = PgClient("127.0.0.1", pg_port)
    _, rows, _ = c.simple_query("SELECT count(*) AS n FROM region")
    assert rows == [("5",)]
    c.simple_query("CREATE OR REPLACE TEMP VIEW region AS SELECT 42 AS r_regionkey")
    _, rows, _ = c.simple_query("SELECT * FROM region")
    assert rows == [("42",)]
    c.simple_query("DROP VIEW region")
    with pytest.raises(RuntimeError, match="region"):
        c.simple_query("SELECT * FROM region")
    c.terminate()


def test_create_view_over_a_startup_table_acts_on_it(server_proc):
    """The catalog lists the startup tables as views, so CREATE VIEW
    with their name acts on them as DuckDB would: a plain CREATE is
    "already exists", IF NOT EXISTS keeps the table, and OR REPLACE is
    served at once (Spark alone would make a catalog view that the
    startup temp view shadows)."""
    pg_port, _ = server_proc
    c = PgClient("127.0.0.1", pg_port)
    with pytest.raises(RuntimeError, match="already exists"):
        c.simple_query("CREATE VIEW nation AS SELECT 1 AS n_nationkey")
    c.simple_query("CREATE VIEW IF NOT EXISTS nation AS SELECT 1 AS n_nationkey")
    _, rows, _ = c.simple_query("SELECT count(*) AS n FROM nation")
    assert rows == [("25",)]
    c.simple_query("CREATE OR REPLACE VIEW nation AS SELECT 42 AS n_nationkey")
    _, rows, _ = c.simple_query("SELECT * FROM nation")
    assert rows == [("42",)]
    c.simple_query("DROP VIEW nation")
    with pytest.raises(RuntimeError, match="nation"):
        c.simple_query("SELECT * FROM nation")
    c.terminate()


def _plan_nodes(plan):
    """Every node of an executed physical plan, through AQE's wrappers."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
    else:
        children = plan.children()
        for i in range(children.size()):
            yield from _plan_nodes(children.apply(i))


def test_clustered_cache_skips_batches_of_a_key_range_read(spark, sf_dir):
    """In process, the entrypoint's registration over sf0.01: a lineitem
    key-range read decodes one 10k-row cached batch, not the table's
    60,000 rows (l_orderkey is not sorted in the files). The fixture
    views are restored and uncached afterwards, so later tests plan
    parquet scans again."""
    from duck_server_spark.engine.session import TABLES, register_views, session_store
    from duck_server_spark.server.__main__ import register_startup_tables

    before = session_store(spark).get("views_dir")
    register_startup_tables(spark, "/root/testdata/sf0.01")
    try:
        lo, hi = spark.sql(
            "SELECT percentile_disc(0.4) WITHIN GROUP (ORDER BY l_orderkey), "
            "percentile_disc(0.41) WITHIN GROUP (ORDER BY l_orderkey) FROM lineitem"
        ).first()
        df = spark.sql(f"SELECT * FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi}")
        assert len(df.collect()) > 0
        scanned = [
            int(n.metrics().apply("numOutputRows").value())
            for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "InMemoryTableScanExec"
        ]
        assert scanned and sum(scanned) <= 10_000, scanned
    finally:
        for t in TABLES:
            spark.catalog.uncacheTable(t)
        session_store(spark).pop("views_dir", None)
        register_views(spark, before or sf_dir)
    plan = spark.sql("SELECT * FROM lineitem WHERE l_orderkey = 1")._jdf.queryExecution()
    assert "FileScan parquet" in plan.executedPlan().toString()
    assert not any(spark.catalog.isCached(t) for t in TABLES)
