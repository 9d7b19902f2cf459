"""Protocol-level golden tests for the ClickHouse HTTP server (SURVEY.md
§5.2 item 2: mirrors the reference README's curl examples)."""

import json
import socket
import urllib.error
import urllib.parse
import urllib.request

import pytest

from duck_server_spark.engine.executor import Engine
from duck_server_spark.server.ch.http_server import serve


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


@pytest.fixture(scope="module")
def ch(spark, sf_dir):
    import shutil

    engine = Engine(spark)
    port = _free_port()
    server = serve(engine, port=port)
    base = f"http://127.0.0.1:{port}"
    # the in-memory catalog forgets tables across sessions but warehouse
    # directories survive — clear both so CREATE TABLE is reproducible
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for i in range(1, 11):
        spark.sql(f"DROP TABLE IF EXISTS ch_t{i}")
        shutil.rmtree(f"{warehouse}/ch_t{i}", ignore_errors=True)
    yield base, engine
    server.shutdown()


def _get(base: str, query: str) -> tuple[int, str, dict]:
    url = f"{base}/?{urllib.parse.urlencode({'query': query})}"
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, r.read().decode(), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)


def _post(base: str, body: str, query: str | None = None) -> tuple[int, str]:
    url = base + "/" + (f"?{urllib.parse.urlencode({'query': query})}" if query else "")
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_ping(ch):
    base, _ = ch
    status, body, _ = _get(base, "")
    assert status == 200


def test_select_tsv_default(ch):
    base, _ = ch
    status, body, headers = _get(base, "SELECT 1 AS a, 'x' AS b, NULL AS c")
    assert status == 200
    assert body == "1\tx\t\\N\n"
    assert headers.get("x-clickhouse-format") == "TabSeparated"


def test_select_format_json_each_row(ch):
    base, _ = ch
    status, body, _ = _get(base, "SELECT 2 AS n, true AS f FORMAT JSONEachRow")
    assert status == 200
    assert json.loads(body.strip()) == {"n": 2, "f": True}


def test_select_with_names_and_types(ch):
    base, _ = ch
    status, body, _ = _get(
        base, "SELECT CAST(1 AS INT) AS id, 'a' AS s FORMAT TabSeparatedWithNamesAndTypes"
    )
    lines = body.splitlines()
    assert lines[0] == "id\ts"
    assert lines[1] == "Int32\tString"
    assert lines[2] == "1\ta"


def test_limit_nm_rewrite(ch):
    base, _ = ch
    status, body, _ = _get(
        base, "SELECT id FROM VALUES (1),(2),(3),(4) AS t(id) ORDER BY id LIMIT 1,2"
    )
    assert status == 200
    assert body == "2\n3\n"


def test_version_rewrite(ch):
    base, _ = ch
    status, body, _ = _get(base, "SELECT version()")
    assert body.strip() == "23.3.1.2823"


def test_ddl_insert_select_roundtrip(ch):
    base, _ = ch
    status, _ = _post(base, "CREATE TABLE ch_t1 (id BIGINT, name STRING) USING parquet")
    assert status == 200
    status, _ = _post(base, "INSERT INTO ch_t1 VALUES (1, 'duck'), (2, 'spark')")
    assert status == 200
    status, body, _ = _get(base, "SELECT * FROM ch_t1 ORDER BY id FORMAT CSV")
    assert status == 200
    assert body == "1,duck\n2,spark\n"


def test_insert_format_tsv(ch):
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t2")
    _post(base, "CREATE TABLE ch_t2 (id BIGINT, v DOUBLE) USING parquet")
    status, body = _post(base, "INSERT INTO ch_t2 FORMAT TabSeparated\n10\t1.5\n11\t2.5\n")
    assert status == 200, body
    _, body, _ = _get(base, "SELECT count(*) AS n, sum(v) AS s FROM ch_t2")
    n, s = body.strip().split("\t")
    assert n == "2" and float(s) == 4.0


def test_insert_format_csv_subset_columns(ch):
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t3")
    _post(base, "CREATE TABLE ch_t3 (id BIGINT, a STRING, b DOUBLE) USING parquet")
    status, body = _post(base, "INSERT INTO ch_t3 (id, a) FORMAT CSV\n5,hello\n6,world\n")
    assert status == 200, body
    _, body, _ = _get(base, "SELECT id, a, b FROM ch_t3 ORDER BY id FORMAT TabSeparated")
    assert body == "5\thello\t\\N\n6\tworld\t\\N\n"


def test_insert_format_reordered_columns(ch):
    """INSERT INTO t (a, id): cells bind in CLIENT column order
    (ch_server.go:345-362) — round-1 silent-swap bug."""
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t5")
    _post(base, "CREATE TABLE ch_t5 (id BIGINT, a STRING, b STRING) USING parquet")
    status, body = _post(base, "INSERT INTO ch_t5 (b, a) FORMAT CSV\nbee,ay\n")
    assert status == 200, body
    _, body, _ = _get(base, "SELECT id, a, b FROM ch_t5 FORMAT TabSeparated")
    assert body == "\\N\tay\tbee\n"


def test_insert_format_unknown_column_400(ch):
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t6")
    _post(base, "CREATE TABLE ch_t6 (id BIGINT) USING parquet")
    status, body = _post(base, "INSERT INTO ch_t6 (nope) FORMAT CSV\n1\n")
    assert status == 400
    assert "unknown column" in body


def test_insert_json_each_row_typed_columns(ch):
    """ADVICE fix: JSONEachRow values coerce per schema type (dates,
    timestamps, decimals arrive as JSON strings)."""
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t7")
    _post(
        base,
        "CREATE TABLE ch_t7 (id BIGINT, d DATE, ts TIMESTAMP, x DECIMAL(10,2)) USING parquet",
    )
    payload = (
        "INSERT INTO ch_t7 FORMAT JSONEachRow\n"
        '{"id":1,"d":"2024-01-02","ts":"2024-01-02 03:04:05","x":"12.34"}\n'
        '{"id":2,"d":"2024-02-03","ts":"2024-02-03 04:05:06","x":56.7}\n'
    )
    status, body = _post(base, payload)
    assert status == 200, body
    _, body, _ = _get(base, "SELECT id, d, ts, x FROM ch_t7 ORDER BY id FORMAT TabSeparated")
    lines = body.splitlines()
    assert lines[0] == "1\t2024-01-02\t2024-01-02 03:04:05\t12.34"
    assert lines[1] == "2\t2024-02-03\t2024-02-03 04:05:06\t56.70"


def test_insert_format_streamed_body_microbatched(ch):
    """INSERT statement in the URL, multi-MB CSV body streamed through
    the micro-batch appender (bounded server memory)."""
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t8")
    _post(base, "CREATE TABLE ch_t8 (id BIGINT, s STRING) USING parquet")
    n = 120_000  # > 2 micro-batches at 50k
    body = "".join(f"{i},row{i}\n" for i in range(n))
    status, resp = _post(base, body, query="INSERT INTO ch_t8 FORMAT CSV")
    assert status == 200, resp
    _, out, _ = _get(base, "SELECT count(*) AS n, sum(id) AS s FROM ch_t8")
    cnt, s = out.strip().split("\t")
    assert int(cnt) == n and int(s) == n * (n - 1) // 2


def test_update_delete_copy_on_write(ch):
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t4")
    _post(base, "CREATE TABLE ch_t4 (id BIGINT, v DOUBLE) USING parquet")
    _post(base, "INSERT INTO ch_t4 VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    status, _ = _post(base, "UPDATE ch_t4 SET v = v * 2 WHERE id <= 2")
    assert status == 200
    _, body, _ = _get(base, "SELECT v FROM ch_t4 ORDER BY id")
    assert body == "20.0\n40.0\n30.0\n"
    status, _ = _post(base, "DELETE FROM ch_t4 WHERE id = 2")
    assert status == 200
    _, body, _ = _get(base, "SELECT count(*) AS n FROM ch_t4")
    assert body.strip() == "2"


def test_disconnect_cancels_job_group(ch):
    """Parity with ch_server.go:316-324: closing the connection
    mid-stream cancels the engine-side query's job group."""
    import socket as socketlib
    import time
    import urllib.parse

    base, engine = ch
    host, port = base.removeprefix("http://").split(":")
    cancelled = []
    orig_cancel = engine.cancel
    engine.cancel = lambda jg: (cancelled.append(jg), orig_cancel(jg))  # type: ignore[method-assign]
    try:
        q = urllib.parse.quote(
            "SELECT range AS id, repeat('x', 100) AS pad FROM range(50000000)"
        )
        s = socketlib.create_connection((host, int(port)), timeout=30)
        s.sendall(f"GET /?query={q} HTTP/1.1\r\nHost: x\r\n\r\n".encode())
        s.recv(1024)  # headers + first chunk(s) — streaming has begun
        s.close()  # hang up mid-stream
        deadline = time.time() + 120
        while not cancelled and time.time() < deadline:
            time.sleep(0.2)
        assert cancelled and cancelled[0].startswith("ch-")
    finally:
        engine.cancel = orig_cancel  # type: ignore[method-assign]


def test_error_returns_500(ch):
    base, _ = ch
    status, body, _ = _get(base, "SELECT * FROM no_such_table_xyz")
    assert status == 500
    assert "no_such_table_xyz" in body or "TABLE_OR_VIEW_NOT_FOUND" in body


def test_query_from_fixture_tables(ch, spark, sf_dir):
    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    base, _ = ch
    status, body, _ = _get(base, "SELECT count(*) AS n FROM lineitem")
    assert status == 200
    assert int(body.strip()) > 0


def test_gzip_select_roundtrip(ch):
    """Accept-Encoding: gzip → Content-Encoding: gzip body that
    decompresses to the same payload, format headers intact (a reference
    README TODO — README.md:105 — implemented here as parity-plus)."""
    import gzip

    base, _ = ch
    q = "SELECT number AS n FROM (SELECT explode(sequence(1, 100)) AS number) FORMAT CSV"
    url = f"{base}/?{urllib.parse.urlencode({'query': q})}"
    # plain
    with urllib.request.urlopen(url, timeout=120) as r:
        plain = r.read()
        assert "gzip" not in (r.headers.get("Content-Encoding") or "")
    # gzipped
    req = urllib.request.Request(url, headers={"Accept-Encoding": "gzip"})
    with urllib.request.urlopen(req, timeout=120) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        assert r.headers.get("x-clickhouse-format") == "CSV"
        assert "text/csv" in (r.headers.get("Content-Type") or "")
        body = gzip.decompress(r.read())
    assert body == plain
    assert body.decode().splitlines()[0] == "1"
    assert len(body.decode().splitlines()) == 100


def test_select_sends_one_chunk_per_batch(ch):
    """A result goes out as one chunked frame per 1000-row batch, not
    one per row. A zero-row result (the producer still queues its empty
    last batch) sends only the terminating chunk, so the keep-alive
    connection serves the next request."""
    base, _ = ch
    host, port = base.removeprefix("http://").split(":")
    s = socket.create_connection((host, int(port)), timeout=120)
    f = s.makefile("rb")

    def chunks_of(query: str) -> list[bytes]:
        q = urllib.parse.quote(query)
        s.sendall(f"GET /?query={q} HTTP/1.1\r\nHost: x\r\n\r\n".encode())
        assert f.readline().startswith(b"HTTP/1.1 200")
        while f.readline() != b"\r\n":  # headers
            pass
        out = []
        while size := int(f.readline(), 16):
            out.append(f.read(size))
            f.readline()
        f.readline()
        return out

    seq = "SELECT number FROM (SELECT explode(sequence(1, 2500)) AS number)"
    chunks = chunks_of(seq)
    assert len(chunks) == 3
    assert b"".join(chunks).split() == [str(i).encode() for i in range(1, 2501)]
    assert chunks_of(f"{seq} WHERE number < 0") == []
    assert chunks_of("SELECT 1 AS one") == [b"1\n"]
    f.close()
    s.close()


def test_insert_json_each_row_nested_roundtrip(ch):
    """Round-6 punch item 4 (reference path: ch_format.go:25-84 feeding
    go-duckdb's Appender, ch_server.go:300-336): arrays/maps/structs in
    JSONEachRow ingest land TYPED — including date/decimal leaves inside
    nested values, which JSON carries as strings — and SELECTing them
    back as JSONEachRow reproduces the inserted lines byte-exactly."""
    base, _ = ch
    _post(base, "DROP TABLE IF EXISTS ch_t9")
    _post(
        base,
        "CREATE TABLE ch_t9 (id BIGINT, arr ARRAY<BIGINT>, m MAP<STRING,DECIMAL(10,2)>, "
        "st STRUCT<a:BIGINT,d:DATE>, nested ARRAY<ARRAY<DOUBLE>>) USING parquet",
    )
    lines = [
        '{"id":1,"arr":[1,2,3],"m":{"k":"12.34"},"st":{"a":7,"d":"2024-01-02"},"nested":[[1.5],[2.5,3.5]]}',
        '{"id":2,"arr":[],"m":{},"st":{"a":null,"d":null},"nested":[[]]}',
        '{"id":3,"arr":null,"m":null,"st":null,"nested":null}',
    ]
    status, body = _post(
        base, "INSERT INTO ch_t9 FORMAT JSONEachRow\n" + "\n".join(lines) + "\n"
    )
    assert status == 200, body
    # typed landing: array/map/struct operations work SQL-side.
    # Subscripts are DUCKDB semantics (1-based — the reference hands the
    # CH endpoint's SQL to embedded DuckDB; round-7 subscript shim):
    # arr[1] is the FIRST element, nested[2][2] the second-of-second.
    _, out, _ = _get(
        base,
        "SELECT arr[1] + 1 AS a2, m['k'] * 2 AS dk, st.a AS sa, st.d AS sd, "
        "nested[2][2] AS nn FROM ch_t9 WHERE id = 1",
    )
    assert out.strip() == "2\t24.68\t7\t2024-01-02\t3.5"
    # byte-exact JSONEachRow roundtrip
    _, out, _ = _get(base, "SELECT * FROM ch_t9 ORDER BY id FORMAT JSONEachRow")
    assert out.splitlines() == lines


def test_pivot_statement_over_ch(ch, spark, sf_dir):
    """DuckDB's simplified PIVOT is a rows-returning statement: the CH
    dispatcher must classify it as a query (round 7)."""
    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    base, _ = ch
    status, body, _ = _get(
        base, "PIVOT orders ON o_orderpriority USING count(*) GROUP BY o_orderstatus"
    )
    assert status == 200
    assert len(body.strip().splitlines()) >= 1


def test_unpivot_statement_over_ch(ch, spark, sf_dir):
    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    base, _ = ch
    status, body, _ = _get(
        base, "UNPIVOT region ON r_regionkey INTO NAME k VALUE v"
    )
    assert status == 200
    assert len(body.strip().splitlines()) == 5


def test_pragma_over_ch_http(ch):
    """PRAGMA rides the CH SELECT path (round 9): the reference forwards
    pragmas to embedded DuckDB through ch_server.go:227; here the
    dispatcher classifies them as queries so results stream back in CH
    formats like any SELECT."""
    base, _ = ch
    status, body, _ = _get(base, "PRAGMA version FORMAT TabSeparated")
    assert status == 200 and body.strip() == "v1.0.0\tduck_server_spark"
    status, body, _ = _get(base, "PRAGMA show_tables")
    assert status == 200
    status, body, _ = _get(base, "PRAGMA nosuch_p")
    assert status != 200 and "does not exist" in body
    # CALL spelling rides the SELECT path too
    status, body, _ = _get(base, "CALL pragma_version() FORMAT TabSeparated")
    assert status == 200 and body.strip() == "v1.0.0\tduck_server_spark"


def test_macros_over_ch_http(ch):
    """SQL macros work through the CH HTTP dispatcher too (round 8): the
    engine's macro registry and _prepare_sql expansion are shared by
    both front-ends."""
    base, _ = ch
    status, body = _post(base, "CREATE MACRO ch_m(a, b := 3) AS a * b")
    assert status == 200, body
    try:
        status, body, _ = _get(base, "SELECT ch_m(7) AS v")
        assert status == 200 and body.strip() == "21"
        status, body, _ = _get(base, "SELECT ch_m(7, b := 2) AS v")
        assert status == 200 and body.strip() == "14"
    finally:
        _post(base, "DROP MACRO ch_m")
