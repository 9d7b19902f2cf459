"""UDF surface tests: SQL macros, vectorized scalar, grouped-agg (UDAF),
grouped-map (UDTF-like), plus a PG-server concurrency check."""

import threading

from duck_server_spark.functions import udf_surface as us


def test_sql_macro(spark, sf_dir):
    from duck_server_spark.engine.session import register_views

    us.register_sql_macros(spark)
    register_views(spark, sf_dir)
    row = spark.sql(
        "SELECT CAST(sum(revenue_of(l_extendedprice, l_discount)) AS DOUBLE) AS rev FROM lineitem"
    ).collect()[0]
    assert row["rev"] > 0


def test_pandas_udaf_weighted_mean(spark, sf_dir, duck):
    got = {
        r["l_returnflag"]: r["wmean_price"]
        for r in us.grouped_weighted_stats(spark, sf_dir).collect()
    }
    expect = {
        flag: v
        for flag, v in duck.execute(
            "SELECT l_returnflag, sum(l_extendedprice * l_quantity) / sum(l_quantity) "
            "FROM lineitem GROUP BY l_returnflag"
        ).fetchall()
    }
    for flag, v in expect.items():
        assert abs(got[flag] - v) < 1e-6 * abs(v)


def test_grouped_map_scaling(spark, sf_dir):
    out = us.per_group_minmax_scale(spark, sf_dir)
    rows = out.collect()
    assert all(0.0 <= r["scaled"] <= 1.0 for r in rows)
    assert len(rows) == out.select("o_orderkey").distinct().count()


def test_pg_server_concurrent_queries(spark, sf_dir):
    """Several clients on one shared SparkSession — each gets correct,
    isolated results (A1 concurrency model)."""
    import socket
    import time

    from duck_server_spark.engine.executor import Engine
    from duck_server_spark.server.pg.wire_server import run_threaded
    from tests.pg_client import PgClient

    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    server, _ = run_threaded(Engine(spark), port=port)
    time.sleep(0.5)
    results: dict[int, str] = {}
    errors: list[Exception] = []

    def worker(i: int) -> None:
        try:
            c = PgClient("127.0.0.1", port)
            _, rows, _ = c.simple_query(f"SELECT {i} * 100 AS v")
            results[i] = rows[0][0]
            c.terminate()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    server.close()
    assert not errors
    assert results == {i: str(i * 100) for i in range(6)}


def test_text_similarity_registers_on_each_live_session(spark):
    """Registration is remembered per live session object, not per
    id(): a second session over the same context has its own function
    registry and gets the UDFs too."""
    from duck_server_spark.functions.text_similarity import register_text_similarity

    other = spark.newSession()
    register_text_similarity(spark)
    register_text_similarity(other)
    q = "SELECT damerau_levenshtein('ca', 'abc') AS v"
    assert spark.sql(q).first().v == other.sql(q).first().v == 2
