"""Staged frames (engine/session.py stage_frame / release_staged): every
statement that materializes an intermediate frees it when it ends, and
operator checkpoints are tracked per frame, not through a shared diff of
the session's persistent RDDs."""

from __future__ import annotations

import itertools
import os
import shutil
import socket
import sys
import tempfile
import threading
import time

import pytest

from duck_server_spark.engine.executor import Engine
from duck_server_spark.server.pg.wire_server import run_threaded
from tests.pg_client import PgClient

_TABLES = ("stg_pk", "stg_seq")


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def drop():
        for t in _TABLES:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)

    drop()
    engine = Engine(spark)
    engine.execute("CREATE TABLE stg_pk (id INT PRIMARY KEY, v STRING)")
    engine.execute("CREATE SEQUENCE stg_s")
    engine.execute("CREATE TABLE stg_seq (id INT DEFAULT nextval('stg_s'), v STRING NOT NULL)")
    engine.execute("INSERT INTO stg_pk VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    port = _free_port()
    server, _loop = run_threaded(engine, port=port)
    time.sleep(0.5)
    client = PgClient("127.0.0.1", port)
    tmp = tempfile.mkdtemp(prefix="stg_copy_")
    # fresh primary keys for every write, so no case trips 23505
    keys = itertools.count(100)
    yield {"spark": spark, "sf_dir": sf_dir, "engine": engine, "pg": client, "tmp": tmp, "keys": keys}
    client.terminate()
    server.close()
    shutil.rmtree(tmp, ignore_errors=True)
    engine.execute("DROP SEQUENCE stg_s")
    drop()


def _wire(c, sql: str) -> list:
    _cols, rows, _tag = c["pg"].simple_query(sql)
    return rows


def _copy_from_file(c) -> None:
    path = os.path.join(c["tmp"], f"rows_{next(c['keys'])}.csv")
    with open(path, "w") as f:
        f.write("".join(f"{next(c['keys'])},copied\n" for _ in range(3)))
    assert c["engine"].execute(f"COPY stg_pk FROM '{path}' (FORMAT csv)") == "COPY 3"


def _returning(verb: str):
    def run(c):
        k = next(c["keys"])
        c["engine"].execute(f"INSERT INTO stg_pk VALUES ({k}, 'r')")
        sql = {
            "insert": f"INSERT INTO stg_pk VALUES ({next(c['keys'])}, 'i') RETURNING id, v",
            "update": f"UPDATE stg_pk SET v = 'u' WHERE id = {k} RETURNING id, v",
            "delete": f"DELETE FROM stg_pk WHERE id = {k} RETURNING id",
        }[verb]
        assert len(_wire(c, sql)) == 1

    return run


def _truncate_returning(c) -> None:
    c["engine"].execute("INSERT INTO stg_seq (v) VALUES ('gone')")
    assert len(_wire(c, "DELETE FROM stg_seq RETURNING id")) >= 1


STATEMENTS = {
    "insert_pk": lambda c: c["engine"].execute(f"INSERT INTO stg_pk VALUES ({next(c['keys'])}, 'x')"),
    "insert_seq_default": lambda c: c["engine"].execute("INSERT INTO stg_seq (v) VALUES ('p'), ('q')"),
    "on_conflict_do_nothing": lambda c: c["engine"].execute(
        f"INSERT INTO stg_pk VALUES (1, 'n'), ({next(c['keys'])}, 'n') ON CONFLICT DO NOTHING"
    ),
    "on_conflict_do_update": lambda c: c["engine"].execute(
        "INSERT INTO stg_pk VALUES (2, 'w') ON CONFLICT (id) DO UPDATE SET v = excluded.v"
    ),
    "copy_from_file": _copy_from_file,
    "insert_returning_wire": _returning("insert"),
    "update_returning_wire": _returning("update"),
    "delete_returning_wire": _returning("delete"),
    "truncate_returning_wire": _truncate_returning,
}


@pytest.mark.parametrize("case", list(STATEMENTS) + ["graph_triangles_twice"])
def test_statement_releases_what_it_staged(ctx, case):
    """No statement leaves a checkpoint behind when it ends — RETURNING
    ones included, once their rows have drained over the wire. Only
    additions are checked: GC may legitimately drop ids meanwhile."""
    spark = ctx["spark"]
    before = _persistent_ids(spark)
    if case == "graph_triangles_twice":
        from duck_server_spark.operators.dedup import graph_triangles

        # both frames stay referenced, so only an explicit release frees
        # the first call's edge set; the second call's is still readable
        frames = [graph_triangles(spark, ctx["sf_dir"]) for _ in range(2)]
        assert frames[1].count() > 0
        assert len(_persistent_ids(spark) - before) <= 1
        return
    STATEMENTS[case](ctx)
    assert _persistent_ids(spark) - before == set()


def test_concurrent_checkpoints_track_their_own_frames(spark):
    """Two builders checkpointing on one session at the same time each
    record exactly their own frame's id, and releasing one registry
    leaves the other's frame readable."""
    from duck_server_spark.engine.session import staged_rdd_ids
    from duck_server_spark.operators.common import (
        release_checkpoints,
        tracked_local_checkpoint,
    )

    frames = [
        spark.range(0, 200_000, numPartitions=4).selectExpr(f"id * {k} AS x").repartition(4)
        for k in (2, 3)
    ]
    registries: list[list] = [[], []]
    outs: list = [None, None]
    start = threading.Barrier(2)

    def run(i):
        start.wait()
        outs[i] = tracked_local_checkpoint(spark, frames[i], registries[i])

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for out, reg in zip(outs, registries):
        assert reg == staged_rdd_ids(out) and len(reg) == 1
    assert registries[0] != registries[1]
    kept = registries[1][0]
    release_checkpoints(spark, registries[0])
    assert registries[0] == [] and kept in _persistent_ids(spark)
    assert outs[1].selectExpr("sum(x) AS s").collect()[0][0] == 3 * (200_000 * 199_999 // 2)
    release_checkpoints(spark, registries[1])
    assert kept not in _persistent_ids(spark)
