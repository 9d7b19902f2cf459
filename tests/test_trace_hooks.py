"""perfbench/spans.py traces a run by wrapping engine and server
functions by name (getattr/setattr). A renamed or deleted one makes
`perfbench/run.py --trace 1` die with an AttributeError, so every name
it wraps is pinned here."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

import pytest

from duck_server_spark.engine import executor, transactions
from duck_server_spark.server.pg import wire_server
from duck_server_spark.sources import formats, ingest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HOOKS = [
    (wire_server.PgConnection, "send_row_description"),
    (wire_server.PgConnection, "send_data_row"),
    (wire_server.PgConnection, "_send"),
    (wire_server, "render_pg_text"),
    (wire_server, "render_pg_binary"),
    (wire_server, "parse_csv_cell"),
    (formats, "render_ch_text"),
    (formats, "render_json_value"),
    (formats, "parse_csv_cell"),
    (executor._BatchStream, "__init__"),
    (executor._BatchStream, "next_batch"),
    (executor._BatchStream, "_produce"),
    (transactions, "gated_append"),
    (ingest.BatchAppender, "flush"),
    (executor.Engine, "_copy_on_write_update"),
    (executor.Engine, "_copy_on_write_delete"),
    (executor.Engine, "_overwrite_table"),
]


@pytest.mark.parametrize("owner,name", HOOKS, ids=[f"{getattr(o, '__name__', o)}.{n}" for o, n in HOOKS])
def test_hook_exists(owner, name):
    assert callable(getattr(owner, name))


def test_produce_takes_the_frame_first():
    """The transfer hook reads Catalyst phase times from the frame it
    is handed as _produce's first argument."""
    params = list(inspect.signature(executor._BatchStream._produce).parameters)
    assert params[:2] == ["self", "df"]


def test_gated_append_keeps_the_traced_signature():
    """spans.py replaces gated_append with a wrapper of this signature."""
    params = list(inspect.signature(transactions.gated_append).parameters)
    assert params == ["spark", "table", "df", "validate"]


def test_validated_flush_goes_through_the_module_gated_append(spark, monkeypatch):
    """A validated ingest flush looks gated_append up on the module at
    call time and calls the validate it passes, so the ingest.append
    and ingest.validate spans count every flush."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS th_pk")
    shutil.rmtree(f"{wh}/th_pk", ignore_errors=True)
    engine = executor.Engine(spark)
    engine.execute("CREATE TABLE th_pk (id INT PRIMARY KEY, v STRING)")
    real = transactions.gated_append
    seen = []

    def traced(spark_, table, df, validate=None):
        def counted(frame):
            seen.append("validate")
            return validate(frame)

        seen.append(table)
        return real(spark_, table, df, validate=counted if validate else None)

    monkeypatch.setattr(transactions, "gated_append", traced)
    try:
        app = engine.appender("th_pk", None)
        app.add((1, "a"))
        app.flush()
        assert seen == ["th_pk", "validate"]
        assert [tuple(r) for r in spark.table("th_pk").collect()] == [(1, "a")]
    finally:
        engine.execute("DROP TABLE IF EXISTS th_pk")
        shutil.rmtree(f"{wh}/th_pk", ignore_errors=True)


def test_every_wrapper_installs():
    """Installing all of spans.py's wrappers, in a fresh process (they
    patch modules for good), finds every name they wrap."""
    code = (
        "from perfbench import spans\n"
        "spans.install_session(); spans.install_engine(); spans.install_wire()\n"
    )
    done = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120)
    assert done.returncode == 0, done.stderr
