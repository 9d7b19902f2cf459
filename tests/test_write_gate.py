"""The optimistic write gate (engine/transactions.py publish_gated):
every validated single-statement write refreshes the base, fingerprints
it, stages, and publishes under the commit mutex only if the fingerprint
is unchanged; otherwise it discards the stage and retries on the fresh
base. These tests drive each gate caller through Engine.execute and
inject a concurrent publish inside its first attempt, deterministically."""

from __future__ import annotations

import os
import shutil

import pytest

from duck_server_spark.engine import constraints as cst
from duck_server_spark.engine import executor as executor_mod
from duck_server_spark.engine import transactions
from duck_server_spark.engine.errors import PgError
from duck_server_spark.engine.executor import Engine

T = "wg_t"


@pytest.fixture()
def eng(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    engine = Engine(spark)

    def drop():
        engine.execute(f"DROP TABLE IF EXISTS {T}")
        for name in [T, f"{T}{transactions.VERSION_MARK}", *_staging_leftovers(spark)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"{wh}/{name}", ignore_errors=True)

    drop()
    engine.execute(f"CREATE TABLE {T} (id INT PRIMARY KEY, v STRING)")
    engine.execute(f"INSERT INTO {T} VALUES (1, 'a')")
    yield engine
    drop()


def _rows(spark):
    spark.catalog.refreshTable(T)
    return sorted(tuple(r) for r in spark.table(T).collect())


def _concurrent_append(spark, row):
    """Another writer's publish: new part files land in the base."""
    spark.createDataFrame([row], "id INT, v STRING").write.mode("append").saveAsTable(T)
    spark.catalog.refreshTable(T)


def _staging_leftovers(spark):
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    names = [t.name for t in spark.catalog.listTables()] + os.listdir(wh)
    return [n for n in names if n.startswith(f"{T}__") and "staging" in n]


# statement, the row another writer publishes inside the first attempt,
# and the outcome: the command tag or SQLSTATE, then the table after
RACES = {
    # the re-validation sees the concurrent key: 23505, theirs survives
    "append": (
        f"INSERT INTO {T} VALUES (2, 'mine')",
        (2, "theirs"),
        "23505",
        [(1, "a"), (2, "theirs")],
    ),
    # the re-run anti-join sees the concurrent key: the row is skipped
    "on_conflict_do_nothing": (
        f"INSERT INTO {T} VALUES (2, 'mine') ON CONFLICT DO NOTHING",
        (2, "theirs"),
        "INSERT 0 0",
        [(1, "a"), (2, "theirs")],
    ),
    # the re-staged rewrite includes the concurrent row: both updated
    "cow_update": (
        f"UPDATE {T} SET v = v || '!'",
        (3, "c"),
        "UPDATE 2",
        [(1, "a!"), (3, "c!")],
    ),
    # the re-staged schema change includes the concurrent row
    "alter": (
        f"ALTER TABLE {T} ALTER COLUMN v SET DATA TYPE VARCHAR USING upper(v)",
        (3, "c"),
        None,
        [(1, "A"), (3, "C")],
    ),
}


@pytest.mark.parametrize("case", list(RACES))
def test_concurrent_publish_in_first_attempt(spark, eng, monkeypatch, case):
    """The concurrent publish lands after the write staged and before
    its publish-time compare (the second fingerprint of the table): the
    compare fails, the stage is discarded and the write re-runs on the
    fresh base. Nothing is lost and no staging relation is left."""
    sql, theirs, outcome, after = RACES[case]
    real = transactions._table_fingerprint
    calls = []

    def fingerprint(spark_, table):
        if table == T:
            calls.append(table)
            if len(calls) == 2:
                _concurrent_append(spark, theirs)
        return real(spark_, table)

    monkeypatch.setattr(transactions, "_table_fingerprint", fingerprint)
    if outcome == "23505":
        with pytest.raises(PgError) as ei:
            eng.execute(sql)
        assert ei.value.pgcode == "23505"
    else:
        tag = eng.execute(sql)
        if outcome is not None:
            assert tag == outcome
    assert len(calls) >= 3  # a second attempt fingerprinted the base
    assert _rows(spark) == after
    assert _staging_leftovers(spark) == []


def _raise_once(monkeypatch, owner, name, when=lambda *a, **k: True):
    """Make owner.name raise a file-race error the first time `when`
    holds for its arguments."""
    real = getattr(owner, name)
    raised = []

    def wrapper(*args, **kwargs):
        if not raised and when(*args, **kwargs):
            raised.append(1)
            raise RuntimeError("[FILE_NOT_EXIST] File does not exist: part-00000.parquet")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapper)
    return raised


def _staging_write(writer, name, *a, **k):
    return "__cow_staging_" in name or "__alter_staging_" in name


FILE_RACES = {
    "append": (cst, "validate_append", f"INSERT INTO {T} VALUES (2, 'b')", [(1, "a"), (2, "b")]),
    "on_conflict_do_nothing": (
        cst,
        "validate_append",
        f"INSERT INTO {T} VALUES (1, 'x'), (2, 'b') ON CONFLICT DO NOTHING",
        [(1, "a"), (2, "b")],
    ),
    "cow_update": (None, "saveAsTable", f"UPDATE {T} SET v = 'u'", [(1, "u")]),
    "alter": (
        None,
        "saveAsTable",
        f"ALTER TABLE {T} ALTER COLUMN v SET DATA TYPE VARCHAR USING upper(v)",
        [(1, "A")],
    ),
}


@pytest.mark.parametrize("case", list(FILE_RACES))
def test_file_race_while_staging_is_retried(spark, eng, monkeypatch, case):
    """A concurrent publish can swap the base's files under a staging
    scan; that transient is retried on the fresh base like a lost
    compare, and the write succeeds."""
    from pyspark.sql.readwriter import DataFrameWriter

    owner, name, sql, after = FILE_RACES[case]
    if owner is None:
        raised = _raise_once(monkeypatch, DataFrameWriter, name, _staging_write)
    else:
        raised = _raise_once(monkeypatch, owner, name)
    eng.execute(sql)
    assert raised == [1]
    assert _rows(spark) == after
    assert _staging_leftovers(spark) == []


def test_failed_returning_capture_leaves_no_staging(spark, eng, monkeypatch):
    """A failure after the copy-on-write staging write (here: capturing
    UPDATE … RETURNING's rows) discards the staging table and its
    directory; the base is unchanged."""
    def failing(df):
        raise RuntimeError("capture failed")

    # the capture is the only frame an UPDATE … RETURNING stages
    monkeypatch.setattr(executor_mod, "stage_frame", failing)
    with pytest.raises(RuntimeError, match="capture failed"):
        eng.execute_returning(f"UPDATE {T} SET v = 'u' RETURNING *")
    assert _rows(spark) == [(1, "a")]
    assert _staging_leftovers(spark) == []
