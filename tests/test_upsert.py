"""INSERT … ON CONFLICT / OR REPLACE / OR IGNORE — engine-layer upsert.

Every semantic rule is pinned against live DuckDB (the exact engine the
reference embeds, pg_server.go), not against a hand-written expectation:
each test runs the same script on an in-memory duckdb connection and
compares the final table contents, so a DuckDB behavior change in the
container would surface as a test failure rather than silent drift.
"""

import shutil

import duckdb
import pytest

from duck_server_spark.engine.errors import PgError
from duck_server_spark.engine.executor import Engine

TABLES = ("ups_t", "ups_u", "ups_m", "ups_ck", "ups_q", "ups_txn")


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in TABLES:
        eng.execute(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    yield eng
    for t in TABLES:
        eng.execute(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)


@pytest.fixture()
def fresh(engine, spark):
    """Per-test table reset: (spark_ddl, duck_ddl, seed_rows_sql)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def make(name: str, spark_ddl: str, duck_ddl: str, *seed: str):
        engine.execute(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        engine.execute(spark_ddl)
        duck = duckdb.connect()
        duck.execute(duck_ddl)
        for s in seed:
            engine.execute(s)
            duck.execute(s)
        return duck

    return make


def _nullsafe(rows):
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def _state(spark, table):
    return _nullsafe(tuple(r) for r in spark.table(table).collect())


def _dstate(duck, table):
    return _nullsafe(duck.execute(f"SELECT * FROM {table}").fetchall())


def _both(engine, spark, duck, table, stmt):
    """Run the same statement on both engines; return (tag_n, duck_n)."""
    tag = engine.execute(stmt)
    n = int(tag.rsplit(" ", 1)[-1])
    dn = duck.execute(stmt).fetchall()[0][0]
    assert _state(spark, table) == _dstate(duck, table)
    return n, dn


SPARK_T = "CREATE TABLE ups_t (id INT PRIMARY KEY, v STRING, w INT)"
DUCK_T = "CREATE TABLE ups_t (id INT PRIMARY KEY, v TEXT, w INT)"
SEED_T = "INSERT INTO ups_t VALUES (1,'a',10),(2,'b',20)"


def test_on_conflict_do_nothing(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1,'x',99),(3,'c',30) ON CONFLICT DO NOTHING",
    )
    assert n == dn == 1  # only the non-conflicting row counts


def test_or_ignore(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT OR IGNORE INTO ups_t VALUES (2,'y',88),(4,'d',40)",
    )
    assert n == dn == 1


def test_do_update_excluded(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1,'z',77),(5,'e',50) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v",
    )
    assert n == dn == 2  # one update + one insert
    # unassigned column w kept its OLD value for the updated row
    assert spark.sql("SELECT w FROM ups_t WHERE id = 1").collect()[0][0] == 10


def test_or_replace_full_row(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    _both(engine, spark, duck, "ups_t", "INSERT OR REPLACE INTO ups_t VALUES (2,'R',200)")


def test_or_replace_partial_column_list_keeps_unlisted(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    _both(
        engine, spark, duck, "ups_t",
        "INSERT OR REPLACE INTO ups_t (id, v) VALUES (2,'partial')",
    )
    # pinned: w stays 20 on the conflicting row (probed in DuckDB)
    assert spark.sql("SELECT w FROM ups_t WHERE id = 2").collect()[0][0] == 20


def test_no_key_constraint_is_an_error(engine, spark, fresh):
    duck = fresh(
        "ups_u", "CREATE TABLE ups_u (a INT, b INT)", "CREATE TABLE ups_u (a INT, b INT)"
    )
    with pytest.raises(duckdb.BinderException):
        duck.execute("INSERT INTO ups_u VALUES (1,1) ON CONFLICT DO NOTHING")
    with pytest.raises(PgError) as ei:
        engine.execute("INSERT INTO ups_u VALUES (1,1) ON CONFLICT DO NOTHING")
    assert ei.value.pgcode == "42P10"


def test_wrong_conflict_target_is_an_error(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    with pytest.raises(duckdb.BinderException):
        duck.execute("INSERT INTO ups_t VALUES (9,'x',1) ON CONFLICT (v) DO NOTHING")
    with pytest.raises(PgError) as ei:
        engine.execute("INSERT INTO ups_t VALUES (9,'x',1) ON CONFLICT (v) DO NOTHING")
    assert ei.value.pgcode == "42P10"


def test_do_update_needs_target_with_multiple_constraints(engine, spark, fresh):
    duck = fresh(
        "ups_m",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x STRING)",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x TEXT)",
        "INSERT INTO ups_m VALUES (1, 100, 'p')",
    )
    stmt = "INSERT INTO ups_m VALUES (3,100,'q') ON CONFLICT DO UPDATE SET x=excluded.x"
    with pytest.raises(duckdb.BinderException):
        duck.execute(stmt)
    with pytest.raises(PgError) as ei:
        engine.execute(stmt)
    assert ei.value.pgcode == "42P10"
    # DO NOTHING without a target is fine and skips on ANY constraint
    n, dn = _both(
        engine, spark, duck, "ups_m",
        "INSERT INTO ups_m VALUES (2, 100, 'q') ON CONFLICT DO NOTHING",
    )
    assert n == dn == 0


def test_conditional_where(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    # predicate false -> no change, row NOT counted
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1,'w1',1) "
        "ON CONFLICT (id) DO UPDATE SET v=excluded.v WHERE ups_t.w > 1000",
    )
    assert n == dn == 0
    # predicate may reference excluded too
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1,'w2',1) "
        "ON CONFLICT (id) DO UPDATE SET v=excluded.v WHERE excluded.w < ups_t.w",
    )
    assert n == dn == 1


def test_bare_column_in_set_is_the_old_row(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1,'k',999) ON CONFLICT (id) DO UPDATE SET w = w + 1",
    )
    assert spark.sql("SELECT w FROM ups_t WHERE id=1").collect()[0][0] == 11


def test_assigning_any_key_column_is_an_error(engine, spark, fresh):
    duck = fresh(
        "ups_m",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x STRING)",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x TEXT)",
        "INSERT INTO ups_m VALUES (1, 100, 'p')",
    )
    # non-target key column is just as forbidden as the target (probed)
    stmt = "INSERT INTO ups_m VALUES (1,200,'q') ON CONFLICT (a) DO UPDATE SET b=excluded.b"
    with pytest.raises(duckdb.BinderException):
        duck.execute(stmt)
    with pytest.raises(PgError) as ei:
        engine.execute(stmt)
    assert ei.value.pgcode == "42P10"


def test_duplicate_conflict_keys_in_one_command_error(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    # fresh duplicates
    stmt = "INSERT INTO ups_t VALUES (8,'m',1),(8,'n',2) ON CONFLICT DO NOTHING"
    with pytest.raises(duckdb.Error):
        duck.execute(stmt)
    with pytest.raises(PgError) as ei:
        engine.execute(stmt)
    assert ei.value.pgcode == "23505"
    # duplicates that both collide with one existing row
    stmt = "INSERT INTO ups_t VALUES (1,'x',1),(1,'y',2) ON CONFLICT DO NOTHING"
    with pytest.raises(duckdb.Error):
        duck.execute(stmt)
    with pytest.raises(PgError):
        engine.execute(stmt)
    assert _state(spark, "ups_t") == _dstate(duck, "ups_t")  # nothing written


def test_null_keys_never_conflict(engine, spark, fresh):
    duck = fresh(
        "ups_q",
        "CREATE TABLE ups_q (a INT UNIQUE, b INT)",
        "CREATE TABLE ups_q (a INT UNIQUE, b INT)",
        "INSERT INTO ups_q VALUES (1, 1)",
        "INSERT INTO ups_q VALUES (NULL, 7)",
    )
    n, dn = _both(
        engine, spark, duck, "ups_q",
        "INSERT INTO ups_q VALUES (NULL, 8) ON CONFLICT (a) DO UPDATE SET b=excluded.b",
    )
    assert n == dn == 1  # inserted, not updated


def test_compound_key(engine, spark, fresh):
    duck = fresh(
        "ups_ck",
        "CREATE TABLE ups_ck (a INT, b INT, v STRING, PRIMARY KEY (a, b))",
        "CREATE TABLE ups_ck (a INT, b INT, v TEXT, PRIMARY KEY (a, b))",
        "INSERT INTO ups_ck VALUES (1,1,'x')",
    )
    n, dn = _both(
        engine, spark, duck, "ups_ck",
        "INSERT INTO ups_ck VALUES (1,1,'y'),(1,2,'z') "
        "ON CONFLICT (a,b) DO UPDATE SET v=excluded.v",
    )
    assert n == dn == 2


def test_insert_select_source(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    n, dn = _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t SELECT id + 1, v, w FROM ups_t ON CONFLICT DO NOTHING",
    )
    assert n == dn == 1  # id=2 conflicts, id=3 inserts


def test_or_flag_plus_on_conflict_is_a_parse_error(engine, spark, fresh):
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    stmt = "INSERT OR IGNORE INTO ups_t VALUES (1,'z',1) ON CONFLICT DO NOTHING"
    with pytest.raises(duckdb.Error):
        duck.execute(stmt)
    with pytest.raises(PgError) as ei:
        engine.execute(stmt)
    assert ei.value.pgcode == "42601"


def test_do_nothing_still_errors_on_untargeted_constraint(engine, spark, fresh):
    """ON CONFLICT (a) DO NOTHING only forgives conflicts on a; a clash
    on the OTHER unique constraint still raises, like DuckDB."""
    duck = fresh(
        "ups_m",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x STRING)",
        "CREATE TABLE ups_m (a INT PRIMARY KEY, b INT UNIQUE, x TEXT)",
        "INSERT INTO ups_m VALUES (1, 100, 'p')",
    )
    stmt = "INSERT INTO ups_m VALUES (2, 100, 'q') ON CONFLICT (a) DO NOTHING"
    with pytest.raises(duckdb.Error):
        duck.execute(stmt)
    with pytest.raises(PgError) as ei:
        engine.execute(stmt)
    assert ei.value.pgcode == "23505"
    assert _state(spark, "ups_m") == _dstate(duck, "ups_m")


def test_string_literal_with_keywords_survives(engine, spark, fresh):
    """Literal text containing 'ON CONFLICT' / 'WHERE' / 'excluded.v'
    must not confuse the parser or the reference rewriter."""
    duck = fresh("ups_t", SPARK_T, DUCK_T, SEED_T)
    _both(
        engine, spark, duck, "ups_t",
        "INSERT INTO ups_t VALUES (1, 'on conflict where excluded.v, ha', 5) "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v",
    )


def test_upsert_inside_transaction_rolls_back(engine, spark, fresh):
    from duck_server_spark.engine.transactions import TxnOverlay

    fresh(
        "ups_txn",
        "CREATE TABLE ups_txn (id INT PRIMARY KEY, v STRING)",
        "CREATE TABLE ups_txn (id INT PRIMARY KEY, v TEXT)",
        "INSERT INTO ups_txn VALUES (1,'a'),(2,'b')",
    )
    before = _state(spark, "ups_txn")
    txn = TxnOverlay(engine, 990011)
    try:
        q = txn.prepare(
            "INSERT INTO ups_txn VALUES (1,'Z'),(3,'c') "
            "ON CONFLICT (id) DO UPDATE SET v = excluded.v"
        )
        tag = engine.execute(q)
        assert tag == "INSERT 0 2"
        # read-your-writes through the shadow
        shadow = txn.rewrite("SELECT v FROM ups_txn WHERE id = 1")
        assert spark.sql(shadow).collect()[0][0] == "Z"
        # base unchanged until commit
        assert _state(spark, "ups_txn") == before
    finally:
        txn.rollback()
    assert _state(spark, "ups_txn") == before


def test_upsert_inside_transaction_commits(engine, spark, fresh):
    from duck_server_spark.engine.transactions import TxnOverlay

    duck = fresh(
        "ups_txn",
        "CREATE TABLE ups_txn (id INT PRIMARY KEY, v STRING)",
        "CREATE TABLE ups_txn (id INT PRIMARY KEY, v TEXT)",
        "INSERT INTO ups_txn VALUES (1,'a'),(2,'b')",
    )
    stmt = (
        "INSERT INTO ups_txn VALUES (2,'B2'),(4,'d') "
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v"
    )
    duck.execute("BEGIN")
    duck.execute(stmt)
    duck.execute("COMMIT")
    txn = TxnOverlay(engine, 990012)
    try:
        engine.execute(txn.prepare(stmt))
        txn.commit()
    except BaseException:
        txn.rollback()
        raise
    assert _state(spark, "ups_txn") == _dstate(duck, "ups_txn")


def test_gated_append_revalidates_on_concurrent_same_key(spark):
    """Round 8 (ADVICE r7 TOCTOU): a conflicting key landing BETWEEN the
    key validation and the mutex-ed append must force a re-validation
    (which then raises 23505), never slip a duplicate in. The concurrent
    writer is injected deterministically inside the first validation
    callback — exactly the window the fingerprint gate closes."""
    import shutil

    import pytest as _pt

    from duck_server_spark.engine import constraints as cst
    from duck_server_spark.engine.errors import PgError
    from duck_server_spark.engine.executor import Engine
    from duck_server_spark.engine.transactions import gated_append

    eng = Engine(spark)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS gap_t")
    shutil.rmtree(f"{wh}/gap_t", ignore_errors=True)
    eng.execute("CREATE TABLE gap_t (id INT PRIMARY KEY)")
    eng.execute("INSERT INTO gap_t VALUES (1)")
    staged = spark.createDataFrame([(2,)], "id INT").localCheckpoint(eager=True)
    found = eng.constraints.get("gap_t")
    calls = []

    def validate(df):
        calls.append(1)
        cst.validate_append(spark, "gap_t", df, found, eng.constraints)
        if len(calls) == 1:
            # "concurrent" writer lands THE SAME KEY right after the
            # first validation passed and before the mutex-ed append
            spark.createDataFrame([(2,)], "id INT").write.mode(
                "append"
            ).saveAsTable("gap_t")
            spark.catalog.refreshTable("gap_t")

    with _pt.raises(PgError) as ei:
        gated_append(spark, "gap_t", staged, validate=validate)
    assert ei.value.pgcode == "23505"
    assert len(calls) >= 2  # the fingerprint mismatch forced a re-validation
    # exactly ONE id=2 row survives — the concurrent writer's
    assert [r.id for r in spark.table("gap_t").orderBy("id").collect()] == [1, 2]
    spark.sql("DROP TABLE gap_t")
    shutil.rmtree(f"{wh}/gap_t", ignore_errors=True)


def test_alter_swap_preserves_concurrent_append(spark):
    """An append landing between an ALTER rewrite's staging write and its
    swap must not be silently wiped: the publish-time fingerprint
    mismatch discards the stage and re-stages with the appended row."""
    import shutil

    from duck_server_spark.engine import alter
    from duck_server_spark.engine.executor import Engine

    eng = Engine(spark)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS asp_t")
    shutil.rmtree(f"{wh}/asp_t", ignore_errors=True)
    eng.execute("CREATE TABLE asp_t (id INT, v STRING)")
    eng.execute("INSERT INTO asp_t VALUES (1,'a')")
    calls = []

    class AppendAfterStaging:
        """Stands in for the transformed frame: writes the staging table,
        then lets another writer append to the base before the swap."""

        def __init__(self, df):
            self.df = df
            self.write = self

        def saveAsTable(self, name):
            self.df.write.saveAsTable(name)
            spark.createDataFrame([(2, "b")], "id INT, v STRING").write.mode(
                "append"
            ).saveAsTable("asp_t")
            spark.catalog.refreshTable("asp_t")

    def transform(df):
        out = df.withColumn("w", df.id + 100)
        calls.append(1)
        return AppendAfterStaging(out) if len(calls) == 1 else out

    alter._swap_in(eng, "asp_t", transform)
    rows = sorted((r.id, r.v, r.w) for r in spark.table("asp_t").collect())
    # the first stage held one row; publishing it would have wiped the
    # concurrent append, so a second attempt re-staged both rows
    assert len(calls) == 2
    assert rows == [(1, "a", 101), (2, "b", 102)]
    spark.sql("DROP TABLE asp_t")
    shutil.rmtree(f"{wh}/asp_t", ignore_errors=True)
