"""Engine executor: the shared black box behind both protocol front-ends.

The reference delegates every statement to its embedded engine through
four calls (Prepare/Query/Exec — SURVEY.md §2 delegation points); this
class is our equivalent seam around one shared SparkSession:

- ``query(sql)``       → DataFrame (after dialect rewrites)
- ``stream(sql)``      → (schema, row-tuple iterator)  [O(batch) memory,
                          matching pg_conn.go:257-270 row relay]
- ``execute(sql)``     → command tag for DDL/DML (ExecContext analogue,
                          ch_server.go:227)
- ``cancel(key)``      → job-group cancel (done CORRECTLY, unlike the
                          reference's no-op — SURVEY.md quirk Q1)
- user store + SCRAM verifiers (pg_server.go:95-133, pg_auth.go)
- compat catalog views (duckdbInit, pg_server.go:35-76)
- writable managed tables incl. UPDATE/DELETE as copy-on-write rewrites
  (the reference gets these from its engine's MVCC, README.md:21-22;
  vanilla Spark parquet tables need the rewrite strategy — SURVEY.md §7)

Scale notes: one SparkSession serves all connections (Spark actions are
thread-safe); each query runs in its own job group so per-query cancel
works under concurrency. Result streaming uses toLocalIterator, which
pulls one partition at a time — the driver never holds a full result.
"""

from __future__ import annotations

import base64
import hashlib
import itertools
import hmac
import json
import os
import re
import secrets
import threading
import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from duck_server_spark.engine import constraints as cst
from duck_server_spark.plans import rewrites

_CREATE_TABLE_VERB = re.compile(r"^\s*create\s+table\b", re.IGNORECASE)
_CREATE_OR_REPLACE_TABLE = re.compile(
    r"^(\s*create\s+)(or\s+replace\s+)table\s+(?:if\s+not\s+exists\s+)?"
    r"[`\"]?([\w.]+)[`\"]?",
    re.IGNORECASE,
)
_CREATE_TABLE_NAME = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?[`\"]?([\w.]+)[`\"]?",
    re.IGNORECASE,
)
_DROP_TABLE = re.compile(
    r"^\s*drop\s+table\s+(?:if\s+exists\s+)?([\w.]+)", re.IGNORECASE
)
# IN/EXISTS/scalar subquery inside a DML predicate (round 12): these
# can't ride a CollectMetrics observation, so the affected-row count
# falls back to a standalone filter job
_PRED_SUBQUERY = re.compile(r"\(\s*select\b", re.IGNORECASE)
_INSERT = re.compile(
    r"^\s*insert\s+into\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*(.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# DuckDB's INSERT INTO … BY NAME (round 9, VERDICT r8 punch item 8):
# the SELECT's output names pick the target columns; absent columns get
# their declared defaults / NULL. Pinned vs live DuckDB 1.x: only a
# SELECT source is legal (VALUES → binder error), a column list cannot
# combine with BY NAME (its grammar has no such production), an unknown
# source column is a loud binder error. Expanded here into an ordinary
# column-list INSERT so EVERY existing insert path composes unchanged
# (validated insert + default fill, ON CONFLICT/OR REPLACE upserts,
# RETURNING, transactional shadows).
_INSERT_BY_NAME = re.compile(
    r"^(?P<head>\s*insert\s+(?:or\s+(?:replace|ignore)\s+)?into\s+"
    r"(?P<tbl>[\w.`\"]+)\s+)by\s+name\b(?P<rest>.+?);?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CREATE_USER = re.compile(
    r"^\s*create\s+user\s+(\w+)\s+with\s+password\s+'([^']*)'\s*;?\s*$", re.IGNORECASE
)
_UPDATE = re.compile(
    r"^\s*update\s+([\w.]+)\s+set\s+(.+?)(?:\s+where\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*delete\s+from\s+([\w.]+)(?:\s+where\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DISCARD_ALL = re.compile(r"^\s*discard\s+all\s*;?\s*$", re.IGNORECASE)
# DuckDB's CHECKPOINT — one pattern for both paths (query() serves the
# empty Success shape, execute() the CH generic-exec tag)
_CHECKPOINT = re.compile(r"^\s*(force\s+)?checkpoint\s*;?\s*$", re.IGNORECASE)
_ALTER_OR_INDEX = re.compile(
    r"^\s*(alter\s+table|create\s+(unique\s+)?index|drop\s+index)\b", re.IGNORECASE
)

# copy-on-write staging name uniquifier (concurrent COW writers on one
# table must never share a staging name — see _overwrite_table)
_COW_SEQ = [0]
_COW_SEQ_LOCK = threading.Lock()
_SUMMARIZE = re.compile(r"^\s*summarize\s+(.+?);?\s*$", re.IGNORECASE | re.DOTALL)
_DESCRIBE_STMT = re.compile(
    r"^\s*desc(?:ribe)?\s+(?:table\s+)?(.+?);?\s*$", re.IGNORECASE | re.DOTALL
)
_SHOW_TABLES = re.compile(r"^\s*show\s+tables\s*;?\s*$", re.IGNORECASE)
# Single-word SHOW (round 8): `SHOW ALL` (psql \dconfig), DuckDB's
# `SHOW <table>` describe shortcut, engine-side `SHOW <guc>`; Spark's
# own single-word SHOW verbs pass through to spark.sql untouched.
_SHOW_ONE = re.compile(r"^\s*show\s+([A-Za-z_]\w*)\s*;?\s*$", re.IGNORECASE)
_SHOW_NATIVE_VERBS = frozenset(
    ("databases", "schemas", "views", "functions", "catalogs", "namespaces")
)
# engine-internal names SHOW TABLES must not expose: bootstrap compat
# views (_bootstrap/_refresh_catalog_views) and transient shadow/staging
# tables (name-marker filter — the honest approximation, since staging
# names carry no registry)
_BOOTSTRAP_VIEW_NAMES = frozenset(
    (
        "pg_type",
        "pg_matviews",
        "constraint_column_usage",
        "system_databases",
        "system_tables",
        "system_columns",
        "system_functions",
        "info_schema_tables",
        "info_schema_columns",
        "info_schema_schemata",
        "pg_class",
        "pg_namespace",
        "pg_attribute",
        "table_constraints",
        "key_column_usage",
        "pg_settings",
        "duckdb_tables",
        "duckdb_views",
        "duckdb_columns",
        "duckdb_constraints",
        "duckdb_schemas",
        "duckdb_settings",
        "duckdb_functions",
        "duckdb_databases",
        "duckdb_sequences",
        "duckdb_indexes",
        "duckdb_keywords",
        "duckdb_types",
        "duckdb_extensions",
    )
)
_INTERNAL_TABLE_MARKS = (
    "__txn_",
    "__cow_staging_",
    "__ins_staging_",
    "__alter_staging_",
    "__ubn_tail_",
    # round-10 materialization views: (DESCRIBE …)-in-FROM and nested
    # percent-LIMIT subqueries (review catch: these polluted SHOW
    # TABLES / duckdb_tables; they must outlive the statement — the
    # returned DataFrame is lazy — so hiding, not dropping, is correct)
    "__duck_meta_",
    "__duck_sub_",
    "__duck_file_",
)
# UNION [ALL] BY NAME separators + the trailing clause that applies to
# the whole set op (round 10)
_UNION_BY_NAME = re.compile(r"\bunion\s+(all\s+)?by\s+name\b", re.IGNORECASE)
# DuckDB's COLUMNS() star expression (round 10)
_COLUMNS_EXPR = re.compile(r"\bcolumns\s*\(", re.IGNORECASE)
_TRAILING_SETOP_CLAUSE = re.compile(
    r"\b(?:order\s+by|limit|offset)\b", re.IGNORECASE
)
_UBN_SEQ = itertools.count(1)
# duckdb_types() rows for the Spark-representable type surface:
# (type_name, type_size, logical_type, type_category) — sizes, logical
# names, and categories pinned value-for-value vs live DuckDB 1.x
_DUCKDB_TYPE_ROWS = (
    ("bigint", 8, "BIGINT", "NUMERIC"),
    ("blob", 16, "BLOB", None),
    ("boolean", 1, "BOOLEAN", "BOOLEAN"),
    ("date", 4, "DATE", "DATETIME"),
    ("decimal", None, "DECIMAL", "NUMERIC"),
    ("double", 8, "DOUBLE", "NUMERIC"),
    ("float", 4, "FLOAT", "NUMERIC"),
    ("integer", 4, "INTEGER", "NUMERIC"),
    ("interval", 16, "INTERVAL", "DATETIME"),
    ("list", 16, "LIST", "COMPOSITE"),
    ("map", 16, "MAP", "COMPOSITE"),
    ("smallint", 2, "SMALLINT", "NUMERIC"),
    ("struct", 0, "STRUCT", "COMPOSITE"),
    ("timestamp", 8, "TIMESTAMP", "DATETIME"),
    ("tinyint", 1, "TINYINT", "NUMERIC"),
    ("varchar", 16, "VARCHAR", "STRING"),
)

# builtins tagged `aggregate` in duckdb_functions() — listFunctions has
# no kind flag, so the common aggregate surface is pinned by name
_AGGREGATE_FN_NAMES = frozenset(
    """
    any_value approx_count_distinct approx_percentile avg bit_and bit_or
    bit_xor bool_and bool_or collect_list collect_set corr count
    count_if count_min_sketch covar_pop covar_samp first first_value
    grouping grouping_id histogram_numeric hll_sketch_agg kurtosis last
    last_value listagg max max_by mean median min min_by mode percentile
    percentile_approx regr_avgx regr_avgy regr_count regr_intercept
    regr_r2 regr_slope regr_sxx regr_sxy regr_syy skewness some std
    stddev stddev_pop stddev_samp string_agg sum try_avg try_sum
    var_pop var_samp variance
    """.split()
)
# Spark-specific DESCRIBE targets stay on the native path
_DESCRIBE_NATIVE = frozenset(
    ("function", "database", "schema", "extended", "formatted", "history", "detail")
)


def _duckdb_type_name(dt) -> str:
    """Spark DataType → DuckDB's DESCRIBE type spelling (pinned against
    live DuckDB in tests/test_compat.py)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return _duckdb_type_name(dt.elementType) + "[]"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({_duckdb_type_name(dt.keyType)}, "
            f"{_duckdb_type_name(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {_duckdb_type_name(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT({inner})"
    return {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "float": "FLOAT",
        "double": "DOUBLE",
        "string": "VARCHAR",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB",
    }.get(dt.simpleString(), dt.simpleString().upper())

# system.* / information_schema.* compat views (A27) → shim temp views
_CATALOG_REF = re.compile(
    r"\b(system\.(databases|tables|columns|functions)|information_schema\.(schemata|tables|columns|constraint_column_usage|table_constraints|key_column_usage)|pg_catalog\.(pg_type|pg_class|pg_namespace|pg_attribute|pg_settings)|pg_type|pg_matviews|pg_class|pg_namespace|pg_attribute|pg_settings|duckdb_tables|duckdb_views|duckdb_columns|duckdb_constraints|duckdb_schemas|duckdb_settings|duckdb_functions|duckdb_databases|duckdb_sequences|duckdb_indexes|duckdb_keywords|duckdb_types|duckdb_extensions)\b",
    re.IGNORECASE,
)


def scram_verifier(password: str, iterations: int = 4096) -> str:
    """PG-format SCRAM-SHA-256 verifier, identical layout to the
    reference's CreateUser (pg_server.go:116-133):
    SCRAM-SHA-256$<iter>:<salt_b64>$<stored_key_b64>:<server_key_b64>"""
    salt = secrets.token_bytes(16)
    return _scram_verifier_with_salt(password, salt, iterations)


def _scram_verifier_with_salt(password: str, salt: bytes, iterations: int) -> str:
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iterations)
    client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
    stored_key = hashlib.sha256(client_key).digest()
    server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
    return "SCRAM-SHA-256${}:{}${}:{}".format(
        iterations,
        base64.b64encode(salt).decode(),
        base64.b64encode(stored_key).decode(),
        base64.b64encode(server_key).decode(),
    )


def parse_verifier(v: str) -> tuple[int, bytes, bytes, bytes]:
    """verifier string → (iterations, salt, stored_key, server_key)."""
    scheme, rest = v.split("$", 1)
    if scheme != "SCRAM-SHA-256":
        raise ValueError("unsupported verifier scheme")
    iter_salt, keys = rest.split("$", 1)
    iters, salt = iter_salt.split(":", 1)
    stored, server = keys.split(":", 1)
    return (
        int(iters),
        base64.b64decode(salt),
        base64.b64decode(stored),
        base64.b64decode(server),
    )


def verify_password(password: str, verifier: str) -> bool:
    """Plain-password check against a SCRAM verifier via Server Key —
    the CH basic-auth path (ch_server.go:55-72)."""
    iters, salt, _stored, server_key = parse_verifier(verifier)
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
    expect = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
    return hmac.compare_digest(expect, server_key)


class Engine:
    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir or os.path.join(os.getcwd(), "spark-warehouse")
        os.makedirs(self.data_dir, exist_ok=True)
        self._users_path = os.path.join(self.data_dir, "duckserver_users.json")
        self._users_lock = threading.Lock()
        self._cancel_lock = threading.Lock()
        # read_csv/read_json temp-view registry (round 13): one hidden
        # view per DISTINCT call text, reused across statements and
        # evicted FIFO past 256 so repeated file queries don't leak
        # catalog entries
        self._file_views: dict[tuple, str] = {}
        # cross-statement FROM-schema / expression-type probe cache
        # (round 13): probes are ANALYSIS-only and keyed by exact probe
        # text, so they stay valid until the catalog changes — cleared
        # conservatively on every execute()/DDL-publish. Repeat probe-
        # bearing statements (dashboards re-issuing the same casts) drop
        # from ~15 ms to sub-ms bind time.
        self._probe_cache: dict = {}
        # PK/UNIQUE registry (the reference gets enforcement from embedded
        # DuckDB's indexes, README.md:21-22; we validate on ingest —
        # engine/constraints.py)
        self.constraints = cst.ConstraintStore(
            os.path.join(self.data_dir, "duckserver_constraints.json")
        )
        # secondary-index registry (engine/alter.py): names + unique-key
        # bookkeeping; persisted like the user/constraint stores
        self._indexes_path = os.path.join(self.data_dir, "duckserver_indexes.json")
        self._indexes_lock = threading.Lock()
        # sequence registry (engine/sequences.py): CREATE SEQUENCE +
        # nextval/currval resolve driver-side; persisted like the rest
        from duck_server_spark.engine.sequences import SequenceStore

        self.sequences = SequenceStore(
            os.path.join(self.data_dir, "duckserver_sequences.json")
        )
        # SQL macro registry (engine/macros.py): DuckDB CREATE MACRO /
        # untyped CREATE FUNCTION, inlined at statement-prepare time
        from duck_server_spark.engine.macros import MacroStore

        self.macros = MacroStore(
            os.path.join(self.data_dir, "duckserver_macros.json")
        )
        # view→macro dependency registry (round 9): DuckDB binds macros
        # at USE, so a view over a macro must re-bind when the macro
        # changes and error when it's gone (engine/macros.py)
        from duck_server_spark.engine.macros import MacroViewStore

        self.macro_views = MacroViewStore(
            os.path.join(self.data_dir, "duckserver_macro_views.json")
        )
        self._bootstrap()
        # roll interrupted multi-table COMMITs forward (crash between two
        # table publishes leaves a journal manifest — engine/transactions.py)
        from duck_server_spark.engine.transactions import (
            recover_journal,
            settle_versions,
        )

        recover_journal(self)
        # AFTER journal recovery: a journal-referenced version dir must
        # be rolled forward before the settle/sweep can touch it
        settle_versions(self)
        self._sweep_orphan_dirs()

    def _sweep_orphan_dirs(self) -> None:
        """Bootstrap janitor (VERDICT r6 item 2): a crashed process can
        leave `<t>__txn_<id>` shadow dirs or `<t>__cow_staging` dirs in
        the warehouse with no catalog entry owning them. With an
        in-memory catalog these orphans make the NEXT saveAsTable of the
        same name fail LOCATION_ALREADY_EXISTS forever — embedded DuckDB
        (the reference's store, pg_server.go:90) cannot get into this
        state, so parity demands we can get out of it. Runs after
        recover_journal so decided commits are rolled forward first."""
        import glob
        import shutil as _sh

        from duck_server_spark.engine import transactions as _txn

        warehouse = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix(
            "file:"
        )
        # crashed ALTER swaps first: their staging dirs can hold the ONLY
        # copy of a table's data (engine/alter.py) — never generic-swept
        from duck_server_spark.engine import alter as _alt

        _alt.recover_staging_dirs(self.spark, warehouse)
        for pat in (
            "*__txn_*",
            "*__cow_staging*",
            "*__ins_staging*",
            # db-qualified tables live under <db>.db/<table>
            os.path.join("*.db", "*__txn_*"),
            os.path.join("*.db", "*__cow_staging*"),
            os.path.join("*.db", "*__ins_staging*"),
        ):
            for path in glob.glob(os.path.join(warehouse, pat)):
                name = os.path.basename(path)
                parent = os.path.basename(os.path.dirname(path))
                if parent.endswith(".db"):  # qualified: probe <db>.<table>
                    name = f"{parent[:-3]}.{name}"
                if _txn.resolve_shadow(name) is not None:
                    continue  # live transaction in this process owns it
                try:
                    if self.spark.catalog.tableExists(name):
                        continue  # catalog-owned (e.g. restored external)
                except Exception:  # noqa: BLE001 — catalog probe best-effort
                    pass
                try:
                    # a FRESH dir is an in-flight write of a sibling
                    # engine in this process (staging dirs exist on disk
                    # before their catalog entries) — crashed-process
                    # leftovers, the sweep's actual target, are minutes
                    # old by the time a new engine boots (round 13: the
                    # sweep reclaimed a mid-write _temporary dir)
                    if time.time() - os.path.getmtime(path) < 300:
                        continue
                except OSError:
                    continue
                _sh.rmtree(path, ignore_errors=True)

    def _recoverable_create(self, sql: str, original: str) -> None:
        """Run a CREATE TABLE; on LOCATION_ALREADY_EXISTS for a table the
        catalog does NOT know (an orphaned dir from a crash), remove the
        orphan and retry once. Never removes a location the catalog owns.

        Runs under the SHARED visibility gate (round-8 review): a CTAS
        whose source joins multiple tables must not resolve a mixed
        commit snapshot and persist it. CTAS is an eager command, so the
        gate is held for the statement's run — a concurrent COMMIT then
        serializes after the in-flight CTAS (the order a client expects)."""
        try:
            self._gated_sql(sql).collect()
            return
        except Exception as e:  # noqa: BLE001 — inspect and maybe recover
            msg = str(e)
            if "LOCATION_ALREADY_EXISTS" not in msg and "42710" not in msg:
                raise
            m = _CREATE_TABLE_NAME.match(original)
            if not m:
                raise
            try:
                known = self.spark.catalog.tableExists(m.group(1))
            except Exception:  # noqa: BLE001 — probe failed, don't recover
                known = True
            if known:
                raise
            from duck_server_spark.engine.transactions import table_dir
            import shutil as _sh

            _sh.rmtree(table_dir(self.spark, m.group(1)), ignore_errors=True)
            self._gated_sql(sql).collect()

    # ------------------------------------------------------------ indexes

    @property
    def indexes(self) -> dict:
        try:
            with open(self._indexes_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def put_index(self, name: str, rec: dict) -> None:
        with self._indexes_lock:
            data = self.indexes
            data[name] = rec
            with open(self._indexes_path, "w") as f:
                json.dump(data, f)

    def drop_index(self, name: str) -> None:
        with self._indexes_lock:
            data = self.indexes
            if data.pop(name, None) is not None:
                with open(self._indexes_path, "w") as f:
                    json.dump(data, f)

    # ------------------------------------------------------------- users

    def _load_users(self) -> dict[str, str]:
        try:
            with open(self._users_path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def create_user(self, username: str, password: str) -> None:
        with self._users_lock:
            users = self._load_users()
            users[username] = scram_verifier(password)
            with open(self._users_path, "w") as f:
                json.dump(users, f)

    def get_verifier(self, username: str) -> str | None:
        return self._load_users().get(username)

    # --------------------------------------------------------- bootstrap

    def _bootstrap(self) -> None:
        """A27 compat objects: pg_type/pg_matviews static views + SQL
        macros (array_positions/timezone/currentDatabase — the reference
        registers these as DuckDB macros, pg_server.go:40-42)."""
        spark = self.spark
        pg_type = spark.createDataFrame(
            [
                Row(oid=16, typname="bool"), Row(oid=20, typname="int8"),
                Row(oid=21, typname="int2"), Row(oid=23, typname="int4"),
                Row(oid=25, typname="text"), Row(oid=700, typname="float4"),
                Row(oid=701, typname="float8"), Row(oid=1082, typname="date"),
                Row(oid=1114, typname="timestamp"), Row(oid=1184, typname="timestamptz"),
                Row(oid=1700, typname="numeric"), Row(oid=114, typname="json"),
            ]
        )
        pg_type.createOrReplaceTempView("pg_type")
        spark.createDataFrame([], "schemaname string, matviewname string").createOrReplaceTempView("pg_matviews")
        # JDBC/DataGrip metadata probes query this at connect time — the
        # reference creates it empty at bootstrap (pg_server.go:46-47)
        spark.createDataFrame(
            [],
            "constraint_catalog string, constraint_schema string, constraint_name string, "
            "table_catalog string, table_schema string, table_name string, column_name string",
        ).createOrReplaceTempView("constraint_column_usage")
        for name, body in (
            ("array_positions", "(a ARRAY<STRING>, b STRING) RETURNS INT RETURN 0"),
            # registered under the REFERENCE's spelling (pg_server.go:41) —
            # round 1 shipped it as duck_timezone, which no client sends
            ("timezone", "(x TIMESTAMP) RETURNS STRING RETURN 'UTC'"),
            ("currentDatabase", "() RETURNS STRING RETURN current_database()"),
            # DuckDB's strftime with the common %-codes mapped to Spark's
            # date_format patterns (the format arg folds to a constant
            # after macro inlining, which date_format requires). %M is
            # minutes and %m months — replace() is case-sensitive.
            (
                "strftime",
                "(ts TIMESTAMP, fmt STRING) RETURNS STRING RETURN date_format(ts, "
                "replace(replace(replace(replace(replace(replace(fmt,"
                "'%Y','yyyy'),'%m','MM'),'%d','dd'),'%H','HH'),'%M','mm'),'%S','ss'))",
            ),
        ):
            try:
                spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
            except Exception:
                pass  # best-effort macro shims
        # DuckDB scalars with no JVM expression equivalent (round 10):
        # Arrow-batched pandas UDFs — the documented Python tier (same
        # tier as damerau/jaro in functions/text_similarity.py). Fine
        # for projection use; a 100 TB hot path should prefer the
        # codegen'd shims in plans/fn_shims.py where one exists.
        try:
            import math as _math
            import unicodedata as _ud

            import pandas as _pd
            from pyspark.sql.functions import pandas_udf as _pudf

            def _vec(f):
                # REAL annotations, not strings: pandas_udf resolves
                # type hints against the function's globals, where the
                # local `_pd` import is invisible
                def run(s):
                    return s.map(lambda v: None if v is None else f(v))

                run.__annotations__ = {"s": _pd.Series, "return": _pd.Series}
                return run

            def _g(v: float):
                try:
                    return _math.gamma(v)
                except ValueError:
                    return _math.inf

            def _strip_acc(v: str) -> str:
                return "".join(
                    c
                    for c in _ud.normalize("NFD", v)
                    if _ud.category(c) != "Mn"
                )

            spark.udf.register("gamma", _pudf(_vec(_g), "double"))
            spark.udf.register(
                "lgamma", _pudf(_vec(lambda v: _math.lgamma(v)), "double")
            )
            spark.udf.register("strip_accents", _pudf(_vec(_strip_acc), "string"))

            def _merge_patch_pair(a: str, b: str):
                # RFC 7386 merge patch, duck json_merge_patch semantics
                # (pinned live: null values DELETE keys; a NULL patch or
                # target propagates NULL / adopts the patch)
                import json as _json

                if a is None or b is None:
                    return None

                def _apply(t, p):
                    if not isinstance(p, dict):
                        return p
                    t = dict(t) if isinstance(t, dict) else {}
                    for k, v in p.items():
                        if v is None:
                            t.pop(k, None)
                        else:
                            t[k] = _apply(t.get(k), v)
                    return t

                try:
                    return _json.dumps(
                        _apply(_json.loads(a), _json.loads(b)),
                        separators=(",", ":"),
                    )
                except Exception:
                    return None

            # duck: json_merge_patch(NULL, y) = y, (x, NULL) = NULL —
            # asymmetric, pinned live round 12
            def _merge_patch_duck(sa, sb):
                import pandas as _pd2

                return _pd2.Series(
                    [
                        (None if y is None else
                         y if x is None else _merge_patch_pair(x, y))
                        for x, y in zip(sa, sb)
                    ]
                )

            _merge_patch_duck.__annotations__ = {
                "sa": _pd.Series, "sb": _pd.Series, "return": _pd.Series
            }
            spark.udf.register(
                "json_merge_patch", _pudf(_merge_patch_duck, "string")
            )
            spark.udf.register(
                "nfc_normalize",
                _pudf(_vec(lambda v: _ud.normalize("NFC", v)), "string"),
            )
        except Exception:
            pass  # best-effort: missing pandas/arrow leaves these loud

    def _refresh_catalog_views(self) -> None:
        """system.*/information_schema.* snapshots from spark.catalog
        (rebuilt on reference: duckdbInit views over duckdb's catalog,
        pg_server.go:44-68)."""
        spark = self.spark
        import zlib

        from duck_server_spark.engine.types import spark_type_to_pg_oid

        def _oid(sname: str) -> int:
            return zlib.crc32(sname.encode()) & 0x7FFFFFFF

        databases = spark.catalog.listDatabases()
        dbs = [Row(name=d.name) for d in databases]
        spark.createDataFrame(dbs or [], "name string").createOrReplaceTempView("system_databases")
        current_db = spark.catalog.currentDatabase()
        tabs, cols = [], []
        ns_rows = [Row(oid=_oid(d.name), nspname=d.name) for d in databases]
        cls_rows, att_rows = [], []
        # DuckDB's own introspection TVFs (round 9): duckdb_tables /
        # duckdb_views / duckdb_columns as snapshot views from the SAME
        # sweep — IDEs and scripts written for the reference query them
        dt_rows, dv_rows, dc_rows = [], [], []
        # round 10 (VERDICT r9 item 2): duckdb_constraints() from the
        # constraint registry, in the SAME sweep. constraint_text forms
        # pinned vs live DuckDB 1.0: PRIMARY KEY(a, b) / UNIQUE(x, y) /
        # NOT NULL (one row per column, incl. PK-implied) / CHECK((e))
        # with the bare (e) in `expression` / FOREIGN KEY (x) REFERENCES
        # p(id). Registry keys are current-database bare names, so only
        # current-db tables carry rows — same scope as enforcement.
        dcon_rows = []
        # SQL-standard information_schema.tables/columns (round 13):
        # the previous mapping aliased them to the CH-shaped system.*
        # views, so standard clients (JDBC metadata, BI tools) got
        # UNRESOLVED_COLUMN for table_type / column_default /
        # is_nullable / ordinal_position. Shapes pinned vs live duck:
        # table_schema='main', table_type 'BASE TABLE'/'VIEW',
        # is_nullable 'YES'/'NO', column_default as DDL text.
        ist_rows, isc_rows = [], []
        # ONE catalog sweep builds system.* AND the pg_catalog triple
        # (review finding: two identical walks doubled DDL latency).
        # Schemas come from one QUALIFIED analysis per table (review
        # finding: a bare spark.table(name) resolved every database's
        # "users" to the current one — wrong attrs cross-database).
        for d in databases:
            for t in spark.catalog.listTables(d.name):
                tabs.append(Row(database=d.name, name=t.name, engine=t.tableType or "VIEW"))
                internal = t.name in _BOOTSTRAP_VIEW_NAMES or any(
                    mark in t.name for mark in _INTERNAL_TABLE_MARKS
                )
                try:
                    # temp views have no database: resolve them bare
                    qual = t.name if t.isTemporary else f"`{d.name}`.`{t.name}`"
                    fields = spark.table(qual).schema.fields
                except Exception:  # noqa: BLE001 — unreadable relation
                    continue
                for c in fields:
                    cols.append(
                        Row(database=d.name, table=t.name, name=c.name, type=c.dataType.simpleString())
                    )
                if internal:
                    continue
                is_table = (t.tableType or "").upper() == "MANAGED"
                if is_table:
                    # DuckDB's duckdb_tables() lists BASE TABLES only —
                    # views live in duckdb_views() (pinned live; review
                    # finding: phantom 'tables' broke view enumeration)
                    dt_rows.append(
                        Row(
                            database_name=d.name,
                            schema_name="main",
                            table_name=t.name,
                            temporary=bool(t.isTemporary),
                        )
                    )
                else:
                    dv_rows.append(
                        Row(
                            database_name=d.name,
                            schema_name="main",
                            view_name=t.name,
                            temporary=bool(t.isTemporary),
                        )
                    )
                rel_oid = _oid(f"{d.name}.{t.name}")
                cls_rows.append(
                    Row(
                        oid=rel_oid,
                        relname=t.name,
                        relnamespace=_oid(d.name),
                        relkind="r" if is_table else "v",
                    )
                )
                # ONE not-null set + ONE field walk feeds both
                # duckdb_columns and pg_attribute (review finding: the
                # duplicated comprehension/loops could silently drift —
                # is_nullable and attnotnull must stay complements)
                cons = (
                    self.constraints.get(t.name) if d.name == current_db else []
                )
                nn = {
                    c
                    for cc in cons
                    if cc["kind"] in ("notnull", "primary")
                    for c in cc["cols"]
                }
                ist_rows.append(
                    Row(
                        table_catalog=d.name,
                        table_schema="main",
                        table_name=t.name,
                        table_type="BASE TABLE" if is_table else "VIEW",
                    )
                )
                for i, f in enumerate(fields, start=1):
                    notnull = (f.name in nn) or (not f.nullable)
                    meta = f.metadata if isinstance(f.metadata, dict) else {}
                    isc_rows.append(
                        Row(
                            table_catalog=d.name,
                            table_schema="main",
                            table_name=t.name,
                            column_name=f.name,
                            ordinal_position=i,
                            column_default=meta.get("CURRENT_DEFAULT"),
                            is_nullable="NO" if notnull else "YES",
                            data_type=_duckdb_type_name(f.dataType),
                        )
                    )
                    dc_rows.append(
                        Row(
                            database_name=d.name,
                            schema_name="main",
                            table_name=t.name,
                            column_name=f.name,
                            column_index=i,
                            data_type=_duckdb_type_name(f.dataType),
                            is_nullable=not notnull,
                        )
                    )
                    att_rows.append(
                        Row(
                            attrelid=rel_oid,
                            attname=f.name,
                            atttypid=spark_type_to_pg_oid(f.dataType),
                            attnum=i,
                            attnotnull=notnull,
                            attisdropped=False,
                        )
                    )
                if is_table and cons:
                    col_idx = {f.name.lower(): ix for ix, f in enumerate(fields)}
                    con_ix = iter(range(10**6))

                    def _con_row(ctype, ctext, ccols, expr=None):
                        dcon_rows.append(
                            Row(
                                database_name=d.name,
                                database_oid=_oid(d.name),
                                schema_name="main",
                                schema_oid=_oid(f"{d.name}.main"),
                                table_name=t.name,
                                table_oid=rel_oid,
                                constraint_index=next(con_ix),
                                constraint_type=ctype,
                                constraint_text=ctext,
                                expression=expr,
                                constraint_column_indexes=[
                                    col_idx[c.lower()]
                                    for c in ccols
                                    if c.lower() in col_idx
                                ],
                                constraint_column_names=list(ccols),
                            )
                        )

                    pk_cols: list[str] = []
                    nn_emitted: set[str] = set()
                    for cc in cons:
                        kind, ccols = cc["kind"], cc.get("cols", [])
                        joined = ", ".join(ccols)
                        if kind == "primary":
                            _con_row("PRIMARY KEY", f"PRIMARY KEY({joined})", ccols)
                            pk_cols = list(ccols)
                        elif kind == "unique":
                            _con_row("UNIQUE", f"UNIQUE({joined})", ccols)
                        elif kind == "notnull":
                            for c in ccols:
                                _con_row("NOT NULL", "NOT NULL", [c])
                                nn_emitted.add(c.lower())
                        elif kind == "check":
                            e = cc.get("expr", "")
                            _con_row("CHECK", f"CHECK(({e}))", ccols, f"({e})")
                        elif kind == "foreign":
                            ref_t = cc.get("ref_table", "")
                            ref_cols = cc.get("ref_cols") or [
                                c
                                for pc in self.constraints.get(ref_t)
                                if pc["kind"] == "primary"
                                for c in pc["cols"]
                            ]
                            _con_row(
                                "FOREIGN KEY",
                                f"FOREIGN KEY ({joined}) REFERENCES "
                                f"{ref_t}({', '.join(ref_cols)})",
                                ccols,
                            )
                    # DuckDB emits ONE NOT NULL row per PK column (after
                    # the explicit constraints; pinned live) — skip
                    # columns already emitted by an explicit NOT NULL
                    # (review finding: `id INT PRIMARY KEY NOT NULL`
                    # double-emitted, DuckDB shows exactly one row)
                    for c in pk_cols:
                        if c.lower() not in nn_emitted:
                            _con_row("NOT NULL", "NOT NULL", [c])
        spark.createDataFrame(tabs or [], "database string, name string, engine string").createOrReplaceTempView("system_tables")
        spark.createDataFrame(cols or [], "database string, table string, name string, type string").createOrReplaceTempView("system_columns")
        spark.createDataFrame(
            ist_rows or [],
            "table_catalog string, table_schema string, table_name string,"
            " table_type string",
        ).createOrReplaceTempView("info_schema_tables")
        spark.createDataFrame(
            isc_rows or [],
            "table_catalog string, table_schema string, table_name string,"
            " column_name string, ordinal_position int,"
            " column_default string, is_nullable string, data_type string",
        ).createOrReplaceTempView("info_schema_columns")
        spark.createDataFrame(
            [Row(catalog_name=d.name, schema_name="main") for d in databases]
            or [],
            "catalog_name string, schema_name string",
        ).createOrReplaceTempView("info_schema_schemata")
        catalog_fns = spark.catalog.listFunctions()
        funcs = [Row(name=f.name) for f in catalog_fns][:500]
        spark.createDataFrame(funcs or [], "name string").createOrReplaceTempView("system_functions")
        # duckdb_functions(): SQL macros from the macro registry (kind →
        # DuckDB's macro/table_macro, definition text verbatim) + the
        # engine's builtin surface from the same listFunctions sweep
        # (function_type scalar/aggregate from a pinned aggregate set,
        # internal=True). 18-column shape pinned vs live DuckDB 1.0.
        fn_rows = []
        for mname, rec in sorted(self.macros.names().items()):
            is_table_macro = rec.get("kind") == "table"
            body = rec.get("body")
            fn_rows.append(
                Row(
                    database_name=current_db,
                    database_oid=_oid(current_db),
                    schema_name="main",
                    function_name=mname,
                    function_type="table_macro" if is_table_macro else "macro",
                    description=None,
                    comment=None,
                    tags=None,
                    return_type=None,
                    parameters=list(rec.get("params", [])),
                    parameter_types=[None] * len(rec.get("params", [])),
                    varargs=None,
                    # DuckDB prints scalar macro bodies as a
                    # parenthesized expression — pinned live
                    macro_definition=(
                        body if is_table_macro or body is None else f"({body})"
                    ),
                    has_side_effects=None,
                    internal=False,
                    function_oid=_oid(f"macro.{mname}"),
                    example=None,
                    stability=None,
                )
            )
        for f in catalog_fns:
            fname = f.name.lower()
            fn_rows.append(
                Row(
                    database_name="system",
                    database_oid=_oid("system"),
                    schema_name="main",
                    function_name=f.name,
                    function_type=(
                        "aggregate" if fname in _AGGREGATE_FN_NAMES else "scalar"
                    ),
                    description=f.description,
                    comment=None,
                    tags=None,
                    return_type=None,
                    parameters=None,
                    parameter_types=None,
                    varargs=None,
                    macro_definition=None,
                    has_side_effects=None,
                    internal=True,
                    function_oid=_oid(f"fn.{fname}"),
                    example=None,
                    stability=None,
                )
            )
        spark.createDataFrame(
            fn_rows or [],
            "database_name string, database_oid bigint, schema_name string, "
            "function_name string, function_type string, description string, "
            "comment string, tags map<string,string>, return_type string, "
            "parameters array<string>, parameter_types array<string>, "
            "varargs string, macro_definition string, "
            "has_side_effects boolean, internal boolean, "
            "function_oid bigint, example string, stability string",
        ).createOrReplaceTempView("duckdb_functions")
        spark.createDataFrame(
            ns_rows or [], "oid int, nspname string"
        ).createOrReplaceTempView("pg_namespace")
        spark.createDataFrame(
            cls_rows or [], "oid int, relname string, relnamespace int, relkind string"
        ).createOrReplaceTempView("pg_class")
        spark.createDataFrame(
            att_rows or [],
            "attrelid int, attname string, atttypid int, attnum int, "
            "attnotnull boolean, attisdropped boolean",
        ).createOrReplaceTempView("pg_attribute")
        spark.createDataFrame(
            dt_rows or [],
            "database_name string, schema_name string, table_name string, "
            "temporary boolean",
        ).createOrReplaceTempView("duckdb_tables")
        spark.createDataFrame(
            dv_rows or [],
            "database_name string, schema_name string, view_name string, "
            "temporary boolean",
        ).createOrReplaceTempView("duckdb_views")
        spark.createDataFrame(
            dc_rows or [],
            "database_name string, schema_name string, table_name string, "
            "column_name string, column_index int, data_type string, "
            "is_nullable boolean",
        ).createOrReplaceTempView("duckdb_columns")
        spark.createDataFrame(
            dcon_rows or [],
            "database_name string, database_oid bigint, schema_name string, "
            "schema_oid bigint, table_name string, table_oid bigint, "
            "constraint_index bigint, constraint_type string, "
            "constraint_text string, expression string, "
            "constraint_column_indexes array<bigint>, "
            "constraint_column_names array<string>",
        ).createOrReplaceTempView("duckdb_constraints")
        # duckdb_schemas(): one `main` row per database — the same
        # database→database, schema→"main" mapping duckdb_tables uses;
        # internal=True matches DuckDB's own `main` row (pinned live)
        spark.createDataFrame(
            [
                Row(
                    oid=_oid(db.name),
                    database_name=db.name,
                    database_oid=_oid(db.name),
                    schema_name="main",
                    comment=None,
                    tags=None,
                    internal=True,
                    sql=None,
                )
                for db in databases
            ]
            or [],
            "oid bigint, database_name string, database_oid bigint, "
            "schema_name string, comment string, tags map<string,string>, "
            "internal boolean, sql string",
        ).createOrReplaceTempView("duckdb_schemas")
        # duckdb_settings(): the shared GUC table (the engine's settings
        # surface — SHOW/SET/pg_settings read the same dict) plus the
        # engine-truth `threads` key under DuckDB's canonical name.
        # Shape pinned vs live DuckDB 1.0 (name/value/description/
        # input_type/scope); metadata-only, no jobs.
        from duck_server_spark.engine.gucs import ALL_GUCS

        setting_rows = [
            Row(
                name="threads",
                value=str(spark.sparkContext.defaultParallelism),
                description="The number of total threads used by the system.",
                input_type="BIGINT",
                scope="GLOBAL",
            )
        ] + [
            Row(name=k, value=v[0], description=v[1], input_type="VARCHAR", scope="LOCAL")
            for k, v in sorted(ALL_GUCS.items())
        ]
        spark.createDataFrame(
            setting_rows,
            "name string, value string, description string, "
            "input_type string, scope string",
        ).createOrReplaceTempView("duckdb_settings")
        # Second introspection block (round 10): duckdb_databases /
        # duckdb_sequences / duckdb_indexes / duckdb_keywords /
        # duckdb_types — the rest of the TVF surface embedded DuckDB
        # serves behind the reference's delegation points. Shapes pinned
        # vs live DuckDB 1.x; values are engine truth (warehouse paths,
        # the sequence/index registries, this dialect's keyword list).
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        spark.createDataFrame(
            [
                Row(
                    database_name=db.name,
                    database_oid=_oid(db.name),
                    path=(
                        warehouse
                        if db.name == "default"
                        else os.path.join(warehouse, f"{db.name}.db")
                    ),
                    comment=None,
                    tags=None,
                    # type='duckdb' keeps client feature-switching on the
                    # path the reference's embedded engine reports
                    internal=False,
                    type="duckdb",
                    readonly=False,
                )
                for db in databases
            ]
            or [],
            "database_name string, database_oid bigint, path string, "
            "comment string, tags map<string,string>, internal boolean, "
            "type string, readonly boolean",
        ).createOrReplaceTempView("duckdb_databases")
        seq_rows = []
        for sname, rec in sorted(self.sequences._load().items()):
            inc = rec.get("inc", 1)
            nxt = rec.get("next")
            # records persisted before round 10 lack "start" — the
            # current high-water mark is the only honest approximation
            # (start_value may over-report and last_value under-report
            # for such sequences; newly created ones are exact)
            start = rec.get("start", nxt)
            used = "start" in rec and nxt != rec["start"]
            # DuckDB's sql text reflects the CURRENT high-water mark in
            # START (pinned live); last_value is NULL until first use
            seq_rows.append(
                Row(
                    database_name=current_db,
                    database_oid=_oid(current_db),
                    schema_name="main",
                    schema_oid=_oid(f"{current_db}.main"),
                    sequence_name=sname,
                    sequence_oid=_oid(f"seq.{sname}"),
                    comment=None,
                    tags=None,
                    temporary=False,
                    start_value=start,
                    min_value=1 if inc > 0 else -(2**63),
                    max_value=2**63 - 1 if inc > 0 else -1,
                    increment_by=inc,
                    cycle=False,
                    last_value=(nxt - inc) if used else None,
                    sql=(
                        f"CREATE SEQUENCE {sname} INCREMENT BY {inc} "
                        f"MINVALUE {1 if inc > 0 else -(2**63)} "
                        f"MAXVALUE {2**63 - 1 if inc > 0 else -1} "
                        f"START {nxt} NO CYCLE;"
                    ),
                )
            )
        spark.createDataFrame(
            seq_rows or [],
            "database_name string, database_oid bigint, schema_name string, "
            "schema_oid bigint, sequence_name string, sequence_oid bigint, "
            "comment string, tags map<string,string>, temporary boolean, "
            "start_value bigint, min_value bigint, max_value bigint, "
            "increment_by bigint, cycle boolean, last_value bigint, sql string",
        ).createOrReplaceTempView("duckdb_sequences")
        idx_rows = []
        for iname, rec in sorted(self.indexes.items()):
            itable = rec.get("table", "")
            icols = rec.get("cols", [])
            idx_rows.append(
                Row(
                    database_name=current_db,
                    database_oid=_oid(current_db),
                    schema_name="main",
                    schema_oid=_oid(f"{current_db}.main"),
                    index_name=iname,
                    index_oid=_oid(f"idx.{iname}"),
                    table_name=itable,
                    table_oid=_oid(f"{current_db}.{itable}"),
                    comment=None,
                    tags=None,
                    is_unique=bool(rec.get("unique")),
                    is_primary=False,
                    expressions=None,
                    sql=(
                        f"CREATE {'UNIQUE ' if rec.get('unique') else ''}INDEX "
                        f"{iname} ON {itable}({', '.join(icols)});"
                    ),
                )
            )
        spark.createDataFrame(
            idx_rows or [],
            "database_name string, database_oid bigint, schema_name string, "
            "schema_oid bigint, index_name string, index_oid bigint, "
            "table_name string, table_oid bigint, comment string, "
            "tags map<string,string>, is_unique boolean, is_primary boolean, "
            "expressions string, sql string",
        ).createOrReplaceTempView("duckdb_indexes")
        # keywords: THIS dialect's quoting-sensitivity list (the same
        # set normalize_quoted_idents keeps backticked) as 'reserved' —
        # engine truth, not a transcript of DuckDB's 479-row table
        from duck_server_spark.plans.rewrites import _QUOTED_IDENT_KEYWORDS

        spark.createDataFrame(
            [
                Row(keyword_name=k, keyword_category="reserved")
                for k in sorted(_QUOTED_IDENT_KEYWORDS)
            ],
            "keyword_name string, keyword_category string",
        ).createOrReplaceTempView("duckdb_keywords")
        # extensions: DuckDB 1.0's 9-column shape (paren-only TVF there
        # — the bare spelling is a Catalog Error in DuckDB; serving the
        # view under both spellings is a harmless superset). Rows are
        # ENGINE TRUTH, not a transcript: the capability packs DuckDB
        # ships as always-loaded extensions that this engine genuinely
        # provides through Spark built-ins.
        spark.createDataFrame(
            [
                Row(
                    extension_name=n,
                    loaded=True,
                    installed=True,
                    install_path="(built-in)",
                    description=desc,
                    aliases=[],
                    extension_version="",
                    install_mode="STATICALLY_LINKED",
                    installed_from="",
                )
                for n, desc in (
                    ("json", "JSON functions (from_json/to_json/json_tuple)"),
                    ("parquet", "Native columnar Parquet read/write"),
                    ("icu", "Collations and time zones (session TZ pinned UTC)"),
                )
            ],
            "extension_name string, loaded boolean, installed boolean, "
            "install_path string, description string, "
            "aliases array<string>, extension_version string, "
            "install_mode string, installed_from string",
        ).createOrReplaceTempView("duckdb_extensions")
        spark.createDataFrame(
            [
                Row(
                    database_name="system",
                    database_oid=_oid("system"),
                    schema_name="main",
                    schema_oid=_oid("system.main"),
                    type_oid=_oid(f"type.{n}"),
                    type_name=n,
                    type_size=sz,
                    logical_type=lt,
                    type_category=cat,
                    comment=None,
                    tags=None,
                    internal=True,
                    labels=None,
                )
                for n, sz, lt, cat in _DUCKDB_TYPE_ROWS
            ],
            "database_name string, database_oid bigint, schema_name string, "
            "schema_oid bigint, type_oid bigint, type_name string, "
            "type_size bigint, logical_type string, type_category string, "
            "comment string, tags map<string,string>, internal boolean, "
            "labels array<string>",
        ).createOrReplaceTempView("duckdb_types")
        # information_schema constraint views (round 7): JDBC metadata's
        # getPrimaryKeys/getImportedKeys read these; names match the
        # runtime-generated constraint names used in error messages
        tc_rows, kcu_rows = [], []
        type_names = {
            "primary": "PRIMARY KEY",
            "unique": "UNIQUE",
            "foreign": "FOREIGN KEY",
            "check": "CHECK",
        }
        for tbl, cons in self.constraints._load().items():
            for c in cons:
                kind = c.get("kind")
                if kind not in type_names:
                    continue
                cols = c.get("cols", [])
                if kind == "primary":
                    cname = f"{tbl}_pkey"
                elif kind == "check":
                    cname = f"{tbl}_{'_'.join(cols)}_check" if cols else f"{tbl}_check"
                else:
                    suffix = "fkey" if kind == "foreign" else "key"
                    cname = f"{tbl}_{'_'.join(cols)}_{suffix}"
                tc_rows.append(
                    Row(
                        constraint_name=cname,
                        table_name=tbl,
                        constraint_type=type_names[kind],
                    )
                )
                for i, col in enumerate(cols, start=1):
                    kcu_rows.append(
                        Row(
                            constraint_name=cname,
                            table_name=tbl,
                            column_name=col,
                            ordinal_position=i,
                        )
                    )
        spark.createDataFrame(
            tc_rows or [],
            "constraint_name string, table_name string, constraint_type string",
        ).createOrReplaceTempView("table_constraints")
        spark.createDataFrame(
            kcu_rows or [],
            "constraint_name string, table_name string, column_name string, "
            "ordinal_position int",
        ).createOrReplaceTempView("key_column_usage")
        # pg_settings (round 8): psql \dconfig and ORMs introspect it;
        # same shared GUC table SHOW ALL / ParameterStatus report
        from duck_server_spark.engine.gucs import ALL_GUCS

        spark.createDataFrame(
            [Row(name=k, setting=v[0], short_desc=v[1]) for k, v in sorted(ALL_GUCS.items())],
            "name string, setting string, short_desc string",
        ).createOrReplaceTempView("pg_settings")

    @staticmethod
    def _shim_catalog_refs(q: str) -> str:
        def repl(m: re.Match) -> str:
            name = m.group(0).lower()
            mapping = {
                "system.databases": "system_databases",
                "system.tables": "system_tables",
                "system.columns": "system_columns",
                "system.functions": "system_functions",
                "information_schema.schemata": "info_schema_schemata",
                "information_schema.tables": "info_schema_tables",
                "information_schema.columns": "info_schema_columns",
                "information_schema.constraint_column_usage": "constraint_column_usage",
                "information_schema.table_constraints": "table_constraints",
                "information_schema.key_column_usage": "key_column_usage",
                "pg_catalog.pg_type": "pg_type",
                "pg_catalog.pg_class": "pg_class",
                "pg_catalog.pg_namespace": "pg_namespace",
                "pg_catalog.pg_attribute": "pg_attribute",
                "pg_catalog.pg_settings": "pg_settings",
            }
            return mapping.get(name, m.group(0))

        return _CATALOG_REF.sub(repl, q)

    # ----------------------------------------------------------- queries

    def _prepare_sql(
        self, q: str, dialect: str, _literals_normalized: bool = False
    ) -> str:
        # bind-at-use for views over macros (round 9): a statement that
        # names such a view errors if a referenced macro was dropped and
        # re-bakes the view if one was redefined (engine/macros.py)
        self._check_macro_views(q, dialect)
        # macro expansion FIRST: bodies are DuckDB-dialect text and get
        # the full shim treatment below after inlining (engine/macros.py)
        from duck_server_spark.engine.macros import expand_calls

        q = expand_calls(q, self.macros)
        # duck/PG string-literal semantics → Spark's (round 10): plain
        # literals are RAW in the source dialect (backslash is data);
        # runs EXACTLY ONCE per statement, after macro inlining (bodies
        # are duck-dialect) and before every shim that injects
        # Spark-dialect literals. NOT idempotent — every nested
        # _prepare_sql call on a slice of an ALREADY-normalized
        # statement must pass _literals_normalized=True (today only the
        # COLUMNS() schema probe below; raw-statement fragments from
        # query()/execute() normalize here, once each).
        if not _literals_normalized:
            q = rewrites.normalize_literals(q)
        # COLUMNS(*) / COLUMNS('regex') expansion BEFORE the dialect
        # rewrite: the `* EXCLUDE (…)` spelling inside COLUMNS must not
        # be star-rewritten first, and macro bodies may produce COLUMNS
        q = self._expand_columns(q, dialect)
        # multi-unnest zip / struct-unnest / recursive unnest select
        # items (round 10) — schema probe like COLUMNS(), before the
        # dialect rewrite aliases scalar unnest → explode
        q = self._expand_unnest_items(q, dialect)
        # ONE probe cache shared by every FROM-schema / expression-type
        # pass below (round 13, VERDICT r12 item 6): a probe any pass
        # pays for is free to all later passes — and lets
        # _restore_stored_case fix all-lowercase refs at zero extra
        # cost. Engine-lived across statements, cleared on writes.
        # duck file table functions with options → hidden temp views,
        # BEFORE the probe passes so their schemas resolve (round 13)
        q = self._expand_file_reads(q, dialect)
        probe_cache = self._probe_cache
        if len(probe_cache) > 4096:
            probe_cache.clear()
        q = self._expand_positional_refs(q, dialect, probe_cache)
        # column-typed date − date → BIGINT days (round 12): needs the
        # FROM-schema probe, so it lives here rather than in the pure-
        # text rewrite layer (which closes the provable-literal cases)
        q = self._retype_date_arith(q, dialect, probe_cache)
        q = self._retype_int_casts(q, dialect, probe_cache)  # tie rules
        # struct/list/map column → VARCHAR duck-text (round 13)
        q = self._retype_complex_str_casts(q, dialect, probe_cache)
        q = self._retype_decimal_quantiles(q, dialect, probe_cache)
        q = self._retype_list_sums(q, dialect, probe_cache)
        self._guard_positional_join(q)
        q = self._restore_stored_case(q, dialect, probe_cache)
        q = rewrites.rewrite_ch_query(q) if dialect == "ch" else rewrites.rewrite_pg_query(q)
        if _CATALOG_REF.search(q):
            self._refresh_catalog_views()
            q = self._shim_catalog_refs(q)
        return q

    def _check_macro_views(self, q: str, dialect: str = "pg") -> None:
        """DuckDB bind-at-use for views over macros (round 9): for every
        registered macro-view NAMED in the statement, a dropped macro
        raises DuckDB's Catalog Error and a redefined macro re-bakes the
        view from its ORIGINAL text (fingerprints updated first, so the
        nested prepare of the refresh passes cleanly). Costs one
        mtime-cached dict read when no view uses macros."""
        mv = self.macro_views.all()
        if not mv:
            return
        # Only statements that can actually BIND a view trigger the
        # dependency check — DROP TABLE of a same-named table, SET, SHOW
        # etc. must never 42883 on a broken macro-view they merely name
        # (round-10 advice finding). Search a literal-masked twin so the
        # view's name inside a string literal doesn't count either.
        from duck_server_spark.plans.rewrites import _mask_literals

        q_masked = _mask_literals(q)
        # comments can't bind anything either — blank them (after the
        # literal mask, so a '--' inside a string stays data)
        q_masked = re.sub(r"--[^\n]*", lambda m: " " * len(m.group(0)), q_masked)
        q_masked = re.sub(
            r"/\*.*?\*/", lambda m: " " * len(m.group(0)), q_masked, flags=re.DOTALL
        )
        # statement head from the comment-blanked twin (review finding:
        # a leading ORM comment — '/* sqlcommenter */ SELECT …' — made
        # the raw-text head '' and silently SKIPPED the check, serving
        # stale macro-view rows); leading parens are a SELECT wrapper
        head_m = re.match(r"[\s(]*([a-zA-Z]+)", q_masked)
        head = head_m.group(1).lower() if head_m else ""
        if head not in self._VIEW_BINDING_HEADS:
            return
        from duck_server_spark.engine.errors import PgError

        # DROP VIEW / CREATE OR REPLACE VIEW of the macro-view itself
        # must never be blocked by its broken dependency — DuckDB drops/
        # replaces such views fine; only QUERYING them errors (review
        # finding: the registry was otherwise poisoned with no SQL-level
        # escape short of recreating the macro)
        skip = None
        hm = self._DROP_VIEW_HEAD.match(q) or self._CREATE_VIEW_HEAD.match(q)
        if hm is not None:
            skip = hm.group("name").split(".")[-1].strip('`"').lower()
        cur_macros = self.macros.names()
        for vname, rec in mv.items():
            if vname == skip:
                continue
            if not re.search(rf"\b{re.escape(vname)}\b", q_masked, re.IGNORECASE):
                continue
            changed = False
            for mname, saved in rec["macros"].items():
                cur = cur_macros.get(mname)
                kind = saved.get("kind", "scalar")
                if cur is None or cur.get("kind", "scalar") != kind:
                    kw = "Table Function" if kind == "table" else "Scalar Function"
                    raise PgError(
                        "42883",
                        f"Catalog Error: {kw} with name {mname} does not exist!",
                    )
                if cur != saved:
                    changed = True
            if changed:
                from duck_server_spark.engine.macros import referenced_macros

                self.macro_views.set(
                    vname,
                    rec["refresh"],
                    referenced_macros(rec["refresh"], self.macros),
                )
                self.spark.sql(self._prepare_sql(rec["refresh"], dialect)).collect()

    # statement heads that can bind a view in FROM position — anything
    # else (DROP/ALTER/SET/SHOW/PRAGMA/...) merely NAMES identifiers and
    # must not trip the macro-view dependency check
    _VIEW_BINDING_HEADS = frozenset(
        {
            "select",
            "with",
            "from",  # FROM-first syntax
            "insert",
            "update",
            "delete",
            "merge",
            "create",  # CTAS / CREATE VIEW ... AS SELECT
            "copy",
            "export",
            "table",
            "values",
            "explain",
            "describe",
            "desc",
            "summarize",
        }
    )

    _CREATE_VIEW_HEAD = re.compile(
        r"^\s*create\s+(?:or\s+replace\s+)?(?:temp(?:orary)?\s+)?view\s+"
        r"(?:if\s+not\s+exists\s+)?(?P<name>[\w.`\"]+)\s*"
        r"(?P<cols>\([^)]*\)\s*)?as\s+(?P<body>.+?);?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_VIEW_HEAD = re.compile(
        r"^\s*drop\s+view\s+(?:if\s+exists\s+)?(?P<name>[\w.`\"]+)\s*;?\s*$",
        re.IGNORECASE,
    )

    def _register_macro_view(self, q: str) -> None:
        """After a successful CREATE VIEW: record macro dependencies (or
        clear a stale record when the replacement uses none)."""
        m = self._CREATE_VIEW_HEAD.match(q)
        if m is None:
            return
        from duck_server_spark.engine.macros import referenced_macros

        name = m.group("name").split(".")[-1].strip('`"')
        refs = referenced_macros(m.group("body"), self.macros)
        if refs:
            refresh = (
                f"CREATE OR REPLACE VIEW {m.group('name')} "
                f"{m.group('cols') or ''}AS {m.group('body')}"
            )
            self.macro_views.set(name, refresh, refs)
        else:
            self.macro_views.drop(name)

    def _gated_sql(self, text: str) -> DataFrame:
        """spark.sql under the SHARED visibility gate (round 8 review):
        EVERY analysis of user SQL that can reference multiple tables
        must hold the gate, not just Engine.query — an INSERT…SELECT or
        CTAS that resolved table A after its publish and table B before
        it would otherwise PERSIST a mixed snapshot, the exact anomaly
        the gate closes for reads. Held across analysis only where the
        call is lazy; eager commands (CTAS) hold it for their run — a
        COMMIT then waits for the in-flight statement, which is the
        serialization order a client would expect anyway."""
        from duck_server_spark.engine.transactions import VISIBILITY_GATE

        with VISIBILITY_GATE.reading():
            return self.spark.sql(text)

    def query(self, q: str, dialect: str = "pg") -> DataFrame:
        # PG double-quoted identifiers → backticks BEFORE the intercept
        # regexes so `PRAGMA table_info("t")` / `DESCRIBE "t"` etc. see
        # one quoting dialect (round 10; idempotent, rewrite_common
        # re-applies harmlessly for non-intercepted statements)
        q = rewrites.normalize_quoted_idents(q)
        q = self._resolve_sequences(q, scalar_select=True)
        m = _SUMMARIZE.match(q)
        if m:
            return self._summarize(m.group(1), dialect)
        if re.match(r"\s*pivot\b", q, re.IGNORECASE):
            # DuckDB's simplified PIVOT statement — engine/pivot.py.
            # A SUBQUERY source (round 11: `PIVOT (SELECT …) ON …`)
            # materializes through a temp view first, the same pattern
            # as (DESCRIBE …)-in-FROM.
            from duck_server_spark.engine.pivot import pivot_statement

            # mutate a COPY: on a None return (not actually the duck
            # PIVOT statement shape) the original q falls through to the
            # later handlers untouched and the temp view is dropped
            # (round 12, ADVICE r11)
            q_orig, src_view = q, None
            pm = re.match(r"\s*pivot\s*\(", q, re.IGNORECASE)
            if pm:
                masked = rewrites._mask_literals(q)
                end = rewrites._scan_balanced(masked, pm.end())
                sub = self.query(q[pm.end() : end - 1], dialect)
                self._DESC_SEQ[0] += 1
                src_view = f"__duck_pivot_src_{self._DESC_SEQ[0]}"
                sub.createOrReplaceTempView(src_view)
                q = q[: pm.end() - 1] + src_view + q[end:]
            # a trailing depth-0 ORDER BY / LIMIT applies AFTER the
            # pivot (round 11) — split it off, apply through a view
            tail = None
            masked = rewrites._mask_literals(q)
            for tm in re.finditer(r"\b(ORDER\s+BY|LIMIT)\b", masked, re.IGNORECASE):
                before = masked[: tm.start()]
                if before.count("(") == before.count(")"):
                    tail = q[tm.start() :]
                    q = q[: tm.start()]
                    break
            df = pivot_statement(self.spark, q)
            if df is not None:
                if tail:
                    self._DESC_SEQ[0] += 1
                    vn = f"__duck_pivot_out_{self._DESC_SEQ[0]}"
                    df.createOrReplaceTempView(vn)
                    return self.query(f"SELECT * FROM {vn} {tail}", dialect)
                return df
            q = q_orig
            if src_view is not None:
                self.spark.catalog.dropTempView(src_view)
        m = _DESCRIBE_STMT.match(q)
        if m:
            return self._describe(m.group(1), dialect)
        if _SHOW_TABLES.match(q):
            # DuckDB's single-column shape (name), not Spark's
            # (namespace, tableName, isTemporary) — reference returns
            # embedded DuckDB's output. Catalog-only, sorted.
            from pyspark.sql import types as T

            return self.spark.createDataFrame(
                [(n,) for n in self._user_table_names()],
                T.StructType([T.StructField("name", T.StringType())]),
            )
        if re.match(r"\s*pragma\b", q, re.IGNORECASE):
            # DuckDB's PRAGMA family (round 9) — engine/pragma.py
            from duck_server_spark.engine.pragma import run_pragma

            df = run_pragma(self, q)
            if df is not None:
                return df
        m = re.match(
            r"^\s*call\s+pragma_(\w+)\s*\(\s*(.*?)\s*\)\s*;?\s*$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # DuckDB's CALL spelling of the pragma functions
            # (CALL pragma_table_info('t') ≡ PRAGMA table_info('t'))
            from duck_server_spark.engine.pragma import run_pragma

            inner = (
                f"PRAGMA {m.group(1)}({m.group(2)})"
                if m.group(2)
                else f"PRAGMA {m.group(1)}"
            )
            df = run_pragma(self, inner)
            if df is not None:
                return df
        cp = _CHECKPOINT.match(q)
        if cp:
            # DuckDB's CHECKPOINT compacts the WAL; the analog here is
            # reclaiming superseded COW version dirs (round 10 — grace
            # honored; FORCE sweeps grace-zero only when the visibility
            # gate is idle). Ack with DuckDB's empty Success shape.
            from pyspark.sql import types as T

            from duck_server_spark.engine.transactions import checkpoint_sweep

            checkpoint_sweep(self.spark, force=bool(cp.group(1)))
            return self.spark.createDataFrame(
                [], T.StructType([T.StructField("Success", T.BooleanType())])
            )
        m = _SHOW_ONE.match(q)
        if m and m.group(1).lower() not in _SHOW_NATIVE_VERBS:
            name = m.group(1)
            low = name.lower()
            from duck_server_spark.engine.gucs import ALL_GUCS

            if low == "all":
                # PG's SHOW ALL shape: (name, setting, description)
                from pyspark.sql import types as T

                return self.spark.createDataFrame(
                    [(k, v[0], v[1]) for k, v in sorted(ALL_GUCS.items())],
                    T.StructType(
                        [
                            T.StructField("name", T.StringType()),
                            T.StructField("setting", T.StringType()),
                            T.StructField("description", T.StringType()),
                        ]
                    ),
                )
            if self.spark.catalog.tableExists(low):
                # DuckDB's `SHOW <table>` ≡ DESCRIBE <table> shortcut
                # (the reference delegates SHOW to embedded DuckDB)
                return self._describe(low, dialect)
            if low in ALL_GUCS:
                from duck_server_spark.engine.gucs import sql_str

                return self.spark.sql(
                    f"SELECT '{sql_str(ALL_GUCS[low][0])}' AS `{low}`"
                )
            from duck_server_spark.engine.errors import PgError

            raise PgError(
                "42704", f'unrecognized configuration parameter "{low}"'
            )
        # ASOF shim helper columns can survive star shapes the textual
        # EXCEPT wrap can't reach (CTE-star, alias.* through a derived
        # table — ADVICE r6); the schema-level drop covers every shape.
        #
        # Analysis runs under the SHARED visibility gate (round 8):
        # spark.sql() resolves table names and snapshots file listings
        # eagerly, and a multi-table COMMIT holds the gate exclusively
        # across its whole publish sweep — so this query sees every
        # committed table all-old or all-new, never a mixed snapshot.
        from duck_server_spark.engine.transactions import VISIBILITY_GATE

        df = self._union_by_name(q, dialect)
        if df is not None:
            return df
        # DuckDB's percentage LIMIT (round 10): `LIMIT 40%` = floor of
        # pct × row count (pinned live). Costs ONE extra count job over
        # the same pruned plan — the same work duck's own percent-limit
        # does; absolute LIMIT stays the native single-pass operator.
        _pctmask = rewrites._mask_literals(q)
        lm = self._LIMIT_PCT.search(_pctmask)
        if lm:
            before = _pctmask[: lm.start()]
            if before.count("(") == before.count(")"):
                inner = q[: lm.start()] + " " + q[lm.end() :]
                df = self.query(inner, dialect)
                k = int(df.count() * float(lm.group(1)) / 100.0)
                return df.limit(k)
            # nested: materialize the innermost enclosing subquery (it
            # recursively resolves ITS top-level percent limit), then
            # substitute a temp view — same pattern as (DESCRIBE …)
            depth = 0
            j = lm.start()
            while j >= 0:
                if _pctmask[j] == ")":
                    depth += 1
                elif _pctmask[j] == "(":
                    depth -= 1
                    if depth < 0:
                        break
                j -= 1
            if j >= 0:
                end = rewrites._scan_balanced(_pctmask, j + 1)
                sub = self.query(q[j + 1 : end - 1], dialect)
                self._DESC_SEQ[0] += 1
                name = f"__duck_sub_{self._DESC_SEQ[0]}"
                sub.createOrReplaceTempView(name)
                return self.query(q[:j] + name + q[end:], dialect)
        # (DESCRIBE …) / (SUMMARIZE …) as a FROM relation (round 10):
        # materialize through the metadata path, substitute a temp view
        q = self._materialize_describe_subqueries(q, dialect)
        sql_text = self._prepare_sql(q, dialect)
        with VISIBILITY_GATE.reading():
            return self._strip_asof_helpers(self.spark.sql(sql_text))

    # the '%' must END the limit clause (ADVICE r10): 'LIMIT 40 % 5' is
    # a modulo expression, not a percent limit — lookahead for the only
    # tokens that can follow (clause end / ')' / ';' / OFFSET / set op)
    _LIMIT_PCT = re.compile(
        r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*%"
        r"(?=\s*(?:$|\)|;|OFFSET\b|UNION\b|INTERSECT\b|EXCEPT\b))",
        re.IGNORECASE,
    )
    _UNNEST_ITEM = re.compile(
        r"^\s*unnest\s*\(", re.IGNORECASE
    )
    _RECURSIVE_ARG = re.compile(r"^\s*recursive\s*:=\s*true\s*$", re.IGNORECASE)

    def _expand_unnest_items(self, q: str, dialect: str) -> str:
        """DuckDB select-list unnest shapes Spark's explode alias can't
        express (round 10, pinned live):

        - MULTIPLE unnest items ZIP positionally, padding the shorter
          lists with NULL (`unnest([1,2,3]), unnest([10,20])` → 3 rows,
          last (3, NULL)) — Spark would cross-join two generators (and
          refuses >1 per select anyway). Lowered to ONE inline() over an
          index-zipped struct array: a single generator, one pass, no
          join — the shape that scales.
        - unnest(struct) expands the struct's fields into COLUMNS
          (one row), name per field.
        - unnest(x, recursive := true) flattens nested lists to scalars
          and explodes a list-of-structs into columns (inline()).

        Struct detection needs the FROM-relation schema: one
        analysis-only probe per statement through the same path as
        COLUMNS() (no jobs). Single plain-list unnests keep the direct
        explode alias (no probe).

        EVERY select scope is visited, not just the statement's first
        (ADVICE r10): `WITH t AS (SELECT 1) SELECT unnest(a), unnest(b)
        FROM t` and set-op arms after the first must expand too."""
        if "unnest" not in q.lower():
            return q
        sel_re = re.compile(r"\bselect\b", re.IGNORECASE)
        pos = 0
        while True:
            masked = rewrites._mask_literals(q)
            sel = sel_re.search(masked, pos)
            if sel is None:
                return q
            new_q = self._expand_unnest_scope(q, masked, sel, dialect)
            pos = sel.end()
            if new_q is not None:
                q = new_q

    def _expand_unnest_scope(self, q, masked, sel, dialect):
        """One select scope of _expand_unnest_items; None = unchanged."""
        # depth-0 FROM for this select scope
        frm = None
        stop = len(masked)
        depth = 0
        for i in range(sel.end(), len(masked)):
            ch = masked[i]
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
                if depth < 0:
                    break
            elif depth == 0 and ch in "fF":
                if re.match(r"from\b", masked[i:], re.IGNORECASE) and not (
                    masked[i - 1].isalnum() or masked[i - 1] == "_"
                ):
                    frm = i
                    break
            elif depth == 0 and ch in "oOlLuUiIeE":
                # FROM-less select: the item list still ends at a
                # depth-0 clause keyword (ORDER BY 1 tail, round 10)
                if re.match(
                    r"(order|limit|union|intersect|except|window)\b",
                    masked[i:],
                    re.IGNORECASE,
                ) and not (masked[i - 1].isalnum() or masked[i - 1] == "_"):
                    stop = i
                    break
        sel_end = frm if frm is not None else stop
        from duck_server_spark.plans.fn_shims import _split_args

        items_text = q[sel.end() : sel_end]
        items_masked = masked[sel.end() : sel_end]
        items = _split_args(items_text, items_masked)
        if not items:
            return None
        parsed = []  # (kind, expr, recursive, alias) kind: unnest|other
        for it in items:
            im = self._UNNEST_ITEM.match(it)
            if im is None:
                parsed.append(("other", it, False, None, it))
                continue
            mit = rewrites._mask_literals(it)
            end = rewrites._scan_balanced(mit, im.end())
            args = _split_args(
                it[im.end() : end - 1], mit[im.end() : end - 1]
            )
            tail = it[end:].strip()
            am = re.match(r"^(?:AS\s+)?([\w`]+)\s*$", tail, re.IGNORECASE)
            alias = am.group(1).strip("`") if am and tail else None
            if tail and am is None:
                parsed.append(("other", it, False, None, it))
                continue
            rec = any(self._RECURSIVE_ARG.match(a) for a in args[1:])
            extra = [a for a in args[1:] if not self._RECURSIVE_ARG.match(a)]
            if extra or not args:
                parsed.append(("other", it, False, None, it))
                continue
            parsed.append(("unnest", args[0], rec, alias, it))
        unnests = [p for p in parsed if p[0] == "unnest"]
        if not unnests:
            return None
        # fast path: one non-recursive unnest over a BRACKET-LITERAL
        # argument is provably an array — the direct explode alias, no
        # probe. Everything else (bare columns included) probes: a
        # struct COLUMN must expand into fields, not error (second
        # review pass caught the substring heuristic regressing that),
        # and the probe is one driver-side analysis, no job.
        if len(unnests) == 1 and not unnests[0][2]:
            if re.match(r"^\s*(\[|array\s*\()", unnests[0][1], re.IGNORECASE):
                return None

        wprefix = self._with_prefix_for(q, masked, sel.start())

        def probe_type(expr: str):
            tailq = q[frm:sel_end_full] if frm is not None else ""
            probe = f"{wprefix} SELECT ({expr}) AS __u {tailq}"
            return (
                self.spark.sql(
                    self._prepare_sql(probe, dialect, _literals_normalized=True)
                )
                .schema.fields[0]
                .dataType
            )

        # FROM-tail scope end (closing paren / set-op), as in COLUMNS()
        sel_end_full = len(masked)
        if frm is not None:
            depth = 0
            for i in range(frm, len(masked)):
                ch = masked[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth < 0:
                        sel_end_full = i
                        break
                elif depth == 0 and re.match(
                    r"(union|intersect|except|order|limit)\b",
                    masked[i:],
                    re.IGNORECASE,
                ) and not (masked[i - 1].isalnum() or masked[i - 1] == "_"):
                    sel_end_full = i
                    break
        from pyspark.sql import types as T

        out_items: list[str] = []
        zip_members: list[tuple[str, str]] = []  # (expr, alias)
        changed = False
        zip_slot: int | None = None
        # classify each unnest by probed type
        classified = []
        for kind, expr, rec, alias, orig in parsed:
            if kind == "other":
                classified.append(("other", expr, None, None))
                continue
            try:
                dt = probe_type(expr)
            except Exception:  # noqa: BLE001 — keep the ORIGINAL item
                # text (incl. its alias tail — review catch); loud later
                classified.append(("other", orig, None, None))
                continue
            classified.append(("unnest", expr, rec, (alias, dt)))
        n_plain_arrays = sum(
            1
            for k, _e, rec, meta in classified
            if k == "unnest"
            and not rec
            and isinstance(meta[1], T.ArrayType)
        )
        for k, expr, rec, meta in classified:
            if k == "other":
                out_items.append(expr)
                continue
            alias, dt = meta
            if rec:
                # flatten nested lists fully; a struct element explodes
                # into columns via inline()
                inner_dt = dt
                fexpr = expr
                while isinstance(inner_dt, T.ArrayType) and isinstance(
                    inner_dt.elementType, T.ArrayType
                ):
                    fexpr = f"flatten({fexpr})"
                    inner_dt = inner_dt.elementType
                if isinstance(inner_dt, T.ArrayType) and isinstance(
                    inner_dt.elementType, T.StructType
                ):
                    out_items.append(f"inline({fexpr})")
                elif isinstance(inner_dt, T.StructType):
                    for f in inner_dt.fields:
                        out_items.append(f"({fexpr}).`{f.name}` AS `{f.name}`")
                else:
                    out_items.append(
                        f"explode({fexpr})"
                        + (f" AS `{alias}`" if alias else "")
                    )
                changed = True
            elif isinstance(dt, T.StructType):
                for f in dt.fields:
                    out_items.append(f"({expr}).`{f.name}` AS `{f.name}`")
                changed = True
            elif isinstance(dt, T.ArrayType) and n_plain_arrays >= 2:
                if zip_slot is None:
                    zip_slot = len(out_items)
                    out_items.append("__ZIP_PLACEHOLDER__")
                zip_members.append((expr, alias or "unnest"))
                changed = True
            else:
                # single plain list: the explode alias path is exact
                out_items.append(
                    f"unnest({expr})" + (f" AS `{alias}`" if alias else "")
                )
        if zip_members and zip_slot is not None:
            sizes = ", ".join(f"size({e})" for e, _a in zip_members)
            g = f"greatest({sizes})"
            fields = ", ".join(
                f"try_element_at({e}, __uz) AS `{a}`" for e, a in zip_members
            )
            zipped = (
                f"inline(transform(slice(sequence(1, greatest({g}, 1)), 1, "
                f"greatest({g}, 0)), __uz -> struct({fields})))"
            )
            out_items[zip_slot] = zipped
        if not changed:
            return None
        return q[: sel.end()] + " " + ", ".join(out_items) + " " + q[sel_end:]
    _DESCRIBE_SUB = re.compile(r"\(\s*(DESCRIBE|SUMMARIZE)\b", re.IGNORECASE)
    _DESC_SEQ = [0]

    def _materialize_describe_subqueries(self, q: str, dialect: str) -> str:
        """`FROM (DESCRIBE …)` / `FROM (SUMMARIZE …)`: run the inner
        metadata statement through its own path and substitute a temp
        view. Metadata-only (DESCRIBE never scans; SUMMARIZE scans once
        like duck's)."""
        while True:
            masked = rewrites._mask_literals(q)
            m = self._DESCRIBE_SUB.search(masked)
            if m is None:
                return q
            end = rewrites._scan_balanced(masked, m.start() + 1)
            inner = q[m.start() + 1 : end - 1]
            df = self.query(inner, dialect)
            self._DESC_SEQ[0] += 1
            name = f"__duck_meta_{self._DESC_SEQ[0]}"
            df.createOrReplaceTempView(name)
            q = q[: m.start()] + name + q[end:]

    @staticmethod
    def _with_prefix_for(q: str, masked: str, sel_start: int) -> str:
        """The statement's leading WITH clause, for prefixing a
        FROM-tail schema probe: for a scope select in the MAIN body
        (round 11: `WITH c AS (…) SELECT unnest(a), unnest(b) FROM c`)
        the full definition list; for a scope select INSIDE a CTE body
        (round 12, ADVICE r11: `WITH a AS (…), b AS (SELECT #1 FROM a)`)
        the definitions PRECEDING that CTE — exactly the relations the
        body can reference. Empty when there is no WITH clause or the
        scope select sits in the first CTE (which can only reference
        base tables)."""
        mw = re.match(r"\s*WITH(\s+RECURSIVE)?\b", masked, re.IGNORECASE)
        if mw is None:
            return ""
        depth = 0
        starts = [mw.end()]  # start offset of each CTE definition
        for i in range(mw.end(), len(masked)):
            ch = masked[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                if ch == ",":
                    starts.append(i + 1)
                elif (
                    ch in "sS"
                    and re.match(r"select\b", masked[i:], re.IGNORECASE)
                    and not (masked[i - 1].isalnum() or masked[i - 1] == "_")
                ):
                    if sel_start >= i:
                        return q[:i]  # main-body scope: all definitions
                    break
        # scope select inside CTE definition k: prefix = defs 0..k-1
        k = max((j for j, b in enumerate(starts) if b <= sel_start), default=0)
        return q[: starts[k] - 1] if k > 0 else ""

    _POS_REF = re.compile(r"#(\d+)\b")

    @staticmethod
    def _paren_scan(seg: str) -> tuple[int, bool]:
        depth, neg = 0, False
        for ch in seg:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    neg = True
        return depth, neg

    def _scope_from_parts(self, q, masked, pos):
        """(with_prefix, from_tail_text) of the select scope enclosing
        `pos`; from_tail_text is None for a FROM-less scope, and the
        whole result is None when pos is not inside a select scope."""
        sel = None
        for sm in re.finditer(r"\bselect\b", masked[:pos], re.IGNORECASE):
            if not self._paren_scan(masked[sm.end() : pos])[1]:
                sel = sm
        if sel is None:
            return None
        prefix = self._with_prefix_for(q, masked, sel.start())
        frm = None
        for fm in re.finditer(r"\bfrom\b", masked, re.IGNORECASE):
            if fm.start() > sel.end() and self._paren_scan(
                masked[sel.end() : fm.start()]
            ) == (0, False):
                frm = fm
                break
        if frm is None:
            return (prefix, None)
        end = len(q)
        depth = 0
        for i in range(frm.end(), len(masked)):
            ch = masked[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    end = i
                    break
            elif depth == 0 and ch in "uUiIeEoOlLwWgGhHqQ":
                # stop at predicate/grouping clauses too (review r11:
                # an expression inside WHERE/GROUP BY would ride into
                # the probe and recurse through _prepare_sql forever —
                # the probe needs only the FROM relations). A
                # backtick-quoted alias NAMED like a keyword
                # (FROM region AS `window`) must not truncate the
                # probe mid-identifier (second review catch).
                sm2 = re.match(
                    r"(union|intersect|except|order|limit|where"
                    r"|group|having|qualify|window)\b",
                    masked[i:],
                    re.IGNORECASE,
                )
                if sm2 and not (
                    masked[i - 1].isalnum() or masked[i - 1] in "_`"
                ):
                    end = i
                    break
        return (prefix, q[frm.end() : end])

    def _scope_schema_fields(self, q, masked, pos, dialect, cache):
        """Schema fields of `SELECT * FROM <tail>` for the select scope
        enclosing position `pos` — the shared FROM-tail analysis-only
        probe behind #n refs, COLUMNS(), and (round 12) column-typed
        date arithmetic. None when pos is not inside a select scope
        with a FROM clause. Cached per probe text within a statement."""
        parts = self._scope_from_parts(q, masked, pos)
        if parts is None or parts[1] is None:
            return None
        probe = parts[0] + " SELECT * FROM " + parts[1]
        fields = cache.get(probe)
        if fields is None:
            fields = list(
                self.spark.sql(
                    self._prepare_sql(probe, dialect, _literals_normalized=True)
                ).schema.fields
            )
            cache[probe] = fields
        return fields

    def _scope_expr_type(self, q, masked, pos, operand, dialect, cache):
        """Spark-analyzed dataType of `operand` evaluated in the select
        scope enclosing `pos` — the EXPRESSION generalization of the
        FROM-schema probe (round 13, VERDICT r12 item 2: close
        `expr_int_cast_round`). None when the scope or expression can't
        be analysis-probed (correlated outer refs, lateral aliases):
        the cast then keeps Spark semantics, documented."""
        parts = self._scope_from_parts(q, masked, pos)
        if parts is None:
            return None
        tail = f" FROM {parts[1]}" if parts[1] is not None else ""
        probe = f"{parts[0]} SELECT ({operand}) AS __duck_probe_t{tail}"
        key = ("__expr_type__", probe)
        if key not in cache:
            try:
                cache[key] = (
                    self.spark.sql(
                        self._prepare_sql(
                            probe, dialect, _literals_normalized=True
                        )
                    )
                    .schema.fields[0]
                    .dataType
                )
            except Exception:
                cache[key] = None
        return cache[key]

    def _expand_positional_refs(
        self, q: str, dialect: str, cache: dict | None = None
    ) -> str:
        """DuckDB `#n` positional references (round 11): `#1` anywhere
        in a select scope names the FIRST column of that scope's FROM
        relation — NOT the output ordinal (pinned live: `SELECT #1 FROM
        (SELECT 5 AS x)` yields column x; `ORDER BY #1` sorts by the
        FROM column). Expanded at bind time through the same FROM-tail
        schema probe COLUMNS() uses — pure text, the expanded statement
        plans exactly like its hand-written spelling. Out-of-range →
        loud binder-style error, matching duck."""
        if "#" not in q:
            return q
        from duck_server_spark.engine.errors import PgError

        # per-statement (review r11); shared across the probe passes of
        # one _prepare_sql so later passes reuse it at zero cost (r13)
        _probe_cache: dict = {} if cache is None else cache
        for _ in range(64):
            masked = rewrites._mask_literals(q)
            m = self._POS_REF.search(masked)
            if m is None:
                return q
            fields = self._scope_schema_fields(
                q, masked, m.start(), dialect, _probe_cache
            )
            if fields is None:
                return q  # no select scope / FROM-less: loud native error
            schema_cols = [f.name for f in fields]
            idx = int(m.group(1))
            if not 1 <= idx <= len(schema_cols):
                raise PgError(
                    "42703",
                    f"Binder Error: positional reference #{idx} is out "
                    f"of range (the FROM relation has "
                    f"{len(schema_cols)} columns)",
                )
            q = q[: m.start()] + f"`{schema_cols[idx - 1]}`" + q[m.end() :]
        return q

    # column-typed `date - date` (round 12, VERDICT r11 item 1): duck
    # returns BIGINT days for DATE − DATE however the operands are
    # spelled; the bind-time literal pass (plans/rewrites.py) covers
    # provable spellings, and THIS pass covers bare / qualified column
    # refs by typing them through the cached FROM-schema probe. An
    # operand pair that doesn't both type as DATE passes through
    # untouched (timestamp − timestamp stays Spark-native INTERVAL,
    # matching duck's own INTERVAL result — pinned by probe
    # ts_minus_ts_col).
    _IDENT_OPERAND = r"(?:[A-Za-z_]\w*\.)?(?:[A-Za-z_]\w*|`[^`]+`)"
    # the provable-date spellings come FIRST in each alternation so
    # `DATE '…'` can't half-match as the bare identifier `DATE`
    _DATE_ARITH_CAND = re.compile(
        rf"(?<![\w.`'])({rewrites._DATE_OPERAND}|{_IDENT_OPERAND})"
        rf"\s*-\s*({rewrites._DATE_OPERAND}|{_IDENT_OPERAND})(?!\s*\()(?![\w.`(])",
        re.IGNORECASE,
    )
    _SQL_KEYWORDS_NONCOL = frozenset(
        # words the candidate regex can catch that are never column refs
        {"and", "or", "not", "in", "is", "as", "on", "by", "all",
         "then", "else", "end", "when", "case", "interval", "select",
         "where", "from", "between", "like", "escape", "null", "true",
         "false", "distinct", "exists", "any", "some", "cast", "date",
         "time", "timestamp", "row", "rows", "range", "over", "limit"}
    )

    # bare (optionally qualified) column ref as a whole select item
    _BARE_REF_ITEM = re.compile(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)")

    # COLUMN casts to integer types (round 12, VERDICT r11 item 4): duck
    # rounds with a SOURCE-type-dependent tie rule (DECIMAL/VARCHAR half
    # away from zero, DOUBLE/FLOAT banker's — pinned live) where Spark
    # truncates. The FROM-schema probe types bare/qualified column
    # operands, shrinking the documented divergence to expression-typed
    # casts only. LITERAL casts were closed in round 11 (pure text).
    _INT_TYPE_NAMES = (
        r"(?:u?tinyint|u?smallint|u?integer|int2|int4|int8|int|bigint|hugeint)"
    )
    _COL_INT_CAST_POSTFIX = re.compile(
        rf"(?<![\w.'\"`)\]])((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*::\s*"
        rf"({_INT_TYPE_NAMES})\b",
        re.IGNORECASE,
    )
    _COL_INT_CAST_FN = re.compile(
        rf"\bCAST\s*\(\s*((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s+AS\s+"
        rf"({_INT_TYPE_NAMES})\s*\)",
        re.IGNORECASE,
    )
    # duck's TRY_CAST applies the SAME source-type tie rules (pinned
    # live round 13: TRY_CAST(3.5::DOUBLE AS INT) = 4, failure → NULL)
    _COL_INT_TRYCAST_FN = re.compile(
        rf"\bTRY_CAST\s*\(\s*((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s+AS\s+"
        rf"({_INT_TYPE_NAMES})\s*\)",
        re.IGNORECASE,
    )
    # duck TRUNCATES a DECIMAL column rescaled to a lower-scale DECIMAL
    # (toward zero — pinned live round 12); Spark rounds HALF_UP. Same
    # probe-typing as the int casts; floor/ceil with a scale argument
    # give exact toward-zero truncation per sign.
    _DEC_TYPE_NAMES = r"(?:DECIMAL|NUMERIC)\s*\(\s*\d+\s*,\s*(\d+)\s*\)"
    _COL_DEC_CAST_POSTFIX = re.compile(
        rf"(?<![\w.'\"`)\]])((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s*::\s*"
        rf"({_DEC_TYPE_NAMES})",
        re.IGNORECASE,
    )
    _COL_DEC_CAST_FN = re.compile(
        rf"\bCAST\s*\(\s*((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)\s+AS\s+"
        rf"({_DEC_TYPE_NAMES})\s*\)",
        re.IGNORECASE,
    )

    def _retype_int_casts(
        self, q: str, dialect: str, cache: dict | None = None
    ) -> str:
        if "::" not in q and not re.search(
            r"\b(?:TRY_)?CAST\s*\(", q, re.IGNORECASE
        ):
            return q
        from pyspark.sql.types import DecimalType, DoubleType, FloatType, StringType

        _cache: dict = {} if cache is None else cache

        def _col_name(tok: str) -> str:
            tok = tok.rsplit(".", 1)[-1]
            # schema comparison below is lowercase; quoted names must
            # lowercase too or `MixedCase` never matches (ADVICE r12)
            return tok[1:-1].lower() if tok.startswith("`") else tok.lower()

        for _ in range(64):
            masked = rewrites._mask_literals(q)
            hit = None
            for rx, kind in (
                (self._COL_INT_CAST_FN, "int"),
                (self._COL_INT_TRYCAST_FN, "int_try"),
                (self._COL_INT_CAST_POSTFIX, "int"),
                (self._COL_DEC_CAST_FN, "dec"),
                (self._COL_DEC_CAST_POSTFIX, "dec"),
            ):
                for m in rx.finditer(masked):
                    name = _col_name(q[m.start(1) : m.end(1)])
                    if name in self._SQL_KEYWORDS_NONCOL:
                        continue
                    try:
                        fields = self._scope_schema_fields(
                            q, masked, m.start(), dialect, _cache
                        )
                    except Exception:
                        fields = None
                    if fields is None:
                        continue
                    srcs = {
                        f.dataType for f in fields if f.name.lower() == name
                    }
                    if len(srcs) != 1:
                        continue
                    src = srcs.pop()
                    col = q[m.start(1) : m.end(1)]
                    ty = q[m.start(2) : m.end(2)]
                    verb = "TRY_CAST" if kind.endswith("_try") else "CAST"
                    if kind == "dec":
                        s = int(m.group(3))
                        if not (
                            isinstance(src, DecimalType) and src.scale > s
                        ):
                            continue  # no scale reduction: cast is exact
                        rep = (
                            f"CAST(CASE WHEN {col} >= 0 THEN floor({col}, {s})"
                            f" ELSE ceil({col}, {s}) END AS {ty})"
                        )
                    elif isinstance(src, DecimalType):
                        rep = f"{verb}(round({col}, 0) AS {ty})"
                    elif isinstance(src, (DoubleType, FloatType)):
                        rep = f"{verb}(bround({col}, 0) AS {ty})"
                    elif isinstance(src, StringType):
                        rep = (
                            f"{verb}(round({verb}({col} AS DECIMAL(38,9)), 0)"
                            f" AS {ty})"
                        )
                    else:
                        continue  # integer/date sources: plain cast is exact
                    hit = (m.start(), m.end(), rep)
                    break
                if hit:
                    break
            if hit is None:
                break
            s, e, rep = hit
            q = q[:s] + rep + q[e:]
        return self._retype_expr_int_casts(q, dialect, _cache)

    # operand shapes the EXPRESSION pass must leave alone: what the
    # column/expression rewrites themselves emit (integral-valued, so a
    # plain Spark cast is already exact — and skipping them is what
    # makes the fixpoint loop terminate)
    _EXACT_INT_WRAP = re.compile(r"^(?:b?round|floor|ceil|ceiling)\s*\(", re.I)
    _BARE_COL_OPERAND = re.compile(
        r"^(?:`[^`]+`|[A-Za-z_]\w*)(?:\.(?:`[^`]+`|[A-Za-z_]\w*))*$"
    )
    _NUM_LIT_OPERAND = re.compile(
        r"^[-+]?(?:\d[\d_]*\.?\d*|\.\d+)(?:[eE][-+]?\d+)?$"
    )

    def _expr_cast_exempt(self, op: str) -> bool:
        """True when the expression pass must not touch this operand:
        bare columns (column pass owns them), numeric literals (literal
        tie rules own them), and the integral-valued wrappers our own
        rewrites emit (round(x,0)/bround(x,0)/floor/ceil — exact under
        a plain cast, and the loop-termination guard)."""
        t = op.strip()
        while (
            t.startswith("(")
            and t.endswith(")")
            and self._paren_scan(t[1:-1]) == (0, False)
        ):
            t = t[1:-1].strip()
        if not t or self._BARE_COL_OPERAND.match(t) or self._NUM_LIT_OPERAND.match(t):
            return True
        m = self._EXACT_INT_WRAP.match(t)
        if m and t.endswith(")"):
            inner = t[t.index("(", m.start()) + 1 : -1]
            if self._paren_scan(inner) == (0, False):
                args = rewrites._split_top_level(
                    inner, rewrites._mask_literals(inner)
                )
                fn = t[: t.index("(")].strip().lower()
                if fn in ("floor", "ceil", "ceiling") and len(args) == 1:
                    return True
                if fn in ("round", "bround") and args and args[-1].strip() == "0":
                    return True
        return False

    def _retype_expr_int_casts(self, q: str, dialect: str, cache: dict) -> str:
        """EXPRESSION-typed casts to integer types (round 13, VERDICT
        r12 item 2): `CAST(x + 0.0 AS INT)` / `(x + 0.5)::INT` get
        duck's source-type tie rule by typing the whole operand through
        the analysis-only expression probe (_scope_expr_type) —
        DECIMAL/VARCHAR → half away from zero, DOUBLE/FLOAT → banker's
        (pinned live, probe expr_int_cast_round). Operands the probe
        can't type (correlated refs, lateral aliases) keep Spark
        semantics. Analysis-tier only: no execution, cached per probe
        text within the statement."""
        from pyspark.sql.types import DecimalType, DoubleType, FloatType, StringType

        int_ty_item = re.compile(
            rf"^\s*{self._INT_TYPE_NAMES}\s*$", re.IGNORECASE
        )
        postfix_rx = re.compile(
            rf"\)\s*::\s*({self._INT_TYPE_NAMES})\b", re.IGNORECASE
        )

        def _close_of(masked: str, start: int) -> int:
            depth = 0
            for i in range(start, len(masked)):
                if masked[i] == "(":
                    depth += 1
                elif masked[i] == ")":
                    depth -= 1
                    if depth == 0:
                        return i
            return -1

        def _find_hit(masked: str):
            # [TRY_]CAST(expr AS INT): last depth-0 AS splits operand/type
            for m in re.finditer(
                r"\b(TRY_)?CAST\s*\(", masked, re.IGNORECASE
            ):
                close = _close_of(masked, m.end() - 1)
                if close < 0:
                    continue
                content = masked[m.end() : close]
                as_m = None
                for am in re.finditer(r"\bAS\b", content, re.IGNORECASE):
                    if self._paren_scan(content[: am.start()])[0] == 0:
                        as_m = am
                if as_m is None:
                    continue
                ty = q[m.end() + as_m.end() : close].strip()
                if not int_ty_item.match(ty):
                    continue
                op = q[m.end() : m.end() + as_m.start()].strip()
                if self._expr_cast_exempt(op):
                    continue
                verb = "TRY_CAST" if m.group(1) else "CAST"
                yield (m.start(), close + 1, op, ty, verb)
            # (expr)::INT / func(args)::INT: backward-scan to the open
            for m in postfix_rx.finditer(masked):
                close = m.start() + masked[m.start() :].index(")")
                depth, opn = 0, -1
                for i in range(close, -1, -1):
                    if masked[i] == ")":
                        depth += 1
                    elif masked[i] == "(":
                        depth -= 1
                        if depth == 0:
                            opn = i
                            break
                if opn < 0:
                    continue
                start = opn
                while start > 0 and (masked[start - 1].isalnum() or masked[start - 1] in "_.`"):
                    start -= 1
                op = q[start : close + 1].strip()
                if self._expr_cast_exempt(op):
                    continue
                yield (start, m.end(), op, m.group(1), "CAST")

        for _ in range(64):
            masked = rewrites._mask_literals(q)
            hit = None
            for s, e, op, ty, verb in _find_hit(masked):
                try:
                    src = self._scope_expr_type(q, masked, s, op, dialect, cache)
                except Exception:
                    src = None
                if isinstance(src, DecimalType):
                    rep = f"{verb}(round(({op}), 0) AS {ty})"
                elif isinstance(src, (DoubleType, FloatType)):
                    rep = f"{verb}(bround(({op}), 0) AS {ty})"
                elif isinstance(src, StringType):
                    rep = (
                        f"{verb}(round({verb}(({op}) AS DECIMAL(38,9)), 0)"
                        f" AS {ty})"
                    )
                else:
                    continue  # integral/date/unknown: plain cast is exact
                hit = (s, e, rep)
                break
            if hit is None:
                return q
            s, e, rep = hit
            q = q[:s] + rep + q[e:]
        return q

    _STR_TYPE_NAMES = r"(?:varchar|text|string|bpchar|char)"

    @classmethod
    def _ducktext_render(cls, e: str, dt, depth: int = 0) -> str | None:
        """SQL expression rendering `e` (of analyzed type `dt`) as
        duck's CAST-to-VARCHAR text (pinned live round 13): struct
        `{'k': v, …}` with single-quoted keys and BARE values, list
        `[v, v]`, map `{k=v, …}`, NULL fields/elements as the word
        NULL, a NULL container as SQL NULL. None for leaf types whose
        scalar rendering differs between engines (DOUBLE/FLOAT sci
        notation) — the caller then leaves the cast alone, documented."""
        from pyspark.sql.types import (
            ArrayType,
            BinaryType,
            DoubleType,
            FloatType,
            MapType,
            StructType,
        )

        if isinstance(dt, (DoubleType, FloatType, BinaryType)):
            return None  # sci-notation / blob rendering diverges
        v = f"__dt{depth}"
        if isinstance(dt, StructType):
            parts = ["'{'"]
            for i, f in enumerate(dt.fields):
                inner = cls._ducktext_render(
                    f"({e}).`{f.name}`", f.dataType, depth + 1
                )
                if inner is None:
                    return None
                key = f.name.replace("'", "''")
                sep = "', " if i else "'"
                parts.append(f"{sep}''{key}'': '")
                parts.append(f"coalesce({inner}, 'NULL')")
            parts.append("'}'")
            body = "concat(" + ", ".join(parts) + ")"
        elif isinstance(dt, ArrayType):
            inner = cls._ducktext_render(v, dt.elementType, depth + 1)
            if inner is None:
                return None
            body = (
                f"concat('[', array_join(transform({e}, {v} -> "
                f"coalesce({inner}, 'NULL')), ', '), ']')"
            )
        elif isinstance(dt, MapType):
            kv = cls._ducktext_render(f"{v}.key", dt.keyType, depth + 1)
            vv = cls._ducktext_render(f"{v}.value", dt.valueType, depth + 1)
            if kv is None or vv is None:
                return None
            body = (
                f"concat('{{', array_join(transform(map_entries({e}), "
                f"{v} -> concat(coalesce({kv}, 'NULL'), '=', "
                f"coalesce({vv}, 'NULL'))), ', '), '}}')"
            )
        else:
            return f"CAST({e} AS STRING)"
        return f"CASE WHEN ({e}) IS NULL THEN NULL ELSE {body} END"

    def _retype_complex_str_casts(
        self, q: str, dialect: str, cache: dict
    ) -> str:
        """Struct/list/map COLUMN (or expression) casts to VARCHAR get
        duck's text rendering (round 13, VERDICT r12 item 8): the
        expression probe types the operand, and a recursive concat
        template renders duck text in-plan — the generalization of the
        brace-LITERAL renderer (plans/rewrites.py
        _rewrite_struct_varchar_casts) to analyzed column types.
        DOUBLE/FLOAT/BINARY leaves keep Spark rendering (documented:
        scalar text itself diverges there)."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        str_ty_item = re.compile(
            rf"^\s*{self._STR_TYPE_NAMES}\s*$", re.IGNORECASE
        )
        postfix_rx = re.compile(
            rf"(?<![\w.'\"`])((?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*|`[^`]+`)"
            rf"\s*::\s*({self._STR_TYPE_NAMES})\b",
            re.IGNORECASE,
        )

        def _find_hit(masked: str):
            for m in re.finditer(r"\bCAST\s*\(", masked, re.IGNORECASE):
                depth, close = 0, -1
                for i in range(m.end() - 1, len(masked)):
                    if masked[i] == "(":
                        depth += 1
                    elif masked[i] == ")":
                        depth -= 1
                        if depth == 0:
                            close = i
                            break
                if close < 0:
                    continue
                content = masked[m.end() : close]
                as_m = None
                for am in re.finditer(r"\bAS\b", content, re.IGNORECASE):
                    if self._paren_scan(content[: am.start()])[0] == 0:
                        as_m = am
                if as_m is None:
                    continue
                ty = q[m.end() + as_m.end() : close].strip()
                if not str_ty_item.match(ty):
                    continue
                op = q[m.end() : m.end() + as_m.start()].strip()
                yield (m.start(), close + 1, op)
            for m in postfix_rx.finditer(masked):
                yield (m.start(1), m.end(), q[m.start(1) : m.end(1)])
            # (expr)::VARCHAR / func(args)::VARCHAR — paren back-scan
            for m in re.finditer(
                rf"\)\s*::\s*(?:{self._STR_TYPE_NAMES})\b",
                masked,
                re.IGNORECASE,
            ):
                close = m.start()
                depth, opn = 0, -1
                for i in range(close, -1, -1):
                    if masked[i] == ")":
                        depth += 1
                    elif masked[i] == "(":
                        depth -= 1
                        if depth == 0:
                            opn = i
                            break
                if opn < 0:
                    continue
                start = opn
                while start > 0 and (
                    masked[start - 1].isalnum() or masked[start - 1] in "_.`"
                ):
                    start -= 1
                yield (start, m.end(), q[start : close + 1].strip())

        for _ in range(16):
            masked = rewrites._mask_literals(q)
            hit = None
            for s, e, op in _find_hit(masked):
                if op.lower().startswith(("'", "{", "[")):
                    continue  # literals: the bind-time renderer owns them
                if re.search(r"\b__dt\d+\b", op):
                    continue  # our own render-template lambda vars
                try:
                    src = self._scope_expr_type(q, masked, s, op, dialect, cache)
                except Exception:
                    src = None
                if not isinstance(src, (StructType, ArrayType, MapType)):
                    continue
                rendered = self._ducktext_render(f"({op})", src)
                if rendered is None:
                    continue
                hit = (s, e, f"({rendered})")
                break
            if hit is None:
                return q
            s, e, rep = hit
            q = q[:s] + rep + q[e:]
        return q

    _DEC_QUANTILE_CALL = re.compile(
        r"\b(median|quantile_cont)\s*\(", re.IGNORECASE
    )

    def _retype_decimal_quantiles(
        self, q: str, dialect: str, cache: dict
    ) -> str:
        """duck's quantile family is TYPE-PRESERVING over DECIMAL
        columns (pinned live round 13): quantile_cont(DECIMAL(p,s), q)
        interpolates then TRUNCATES toward zero back to DECIMAL(p,s)
        (-1.9425 → -1.94), and median(DECIMAL) is the DISCRETE
        lower-middle element (median(1.0,2.0,4.0,5.0) = 2.0 — NOT the
        3.0 interpolation!) where median(INT) interpolates to DOUBLE.
        The expression probe types the first argument; DECIMAL operands
        rewrite median→quantile_disc and wrap quantile_cont in the
        truncating rescale; everything else keeps the continuous
        templates (plans/fn_shims.py)."""
        if not self._DEC_QUANTILE_CALL.search(q):
            return q
        from pyspark.sql.types import DecimalType

        masked = rewrites._mask_literals(q)
        spans: list[tuple[int, int, str, list[str]]] = []
        for m in self._DEC_QUANTILE_CALL.finditer(masked):
            op = masked.index("(", m.end() - 1)
            end = rewrites._scan_balanced(masked, op + 1)
            inner = q[op + 1 : end - 1]
            args = rewrites._split_top_level(inner, masked[op + 1 : end - 1])
            spans.append((m.start(), end, m.group(1).lower(), args))
        spans = [
            s
            for s in spans
            if not any(
                o[0] < s[0] and s[1] <= o[1] for o in spans if o is not s
            )
        ]
        # probe every span BEFORE mutating q: the masked twin goes stale
        # after the first replacement
        typed = []
        for s, e, fn, args in spans:
            if not args:
                continue
            try:
                src = self._scope_expr_type(
                    q, masked, s, args[0], dialect, cache
                )
            except Exception:  # noqa: BLE001
                src = None
            if isinstance(src, DecimalType):
                typed.append((s, e, fn, args, src))
        for s, e, fn, args, src in reversed(typed):
            if fn == "median":
                rep = f"quantile_disc({args[0]}, 0.5)"
            else:
                call = q[s:e]
                sc, ty = src.scale, f"DECIMAL({src.precision},{src.scale})"
                trunc = (
                    f"CAST(CASE WHEN {{v}} >= 0 THEN floor({{v}}, {sc}) "
                    f"ELSE ceil({{v}}, {sc}) END AS {ty})"
                )
                if len(args) > 1 and args[1].strip().startswith("["):
                    rep = (
                        f"transform({call}, qdq_v -> "
                        + trunc.replace("{v}", "qdq_v")
                        + ")"
                    )
                else:
                    rep = trunc.replace("{v}", call)
            q = q[:s] + rep + q[e:]
        return q

    _LIST_SUM_CALL = re.compile(
        r"\b(list_sum|list_aggregate|list_aggr|array_aggregate)\s*\(",
        re.IGNORECASE,
    )

    def _retype_list_sums(self, q: str, dialect: str, cache: dict) -> str:
        """duck's list_sum / list_aggregate('sum') is TYPE-PRESERVING
        (HUGEINT for integral elements, DECIMAL(38,s) for DECIMAL(p,s),
        DOUBLE for floats — pinned live); the text-tier template uses a
        DOUBLE accumulator because Spark's aggregate() needs a
        type-stable zero it can't infer from text. With the expression
        probe the element type IS known: integral lists fold through
        DECIMAL(38,0), decimal lists through DECIMAL(38,s) — rendering
        '6' / '4.0' exactly like duck. Float/unknown elements keep the
        DOUBLE template (plans/rewrites.py _LIST_FN_TPL, round 13)."""
        if not self._LIST_SUM_CALL.search(q):
            return q
        from pyspark.sql.types import (
            ArrayType,
            ByteType,
            DecimalType,
            IntegerType,
            LongType,
            ShortType,
        )

        masked = rewrites._mask_literals(q)
        spans = []
        for m in self._LIST_SUM_CALL.finditer(masked):
            op = masked.index("(", m.end() - 1)
            end = rewrites._scan_balanced(masked, op + 1)
            args = rewrites._split_top_level(
                q[op + 1 : end - 1], masked[op + 1 : end - 1]
            )
            fn = m.group(1).lower()
            if fn == "list_sum":
                # whole inner: _split_top_level is bracket-blind, so a
                # list literal ([1,2,3]) would shatter across "args"
                arg = q[op + 1 : end - 1].strip()
            else:
                if (
                    len(args) < 2
                    or args[-1].strip().strip("'\"").lower() != "sum"
                ):
                    continue
                arg = ", ".join(args[:-1])
            spans.append((m.start(), end, arg or None))
        spans = [
            s
            for s in spans
            if not any(
                o[0] < s[0] and s[1] <= o[1] for o in spans if o is not s
            )
        ]
        typed = []
        for s, e, arg in spans:
            if not arg:
                continue
            try:
                src = self._scope_expr_type(q, masked, s, arg, dialect, cache)
            except Exception:  # noqa: BLE001
                src = None
            if not isinstance(src, ArrayType):
                continue
            el = src.elementType
            if isinstance(el, (ByteType, ShortType, IntegerType, LongType)):
                acc = "DECIMAL(38,0)"
            elif isinstance(el, DecimalType):
                acc = f"DECIMAL(38,{el.scale})"
            else:
                continue  # float/double/exotic: DOUBLE template stands
            typed.append((s, e, arg, acc))
        for s, e, arg, acc in reversed(typed):
            rep = (
                f"CASE WHEN cardinality(filter(({arg}), lsz_e -> lsz_e IS "
                f"NOT NULL)) > 0 THEN aggregate(filter(({arg}), lsz_e -> "
                f"lsz_e IS NOT NULL), CAST(0 AS {acc}), (lsz_a, lsz_b) -> "
                f"lsz_a + lsz_b) ELSE NULL END"
            )
            q = q[:s] + rep + q[e:]
        return q

    _FILE_READ_CALL = re.compile(
        r"\b(read_csv_auto|read_csv|read_json_auto|read_json)\s*\(",
        re.IGNORECASE,
    )
    _FILE_VIEW_SEQ = [0]

    def _expand_file_reads(self, q: str, dialect: str) -> str:
        """duck's read_csv/read_json table functions with OPTIONS and
        header/type sniffing (round 13). The pure-text tier maps the
        bare single-path spellings to Spark file relations
        (sources/files.py), but that loses duck's header detection,
        type inference, and every named option — `read_csv('f',
        delim=';')` didn't parse at all. Here the call becomes an
        eagerly-registered hidden temp view built with the Spark csv/
        json reader: header sniffed like duck (header iff the first
        line is not all-numeric), no-header names column0…, options
        mapped 1:1 (delim/sep, quote, escape, nullstr, all_varchar,
        ignore_errors, dateformat, timestampformat, names, format) —
        unknown options raise 0A000 loudly, never silently drift."""
        # duck's bare file-path relation: FROM '/data/x.csv' (round 13).
        # Scan the masked twin (a FROM inside a string literal is masked
        # there); quotes survive masking, so the literal's span is found
        # on masked and the path sliced from q.
        if "'" in q and re.search(r"\b(from|join)\b", q, re.IGNORECASE):
            masked0 = rewrites._mask_literals(q)
            out, last = [], 0
            for m in re.finditer(
                r"\b(FROM|JOIN)\s+'", masked0, re.IGNORECASE
            ):
                qs = m.end() - 1
                qe = masked0.find("'", qs + 1)
                if qe < 0:
                    continue
                path = q[qs + 1 : qe]
                low = path.lower()
                if low.endswith((".csv", ".csv.gz")):
                    rel = f"read_csv('{path}')"
                elif low.endswith((".json", ".jsonl", ".ndjson", ".json.gz")):
                    rel = f"read_json('{path}')"
                elif low.endswith(".parquet"):
                    rel = f"parquet.`{path}`"
                else:
                    continue
                out.append(q[last : m.start()])
                out.append(f"{m.group(1)} {rel}")
                last = qe + 1
            out.append(q[last:])
            q = "".join(out)
        if not self._FILE_READ_CALL.search(q):
            return q
        for _ in range(16):
            masked = rewrites._mask_literals(q)
            m = self._FILE_READ_CALL.search(masked)
            if m is None:
                return q
            op = masked.index("(", m.end() - 1)
            end = rewrites._scan_balanced(masked, op + 1)
            args = rewrites._split_top_level(
                q[op + 1 : end - 1], masked[op + 1 : end - 1]
            )
            view = self._file_read_view(m.group(1).lower(), args)
            if view is None:
                return q  # unparseable path: loud native error downstream
            q = q[: m.start()] + view + q[end:]
        return q

    def _file_read_view(self, fn: str, args: list[str]) -> str | None:
        from duck_server_spark.engine.errors import PgError

        key = (fn, tuple(a.strip() for a in args))
        cached = self._file_views.get(key)
        if cached is not None:
            try:
                if self.spark.catalog.tableExists(cached):
                    return cached
            except Exception:  # noqa: BLE001
                pass
            self._file_views.pop(key, None)
        lit = re.compile(r"^\s*'((?:[^']|'')*)'\s*$")
        paths: list[str] = []
        if args and lit.match(args[0]):
            paths = [lit.match(args[0]).group(1)]
        elif args and args[0].strip().startswith("["):
            # bracket list of path literals — reassemble across the
            # bracket-blind arg split
            joined, rest_i = args[0], 1
            while not joined.rstrip().endswith("]") and rest_i < len(args):
                joined += ", " + args[rest_i]
                rest_i += 1
            inner = joined.strip()[1:-1]
            for p in rewrites._split_top_level(inner, inner):
                pm = lit.match(p)
                if pm is None:
                    return None
                paths.append(pm.group(1))
            args = [joined] + args[rest_i:]
        else:
            return None
        opts: dict[str, str] = {}
        for a in args[1:]:
            om = re.match(r"^\s*(\w+)\s*:?=\s*(.+)$", a, re.DOTALL)
            if om is None:
                return None
            opts[om.group(1).lower()] = om.group(2).strip()

        def _sval(v: str) -> str:
            vm = lit.match(v)
            return vm.group(1).replace("''", "'") if vm else v

        def _bval(v: str) -> bool:
            return _sval(v).strip().lower() in ("true", "1", "t", "yes")

        is_json = "json" in fn
        reader = self.spark.read
        rename_noheader = False
        if is_json:
            for k, v in opts.items():
                if k == "format":
                    if _sval(v).lower() == "array":
                        reader = reader.option("multiLine", "true")
                    elif _sval(v).lower() not in ("auto", "newline_delimited", "nd", "unstructured"):
                        raise PgError("0A000", f"read_json format {_sval(v)!r} is not supported")
                elif k == "ignore_errors":
                    reader = reader.option("mode", "DROPMALFORMED" if _bval(v) else "FAILFAST")
                elif k in ("auto_detect", "sample_size", "maximum_object_size", "records"):
                    continue
                else:
                    raise PgError("0A000", f"read_json option {k!r} is not supported")
            df = reader.json(paths if len(paths) > 1 else paths[0])
        else:
            header: bool | None = None
            infer = True
            for k, v in opts.items():
                if k == "header":
                    header = _bval(v)
                elif k in ("delim", "sep"):
                    reader = reader.option("sep", _sval(v))
                elif k == "quote":
                    reader = reader.option("quote", _sval(v))
                elif k == "escape":
                    reader = reader.option("escape", _sval(v))
                elif k == "nullstr":
                    reader = reader.option("nullValue", _sval(v))
                elif k == "all_varchar":
                    infer = not _bval(v)
                elif k == "ignore_errors":
                    reader = reader.option("mode", "DROPMALFORMED" if _bval(v) else "FAILFAST")
                elif k == "dateformat":
                    reader = reader.option("dateFormat", _sval(v))
                elif k == "timestampformat":
                    reader = reader.option("timestampFormat", _sval(v))
                elif k in ("auto_detect", "sample_size", "compression", "normalize_names", "parallel"):
                    continue
                else:
                    raise PgError("0A000", f"read_csv option {k!r} is not supported")
            if header is None:
                # duck's sniffer: header iff line 1 is NOT all-numeric
                # (pinned live: all-string files get a header; an
                # all-numeric first line gets column0… names)
                header = True
                try:
                    import csv as _csv

                    with open(paths[0], newline="") as fh:
                        first = next(_csv.reader(fh, delimiter=_sval(opts.get("delim", opts.get("sep", "','")))))

                    def _numlike(s: str) -> bool:
                        try:
                            float(s)
                            return True
                        except ValueError:
                            return False

                    header = not all(_numlike(c) for c in first if c != "")
                except Exception:  # noqa: BLE001 — unreadable: keep True
                    pass
            reader = reader.option("header", str(header).lower()).option(
                "inferSchema", str(infer).lower()
            )
            df = reader.csv(paths if len(paths) > 1 else paths[0])
            rename_noheader = not header
        if rename_noheader:
            df = df.toDF(*[f"column{i}" for i in range(len(df.columns))])
        if "names" in opts:
            inner = opts["names"].strip()[1:-1]
            names = [
                _sval(x) for x in rewrites._split_top_level(inner, inner)
            ]
            df = df.toDF(*(names + df.columns[len(names) :]))
        with _COW_SEQ_LOCK:
            self._FILE_VIEW_SEQ[0] += 1
            name = f"__duck_file_{os.getpid()}_{self._FILE_VIEW_SEQ[0]}"
        df.createOrReplaceTempView(name)
        self._file_views[key] = name
        while len(self._file_views) > 256:
            old = self._file_views.pop(next(iter(self._file_views)))
            try:
                self.spark.catalog.dropTempView(old)
            except Exception:  # noqa: BLE001
                pass
        return name

    def _guard_positional_join(self, q: str) -> None:
        """Scale guard for the POSITIONAL JOIN SQL shim (round 13,
        VERDICT r12 watch item 1): the dialect lowering pairs rows with
        a single-partition ordinal window — faithful for an inherently
        order-dependent operator, but silently serializing a 100 GB
        table through one partition would look like a hang. Named base
        relations are sized from their file listing (no job); past
        SPARK_GRAFT_POSITIONAL_MAX_BYTES (default 1 GiB) the statement
        errors 0A000 pointing at the zipWithIndex operator
        (operators/relational.py join_positional). Subqueries are not
        sizable here and pass unguarded (documented, SCALE.md)."""
        if "positional" not in q.lower():
            return
        from duck_server_spark.engine.errors import PgError

        rels = rewrites.positional_join_relations(q)
        if not rels:
            return
        limit = float(
            os.environ.get(
                "SPARK_GRAFT_POSITIONAL_MAX_BYTES", str(1024**3)
            )
        )
        for rel in dict.fromkeys(rels):
            try:
                files = self.spark.table(rel).inputFiles()
                size = sum(
                    os.path.getsize(f.removeprefix("file:"))
                    for f in files
                    if f.startswith("file:")
                )
            except Exception:  # noqa: BLE001 — unknown relation: native error later
                continue
            if size > limit:
                raise PgError(
                    "0A000",
                    f"POSITIONAL JOIN over {rel} ({size} bytes) exceeds "
                    "the single-partition dialect shim's input bound "
                    f"({int(limit)} bytes; SPARK_GRAFT_POSITIONAL_MAX_"
                    "BYTES): this operator pairs rows BY POSITION and "
                    "cannot parallelize in pure SQL — use the "
                    "zipWithIndex operator (join_positional) for large "
                    "inputs",
                )

    def _restore_stored_case(
        self, q: str, dialect: str, cache: dict | None = None
    ) -> str:
        """duck renders a case-insensitively matched column ref in its
        STORED case in the result header (`SELECT R_NAME FROM region` →
        header `r_name`); Spark keeps the typed spelling. Closed for
        bare/qualified refs typed with any UPPERCASE letter: the cached
        FROM-schema probe supplies the stored spelling, and the ref is
        re-spelled backtick-quoted so Spark's header matches (round 12,
        VERDICT r11 item 7). All-LOWERCASE refs restore too whenever the
        scope's schema is ALREADY in the shared per-statement probe
        cache — another pass probed it, or an uppercase ref in the same
        scope did — at zero added probes (round 13, VERDICT r12 item 6);
        a lowercase ref in a statement nothing probed stays divergent
        (see the narrowed probe-battery entry)."""
        has_upper_stmt = bool(re.search(r"[A-Z]", q))
        _cache: dict = {} if cache is None else cache
        if not has_upper_stmt and not any(
            isinstance(k, str) for k in _cache
        ):
            return q
        masked = rewrites._mask_literals(q)
        edits: list[tuple[int, int, str]] = []
        for sm in re.finditer(
            r"\bselect\b(?:\s+(?:all|distinct)\b)?", masked, re.IGNORECASE
        ):
            start, depth, end = sm.end(), 0, len(masked)
            for i in range(sm.end(), len(masked)):
                ch = masked[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth < 0:
                        end = i
                        break
                elif (
                    depth == 0
                    and ch in "fF"
                    and re.match(r"from\b", masked[i:], re.IGNORECASE)
                    and not (masked[i - 1].isalnum() or masked[i - 1] in "_`")
                ):
                    end = i
                    break
            # walk top-level comma-separated items with offsets
            item_s, d = start, 0
            spans = []
            for i in range(start, end):
                ch = masked[i]
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                elif ch == "," and d == 0:
                    spans.append((item_s, i))
                    item_s = i + 1
            spans.append((item_s, end))
            fields = None
            # two passes: uppercase refs first (they may PROBE, filling
            # the scope schema), then lowercase refs (cache-only — free)
            for want_upper in (True, False):
                for s, e in spans:
                    item = q[s:e].strip()
                    im = self._BARE_REF_ITEM.fullmatch(item)
                    if im is None:
                        continue
                    if bool(re.search(r"[A-Z]", im.group(1))) != want_upper:
                        continue
                    if (
                        item.rsplit(".", 1)[-1].lower()
                        in self._SQL_KEYWORDS_NONCOL
                    ):
                        continue
                    if fields is None:
                        if want_upper:
                            try:
                                fields = self._scope_schema_fields(
                                    q, masked, s, dialect, _cache
                                ) or []
                            except Exception:
                                fields = []
                        else:
                            # zero-probe path: only a schema some other
                            # pass (or an uppercase ref) already cached
                            parts = self._scope_from_parts(q, masked, s)
                            if parts is None or parts[1] is None:
                                continue
                            fields = _cache.get(
                                parts[0] + " SELECT * FROM " + parts[1]
                            )
                            if fields is None:
                                continue
                    stored = [
                        f.name
                        for f in fields
                        if f.name.lower() == im.group(1).lower()
                    ]
                    if len(set(stored)) == 1 and stored[0] != im.group(1):
                        off = s + (len(q[s:e]) - len(q[s:e].lstrip()))
                        col_s = off + im.start(1)
                        edits.append(
                            (col_s, off + im.end(1), f"`{stored[0]}`")
                        )
        for s, e, text in sorted(edits, reverse=True):
            q = q[:s] + text + q[e:]
        return q

    def _retype_date_arith_fragment(self, text: str, fields) -> str:
        """The column-typed date−date rewrite for a DML fragment
        (UPDATE SET / WHERE) whose relation schema is already in hand —
        no scope scan, same candidate grammar (round 12)."""
        if "-" not in text:
            return text
        from pyspark.sql.types import DateType

        types: dict[str, set] = {}
        for f in fields:
            types.setdefault(f.name.lower(), set()).add(type(f.dataType))

        def _col_name(tok: str) -> str:
            tok = tok.rsplit(".", 1)[-1]
            # schema comparison below is lowercase; quoted names must
            # lowercase too or `MixedCase` never matches (ADVICE r12)
            return tok[1:-1].lower() if tok.startswith("`") else tok.lower()

        for _ in range(64):
            masked = rewrites._mask_literals(text)
            hit = None
            for m in self._DATE_ARITH_CAND.finditer(masked):
                ok, any_col = True, False
                for g in (1, 2):
                    if re.fullmatch(
                        self._IDENT_OPERAND, masked[m.start(g) : m.end(g)]
                    ):
                        any_col = True
                        name = _col_name(text[m.start(g) : m.end(g)])
                        if (
                            name in self._SQL_KEYWORDS_NONCOL
                            or types.get(name) != {DateType}
                        ):
                            ok = False
                            break
                if ok and any_col:
                    hit = m
                    break
            if hit is None:
                return text
            left = text[hit.start(1) : hit.end(1)]
            right = text[hit.start(2) : hit.end(2)]
            text = (
                text[: hit.start()]
                + f"CAST(datediff({left}, {right}) AS BIGINT)"
                + text[hit.end() :]
            )
        return text

    def _retype_date_arith(
        self, q: str, dialect: str, cache: dict | None = None
    ) -> str:
        if "-" not in q:
            return q
        from pyspark.sql.types import DateType

        _probe_cache: dict = {} if cache is None else cache

        def _col_name(tok: str) -> str:
            tok = tok.rsplit(".", 1)[-1]
            # schema comparison below is lowercase; quoted names must
            # lowercase too or `MixedCase` never matches (ADVICE r12)
            return tok[1:-1].lower() if tok.startswith("`") else tok.lower()

        for _ in range(64):
            masked = rewrites._mask_literals(q)
            hit = None
            for m in self._DATE_ARITH_CAND.finditer(masked):
                sides = []
                for g in (1, 2):
                    tok = q[m.start(g) : m.end(g)]
                    if re.fullmatch(
                        self._IDENT_OPERAND, masked[m.start(g) : m.end(g)]
                    ):
                        name = _col_name(tok)
                        if name in self._SQL_KEYWORDS_NONCOL:
                            sides = None
                            break
                        sides.append(("col", name))
                    else:
                        sides.append(("date", None))  # provable spelling
                if sides is None or all(k == "date" for k, _ in sides):
                    continue  # keywords, or literal−literal (later pass)
                try:
                    fields = self._scope_schema_fields(
                        q, masked, m.start(), dialect, _probe_cache
                    )
                except Exception:
                    fields = None  # heuristic candidate: never fail the query
                if fields is None:
                    continue
                types = {}
                for f in fields:
                    types.setdefault(f.name.lower(), set()).add(
                        type(f.dataType)
                    )
                if all(
                    kind == "date"
                    or types.get(name) == {DateType}
                    for kind, name in sides
                ):
                    hit = m
                    break
            if hit is None:
                return q
            left = q[hit.start(1) : hit.end(1)]
            right = q[hit.start(2) : hit.end(2)]
            q = (
                q[: hit.start()]
                + f"CAST(datediff({left}, {right}) AS BIGINT)"
                + q[hit.end() :]
            )
        return q

    def _expand_columns(self, q: str, dialect: str) -> str:
        """DuckDB's COLUMNS() star expression (round 10): expand
        `COLUMNS(*)` / `COLUMNS(* EXCLUDE (…))` / `COLUMNS('regex')`
        select-list items into one copy per matched column at BIND
        time — a pure text transform once the FROM-relation schema is
        known, so the expanded statement plans exactly like its
        hand-written spelling (pruned scan, codegen, no extra
        anything). Pinned live vs DuckDB 1.0:
        - the regex is PARTIAL-match and case-SENSITIVE (COLUMNS('b')
          matches both ab and bx) — Python re.search mirrors RE2 here;
        - the output column name is the SOURCE column name even for
          wrapped forms (min(COLUMNS(*)) + 1 yields columns ab, ac,
          …), and an explicit alias duplicates per copy;
        - zero matches is a loud binder error.
        The schema probe analyzes `SELECT * FROM <same FROM-tail>`
        through the full prepare pipeline (recursion expands COLUMNS
        nested in derived tables; analysis only, no jobs). Scope:
        COLUMNS in a SELECT list whose FROM follows at the same depth;
        lambda args, FROM-less selects, and WHERE/GROUP BY positions
        pass through and error loudly."""
        if _COLUMNS_EXPR.search(q) is None:
            return q
        from duck_server_spark.engine.errors import PgError

        def _scan(seg: str) -> tuple[int, bool]:
            """(final depth, ever went negative) for a masked segment."""
            depth, neg = 0, False
            for ch in seg:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth < 0:
                        neg = True
            return depth, neg

        def _balanced(seg: str) -> bool:
            d, neg = _scan(seg)
            return d == 0 and not neg

        def _in_scope(seg: str) -> bool:
            # COLUMNS may sit at ANY paren depth inside the select's
            # items (min(COLUMNS(*))), but the scan must never escape
            # the select's scope
            return not _scan(seg)[1]

        for _ in range(24):  # bound: each pass expands one select list
            masked = rewrites._mask_literals(q)
            m = _COLUMNS_EXPR.search(masked)
            if m is None:
                return q
            # enclosing SELECT: nearest preceding one in the same scope
            sel = None
            for sm in re.finditer(r"\bselect\b", masked[: m.start()], re.IGNORECASE):
                if _in_scope(masked[sm.end() : m.start()]):
                    sel = sm
            if sel is None:
                return q  # not in a select list: loud native error
            # its FROM at the same depth
            frm = None
            for fm in re.finditer(r"\bfrom\b", masked, re.IGNORECASE):
                if fm.start() > m.end() and _balanced(masked[sel.end() : fm.start()]):
                    frm = fm
                    break
            if frm is None:
                return q  # FROM-less: loud native error
            # FROM-tail end: closing paren of this scope or a depth-0
            # set-op keyword (ORDER BY/LIMIT are harmless in the probe)
            end = len(q)
            depth = 0
            for i in range(frm.end(), len(masked)):
                ch = masked[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth < 0:
                        end = i
                        break
                elif depth == 0 and ch in "uUiIeE":
                    sm2 = re.match(
                        r"(union|intersect|except)\b", masked[i:], re.IGNORECASE
                    )
                    if sm2 and not (masked[i - 1].isalnum() or masked[i - 1] == "_"):
                        end = i
                        break
            probe = (
                self._with_prefix_for(q, masked, sel.start())
                + " SELECT * FROM "
                + q[frm.end() : end]
            )
            schema_cols = [
                f.name
                for f in self.spark.sql(
                    self._prepare_sql(probe, dialect, _literals_normalized=True)
                ).schema.fields
            ]
            # select list items (DISTINCT/ALL prefix held aside)
            sel_list = q[sel.end() : frm.start()]
            mprefix = re.match(r"\s*(distinct|all)\b", sel_list, re.IGNORECASE)
            prefix = ""
            if mprefix:
                prefix = sel_list[: mprefix.end()]
                sel_list = sel_list[mprefix.end() :]
            msel = rewrites._mask_literals(sel_list)
            items = rewrites._split_top_level(sel_list, msel)
            out_items: list[str] = []
            changed = False
            for item in items:
                mitem = rewrites._mask_literals(item)
                spans = []  # (start, end, arg) of each COLUMNS(…) in the item
                for cm in _COLUMNS_EXPR.finditer(mitem):
                    cend = rewrites._scan_balanced(mitem, cm.end())
                    spans.append((cm.start(), cend, item[cm.end() : cend - 1].strip()))
                if not spans:
                    out_items.append(item)
                    continue
                if len({s[2] for s in spans}) > 1:
                    raise PgError(
                        "0A000",
                        "multiple COLUMNS expressions with different "
                        "arguments in one select item are not supported",
                    )
                arg = spans[0][2]
                if arg == "*":
                    cols = list(schema_cols)
                else:
                    ex = re.fullmatch(
                        r"\*\s+EXCLUDE\s*\(?\s*([\w\s,`\"]*?)\s*\)?",
                        arg,
                        re.IGNORECASE,
                    )
                    lit = re.fullmatch(r"'((?:[^']|'')*)'", arg)
                    if ex:
                        dropped = {
                            c.strip().strip('`"').lower()
                            for c in ex.group(1).split(",")
                            if c.strip()
                        }
                        cols = [c for c in schema_cols if c.lower() not in dropped]
                    elif lit:
                        # the statement is already normalize_literals'd
                        # (backslashes doubled for Spark); this pattern
                        # is consumed by PYTHON re — undo the doubling
                        pat = (
                            lit.group(1).replace("''", "'").replace("\\\\", "\\")
                        )
                        cols = [c for c in schema_cols if re.search(pat, c)]
                        if not cols:
                            raise PgError(
                                "42703",
                                "No matching columns found that match "
                                f'regex "{pat}"',
                            )
                    elif re.fullmatch(
                        r"[A-Za-z_]\w*\s*->.+", arg, re.DOTALL
                    ):
                        # lambda form (round 12): COLUMNS(c -> pred)
                        # keeps columns whose NAME satisfies pred — the
                        # duck lambda syntax is Spark's too, so ONE
                        # analysis-only filter() over the name list
                        # evaluates it (names are tiny; bind-time)
                        arr = ", ".join(
                            "'" + c.replace("'", "''") + "'"
                            for c in schema_cols
                        )
                        kept = self.spark.sql(
                            self._prepare_sql(
                                f"SELECT filter(array({arr}), {arg}) AS c",
                                dialect,
                                _literals_normalized=True,
                            )
                        ).collect()[0][0] or []
                        cols = [c for c in schema_cols if c in set(kept)]
                        if not cols:
                            raise PgError(
                                "42703",
                                f'Star expression "COLUMNS({arg})" '
                                "resulted in an empty set of columns",
                            )
                    else:
                        # dynamic forms: pass through loudly
                        out_items.append(item)
                        continue
                bare = (
                    len(spans) == 1
                    and item.strip() == item[spans[0][0] : spans[0][1]].strip()
                )
                has_alias = re.search(
                    r"\bas\s+[\w`\"]+\s*$", item, re.IGNORECASE
                ) is not None
                for c in cols:
                    ref = "`" + c.replace("`", "``") + "`"
                    text = item
                    for s0, s1, _a in reversed(spans):
                        text = text[:s0] + ref + text[s1:]
                    if not bare and not has_alias:
                        text = f"{text.rstrip()} AS `{c}`"
                    out_items.append(text.strip())
                changed = True
            if not changed:
                return q  # only unsupported forms remain: loud downstream
            q = (
                q[: sel.end()]
                + prefix
                + " "
                + ", ".join(out_items)
                + " "
                + q[frm.start() :]
            )
        return q

    def _union_by_name(self, q: str, dialect: str) -> DataFrame | None:
        """DuckDB's `UNION [ALL] BY NAME` (round 10): arms align by
        column NAME, absent columns NULL-fill, and the result's column
        order is the first arm's columns followed by each later arm's
        new names in order — exactly Spark's
        unionByName(allowMissingColumns=True), so the set op lowers to
        the native operator (no shuffle beyond what the arms
        themselves need; plain UNION BY NAME adds ONE distinct over
        the aligned result, DuckDB's pinned dedup-after-fill
        semantics). A leading WITH clause is carried onto every arm so
        CTEs resolve; a trailing depth-0 ORDER BY/LIMIT/OFFSET applies
        to the whole union (pinned live). ALL arms are analyzed under
        ONE shared visibility-gate hold — a multi-table commit cannot
        publish between arm analyses, so the union can never mix
        snapshots (and reader holds must not nest: a waiting committer
        would deadlock a nested acquire). Scope pins: separators must
        be all-ALL or all-plain (DuckDB's mixed chains fold
        differently statement by statement — loud 0A000 instead of a
        guess); BY NAME nested inside a derived table passes through
        and errors loudly; cross-arm type widening follows Spark
        (int+string arms error loudly where DuckDB coerces to VARCHAR
        — pinned divergence, never silent)."""
        if _UNION_BY_NAME.search(q) is None:
            return None
        masked = rewrites._mask_literals(q)
        start = rewrites.with_prefix_end(q, masked)
        seps = [
            m
            for m in _UNION_BY_NAME.finditer(masked, start)
            if masked.count("(", start, m.start())
            == masked.count(")", start, m.start())
        ]
        if not seps:
            return None  # only nested/literal occurrences: native path
        from duck_server_spark.engine.errors import PgError

        if len({bool(m.group(1)) for m in seps}) > 1:
            raise PgError(
                "0A000",
                "mixed UNION BY NAME / UNION ALL BY NAME chains are not "
                "supported",
            )
        keep_dups = bool(seps[0].group(1))
        prefix = q[:start].strip()
        arms: list[str] = []
        last = start
        for m in seps:
            arms.append(q[last : m.start()])
            last = m.end()
        tail_arm, tail = q[last:].rstrip().rstrip(";"), ""
        mt = rewrites._mask_literals(tail_arm)
        for tm in _TRAILING_SETOP_CLAUSE.finditer(mt):
            if mt.count("(", 0, tm.start()) == mt.count(")", 0, tm.start()):
                tail, tail_arm = tail_arm[tm.start() :], tail_arm[: tm.start()]
                break
        arms.append(tail_arm)

        def _bare(arm: str) -> str:
            arm = arm.strip()
            # a fully parenthesized arm is a sub-body: strip the pair
            # (spark.sql rejects a top-level parenthesized SELECT)
            while arm.startswith("("):
                am = rewrites._mask_literals(arm)
                if rewrites._scan_balanced(am, 1) != len(arm):
                    break
                arm = arm[1:-1].strip()
            return f"{prefix} {arm}" if prefix else arm

        from functools import reduce

        from duck_server_spark.engine.transactions import VISIBILITY_GATE

        with VISIBILITY_GATE.reading():
            dfs = [
                self._strip_asof_helpers(
                    self.spark.sql(self._prepare_sql(_bare(a), dialect))
                )
                for a in arms
            ]
            out = reduce(
                lambda x, y: x.unionByName(y, allowMissingColumns=True), dfs
            )
            if not keep_dups:
                out = out.distinct()
            if tail:
                name = f"__ubn_tail_{next(_UBN_SEQ)}"
                out.createOrReplaceTempView(name)
                out = self.spark.sql(f"SELECT * FROM {name} {tail}")
        return out

    def _user_table_names(self) -> list[str]:
        """Sorted user-visible table/view names: engine artifacts are
        filtered out (review finding) — the bootstrap compat views and
        transient shadow/staging tables are names the reference's
        embedded DuckDB never exposes. Shared by SHOW TABLES and the
        PRAGMA show_tables family (one filter policy)."""
        return sorted(
            t.name
            for t in self.spark.catalog.listTables()
            if t.name not in _BOOTSTRAP_VIEW_NAMES
            and not any(mark in t.name for mark in _INTERNAL_TABLE_MARKS)
        )

    def _describe(self, target: str, dialect: str) -> DataFrame:
        """DuckDB's DESCRIBE shape (`DESCRIBE tbl` / `DESC tbl` /
        `DESCRIBE SELECT …`): (column_name, column_type, null, key,
        default, extra) — the reference returns exactly this via embedded
        DuckDB. Spark's native DESCRIBE has different columns
        (col_name/data_type/comment), so clients parsing the output
        would break. Metadata-only: schema from the catalog (a DESCRIBE
        SELECT analyzes, never executes), keys/NOT NULL from the
        constraint registry, defaults from CURRENT_DEFAULT field
        metadata. Spark-specific targets (DESCRIBE FUNCTION/EXTENDED/…)
        stay on the native path."""
        from pyspark.sql import types as T

        t = target.strip()
        head = t.split(None, 1)[0].lower() if t else ""
        if head in _DESCRIBE_NATIVE:
            return self.spark.sql(self._prepare_sql(f"DESCRIBE {target}", dialect))
        is_query = head.startswith("(") or head in ("select", "with", "values", "from")
        if is_query:
            # DuckDB's query-describe shows neither keys nor defaults —
            # Spark propagates CURRENT_DEFAULT metadata through a
            # projection, so it must be suppressed here
            schema = self.spark.sql(self._prepare_sql(t, dialect)).schema
            pk = uni = nn = frozenset()
            seqd = {}
        else:
            tbl = t.strip('`"')
            schema = self.spark.table(tbl).schema
            cons = self.constraints.get(tbl)
            pk = {c for cc in cons if cc["kind"] == "primary" for c in cc["cols"]}
            uni = {c for cc in cons if cc["kind"] == "unique" for c in cc["cols"]}
            nn = {c for cc in cons if cc["kind"] == "notnull" for c in cc["cols"]}
            seqd = {
                cc["cols"][0]: f"nextval('{cc['seq']}')"
                for cc in cons
                if cc["kind"] == "seq_default"
            }
        rows = [
            (
                f.name,
                _duckdb_type_name(f.dataType),
                "NO" if f.name in pk or f.name in nn else "YES",
                "PRI" if f.name in pk else ("UNI" if f.name in uni else None),
                (
                    seqd.get(f.name)
                    or (
                        f.metadata.get("CURRENT_DEFAULT")
                        if not is_query and isinstance(f.metadata, dict)
                        else None
                    )
                ),
                None,
            )
            for f in schema.fields
        ]
        out_schema = T.StructType(
            [
                T.StructField("column_name", T.StringType()),
                T.StructField("column_type", T.StringType()),
                T.StructField("null", T.StringType()),
                T.StructField("key", T.StringType()),
                T.StructField("default", T.StringType()),
                T.StructField("extra", T.StringType()),
            ]
        )
        return self.spark.createDataFrame(rows, out_schema)

    def _summarize(self, target: str, dialect: str) -> DataFrame:
        """DuckDB's SUMMARIZE statement (`SUMMARIZE tbl` / `SUMMARIZE
        SELECT ...`): per-column min/max/approx-distinct/avg/std/
        quartiles/count/null%. Computed in ONE wide aggregation job (all
        columns' stats are partial-aggregatable expressions), then
        unpivoted driver-side — output is len(columns) rows, never data-
        sized. Numeric-only stats are NULL for other types, matching
        DuckDB's shape."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        inner = target.strip()
        if not inner.lower().startswith(("select", "with", "values", "from")):
            inner = f"SELECT * FROM {inner}"
        df = self.spark.sql(self._prepare_sql(inner, dialect))
        aggs = []
        numeric = set()
        for f in df.schema.fields:
            c = f.name
            is_num = isinstance(f.dataType, T.NumericType)
            if is_num:
                numeric.add(c)
            aggs += [
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
                F.approx_count_distinct(c).alias(f"{c}__uniq"),
                (F.avg(c) if is_num else F.lit(None).cast("double")).alias(f"{c}__avg"),
                (F.stddev(c) if is_num else F.lit(None).cast("double")).alias(f"{c}__std"),
                (
                    F.percentile_approx(c, [0.25, 0.5, 0.75])
                    if is_num
                    else F.lit(None).cast("array<double>")
                ).alias(f"{c}__q"),
                F.count(c).alias(f"{c}__cnt"),
                F.count(F.lit(1)).alias(f"{c}__tot"),
            ]
        row = df.agg(*aggs).collect()[0]
        out = []
        for f in df.schema.fields:
            c = f.name
            qs = row[f"{c}__q"] or [None, None, None]
            tot = row[f"{c}__tot"]
            nullpct = (
                round(100.0 * (tot - row[f"{c}__cnt"]) / tot, 2) if tot else 0.0
            )
            fl = lambda v: None if v is None else float(v)  # noqa: E731
            out.append(
                (
                    c,
                    f.dataType.simpleString(),
                    row[f"{c}__min"],
                    row[f"{c}__max"],
                    row[f"{c}__uniq"],
                    fl(row[f"{c}__avg"]),
                    fl(row[f"{c}__std"]),
                    fl(qs[0]),
                    fl(qs[1]),
                    fl(qs[2]),
                    tot,
                    nullpct,
                )
            )
        return self.spark.createDataFrame(
            out,
            "column_name string, column_type string, min string, max string, "
            "approx_unique bigint, avg double, std double, q25 double, "
            "q50 double, q75 double, count bigint, null_percentage double",
        )

    def stream_batches(
        self,
        q: str,
        dialect: str = "pg",
        job_group: str | None = None,
        batch_size: int = 1000,
        df: DataFrame | None = None,
    ) -> tuple:
        """→ (schema, batch stream) for async servers. `df` streams an
        already-built result (DML RETURNING); `q` then only names the job.

        ALL Spark actions run on ONE dedicated producer thread that sets
        the job group before iterating — so cancel(job_group) reliably
        interrupts this query and only this query, regardless of which
        event-loop worker thread awaits the batches (the asyncio
        run_in_executor pool hands work to arbitrary threads, where a
        thread-local job group would be lost — ADVICE r1). A bounded
        queue gives backpressure: the producer stalls after 4 batches if
        the socket is slow, so server memory stays O(batch)."""
        if df is None:
            df = self.query(q, dialect)
        return df.schema, _BatchStream(self.spark, df, q, job_group, batch_size)

    def _analyze(self, table: str | None) -> None:
        """ANALYZE [table]: COMPUTE STATISTICS on the named managed table
        or on every managed table (bare ANALYZE, PG-style). Column-level
        stats included for the single-table form only — the all-tables
        sweep stays table-level so a bare ANALYZE never turns into a
        full-warehouse column scan."""
        if table is not None:
            self.spark.sql(
                f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
            return
        for t in self.spark.catalog.listTables():
            if (t.tableType or "").upper() != "MANAGED":
                continue
            if any(mark in t.name for mark in _INTERNAL_TABLE_MARKS):
                continue
            try:
                self.spark.sql(f"ANALYZE TABLE {t.name} COMPUTE STATISTICS")
            except Exception:  # noqa: BLE001 — per-table best effort
                pass

    def _resolve_sequences(self, q: str, scalar_select: bool = False) -> str:
        """Substitute nextval()/currval() call sites with reserved values
        — ONLY on the statement shapes where one textual occurrence is
        exactly one row-cell: multi-row `INSERT … VALUES` (each
        occurrence = one cell, reservations in text order = DuckDB's
        insertion order) and FROM-less scalar selects. A nextval over a
        distributed row stream (SELECT … FROM, UPDATE SET, INSERT …
        SELECT) would need per-row serialization through the driver —
        those raise 0A000 loudly (scale note in engine/sequences.py).

        One acknowledged PG divergence: an extended-protocol Describe of
        a nextval select reserves values (our Describe analyzes the
        substituted text). Sequence gaps are explicitly legal in the
        PG/DuckDB contract, so this is safe, just eager."""
        from duck_server_spark.engine import sequences as _seq
        from duck_server_spark.engine.errors import PgError

        masked = rewrites._mask_literals(q)
        if not _seq.SEQ_FN.search(masked):
            return q
        if re.match(r"\s*create\s+table\b", q, re.IGNORECASE):
            # DEFAULT nextval('s') stays in the DDL: constraint
            # extraction strips it into a seq_default registry row
            # (engine/constraints.py); unhandled shapes error in Spark
            return q
        if scalar_select:
            if re.search(r"\bfrom\b", masked, re.IGNORECASE):
                raise PgError(
                    "0A000",
                    "nextval/currval over a row stream is not supported "
                    "(sequences serialize; use it in INSERT … VALUES or a "
                    "FROM-less SELECT)",
                )
        elif not (
            re.match(r"\s*insert\b", q, re.IGNORECASE)
            and re.search(r"\bvalues\b", masked, re.IGNORECASE)
            and not re.search(r"\bselect\b|\bfrom\b", masked, re.IGNORECASE)
        ):
            raise PgError(
                "0A000",
                "nextval/currval is only supported in INSERT … VALUES "
                "and FROM-less SELECTs (sequences serialize row streams)",
            )
        return _seq.resolve_calls(q, masked, self.sequences)

    def _expand_insert_by_name(self, q: str, dialect: str = "pg") -> str:
        """`INSERT … INTO t BY NAME <select>` → ordinary column-list
        INSERT (schema-analysis only — no jobs run). Returns q unchanged
        when it isn't a BY NAME insert."""
        m = _INSERT_BY_NAME.match(q)
        if m is None:
            return q
        from duck_server_spark.engine.errors import PgError
        from duck_server_spark.plans.rewrites import _mask_literals

        rest = m.group("rest").strip()
        # DuckDB accepts a FROM-first body here (`INSERT INTO t BY NAME
        # FROM s`) — normalize before the SELECT-source check
        from duck_server_spark.plans.rewrites import rewrite_from_first

        rest = rewrite_from_first(rest)
        masked = _mask_literals(rest)
        ret = ""
        # split BOTH top-level tails off the SELECT source before the
        # schema probe: RETURNING and ON CONFLICT … (review finding —
        # feeding the upsert tail to the analyzer crashed the valid
        # DuckDB shape `… BY NAME SELECT … ON CONFLICT DO NOTHING`)
        for rm in re.finditer(
            r"\breturning\b|\bon\s+conflict\b", masked, re.IGNORECASE
        ):
            pre = masked[: rm.start()]
            if pre.count("(") == pre.count(")"):  # top-level tail
                rest, ret = rest[: rm.start()].rstrip(), " " + rest[rm.start() :]
                break
        if not re.match(r"\(|select\b|with\b", rest, re.IGNORECASE):
            raise PgError(
                "42601",
                "INSERT BY NAME can only be used when inserting from a "
                "SELECT statement",
            )
        tbl = m.group("tbl").strip('`"')
        src_cols = self.query(rest, dialect).columns
        tgt = {f.name.lower(): f.name for f in self.spark.table(tbl).schema.fields}
        cols = []
        for c in src_cols:
            if c.lower() not in tgt:
                raise PgError(
                    "42703",
                    f'Table "{tbl}" does not have a column with name "{c}"',
                )
            cols.append(tgt[c.lower()])
        return f"{m.group('head')}({', '.join(cols)}) {rest}{ret}"

    def execute_returning(self, q: str, dialect: str = "pg"):
        """`INSERT/UPDATE/DELETE … RETURNING items` → (DataFrame, tag) or
        None when the statement has no top-level RETURNING clause.

        Semantics match DuckDB/PG (both support the clause; the reference
        delegates it to embedded DuckDB): INSERT returns the inserted
        post-image rows (defaults filled, casts applied), UPDATE the
        post-update rows that matched the predicate, DELETE the deleted
        pre-image rows. Each path materializes the affected set with an
        eager checkpoint before the publish, so the returned DataFrame
        survives staging cleanup and the base-table swap. Forms whose
        affected set isn't staged as a unit (ON CONFLICT upserts,
        UPDATE … FROM / DELETE … USING) raise 0A000 loudly."""
        from duck_server_spark.engine.errors import PgError

        self._probe_cache.clear()  # same write rule as execute() (r13)
        q = rewrites.blank_comments(q)  # intercepts assume whitespace (r12)
        q = rewrites.normalize_quoted_idents(q)
        # cheap RETURNING probe FIRST: without it this path returns None
        # and execute() runs — expanding BY NAME here too would analyze
        # the source twice per statement (review finding)
        split = rewrites.split_returning(q)
        if split is None:
            return None
        q = self._expand_insert_by_name(q, dialect)
        # resolve sequence calls only once it's certain this path RUNS
        # the statement (resolving then falling back to execute() would
        # burn values twice); Describe goes through describe_returning,
        # which never resolves
        base, items = rewrites.split_returning(self._resolve_sequences(q))
        item_list = [
            it if it.strip() == "*" else rewrites.duck_expr_to_spark(it)
            for it in _split_top_level(items, ",")
        ]
        if not item_list:
            raise PgError("42601", "RETURNING requires at least one expression")

        def project(df):
            return df.selectExpr(*item_list)

        from duck_server_spark.engine import dml_join as _dj
        from duck_server_spark.engine import upsert as _ups

        if re.match(r"\s*insert\b", base, re.IGNORECASE):
            if _ups.parse_upsert(base) is not None:
                raise PgError(
                    "0A000",
                    "RETURNING is not supported with ON CONFLICT / OR "
                    "REPLACE / OR IGNORE",
                )
            m = _INSERT.match(base)
            if m is None:
                raise PgError("42601", f"cannot parse INSERT for RETURNING: {base}")
            n, staged = self._validated_insert(
                m.group(1), m.group(2), m.group(3), returning=True
            )
            return project(staged), f"INSERT 0 {n}"
        m = _UPDATE.match(base)
        if m and self._is_managed_table(m.group(1)):
            if _dj.parse_update_from(base) is not None:
                raise PgError(
                    "0A000", "RETURNING is not supported with UPDATE … FROM"
                )
            n, affected = self._copy_on_write_update(
                m.group(1), m.group(2), m.group(3), returning=True
            )
            return project(affected), f"UPDATE {n}"
        if _dj.parse_delete_using(base) is not None:
            raise PgError(
                "0A000", "RETURNING is not supported with DELETE … USING"
            )
        m = _DELETE.match(base)
        if m and self._is_managed_table(m.group(1)):
            n, deleted = self._copy_on_write_delete(
                m.group(1), m.group(2), returning=True
            )
            return project(deleted), f"DELETE {n}"
        raise PgError(
            "0A000", f"RETURNING is not supported for this statement: {base}"
        )

    def describe_returning(self, q: str):
        """Schema of a DML RETURNING statement WITHOUT executing it (the
        extended protocol's Describe): project the items over a zero-row
        slice of the target table. None when q has no RETURNING clause."""
        q = rewrites.normalize_quoted_idents(q)
        split = rewrites.split_returning(q)
        if split is None:
            return None
        base, items = split
        table = None
        for rx in (_INSERT, _UPDATE, _DELETE):
            m = rx.match(base)
            if m:
                table = m.group(1)
                break
        if table is None:
            return None
        item_list = [
            it if it.strip() == "*" else rewrites.duck_expr_to_spark(it)
            for it in _split_top_level(items, ",")
        ]
        return self.spark.table(table).limit(0).selectExpr(*item_list).schema

    def execute(self, q: str, dialect: str = "pg") -> str:
        """DDL/DML path → command tag. Intercepts the statements vanilla
        Spark can't run (CREATE USER, UPDATE, DELETE, DISCARD ALL)."""
        # any write may change a schema the probe cache memoized —
        # conservative full clear (round 13)
        self._probe_cache.clear()
        # normalize PG double-quoted identifiers BEFORE the intercept
        # regexes — `DROP VIEW "v"`, `CREATE TABLE "t" ("c" int)`,
        # `UPDATE "t" SET …` must hit the same branches as the
        # backticked/bare spellings (round 10, VERDICT r9 item 1)
        q = rewrites.blank_comments(q)
        q = rewrites.normalize_quoted_idents(q)
        q = self._expand_insert_by_name(q, dialect)
        # FROM-first bodies in DDL/DML positions (CTAS `AS FROM`,
        # `INSERT INTO t FROM s`) normalize BEFORE the dispatch branches
        # that parse INSERT tails / CREATE bodies (round 9)
        q = rewrites.rewrite_from_first(q)
        # duck coerces INSERT source values to the target column types at
        # bind time ('5' → INT 5, '1.5' → DOUBLE, 'true' → BOOLEAN) where
        # Spark's ANSI store assignment refuses the string→numeric cast
        # loudly — found by tools/statement_probe.py (round 12). Explicit
        # per-column CASTs reproduce the coercion with ANSI's runtime
        # error kept for genuinely bad values, and the literal-cast
        # rounding pass then applies duck's half-away tie rule for free.
        q = self._coerce_insert_source(q, dialect)
        # `INSERT INTO t DEFAULT VALUES` (duck/PG) — Spark has no such
        # form; expand to a VALUES row of DEFAULT keywords, one per
        # column (statement_probe r12)
        mdv = re.match(
            r"(\s*INSERT\s+INTO\s+(?:TABLE\s+)?)([`\"\w.]+)\s+DEFAULT\s+VALUES\s*;?\s*$",
            q,
            re.IGNORECASE,
        )
        if mdv:
            try:
                n = len(self.spark.table(mdv.group(2)).schema.fields)
            except Exception:
                n = 0  # unknown target: loud native error below
            if n:
                q = (
                    f"{mdv.group(1)}{mdv.group(2)} VALUES "
                    f"({', '.join(['DEFAULT'] * n)})"
                )
        # duck accepts `TRUNCATE t` without the TABLE keyword; Spark's
        # parser requires it (statement_probe r12)
        q = re.sub(
            r"^(\s*truncate\s+)(?!table\b)", r"\1TABLE ", q, flags=re.IGNORECASE
        )
        ad = re.match(r"^\s*(attach|detach)\b", q, re.IGNORECASE)
        if ad:
            # duck's multi-database ATTACH/DETACH has no counterpart in a
            # single-catalog Spark warehouse — a specific 0A000 instead
            # of a Spark parse error (round 12, VERDICT r11 item 8).
            # `USE <schema>` stays native: Spark switches schemas like
            # duck does, and an unknown name errors loudly.
            from duck_server_spark.engine.errors import PgError

            raise PgError(
                "0A000",
                f"{ad.group(1).upper()} is not supported by this engine: "
                "the Spark warehouse is a single catalog (use schemas — "
                "CREATE SCHEMA / USE — instead of attached databases)",
            )
        m = _CREATE_USER.match(q)
        if m:
            self.create_user(m.group(1), m.group(2))
            return "CREATE USER"  # pg_conn.go:291 tag
        if _DISCARD_ALL.match(q):
            return "DISCARD ALL"
        cp = _CHECKPOINT.match(q)
        if cp:
            # version-dir reclaim, same contract as the query() path
            # (CH generic-exec lands here); round 10, VERDICT r9 item 5
            from duck_server_spark.engine.transactions import checkpoint_sweep

            checkpoint_sweep(self.spark, force=bool(cp.group(1)))
            return "CHECKPOINT"
        m = re.match(
            r"^\s*vacuum(?:\s+analyze)?(?:\s+([\w.]+))?\s*;?\s*$", q, re.IGNORECASE
        )
        if m:
            # VACUUM is a no-op on parquet tables (DuckDB's is too for
            # clients' purposes); VACUUM ANALYZE falls through to stats
            if re.search(r"\banalyze\b", q, re.IGNORECASE):
                self._analyze(m.group(1))
            return "VACUUM"
        m = re.match(r"^\s*analyze(?:\s+([\w.]+))?\s*;?\s*$", q, re.IGNORECASE)
        if m:
            # PG/DuckDB ANALYZE → Spark table statistics: feeds Catalyst's
            # cost-based join reordering/broadcast decisions — the actual
            # scale lever this statement has on a cluster
            self._analyze(m.group(1))
            return "ANALYZE"
        if re.match(
            r"\s*create\s+(or\s+replace\s+)?(macro|function)\b", q, re.IGNORECASE
        ) or re.match(r"\s*drop\s+(macro|function)\b", q, re.IGNORECASE):
            # DuckDB SQL macros (engine/macros.py) — the reference's own
            # bootstrap uses this statement (pg_server.go:40-42). Typed
            # Spark SQL UDFs / JVM CREATE FUNCTION fall through.
            from duck_server_spark.engine import macros as _mac

            cm = _mac.parse_create(q)
            if cm is not None:
                name, params, defaults, body, replace, ine, kind = cm
                self.macros.create(
                    name, params, defaults, body, replace, ine, kind
                )
                return "CREATE MACRO"
            dm = _mac.DROP_MACRO.match(q)
            if dm is not None and (
                dm.group("kw").lower() == "macro"
                or dm.group("name").lower() in self.macros.names()
            ):
                self.macros.drop(
                    dm.group("name"),
                    bool(dm.group("ie")),
                    table=bool(dm.group("tbl")),
                )
                return "DROP MACRO"
        if re.match(r"\s*(create|drop)\s+sequence\b", q, re.IGNORECASE):
            from duck_server_spark.engine import sequences as _seq
            from duck_server_spark.engine.errors import PgError

            cm = _seq.parse_create(q)
            if cm is not None:
                name, start, inc, ine = cm
                self.sequences.create(name, start, inc, ine)
                return "CREATE SEQUENCE"
            dm = _seq.DROP_SEQ.match(q)
            if dm is not None:
                self.sequences.drop(dm.group("name"), bool(dm.group("ie")))
                return "DROP SEQUENCE"
            raise PgError(
                "0A000",
                "unsupported sequence clause (START/INCREMENT only): " + q.strip()[:80],
            )
        q = self._resolve_sequences(q)
        if re.match(r"\s*copy\b", q, re.IGNORECASE):
            # COPY … TO/FROM '<file>' — engine/copy_file.py (the wire
            # front-end already intercepted STDIN/STDOUT forms)
            from duck_server_spark.engine import copy_file as _cf

            tag = _cf.run_copy_file(self, q)
            if tag is not None:
                return tag
        if re.match(r"\s*(export|import)\s+database\b", q, re.IGNORECASE):
            from duck_server_spark.engine import copy_file as _cf
            from duck_server_spark.engine.errors import PgError

            m = _cf.EXPORT_DB.match(q)
            if m:
                return _cf.run_export_database(self, m.group(1), m.group(2))
            m = _cf.IMPORT_DB.match(q)
            if m:
                return _cf.run_import_database(self, m.group(1))
            raise PgError("42601", f"cannot parse EXPORT/IMPORT DATABASE: {q.strip()[:80]}")
        m = _UPDATE.match(q)
        if m and self._is_managed_table(m.group(1)):
            # UPDATE … FROM first: the plain-UPDATE regex would swallow
            # the FROM clause into its SET group (engine/dml_join.py)
            from duck_server_spark.engine import dml_join as _dj

            uf = _dj.parse_update_from(q)
            if uf is not None:
                n = _dj.run_update_from(self, *uf)
            else:
                n = self._copy_on_write_update(m.group(1), m.group(2), m.group(3))
            return f"UPDATE {n}"
        m = _DELETE.match(q)
        if m and self._is_managed_table(m.group(1)):
            n = self._copy_on_write_delete(m.group(1), m.group(2))
            return f"DELETE {n}"
        from duck_server_spark.engine import dml_join as _dj

        du = _dj.parse_delete_using(q)
        if du is not None and self._is_managed_table(du[0]):
            n = _dj.run_delete_using(self, *du)
            return f"DELETE {n}"
        if _ALTER_OR_INDEX.match(q):
            # column surgery Spark can't do natively + index DDL —
            # engine/alter.py; None falls through (ADD COLUMN, RENAME TO)
            from duck_server_spark.engine import alter as _alt

            tag = _alt.intercept(self, q)
            if tag is not None:
                return tag
        morp = _CREATE_OR_REPLACE_TABLE.match(q)
        if morp:
            # duck's CREATE OR REPLACE TABLE (plain or CTAS) — Spark's v1
            # catalog has no REPLACE TABLE, so: drop-if-exists, then
            # re-dispatch the plain CREATE (found by statement_probe r12).
            # Not atomic like duck's, which is acceptable on this
            # autocommit path; inside BEGIN the txn overlay stages DDL.
            self.execute(f"DROP TABLE IF EXISTS {morp.group(3)}", dialect)
            return self.execute(
                q[: morp.start(2)] + q[morp.end(2) :], dialect
            )
        if _CREATE_TABLE_VERB.match(q):
            stripped, table, found = cst.extract_constraints(q)
            # round 9: a CREATE on a name with versioned leftovers (the
            # plain dir was retired by a pointer-swap publish, then the
            # table dropped) must not adopt the stale directory — a DDL
            # CREATE would silently resurrect the old rows
            nm = _CREATE_TABLE_NAME.match(q)
            if nm is not None:
                from duck_server_spark.engine.transactions import (
                    clear_retired_location,
                )

                try:
                    if not self.spark.catalog.tableExists(nm.group(1)):
                        clear_retired_location(self.spark, nm.group(1))
                except Exception:  # noqa: BLE001 — probe best-effort
                    pass
            if found:
                self._recoverable_create(
                    self._prepare_sql(stripped, dialect), stripped
                )
                self.constraints.put(table, found)
                return "CREATE TABLE"
            prepared = self._prepare_sql(q, dialect)
            self._recoverable_create(prepared, q)
            if "__asof_end_" in prepared:
                nm = _CREATE_TABLE_NAME.match(prepared)
                if nm:
                    self._repair_asof_helpers(nm.group(1))
            return "CREATE TABLE"
        m = _DROP_TABLE.match(q)
        if m:
            self.constraints.drop(m.group(1))  # no-op if unconstrained
            for iname, rec in list(self.indexes.items()):
                if rec.get("table") == m.group(1).lower():
                    self.drop_index(iname)
        if re.match(r"\s*insert\b", q, re.IGNORECASE):
            # upsert forms (ON CONFLICT / OR REPLACE / OR IGNORE) lower to
            # a MERGE-shaped COW plan — engine/upsert.py; plain INSERTs
            # fall through to the paths below
            from duck_server_spark.engine import upsert as _ups

            ustmt = _ups.parse_upsert(q)
            if ustmt is not None:
                n = _ups.run_upsert(self, ustmt)
                return f"INSERT 0 {n}"
        m = _INSERT.match(q)
        if m and self.constraints.get(m.group(1)):
            n = self._validated_insert(m.group(1), m.group(2), m.group(3))
            return f"INSERT 0 {n}"
        prepared = self._prepare_sql(q, dialect)
        tag = self._exec_asof_guarded(prepared)
        if tag is not None:
            return tag
        if re.match(r"\s*insert\b", q, re.IGNORECASE):
            # appends join the autocommit write contract (r7 review): an
            # append landing inside a COW publish's check-then-overwrite
            # window would be silently deleted by the overwrite
            from duck_server_spark.engine.transactions import _COMMIT_MUTEX

            mi = self._INSERT_SEL_HEAD.match(prepared)
            if mi:
                # SELECT/WITH source: compute it OUTSIDE the mutex into a
                # unique staging table, append from it (a fast file read)
                # inside — holding the process-wide mutex for the full
                # source computation would block every COMMIT and write
                # for a potentially multi-minute query (r7 review)
                import shutil

                from duck_server_spark.engine.transactions import table_dir

                base_name = mi.group("tbl").strip('`"')
                with _COW_SEQ_LOCK:
                    _COW_SEQ[0] += 1
                    stg = f"{base_name}__ins_staging_{os.getpid()}_{_COW_SEQ[0]}"
                self.spark.sql(f"DROP TABLE IF EXISTS {stg}")
                shutil.rmtree(table_dir(self.spark, stg), ignore_errors=True)
                # SOURCE analyzed under the shared visibility gate, then
                # written ungated: the file listings are pinned at
                # analysis, so the staging write reads a consistent
                # snapshot without holding the gate for the computation
                src_df = self._gated_sql(prepared[mi.end() :])
                try:
                    src_df.write.format("parquet").saveAsTable(stg)
                except Exception as exc:  # noqa: BLE001
                    # transient committer race (_temporary cleanup from
                    # a zombie task attempt of an earlier failed write —
                    # seen under the mutation sweep's error-path
                    # sequences): clear and retry ONCE, loud on repeat
                    from duck_server_spark.engine.transactions import (
                        is_file_race,
                    )

                    if not is_file_race(exc):
                        raise
                    self.spark.sql(f"DROP TABLE IF EXISTS {stg}")
                    shutil.rmtree(
                        table_dir(self.spark, stg), ignore_errors=True
                    )
                    src_df.write.format("parquet").saveAsTable(stg)
                try:
                    with _COMMIT_MUTEX:
                        ins = f"{prepared[: mi.end()]} SELECT * FROM {stg}"
                        try:
                            self.spark.sql(ins).collect()
                        except Exception as exc:  # noqa: BLE001
                            # transient listing race (stale shared
                            # FileStatusCache serving a since-renamed
                            # part file — seen once under the wire-mode
                            # battery; on object stores the same class
                            # of listing staleness is routine): refresh
                            # both listings and retry ONCE, loud if the
                            # file is genuinely gone
                            from duck_server_spark.engine.transactions import (
                                is_file_race,
                            )

                            if not is_file_race(exc):
                                raise
                            self.spark.catalog.refreshTable(stg)
                            try:
                                self.spark.catalog.refreshTable(base_name)
                            except Exception:  # noqa: BLE001
                                pass
                            self.spark.sql(ins).collect()
                finally:
                    self.spark.sql(f"DROP TABLE IF EXISTS {stg}")
            else:
                with _COMMIT_MUTEX:
                    self.spark.sql(prepared).collect()
        else:
            self.spark.sql(prepared).collect()
        # view↔macro dependency bookkeeping (round 9) — after the
        # statement succeeded, so a failed CREATE registers nothing
        if re.match(r"\s*create\b", q, re.IGNORECASE):
            self._register_macro_view(q)
        else:
            dv = self._DROP_VIEW_HEAD.match(q)
            if dv is not None:
                self.macro_views.drop(dv.group("name").split(".")[-1].strip('`"'))
            dt = _DROP_TABLE.match(q)
            if dt is not None:
                # Spark's DROP deleted the CURRENT version dir; reclaim
                # the versions parent (old versions + pointer file) AND
                # the retired plain dir. The plain dir survives a
                # pointer-swap publish for the grace window — once the
                # table is dropped it is dead, and leaving it in place
                # lets a later CREATE of the same name adopt it and
                # silently resurrect the pre-update rows (round-10
                # advice finding).
                import shutil as _sh

                from duck_server_spark.engine.transactions import (
                    table_dir,
                    versions_parent,
                )

                _sh.rmtree(
                    versions_parent(self.spark, dt.group(1)), ignore_errors=True
                )
                _sh.rmtree(table_dir(self.spark, dt.group(1)), ignore_errors=True)
        verb = q.strip().split(None, 1)[0].upper() if q.strip() else "OK"
        return verb

    _INSERT_PLAIN_HEAD = re.compile(
        r"\s*INSERT\s+INTO\s+(?:TABLE\s+)?([`\w.]+)\s*(?:\(([^()]*)\)\s*)?"
        r"(?=(?:VALUES|SELECT|WITH|FROM)\b)",
        re.IGNORECASE,
    )

    def _coerce_insert_source(self, q: str, dialect: str = "pg") -> str:
        """Wrap a plain INSERT's source in per-column CASTs to the
        target schema (duck's bind-time write coercion — see execute()).
        Skipped for ON CONFLICT / RETURNING / DEFAULT forms (their own
        handlers own the source) and complex-typed targets."""
        masked = rewrites._mask_literals(q)
        m = self._INSERT_PLAIN_HEAD.match(masked)
        if m is None or re.search(
            # DEFAULT / ON CONFLICT / RETURNING forms have their own
            # handlers; nextval/currval sources must stay in INSERT …
            # VALUES shape (sequences serialize row streams)
            r"\bON\s+CONFLICT\b|\bRETURNING\b|\bDEFAULT\b"
            r"|\bnextval\s*\(|\bcurrval\s*\(",
            masked,
            re.IGNORECASE,
        ):
            return q
        tbl = q[m.start(1) : m.end(1)]
        try:
            fields = self.spark.table(tbl).schema.fields
        except Exception:
            return q  # unknown target: the statement errors loudly below
        if m.group(2) is not None:
            names = [c.strip().strip("`") for c in q[m.start(2) : m.end(2)].split(",")]
            byname = {f.name.lower(): f for f in fields}
            try:
                fields = [byname[n.lower()] for n in names]
            except KeyError:
                return q  # unknown column: loud native error below
        types = [f.dataType.simpleString() for f in fields]
        if any(t.startswith(("array", "map", "struct", "binary")) for t in types):
            return q  # complex targets keep native assignment semantics
        src = q[m.end() :].strip().rstrip(";")
        alias = ", ".join(f"__c{i}" for i in range(len(fields)))
        # duck's integer-target tie rules are SOURCE-type-dependent
        # (DECIMAL/VARCHAR half-away, DOUBLE banker's — both pinned live
        # by the dialect battery), so the source schema is probed once,
        # analysis-only, and each column gets the matching rounding
        try:
            sfields = self.spark.sql(
                self._prepare_sql(
                    f"SELECT * FROM ({src}) AS __duck_ins_src({alias})", dialect
                )
            ).schema.fields
        except Exception:
            return q  # unanalyzable source: loud native error below
        _INTS = {"tinyint", "smallint", "int", "bigint"}
        proj = []
        for i, (f, t) in enumerate(zip(fields, types)):
            s = sfields[i].dataType.simpleString() if i < len(sfields) else ""
            if t in _INTS and s.startswith("decimal"):
                proj.append(f"CAST(round(__c{i}, 0) AS {t}) AS `{f.name}`")
            elif t in _INTS and s in ("double", "float"):
                proj.append(f"CAST(bround(__c{i}, 0) AS {t}) AS `{f.name}`")
            elif t in _INTS and s == "string":
                proj.append(
                    f"CAST(round(CAST(__c{i} AS DECIMAL(38,9)), 0) AS {t})"
                    f" AS `{f.name}`"
                )
            else:
                proj.append(f"CAST(__c{i} AS {t}) AS `{f.name}`")
        collist = "(" + ", ".join(f"`{f.name}`" for f in fields) + ")"
        return (
            f"{q[: m.end(1)]} {collist} SELECT {', '.join(proj)} "
            f"FROM ({src}) AS __duck_ins_src({alias})"
        )

    _INSERT_SEL_HEAD = re.compile(
        r"\s*INSERT\s+(?:INTO|(?P<ow>OVERWRITE))\s+(?:TABLE\s+)?"
        r"(?P<tbl>[`\"\w.]+)\s*(?:\((?P<cols>[^)]*)\)\s*)?(?=(SELECT|WITH)\b)",
        re.IGNORECASE | re.DOTALL,
    )

    @staticmethod
    def _strip_asof_helpers(df: DataFrame) -> DataFrame:
        leaked = [c for c in df.columns if c.startswith("__asof_end_")]
        return df.drop(*leaked) if leaked else df

    def _repair_asof_helpers(self, table: str) -> None:
        """Post-create repair for ANY CTAS shape (USING/PARTITIONED BY/
        column lists — no head parsing): if the just-created table's
        schema carries ASOF shim helper columns, rewrite it without them.
        Safe: the table was created by the statement being executed, so
        it has no concurrent readers yet; the clean rows are materialized
        (eager localCheckpoint) before the overwrite so the rewrite never
        reads the files it is replacing."""
        try:
            df = self.spark.table(table)
        except Exception:  # noqa: BLE001 — nothing created, nothing to fix
            return
        leaked = [c for c in df.columns if c.startswith("__asof_end_")]
        if not leaked:
            return
        clean = df.drop(*leaked).localCheckpoint(eager=True)
        try:
            # under the commit mutex: the recreate must not interleave
            # with a concurrent publish; the drop-and-recreate reader
            # window is acceptable ONLY because the table was born by
            # the statement being executed (milliseconds ago), and the
            # schema change (dropping a column) rules out INSERT
            # OVERWRITE here
            from duck_server_spark.engine.transactions import _COMMIT_MUTEX

            with _COMMIT_MUTEX:
                clean.write.mode("overwrite").saveAsTable(table)
        finally:
            try:
                clean.rdd.unpersist(False)
            except Exception:  # noqa: BLE001 — cleanup best-effort
                pass

    def _exec_asof_guarded(self, prepared: str) -> str | None:
        """INSERT…SELECT/WITH whose rewritten text carries ASOF shim
        helper columns (r7 review: the textual EXCEPT wrap can't reach a
        CTE-star inside these, and execute() has no DataFrame drop
        guard): route the SELECT through a DataFrame, drop the helpers
        schema-side, align an optional column list against the target
        schema, and append — so a helper can never land in an INSERT
        target by position. Appends run under the commit mutex like
        every other autocommit write. Returns the command tag when
        handled, None to dispatch normally. (CTAS is handled separately
        by post-create schema repair — _repair_asof_helpers.)"""
        if "__asof_end_" not in prepared:
            return None
        m = self._INSERT_SEL_HEAD.match(prepared)
        if m is None:
            return None
        table = m.group("tbl").strip('`"')
        df = self._strip_asof_helpers(self._gated_sql(prepared[m.end() :]))
        names = (
            [c.strip().strip('`"') for c in m.group("cols").split(",")]
            if m.group("cols")
            else None
        )
        df = self._align_to_schema(df, self.spark.table(table).schema, names)
        from duck_server_spark.engine.transactions import _COMMIT_MUTEX

        with _COMMIT_MUTEX:
            df.write.insertInto(table, overwrite=bool(m.group("ow")))
        return "INSERT"

    @staticmethod
    def _align_to_schema(df: DataFrame, full, names: list[str] | None) -> DataFrame:
        """Align a source DataFrame to a target table schema: optional
        column-list rename, DEFAULT- or NULL-fill for unlisted columns,
        per-field cast, table column order (shared by the validated-
        insert and ASOF-guarded INSERT paths). Spark records a column's
        DEFAULT in field metadata (CURRENT_DEFAULT) and applies it on
        native INSERT paths — this DataFrame-append path must match, or
        a constrained table's defaults would silently degrade to NULL."""
        from duck_server_spark.sources.ingest import default_fill

        if names:
            df = df.toDF(*names)
            for f in full.fields:
                if f.name not in names:
                    df = df.withColumn(f.name, default_fill(f))
        else:
            df = df.toDF(*[f.name for f in full.fields])
        return df.select(
            *[F.col(f.name).cast(f.dataType.simpleString()) for f in full.fields]
        )

    def _expand_values_defaults(
        self,
        source: str,
        schema,
        names: list[str] | None,
        seqdefs: dict[str, str] | None = None,
    ) -> str:
        """Replace bare DEFAULT items in a `VALUES (…), (…)` source with
        the positional column's declared default (CURRENT_DEFAULT field
        metadata), its sequence's next value (seq_default registry,
        reserved here in text order = insertion order), or NULL —
        DuckDB/PG semantics. Non-VALUES sources and DEFAULT inside larger
        expressions pass through (the latter errors loudly downstream,
        never silently)."""
        if not re.match(r"\s*values\b", source, re.IGNORECASE):
            return source
        if not re.search(r"\bdefault\b", source, re.IGNORECASE):
            return source
        cols = names or [f.name for f in schema.fields]
        by_name = {f.name: f for f in schema.fields}
        head_end = re.match(r"\s*values\b", source, re.IGNORECASE).end()
        rows_sql = source[head_end:]
        out_rows = []
        for row in _split_top_level(rows_sql, ","):
            row = row.strip().rstrip(";").strip()
            if not (row.startswith("(") and row.endswith(")")):
                return source  # unexpected shape: leave untouched
            items = _split_top_level(row[1:-1], ",")
            new_items = []
            for idx, item in enumerate(items):
                if item.strip().lower() == "default" and idx < len(cols):
                    if seqdefs and cols[idx] in seqdefs:
                        new_items.append(
                            str(self.sequences.nextval(seqdefs[cols[idx]]))
                        )
                        continue
                    f = by_name.get(cols[idx])
                    dflt = (
                        f.metadata.get("CURRENT_DEFAULT")
                        if f is not None and isinstance(f.metadata, dict)
                        else None
                    )
                    new_items.append(dflt if dflt else "NULL")
                else:
                    new_items.append(item)
            out_rows.append("(" + ", ".join(s.strip() for s in new_items) + ")")
        return "VALUES " + ", ".join(out_rows)

    def _fill_seq_columns(self, src, names, seqdefs: dict[str, str]):
        """Fill columns with a seq_default that the INSERT's column list
        OMITS: materialize the source once (the count fixes the range
        size), reserve a contiguous range with ONE fetch-and-add, and
        assign base + inc*(row_number-1). The single-partition window is
        the honest cost of dense sequence ids — DuckDB serializes the
        same assignment through its counter; at scale prefer
        monotonically_increasing_id (engine/sequences.py scale note)."""
        missing = (
            [c for c in seqdefs if c not in names] if names is not None else []
        )
        if not missing:
            return src, names
        from pyspark.sql.window import Window

        src = src.localCheckpoint(eager=True)
        n = src.count()
        for col in missing:
            seq = seqdefs[col]
            inc = self.sequences.increment_of(seq)
            if n == 0:
                src = src.withColumn(col, F.lit(None))
            else:
                base = self.sequences.nextval(seq, n)
                w = Window.orderBy(F.monotonically_increasing_id())
                src = src.withColumn(
                    col,
                    F.lit(base) + F.lit(inc) * (F.row_number().over(w) - F.lit(1)),
                )
            names = [*names, col]
        return src, names

    def _validated_insert(
        self,
        table: str,
        cols_csv: str | None,
        source: str,
        returning: bool = False,
    ):
        """INSERT into a constrained table: materialize the source once
        (eager localCheckpoint — the validation jobs and the append must
        see identical rows even for non-deterministic SELECT sources),
        key-validate, then append. Nothing touches the table on violation."""
        spark = self.spark
        names = (
            [c.strip().strip('`"') for c in cols_csv.split(",")] if cols_csv else None
        )
        seqdefs = {
            c["cols"][0]: c["seq"]
            for c in self.constraints.get(table)
            if c["kind"] == "seq_default"
        }
        # DEFAULT keywords in a VALUES source resolve on Spark's native
        # INSERT path but not in a standalone spark.sql("VALUES …")
        # (review finding: registering NOT NULL/CHECK routes more tables
        # here) — expand them textually against the target's defaults
        source = self._expand_values_defaults(
            source, spark.table(table).schema, names, seqdefs
        )
        # an ASOF-rewritten SELECT source can carry helper columns the
        # textual wrap couldn't reach — strip schema-side before aligning.
        # Analysis under the shared visibility gate (round-8 review): a
        # multi-table source must never resolve a mixed commit snapshot.
        src = self._strip_asof_helpers(
            self._gated_sql(self._prepare_sql(source, "pg"))
        )
        src, names = self._fill_seq_columns(src, names, seqdefs)
        src = self._align_to_schema(src, spark.table(table).schema, names)
        staged = src.localCheckpoint(eager=True)
        try:
            n = staged.count()
            # fingerprint-gated validate+append (ADVICE r7): the mutex
            # alone prevents overwrite races but not key races — a
            # concurrent same-key insert between validation and append
            # must force a re-validation, not slip a duplicate in
            from duck_server_spark.engine.transactions import gated_append

            found = self.constraints.get(table)
            gated_append(
                spark,
                table,
                staged,
                validate=(
                    (
                        lambda df: cst.validate_append(
                            spark, table, df, found, self.constraints
                        )
                    )
                    if found
                    else None
                ),
            )
            # RETURNING: the staged rows ARE the inserted post-image
            # (aligned, defaults filled, casts applied) — keep the
            # checkpoint alive for the caller's projection
            return (n, staged) if returning else n
        finally:
            import sys as _sys

            # keep the checkpoint only for a SUCCESSFUL returning insert
            if not returning or _sys.exc_info()[0] is not None:
                try:
                    staged.rdd.unpersist(False)  # release checkpoint blocks
                except Exception:  # noqa: BLE001 — cleanup best-effort
                    pass

    def appender(self, table: str, cols: list[str] | None, **kw):
        """BatchAppender wired with this engine's constraint validation
        (used by the PG COPY and CH INSERT…FORMAT ingest paths)."""
        from duck_server_spark.sources.ingest import BatchAppender

        found = self.constraints.get(table)
        validator = (
            (lambda df: cst.validate_append(self.spark, table, df, found, self.constraints))
            if found
            else None
        )

        def _mk_fill(seq_name: str):
            def fill(count: int):
                inc = self.sequences.increment_of(seq_name)
                base = self.sequences.nextval(seq_name, count) if count else 0
                return base, inc

            return fill

        seq_fill = {
            c["cols"][0]: _mk_fill(c["seq"])
            for c in found
            if c["kind"] == "seq_default"
        }
        return BatchAppender(
            self.spark,
            table,
            self.spark.table(table).schema,
            cols,
            validator=validator,
            seq_fill=seq_fill,
            **kw,
        )

    # ------------------------------------------------------ DML rewrite

    def _is_managed_table(self, name: str) -> bool:
        try:
            return self.spark.catalog.tableExists(name)
        except Exception:
            return False

    def _copy_on_write_update(
        self, table: str, set_clause: str, where: str | None, returning: bool = False
    ):
        """UPDATE t SET a=e1, b=e2 WHERE p → full-table rewrite:
        SELECT with CASE WHEN p THEN e ELSE a END per assigned column.
        At scale this is the standard parquet-table strategy (Delta/
        Iceberg do file-granular versions of the same rewrite).

        One pass total: the affected-row count rides the rewrite job as
        an Observation metric (no separate pre-count), and the result is
        staged + renamed — never collected to the driver.
        """
        spark = self.spark
        df = spark.table(table)
        assigns: dict[str, str] = {}
        from duck_server_spark.engine.macros import expand_calls

        field_meta = {f.name: f.metadata for f in df.schema.fields}
        by_lower = {f.name.lower(): f.name for f in df.schema.fields}
        for part in _split_top_level(set_clause, ","):
            col, expr = part.split("=", 1)
            cname = col.strip().strip("`\"")
            # duck binds SET columns case-insensitively and ERRORS on an
            # unknown name — silently skipping either case loses writes
            # (round-13 statement battery: err_update_unknown_column)
            stored = by_lower.get(cname.lower())
            if stored is None:
                raise PgError(
                    "42703",
                    f"Binder Error: Referenced update column {cname} "
                    "not found in table!",
                )
            cname = stored
            if expr.strip().upper() == "DEFAULT":
                # SET col = DEFAULT: the column's declared default, NULL
                # when none (duck/PG; statement_probe r12)
                assigns[cname] = field_meta.get(cname, {}).get(
                    "CURRENT_DEFAULT", "NULL"
                )
                continue
            # fragments are raw duck-dialect (sliced before
            # _prepare_sql): literal semantics + shims, exactly once —
            # macro calls included (statement_probe r12: UPDATE SET
            # k = my_macro(k) never reached _prepare_sql's expansion)
            assigns[cname] = self._retype_date_arith_fragment(
                rewrites.duck_expr_to_spark(
                    expand_calls(expr.strip(), self.macros)
                ),
                df.schema.fields,
            )
        pred = (
            self._retype_date_arith_fragment(
                rewrites.duck_expr_to_spark(expand_calls(where, self.macros)),
                df.schema.fields,
            )
            if where
            else "TRUE"
        )
        select_exprs = []
        for field in df.schema.fields:
            if field.name in assigns:
                select_exprs.append(
                    f"CASE WHEN {pred} THEN CAST(({assigns[field.name]}) AS {field.dataType.simpleString()}) ELSE `{field.name}` END AS `{field.name}`"
                )
            else:
                select_exprs.append(f"`{field.name}`")
        hit = F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias("n")
        # an IN/EXISTS subquery predicate cannot ride a CollectMetrics
        # observation (Spark restriction, found by statement_probe r12) —
        # count the matched rows with a standalone filter job instead
        count_fallback = (
            (lambda fresh: fresh.filter(F.expr(pred)).count())
            if _PRED_SUBQUERY.search(rewrites._mask_literals(pred))
            else None
        )
        # UPDATE can mint duplicate keys (SET pk = const) that append-time
        # validation never sees: if an assigned column is part of any
        # declared key, validate the staged rewrite before it publishes.
        # Re-keying a REFERENCED parent can also orphan children (DuckDB
        # rejects it — review finding): probe children vs the staged keys.
        from duck_server_spark.engine.transactions import resolve_shadow

        found = self.constraints.get(table)
        key_cols = {c for cc in found for c in cc["cols"]}
        refs = self.constraints.referencing(resolve_shadow(table) or table)
        ref_key_cols = {
            c
            for _, fk in refs
            for c in cst._resolve_ref_cols(fk, self.constraints)
        }
        validate = None
        if (found and key_cols & set(assigns)) or (refs and ref_key_cols & set(assigns)):
            def validate(staged):  # noqa: ANN001
                if found and key_cols & set(assigns):
                    cst.validate_table_keys(
                        table, staged, found, spark, self.constraints
                    )
                if refs and ref_key_cols & set(assigns):
                    cst.validate_parent_rekey(
                        spark, table, staged, refs, self.constraints
                    )
        capture = None
        publish_cols = None
        if returning:
            # RETURNING sees the POST-update row (DuckDB/PG): a hit
            # marker (pred over OLD values, same input row the CASE
            # rewrites from) rides the staged rewrite and is published
            # away via publish_cols
            select_exprs.append(f"({pred}) AS __ret_hit")
            publish_cols = [f.name for f in df.schema.fields]
            capture = lambda fresh, staged: (  # noqa: E731
                staged.filter("__ret_hit").drop("__ret_hit")
            )
        return self._overwrite_table(
            table,
            lambda d: d.selectExpr(*select_exprs),
            hit,
            validate=validate,
            publish_cols=publish_cols,
            capture=capture,
            count_fallback=count_fallback,
        )

    def _copy_on_write_delete(
        self, table: str, where: str | None, returning: bool = False
    ):
        # raw duck-dialect fragment → Spark, exactly once (the converted
        # text flows into validate_delete_restrict's F.expr too)
        if where is not None:
            from duck_server_spark.engine.macros import expand_calls

            where = self._retype_date_arith_fragment(
                rewrites.duck_expr_to_spark(expand_calls(where, self.macros)),
                self.spark.table(table).schema.fields,
            )
        # ON DELETE RESTRICT: a child FK referencing this table blocks the
        # delete of still-referenced keys (23503) BEFORE anything rewrites.
        # A transaction shadow resolves to its base name for the reverse
        # lookup (children declare FKs against the base); the key scans
        # then run on the staged state, children on their published state.
        from duck_server_spark.engine.transactions import resolve_shadow

        refs = self.constraints.referencing(resolve_shadow(table) or table)
        if refs:
            cst.validate_delete_restrict(self.spark, table, where, refs, self.constraints)
        df = self.spark.table(table)
        if where is None:
            # truncate: count() is metadata-only on parquet, then one
            # empty overwrite — no staging needed, nothing to preserve.
            # Same autocommit concurrency contract as every other publish
            # (round-7 review finding: this fast path skipped it): count
            # + truncate run under the commit mutex so no COMMIT/COW
            # publish can interleave, and the TRUNCATE TABLE command
            # keeps the catalog entry live for concurrent readers
            # (saveAsTable-overwrite dropped and recreated it).
            from duck_server_spark.engine.transactions import _COMMIT_MUTEX

            with _COMMIT_MUTEX:
                # refresh under the mutex: a publish completing just
                # before we acquired it would leave this session's file
                # listing stale (FILE_NOT_EXIST on count, or a count of
                # the pre-publish rows)
                self.spark.catalog.refreshTable(table)
                if returning:
                    # DELETE RETURNING yields the deleted (pre-image)
                    # rows: materialize before the truncate removes them
                    captured = self.spark.table(table).localCheckpoint(eager=True)
                    n = captured.count()
                    self.spark.sql(f"TRUNCATE TABLE {table}")
                    return n, captured
                n = self.spark.table(table).count()
                self.spark.sql(f"TRUNCATE TABLE {table}")
            return n
        hit = F.sum(F.when(F.expr(where), 1).otherwise(0)).cast("long").alias("n")
        capture = (
            (lambda fresh, staged: fresh.filter(F.expr(where))) if returning else None
        )
        count_fallback = (
            (lambda fresh: fresh.filter(F.expr(where)).count())
            if _PRED_SUBQUERY.search(rewrites._mask_literals(where))
            else None
        )
        return self._overwrite_table(
            table,
            lambda d: d.filter(~F.expr(where)),
            hit,
            capture=capture,
            count_fallback=count_fallback,
        )

    def _overwrite_table(
        self,
        table: str,
        transform,
        metric,
        validate=None,
        observe_output=False,
        publish_cols=None,
        publish_where=None,
        capture=None,
        count_fallback=None,
    ) -> int:
        """Stage-then-swap rewrite, never through the driver:

        1. transform(source) → staging table: the ONLY pass that computes
           the rewrite, executor-parallel; ``metric`` (the affected-row
           count) is observed during this same job — no separate count().
        2. target overwritten by re-reading the staged parquet (a plain
           file copy, no recompute), staging dropped.

        Durability: the original is untouched until step 2 begins, and
        staging holds the complete new contents throughout step 2 — a
        crash leaves recoverable state at every point, though the final
        overwrite itself is not atomic (vanilla parquet tables have no
        commit protocol; Delta/Iceberg's atomic swap is the production
        answer — documented non-goal, ADVICE r1).
        (Not DROP+RENAME: Spark's in-memory catalog renames a managed
        table without moving its location, which orphans the staging
        path for the next rewrite.)"""
        from pyspark.sql import Observation

        import shutil

        from duck_server_spark.engine.errors import PgError
        from duck_server_spark.engine.transactions import (
            _COMMIT_MUTEX,
            _table_fingerprint,
            is_file_race,
            table_dir,
        )

        # UNIQUE staging name per invocation (r7 review round 3): two
        # concurrent COW writers on the same table sharing one staging
        # name could drop/overwrite each other's staged result between
        # the fingerprint check and the publish — the fingerprint gate
        # cannot see that. Crash leftovers under any *__cow_staging*
        # name are swept by the bootstrap janitor.
        with _COW_SEQ_LOCK:
            _COW_SEQ[0] += 1
            staging = f"{table}__cow_staging_{os.getpid()}_{_COW_SEQ[0]}"
        self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
        if not self.spark.catalog.tableExists(staging):
            # a crashed prior rewrite (or a fresh session over an old
            # warehouse) can leave an orphaned staging directory that no
            # catalog entry owns — saveAsTable refuses the location then
            shutil.rmtree(table_dir(self.spark, staging), ignore_errors=True)
        # Optimistic concurrency (round-7 soak finding): an autocommit
        # UPDATE/DELETE is a one-statement transaction, so it must not
        # silently wipe a COMMIT that published between our read and our
        # publish — fingerprint the base before staging, publish only if
        # it is unchanged (under the same commit mutex transactions use),
        # else re-run the rewrite on the fresh base. Bounded retries,
        # then 40001 like any other serialization loser.
        #
        # The scan is REBUILT from spark.table(table) after a refresh on
        # every attempt — the caller's `source` DataFrame pins the file
        # listing from its own analysis time, so a row appended between
        # that analysis and our fingerprint read would be invisible to
        # the rewrite yet PASS the fingerprint compare: a silently
        # deleted append (found by test_autocommit_insert_vs_update_no_
        # lost_rows). refresh → fingerprint → resolve: a file landing
        # inside this window can only make the publish-time compare FAIL
        # (conservative retry), never a stale read pass it.
        # alias the scan under the table's simple BASE name (a txn shadow
        # resolves back): user predicates with qualified refs (`UPDATE t
        # … WHERE t.id = 1`) must keep resolving after the shadow
        # redirect renames the relation (round 7; found by the in-txn
        # join-DML test, applies to every COW caller)
        from duck_server_spark.engine.transactions import resolve_shadow

        base_alias = (resolve_shadow(table) or table).split(".")[-1].strip('`"')
        for _attempt in range(3):
            obs = Observation()
            self.spark.catalog.refreshTable(table)
            fp = _table_fingerprint(self.spark, table)
            fresh = self.spark.table(table).alias(base_alias)
            try:
                # observe_output: the metric aggregates the TRANSFORM's
                # rows (e.g. the upsert's action marker), not the base's
                # count_fallback (round 12): an IN/EXISTS-subquery
                # predicate can't live inside CollectMetrics — skip the
                # observation and count via a standalone job instead
                if count_fallback is not None:
                    staged_df = transform(fresh)
                else:
                    staged_df = (
                        transform(fresh).observe(obs, metric)
                        if observe_output
                        else transform(fresh.observe(obs, metric))
                    )
                staged_df.write.mode("overwrite").saveAsTable(staging)
            except Exception as e:  # noqa: BLE001
                # a concurrent publish can swap the base's files under our
                # scan (the file-level window) — that exact transient
                # retries; anything else is a real error. Clean any
                # partial staging the failed write left (location without
                # catalog entry → 42710 on retry).
                if _attempt < 2 and is_file_race(e):
                    self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
                    shutil.rmtree(table_dir(self.spark, staging), ignore_errors=True)
                    self.spark.catalog.refreshTable(table)
                    continue
                raise
            n = (
                int(count_fallback(fresh))
                if count_fallback is not None
                else int(obs.get["n"] or 0)
            )
            if validate is not None:
                try:
                    validate(self.spark.table(staging))
                except Exception:
                    self.spark.sql(f"DROP TABLE {staging}")
                    raise  # base table untouched
            captured = None
            if capture is not None:
                # DML RETURNING (round 7): capture(fresh base, staged
                # result) → the affected-row set, materialized by an
                # eager checkpoint BEFORE the publish drops the staging
                # files (and before a DELETE's publish removes the very
                # base rows being returned). On a fingerprint-mismatch
                # retry the stale capture is discarded with the staging.
                captured = capture(
                    fresh, self.spark.table(staging)
                ).localCheckpoint(eager=True)
            with _COMMIT_MUTEX:
                if _table_fingerprint(self.spark, table) == fp:
                    from duck_server_spark.engine.transactions import (
                        publish_pointer_swap,
                    )

                    if publish_cols or publish_where:
                        # projected/filtered publish (upsert marker
                        # columns, DO NOTHING rows): materialize the
                        # published shape into a second staging first so
                        # the pointer swap stays a pure rename
                        proj = (
                            ", ".join(f"`{c}`" for c in publish_cols)
                            if publish_cols
                            else "*"
                        )
                        cond = f" WHERE {publish_where}" if publish_where else ""
                        pub = f"{staging}_pub"
                        self.spark.sql(f"DROP TABLE IF EXISTS {pub}")
                        self.spark.sql(
                            f"CREATE TABLE {pub} AS SELECT {proj} FROM {staging}{cond}"
                        )
                        self.spark.sql(f"DROP TABLE {staging}")
                        staging_final = pub
                    else:
                        staging_final = staging
                    # version-directory publish (round 9): pointer swap —
                    # the staged files become a fresh version dir and the
                    # catalog entry re-points; readers that listed the
                    # old files keep them until the grace sweep, so an
                    # in-flight client scan survives this publish.
                    publish_pointer_swap(self.spark, table, staging_final)
                    return (n, captured) if capture is not None else n
            # fingerprint mismatch: a concurrent publish/append landed.
            # refreshTable before retrying (r7 review) — the re-staged
            # rewrite must list the FRESH files, not a cached listing,
            # or the retry could pass the compare yet miss the
            # concurrently written rows
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
            self.spark.catalog.refreshTable(table)
        raise PgError(
            "40001",
            f'could not serialize access: table "{table}" was modified by '
            "a concurrent transaction (retry the statement)",
        )

    # ------------------------------------------------------------ cancel

    def cancel(self, job_group: str) -> None:
        with self._cancel_lock:
            self.spark.sparkContext.cancelJobGroup(job_group)


class _BatchStream:
    """One dedicated producer thread pulls toLocalIterator and feeds a
    bounded queue; consumers call next_batch() from any thread."""

    _QUEUE_DEPTH = 4

    def __init__(self, spark, df, desc: str, job_group: str | None, batch_size: int):
        import queue

        self._spark = spark
        self._job_group = job_group
        self._queue: "queue.Queue" = queue.Queue(maxsize=self._QUEUE_DEPTH)
        self._closed = False
        self._thread = threading.Thread(
            target=self._produce, args=(df, desc, batch_size), daemon=True
        )
        self._thread.start()

    def _put(self, item) -> bool:
        """put() that gives up once the stream is closed — a producer
        must never block forever on a full queue after the consumer left."""
        import queue

        while not self._closed:
            try:
                self._queue.put(item, timeout=0.25)
                return True
            except queue.Full:
                continue
        return False

    def _produce(self, df, desc: str, batch_size: int) -> None:
        sc = self._spark.sparkContext
        if self._job_group:
            sc.setJobGroup(self._job_group, desc[:100], interruptOnCancel=True)
        try:
            buf: list[tuple] = []
            for row in df.toLocalIterator(prefetchPartitions=True):
                buf.append(tuple(row))
                if len(buf) >= batch_size:
                    if not self._put(buf):
                        return
                    buf = []
            self._put(buf)
            self._put(None)  # EOF
        except BaseException as e:  # noqa: BLE001 — relayed to the consumer
            self._put(e)
        finally:
            if self._job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def next_batch(self, timeout: float | None = None) -> list[tuple] | None:
        """Blocking: → batch of row tuples, or None at EOF. Re-raises
        producer exceptions (incl. job-group cancellation). With a
        timeout, raises queue.Empty so the caller can poll liveness
        (e.g. client-disconnect detection) while the query computes."""
        item = self._queue.get(timeout=timeout)
        if isinstance(item, BaseException):
            raise item
        if item is None:
            self._finished = True
        return item

    def close(self) -> None:
        """Idempotent cleanup: cancel the running job (only if the
        producer hasn't already finished — connections reuse their job
        group for subsequent queries) and unblock the producer."""
        if self._closed:
            return
        self._closed = True
        if self._job_group and not getattr(self, "_finished", False):
            self._spark.sparkContext.cancelJobGroup(self._job_group)


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on sep outside parens/quotes (for SET a=..., b=...)."""
    out, depth, cur, in_str = [], 0, [], False
    for ch in s:
        if ch == "'" and not in_str:
            in_str = True
        elif ch == "'" and in_str:
            in_str = False
        if not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == sep and depth == 0:
                out.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out
