"""The compat catalog: system.*, information_schema.*, pg_catalog.* and
DuckDB's duckdb_*() introspection functions, declared once in CATALOG.

The reference's whole compat catalog is a handful of CREATE VIEW
statements over DuckDB's live catalog (pg_server.go:35-76). Here each
entry of CATALOG names one temp view, the public spellings a statement
may use for it, and what it is built from:

- a SELECT over the base frames below — a SQL temp view, created once.
  Spark re-resolves the temp views a SQL view reads at every use, so
  the view always reads the base frames the current statement built;
- a SELECT over constants, or a `frame` builder — a static view, built
  once, on first reference.

Base frames are temp views rebuilt for every statement that names a
view reading them, and only those:

- __catalog_databases: listDatabases;
- __catalog_relations and __catalog_columns: ONE sweep over every
  database's relations (one analysis per relation);
- __catalog_functions: listFunctions, the slowest listing (only
  system.functions and duckdb_functions read it);
- __catalog_macros / _constraints / _sequences / _indexes: the
  engine's registries.

Every view a statement names reads the same base frames, so oids line
up across pg_class ⋈ pg_namespace ⋈ pg_attribute. Oids are
crc32(name) & 0x7FFFFFFF, computed in SQL by _oid.

No statement reuses an earlier one's base frames: temp views created
outside execute() (register_views, operator scratch views, a nextval
in a SELECT) would leave a cached snapshot stale.
"""

from __future__ import annotations

import functools
import itertools
import os
import re
from typing import Callable, NamedTuple

# transient shadow/staging relations the engine creates: hidden like
# the compat views by SHOW TABLES, the PRAGMA listings, EXPORT DATABASE
# and ANALYZE (name marks — staging names carry no registry), but kept
# in system.tables so leftover checks can see them
_INTERNAL_MARKS = (
    "__txn_",
    "__cow_staging_",
    "__ins_staging_",
    "__alter_staging_",
    "__ubn_tail_",
    # materialization views ((DESCRIBE …)-in-FROM, nested percent-LIMIT
    # subqueries, file reads): they must outlive the statement — the
    # returned DataFrame is lazy — so they are hidden, not dropped
    "__duck_meta_",
    "__duck_sub_",
    "__duck_file_",
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


def _oid(expr: str, sql_type: str = "BIGINT") -> str:
    """SQL for the oid of the name `expr` evaluates to."""
    return f"CAST(crc32(CAST({expr} AS BINARY)) & 2147483647 AS {sql_type})"


_NO_STR = "CAST(NULL AS STRING)"
_NO_TAGS = "CAST(NULL AS MAP<STRING, STRING>)"
# the database/schema columns of the registry-backed duckdb_* views
_DB_SCOPE = (
    f"database AS database_name, {_oid('database')} AS database_oid, "
    "'main' AS schema_name"
)
_SCHEMA_OID = _oid("concat(database, '.main')") + " AS schema_oid"


class View(NamedTuple):
    temp: str  # the temp view statements are rewritten to read
    spellings: tuple[str, ...]  # public names, lower case
    sql: str = ""  # SELECT over base frames or constants
    frame: Callable | None = None  # engine → (rows, schema), for static rows

    @property
    def bases(self) -> frozenset[str]:
        return frozenset(re.findall(r"\b__catalog_(\w+)", self.sql))


def _gucs() -> list:
    """The shared GUC table SHOW ALL and the settings views read."""
    from duck_server_spark.engine.gucs import ALL_GUCS

    return sorted(ALL_GUCS.items())


def _keywords() -> list:
    from duck_server_spark.plans.rewrites import _QUOTED_IDENT_KEYWORDS

    return sorted(_QUOTED_IDENT_KEYWORDS)


# Shapes are pinned against live DuckDB 1.x (tests/test_compat.py) and
# against their earlier selves (tests/test_catalog.py). The databases
# map to DuckDB catalogs, each with one schema, `main`.
CATALOG: tuple[View, ...] = (
    View("system_databases", ("system.databases",),
         "SELECT name FROM __catalog_databases"),
    View("system_tables", ("system.tables",),
         "SELECT database, name, engine FROM __catalog_relations"),
    View("system_columns", ("system.columns",),
         "SELECT database, table_name AS `table`, name, type FROM __catalog_columns"),
    View("system_functions", ("system.functions",),
         "SELECT name FROM __catalog_functions WHERE ix < 500"),
    View("info_schema_schemata", ("information_schema.schemata",),
         "SELECT name AS catalog_name, 'main' AS schema_name FROM __catalog_databases"),
    View("info_schema_tables", ("information_schema.tables",), """
         SELECT database AS table_catalog, 'main' AS table_schema,
                name AS table_name,
                IF(kind = 'r', 'BASE TABLE', 'VIEW') AS table_type
         FROM __catalog_relations WHERE visible"""),
    View("info_schema_columns", ("information_schema.columns",), """
         SELECT database AS table_catalog, 'main' AS table_schema,
                table_name, name AS column_name,
                ordinal AS ordinal_position, column_default,
                IF(notnull, 'NO', 'YES') AS is_nullable, data_type
         FROM __catalog_columns WHERE visible"""),
    # JDBC/DataGrip metadata probes query this at connect time; the
    # reference creates it empty (pg_server.go:46-47)
    View("constraint_column_usage",
         ("information_schema.constraint_column_usage", "constraint_column_usage"),
         frame=lambda e: ([], "constraint_catalog string, constraint_schema string, "
                              "constraint_name string, table_catalog string, "
                              "table_schema string, table_name string, column_name string")),
    # JDBC metadata's getPrimaryKeys/getImportedKeys read these; the
    # names are the ones constraint errors report
    View("table_constraints", ("information_schema.table_constraints",), """
         SELECT constraint_name, table_name, constraint_type
         FROM __catalog_constraints WHERE constraint_name IS NOT NULL"""),
    View("key_column_usage", ("information_schema.key_column_usage",), """
         SELECT constraint_name, table_name, column_name,
                CAST(pos + 1 AS INT) AS ordinal_position
         FROM __catalog_constraints
         LATERAL VIEW posexplode(column_names) p AS pos, column_name
         WHERE constraint_name IS NOT NULL"""),
    View("pg_type", ("pg_catalog.pg_type", "pg_type"), """
         SELECT CAST(oid AS BIGINT) AS oid, typname FROM VALUES
           (16, 'bool'), (20, 'int8'), (21, 'int2'), (23, 'int4'),
           (25, 'text'), (700, 'float4'), (701, 'float8'), (1082, 'date'),
           (1114, 'timestamp'), (1184, 'timestamptz'), (1700, 'numeric'),
           (114, 'json') AS t(oid, typname)"""),
    View("pg_class", ("pg_catalog.pg_class", "pg_class"), f"""
         SELECT {_oid("concat(database, '.', name)", "INT")} AS oid,
                name AS relname, {_oid("database", "INT")} AS relnamespace,
                kind AS relkind
         FROM __catalog_relations WHERE visible"""),
    View("pg_namespace", ("pg_catalog.pg_namespace", "pg_namespace"), f"""
         SELECT {_oid("name", "INT")} AS oid, name AS nspname
         FROM __catalog_databases"""),
    View("pg_attribute", ("pg_catalog.pg_attribute", "pg_attribute"), f"""
         SELECT {_oid("concat(database, '.', table_name)", "INT")} AS attrelid,
                name AS attname, pg_type AS atttypid, ordinal AS attnum,
                notnull AS attnotnull, FALSE AS attisdropped
         FROM __catalog_columns WHERE visible"""),
    # psql \dconfig and ORMs read it; the wire layer swaps in a
    # per-connection copy when the connection has SET overrides
    View("pg_settings", ("pg_catalog.pg_settings", "pg_settings"),
         frame=lambda e: ([(k, v, d) for k, (v, d) in _gucs()],
                          "name string, setting string, short_desc string")),
    View("pg_matviews", ("pg_matviews",),
         frame=lambda e: ([], "schemaname string, matviewname string")),
    # duckdb_tables() lists base tables only; views are duckdb_views()
    View("duckdb_tables", ("duckdb_tables",), """
         SELECT database AS database_name, 'main' AS schema_name,
                name AS table_name, temporary
         FROM __catalog_relations WHERE visible AND kind = 'r'"""),
    View("duckdb_views", ("duckdb_views",), """
         SELECT database AS database_name, 'main' AS schema_name,
                name AS view_name, temporary
         FROM __catalog_relations WHERE visible AND kind = 'v'"""),
    View("duckdb_columns", ("duckdb_columns",), """
         SELECT database AS database_name, 'main' AS schema_name,
                table_name, name AS column_name, ordinal AS column_index,
                data_type, NOT notnull AS is_nullable
         FROM __catalog_columns WHERE visible"""),
    # registry rows of the current database's base tables; column
    # indexes are 0-based positions of the named columns
    View("duckdb_constraints", ("duckdb_constraints",), f"""
         SELECT r.database AS database_name, {_oid("r.database")} AS database_oid,
                'main' AS schema_name,
                {_oid("concat(r.database, '.main')")} AS schema_oid,
                r.name AS table_name,
                {_oid("concat(r.database, '.', r.name)")} AS table_oid,
                c.constraint_index, c.constraint_type, c.constraint_text,
                c.expression,
                CAST(filter(transform(c.column_names,
                                      n -> array_position(i.names, lower(n)) - 1),
                            x -> x >= 0) AS ARRAY<BIGINT>)
                  AS constraint_column_indexes,
                c.column_names AS constraint_column_names
         FROM __catalog_constraints c
         JOIN __catalog_relations r
           ON r.database = c.database AND lower(r.name) = c.table_name
          AND r.visible AND r.kind = 'r'
         JOIN (SELECT database, table_name,
                      transform(sort_array(collect_list(
                        named_struct('o', ordinal, 'n', lower(name)))),
                        e -> e.n) AS names
               FROM __catalog_columns GROUP BY database, table_name) i
           ON i.database = r.database AND i.table_name = r.name
         ORDER BY r.database, r.name, c.constraint_index"""),
    View("duckdb_schemas", ("duckdb_schemas",), f"""
         SELECT {_oid("name")} AS oid, name AS database_name,
                {_oid("name")} AS database_oid, 'main' AS schema_name,
                {_NO_STR} AS comment, {_NO_TAGS} AS tags,
                TRUE AS internal, {_NO_STR} AS sql
         FROM __catalog_databases"""),
    # the GUC table plus the engine-truth `threads` key under DuckDB's
    # canonical name
    View("duckdb_settings", ("duckdb_settings",), frame=lambda e: (
        [("threads", str(e.spark.sparkContext.defaultParallelism),
          "The number of total threads used by the system.", "BIGINT", "GLOBAL")]
        + [(k, v, d, "VARCHAR", "LOCAL") for k, (v, d) in _gucs()],
        "name string, value string, description string, input_type string, scope string")),
    # SQL macros from the macro registry, then the builtin surface
    View("duckdb_functions", ("duckdb_functions",), f"""
         SELECT {_DB_SCOPE}, name AS function_name,
                IF(is_table, 'table_macro', 'macro') AS function_type,
                {_NO_STR} AS description, {_NO_STR} AS comment,
                {_NO_TAGS} AS tags, {_NO_STR} AS return_type,
                params AS parameters,
                transform(params, p -> {_NO_STR}) AS parameter_types,
                {_NO_STR} AS varargs, definition AS macro_definition,
                CAST(NULL AS BOOLEAN) AS has_side_effects, FALSE AS internal,
                {_oid("concat('macro.', name)")} AS function_oid,
                {_NO_STR} AS example, {_NO_STR} AS stability
         FROM __catalog_macros
         UNION ALL
         SELECT 'system', {_oid("'system'")}, 'main', name,
                IF(aggregate, 'aggregate', 'scalar'), description, NULL, NULL,
                NULL, NULL, NULL, NULL, NULL, NULL, TRUE,
                {_oid("concat('fn.', lower(name))")}, NULL, NULL
         FROM __catalog_functions"""),
    # type='duckdb' keeps client feature-switching on the path the
    # reference's embedded engine reports
    View("duckdb_databases", ("duckdb_databases",), f"""
         SELECT name AS database_name, {_oid("name")} AS database_oid, path,
                {_NO_STR} AS comment, {_NO_TAGS} AS tags, FALSE AS internal,
                'duckdb' AS type, FALSE AS readonly
         FROM __catalog_databases"""),
    View("duckdb_sequences", ("duckdb_sequences",), f"""
         SELECT {_DB_SCOPE}, {_SCHEMA_OID},
                name AS sequence_name,
                {_oid("concat('seq.', name)")} AS sequence_oid,
                {_NO_STR} AS comment, {_NO_TAGS} AS tags, FALSE AS temporary,
                start_value, min_value, max_value, increment_by,
                FALSE AS cycle, last_value, sql
         FROM __catalog_sequences"""),
    View("duckdb_indexes", ("duckdb_indexes",), f"""
         SELECT {_DB_SCOPE}, {_SCHEMA_OID},
                name AS index_name,
                {_oid("concat('idx.', name)")} AS index_oid, table_name,
                {_oid("concat(database, '.', table_name)")} AS table_oid,
                {_NO_STR} AS comment, {_NO_TAGS} AS tags, is_unique,
                FALSE AS is_primary, {_NO_STR} AS expressions, sql
         FROM __catalog_indexes"""),
    # this dialect's quoting-sensitive words (the ones
    # normalize_quoted_idents keeps backticked) as 'reserved': engine
    # truth, not a transcript of DuckDB's 479-row table
    View("duckdb_keywords", ("duckdb_keywords",), frame=lambda e: (
        [(k, "reserved") for k in _keywords()],
        "keyword_name string, keyword_category string")),
    # the Spark-representable type surface; sizes, logical names and
    # categories pinned value-for-value against live DuckDB 1.x
    View("duckdb_types", ("duckdb_types",), f"""
         SELECT 'system' AS database_name, {_oid("'system'")} AS database_oid,
                'main' AS schema_name, {_oid("'system.main'")} AS schema_oid,
                {_oid("concat('type.', type_name)")} AS type_oid, type_name,
                CAST(type_size AS BIGINT) AS type_size, logical_type,
                type_category, {_NO_STR} AS comment, {_NO_TAGS} AS tags,
                TRUE AS internal, CAST(NULL AS ARRAY<STRING>) AS labels
         FROM VALUES
           ('bigint', 8, 'BIGINT', 'NUMERIC'), ('blob', 16, 'BLOB', NULL),
           ('boolean', 1, 'BOOLEAN', 'BOOLEAN'), ('date', 4, 'DATE', 'DATETIME'),
           ('decimal', NULL, 'DECIMAL', 'NUMERIC'),
           ('double', 8, 'DOUBLE', 'NUMERIC'), ('float', 4, 'FLOAT', 'NUMERIC'),
           ('integer', 4, 'INTEGER', 'NUMERIC'),
           ('interval', 16, 'INTERVAL', 'DATETIME'),
           ('list', 16, 'LIST', 'COMPOSITE'), ('map', 16, 'MAP', 'COMPOSITE'),
           ('smallint', 2, 'SMALLINT', 'NUMERIC'),
           ('struct', 0, 'STRUCT', 'COMPOSITE'),
           ('timestamp', 8, 'TIMESTAMP', 'DATETIME'),
           ('tinyint', 1, 'TINYINT', 'NUMERIC'),
           ('varchar', 16, 'VARCHAR', 'STRING')
         AS t(type_name, type_size, logical_type, type_category)"""),
    # DuckDB 1.0's shape (a paren-only function there; serving the bare
    # spelling too is a harmless superset). Rows are engine truth: the
    # always-loaded extensions whose features Spark built-ins provide.
    View("duckdb_extensions", ("duckdb_extensions",), """
         SELECT extension_name, TRUE AS loaded, TRUE AS installed,
                '(built-in)' AS install_path, description,
                CAST(array() AS ARRAY<STRING>) AS aliases,
                '' AS extension_version,
                'STATICALLY_LINKED' AS install_mode, '' AS installed_from
         FROM VALUES
           ('json', 'JSON functions (from_json/to_json/json_tuple)'),
           ('parquet', 'Native columnar Parquet read/write'),
           ('icu', 'Collations and time zones (session TZ pinned UTC)')
         AS t(extension_name, description)"""),
)


# ------------------------------------------------------------ base frames
# Each builder returns {frame name: (rows, schema)}; `dbs` lists the
# databases once per statement.


def _databases(engine, dbs) -> dict:
    warehouse = engine.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return {
        "databases": (
            [
                (d, warehouse if d == "default" else os.path.join(warehouse, f"{d}.db"))
                for d in dbs()
            ],
            "name string, path string",
        )
    }


def _sweep(engine, dbs) -> dict:
    """Every relation of every database, with its columns. Temp views
    list under each database. A relation is `visible` unless it is an
    engine artifact or its schema cannot be read; system.tables and
    system.columns list the invisible ones too, the other views do not.
    Schemas come from one QUALIFIED analysis per table: a bare name
    would resolve every database's `users` to the current one."""
    from duck_server_spark.engine.types import duckdb_type_name, spark_type_to_pg_oid

    spark = engine.spark
    current = spark.catalog.currentDatabase()
    rels, cols = [], []
    for db in dbs():
        for t in spark.catalog.listTables(db):
            if t.name in CATALOG_NAMES:
                continue
            try:
                # temp views have no database: resolve them bare
                qual = t.name if t.isTemporary else f"`{db}`.`{t.name}`"
                fields = spark.table(qual).schema.fields
            except Exception:  # noqa: BLE001 — unreadable relation
                fields = None
            visible = fields is not None and not is_engine_artifact(t.name)
            kind = "r" if (t.tableType or "").upper() == "MANAGED" else "v"
            rels.append((db, t.name, t.tableType or "VIEW", kind, bool(t.isTemporary), visible))
            # the registry's keys are the current database's bare names
            cons = engine.constraints.get(t.name) if visible and db == current else []
            notnull = {c for cc in cons if cc["kind"] in ("notnull", "primary") for c in cc["cols"]}
            for i, f in enumerate(fields or (), start=1):
                meta = f.metadata if isinstance(f.metadata, dict) else {}
                cols.append((
                    db, t.name, f.name, f.dataType.simpleString(), i,
                    duckdb_type_name(f.dataType), spark_type_to_pg_oid(f.dataType),
                    f.name in notnull or not f.nullable, meta.get("CURRENT_DEFAULT"),
                    visible,
                ))
    return {
        "relations": (
            rels,
            "database string, name string, engine string, kind string, "
            "temporary boolean, visible boolean",
        ),
        "columns": (
            cols,
            "database string, table_name string, name string, type string, "
            "ordinal int, data_type string, pg_type int, notnull boolean, "
            "column_default string, visible boolean",
        ),
    }


def _functions(engine, dbs) -> dict:
    return {
        "functions": (
            [
                (ix, f.name, f.description, f.name.lower() in _AGGREGATE_FN_NAMES)
                for ix, f in enumerate(engine.spark.catalog.listFunctions())
            ],
            "ix int, name string, description string, aggregate boolean",
        )
    }


def _macros(engine, dbs) -> dict:
    current = engine.spark.catalog.currentDatabase()
    rows = []
    for name, rec in sorted(engine.macros.names().items()):
        is_table, body = rec.get("kind") == "table", rec.get("body")
        # DuckDB prints a scalar macro's body parenthesized
        definition = body if is_table or body is None else f"({body})"
        rows.append((current, name, is_table, list(rec.get("params", [])), definition))
    return {
        "macros": (
            rows,
            "database string, name string, is_table boolean, "
            "params array<string>, definition string",
        )
    }


def _constraints(engine, dbs) -> dict:
    """duckdb_constraints() rows in DuckDB 1.0's text forms: PRIMARY
    KEY(a, b) / UNIQUE(x, y) / NOT NULL (one row per column, including
    the ones a PK implies) / CHECK((e)) with the bare (e) in
    `expression` / FOREIGN KEY (x) REFERENCES p(id). The ones
    information_schema lists carry the name constraint errors report."""
    current = engine.spark.catalog.currentDatabase()
    registry = engine.constraints._load()
    rows = []
    for tbl, cons in registry.items():
        ix = itertools.count()

        def add(ctype, text, ccols, expr=None, name=None):
            rows.append((current, tbl, next(ix), ctype, text, expr, list(ccols), name))

        pk: list[str] = []
        explicit_nn: set[str] = set()
        for cc in cons:
            kind, ccols = cc["kind"], cc.get("cols", [])
            joined, under = ", ".join(ccols), "_".join(ccols)
            if kind == "primary":
                add("PRIMARY KEY", f"PRIMARY KEY({joined})", ccols, name=f"{tbl}_pkey")
                pk = list(ccols)
            elif kind == "unique":
                add("UNIQUE", f"UNIQUE({joined})", ccols, name=f"{tbl}_{under}_key")
            elif kind == "notnull":
                for c in ccols:
                    add("NOT NULL", "NOT NULL", [c])
                    explicit_nn.add(c.lower())
            elif kind == "check":
                e = cc.get("expr", "")
                name = f"{tbl}_{under}_check" if ccols else f"{tbl}_check"
                add("CHECK", f"CHECK(({e}))", ccols, f"({e})", name)
            elif kind == "foreign":
                ref = cc.get("ref_table", "")
                ref_cols = cc.get("ref_cols") or [
                    c for pc in registry.get(ref.lower(), []) if pc["kind"] == "primary"
                    for c in pc["cols"]
                ]
                add(
                    "FOREIGN KEY",
                    f"FOREIGN KEY ({joined}) REFERENCES {ref}({', '.join(ref_cols)})",
                    ccols,
                    name=f"{tbl}_{under}_fkey",
                )
        # after the explicit ones, one NOT NULL per PK column that has
        # no explicit NOT NULL (DuckDB shows exactly one per column)
        for c in pk:
            if c.lower() not in explicit_nn:
                add("NOT NULL", "NOT NULL", [c])
    return {
        "constraints": (
            rows,
            "database string, table_name string, constraint_index bigint, "
            "constraint_type string, constraint_text string, expression string, "
            "column_names array<string>, constraint_name string",
        )
    }


def _sequences(engine, dbs) -> dict:
    current = engine.spark.catalog.currentDatabase()
    rows = []
    for name, rec in sorted(engine.sequences._load().items()):
        inc, nxt = rec.get("inc", 1), rec.get("next")
        # records written before `start` was kept: the high-water mark
        # is the only honest start (start_value may over-report and
        # last_value under-report for them; new sequences are exact)
        start = rec.get("start", nxt)
        used = "start" in rec and nxt != rec["start"]
        lo, hi = (1, 2**63 - 1) if inc > 0 else (-(2**63), -1)
        rows.append((
            current, name, start, lo, hi, inc,
            # NULL until first use; DuckDB's sql text carries the
            # current high-water mark as START
            nxt - inc if used else None,
            f"CREATE SEQUENCE {name} INCREMENT BY {inc} MINVALUE {lo} "
            f"MAXVALUE {hi} START {nxt} NO CYCLE;",
        ))
    return {
        "sequences": (
            rows,
            "database string, name string, start_value bigint, min_value bigint, "
            "max_value bigint, increment_by bigint, last_value bigint, sql string",
        )
    }


def _indexes(engine, dbs) -> dict:
    current = engine.spark.catalog.currentDatabase()
    rows = []
    for name, rec in sorted(engine.indexes.items()):
        table, unique = rec.get("table", ""), bool(rec.get("unique"))
        sql = (
            f"CREATE {'UNIQUE ' if unique else ''}INDEX {name} "
            f"ON {table}({', '.join(rec.get('cols', []))});"
        )
        rows.append((current, name, table, unique, sql))
    return {
        "indexes": (
            rows,
            "database string, name string, table_name string, "
            "is_unique boolean, sql string",
        )
    }


_BUILDERS = {
    "databases": _databases,
    "relations": _sweep,
    "columns": _sweep,
    "functions": _functions,
    "macros": _macros,
    "constraints": _constraints,
    "sequences": _sequences,
    "indexes": _indexes,
}

# ------------------------------------------------------- derived lookups

_BY_SPELLING = {s: v for v in CATALOG for s in v.spellings}
SPELLINGS = tuple(_BY_SPELLING)
# every temp view the catalog creates — never listed as a relation
CATALOG_NAMES = frozenset(v.temp for v in CATALOG) | {
    f"__catalog_{name}" for name in _BUILDERS
}


def _alternation(words) -> str:
    """A regex alternation of `words` with shared leading tokens
    factored out (`pg_(?:class|type)`), which keeps the scan cheap: the
    catalog check runs on every statement."""
    tails: dict[str, list[str]] = {}
    for w in words:
        head = re.match(r"[^._]*[._]?", w).group(0)
        tails.setdefault(head, []).append(w[len(head):])
    parts = []
    for head, rest in sorted(tails.items()):
        inner = [t for t in rest if t]
        if not inner:
            parts.append(re.escape(head))
            continue
        group = f"(?:{_alternation(inner)})" + ("?" if len(inner) < len(rest) else "")
        parts.append(re.escape(head) + group)
    return "|".join(parts)


CATALOG_REF = re.compile(rf"\b(?:{_alternation(SPELLINGS)})\b", re.IGNORECASE)


def is_engine_artifact(name: str) -> bool:
    """A relation the reference's embedded DuckDB would never show: a
    compat view, a base frame, or a transient shadow/staging relation."""
    return name in CATALOG_NAMES or any(mark in name for mark in _INTERNAL_MARKS)


def prepare(engine, q: str) -> str:
    """Build the catalog views `q` names, and only the base frames they
    read, then point each spelling at its temp view."""
    views = {_BY_SPELLING[m.group(0).lower()] for m in CATALOG_REF.finditer(q)}
    spark = engine.spark
    dbs = functools.cache(lambda: [d.name for d in spark.catalog.listDatabases()])
    bases = frozenset().union(*(v.bases for v in views))
    for build in {_BUILDERS[b] for b in bases}:
        for name, (rows, schema) in build(engine, dbs).items():
            spark.createDataFrame(rows, schema).createOrReplaceTempView(f"__catalog_{name}")
    for v in views - engine._catalog_views:
        if v.frame is not None:
            spark.createDataFrame(*v.frame(engine)).createOrReplaceTempView(v.temp)
        else:
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {v.temp} AS {v.sql}")
        engine._catalog_views.add(v)
    return CATALOG_REF.sub(lambda m: _BY_SPELLING[m.group(0).lower()].temp, q)
