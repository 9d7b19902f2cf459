"""The compat catalog (system.*, information_schema.*, pg_catalog.*,
duckdb_*): every public spelling keeps its column names and Spark types,
and a statement builds only the catalog views it names."""

from __future__ import annotations

import collections

import pytest

from duck_server_spark.engine.executor import Engine

_META = "map<string,string>"
_PG_ATTRIBUTE = [
    ("attrelid", "int"), ("attname", "string"), ("atttypid", "int"),
    ("attnum", "int"), ("attnotnull", "boolean"), ("attisdropped", "boolean"),
]
_PG_CLASS = [
    ("oid", "int"), ("relname", "string"), ("relnamespace", "int"),
    ("relkind", "string"),
]
_PG_NAMESPACE = [("oid", "int"), ("nspname", "string")]
_PG_SETTINGS = [("name", "string"), ("setting", "string"), ("short_desc", "string")]
_PG_TYPE = [("oid", "bigint"), ("typname", "string")]
_CONSTRAINT_COLUMN_USAGE = [
    (c, "string")
    for c in (
        "constraint_catalog", "constraint_schema", "constraint_name",
        "table_catalog", "table_schema", "table_name", "column_name",
    )
]

# `SELECT * FROM <spelling> LIMIT 0` → (column, Spark type), recorded
# before the catalog became SQL projections over shared base frames
GOLDEN_SHAPES = {
    "system.databases": [("name", "string")],
    "system.tables": [("database", "string"), ("name", "string"), ("engine", "string")],
    "system.columns": [
        ("database", "string"), ("table", "string"), ("name", "string"),
        ("type", "string"),
    ],
    "system.functions": [("name", "string")],
    "information_schema.schemata": [
        ("catalog_name", "string"), ("schema_name", "string"),
    ],
    "information_schema.tables": [
        ("table_catalog", "string"), ("table_schema", "string"),
        ("table_name", "string"), ("table_type", "string"),
    ],
    "information_schema.columns": [
        ("table_catalog", "string"), ("table_schema", "string"),
        ("table_name", "string"), ("column_name", "string"),
        ("ordinal_position", "int"), ("column_default", "string"),
        ("is_nullable", "string"), ("data_type", "string"),
    ],
    "information_schema.constraint_column_usage": _CONSTRAINT_COLUMN_USAGE,
    "information_schema.table_constraints": [
        ("constraint_name", "string"), ("table_name", "string"),
        ("constraint_type", "string"),
    ],
    "information_schema.key_column_usage": [
        ("constraint_name", "string"), ("table_name", "string"),
        ("column_name", "string"), ("ordinal_position", "int"),
    ],
    "pg_catalog.pg_type": _PG_TYPE,
    "pg_catalog.pg_class": _PG_CLASS,
    "pg_catalog.pg_namespace": _PG_NAMESPACE,
    "pg_catalog.pg_attribute": _PG_ATTRIBUTE,
    "pg_catalog.pg_settings": _PG_SETTINGS,
    "pg_type": _PG_TYPE,
    "pg_matviews": [("schemaname", "string"), ("matviewname", "string")],
    "pg_class": _PG_CLASS,
    "pg_namespace": _PG_NAMESPACE,
    "pg_attribute": _PG_ATTRIBUTE,
    "pg_settings": _PG_SETTINGS,
    "constraint_column_usage": _CONSTRAINT_COLUMN_USAGE,
    "duckdb_tables": [
        ("database_name", "string"), ("schema_name", "string"),
        ("table_name", "string"), ("temporary", "boolean"),
    ],
    "duckdb_views": [
        ("database_name", "string"), ("schema_name", "string"),
        ("view_name", "string"), ("temporary", "boolean"),
    ],
    "duckdb_columns": [
        ("database_name", "string"), ("schema_name", "string"),
        ("table_name", "string"), ("column_name", "string"),
        ("column_index", "int"), ("data_type", "string"),
        ("is_nullable", "boolean"),
    ],
    "duckdb_constraints": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("schema_name", "string"), ("schema_oid", "bigint"),
        ("table_name", "string"), ("table_oid", "bigint"),
        ("constraint_index", "bigint"), ("constraint_type", "string"),
        ("constraint_text", "string"), ("expression", "string"),
        ("constraint_column_indexes", "array<bigint>"),
        ("constraint_column_names", "array<string>"),
    ],
    "duckdb_schemas": [
        ("oid", "bigint"), ("database_name", "string"),
        ("database_oid", "bigint"), ("schema_name", "string"),
        ("comment", "string"), ("tags", _META), ("internal", "boolean"),
        ("sql", "string"),
    ],
    "duckdb_settings": [
        ("name", "string"), ("value", "string"), ("description", "string"),
        ("input_type", "string"), ("scope", "string"),
    ],
    "duckdb_functions": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("schema_name", "string"), ("function_name", "string"),
        ("function_type", "string"), ("description", "string"),
        ("comment", "string"), ("tags", _META), ("return_type", "string"),
        ("parameters", "array<string>"), ("parameter_types", "array<string>"),
        ("varargs", "string"), ("macro_definition", "string"),
        ("has_side_effects", "boolean"), ("internal", "boolean"),
        ("function_oid", "bigint"), ("example", "string"),
        ("stability", "string"),
    ],
    "duckdb_databases": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("path", "string"), ("comment", "string"), ("tags", _META),
        ("internal", "boolean"), ("type", "string"), ("readonly", "boolean"),
    ],
    "duckdb_sequences": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("schema_name", "string"), ("schema_oid", "bigint"),
        ("sequence_name", "string"), ("sequence_oid", "bigint"),
        ("comment", "string"), ("tags", _META), ("temporary", "boolean"),
        ("start_value", "bigint"), ("min_value", "bigint"),
        ("max_value", "bigint"), ("increment_by", "bigint"),
        ("cycle", "boolean"), ("last_value", "bigint"), ("sql", "string"),
    ],
    "duckdb_indexes": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("schema_name", "string"), ("schema_oid", "bigint"),
        ("index_name", "string"), ("index_oid", "bigint"),
        ("table_name", "string"), ("table_oid", "bigint"),
        ("comment", "string"), ("tags", _META), ("is_unique", "boolean"),
        ("is_primary", "boolean"), ("expressions", "string"), ("sql", "string"),
    ],
    "duckdb_keywords": [("keyword_name", "string"), ("keyword_category", "string")],
    "duckdb_types": [
        ("database_name", "string"), ("database_oid", "bigint"),
        ("schema_name", "string"), ("schema_oid", "bigint"),
        ("type_oid", "bigint"), ("type_name", "string"),
        ("type_size", "bigint"), ("logical_type", "string"),
        ("type_category", "string"), ("comment", "string"), ("tags", _META),
        ("internal", "boolean"), ("labels", "array<string>"),
    ],
    "duckdb_extensions": [
        ("extension_name", "string"), ("loaded", "boolean"),
        ("installed", "boolean"), ("install_path", "string"),
        ("description", "string"), ("aliases", "array<string>"),
        ("extension_version", "string"), ("install_mode", "string"),
        ("installed_from", "string"),
    ],
}


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.mark.parametrize("spelling", sorted(GOLDEN_SHAPES))
def test_catalog_view_shape(engine, spelling):
    df = engine.query(f"SELECT * FROM {spelling} LIMIT 0")
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    assert got == GOLDEN_SHAPES[spelling]


def test_golden_covers_every_catalog_spelling():
    from duck_server_spark.engine.catalog import SPELLINGS

    assert sorted(SPELLINGS) == sorted(GOLDEN_SHAPES)


@pytest.fixture
def catalog_calls(monkeypatch):
    """Counts the Spark catalog listings the statements under test make."""
    from pyspark.sql.catalog import Catalog

    calls = collections.Counter()
    for name in ("listDatabases", "listTables", "listFunctions"):

        def counted(self, *args, _orig=getattr(Catalog, name), _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *args, **kw)

        monkeypatch.setattr(Catalog, name, counted)
    return calls


@pytest.mark.parametrize(
    "stmt", ["SELECT count(*) FROM duckdb_types()", "SELECT * FROM pg_type"]
)
def test_static_views_list_nothing_after_their_first_build(engine, catalog_calls, stmt):
    engine.query(stmt).collect()
    catalog_calls.clear()
    engine.query(stmt).collect()
    assert catalog_calls["listTables"] == 0, catalog_calls
    assert catalog_calls["listFunctions"] == 0, catalog_calls


def test_pg_class_join_sweeps_once_without_functions(engine, spark, catalog_calls):
    databases = len(spark.catalog.listDatabases())
    catalog_calls.clear()
    engine.query(
        "SELECT c.relname, a.attname FROM pg_catalog.pg_class c "
        "JOIN pg_catalog.pg_attribute a ON a.attrelid = c.oid"
    ).collect()
    # one sweep lists each database's relations once
    assert catalog_calls["listTables"] == databases, catalog_calls
    assert catalog_calls["listFunctions"] == 0, catalog_calls


def test_registry_views_skip_the_sweep(engine, catalog_calls):
    engine.query(
        "SELECT s.sequence_name, i.index_name FROM duckdb_sequences s "
        "FULL JOIN duckdb_indexes i ON s.database_name = i.database_name"
    ).collect()
    assert catalog_calls["listTables"] == 0, catalog_calls
    assert catalog_calls["listFunctions"] == 0, catalog_calls
