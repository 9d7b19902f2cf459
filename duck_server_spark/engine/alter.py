"""ALTER TABLE column surgery + CREATE/DROP INDEX.

Reference parity: duck_server hands DDL verbatim to embedded DuckDB
(pg_server.go simple-query passthrough), which supports DROP COLUMN,
RENAME COLUMN, ALTER COLUMN … SET DATA TYPE [USING expr], ADD COLUMN
… DEFAULT, and CREATE [UNIQUE] INDEX / DROP INDEX. Spark's parquet
tables natively support only ADD COLUMN (NULL-filled) and RENAME TO,
so the engine lowers the rest:

- DROP COLUMN / RENAME COLUMN / ALTER TYPE are schema-changing
  copy-on-write rewrites (INSERT OVERWRITE cannot change a schema, so
  these stage the rewritten data into a ``__alter_staging`` table and
  swap it in under the commit mutex: DROP old + RENAME staging).
- ADD COLUMN … DEFAULT <expr> back-fills EXISTING rows with the
  default — pinned against DuckDB, which does this (PostgreSQL also
  rewrites); a plain ADD COLUMN stays on Spark's native NULL-fill.
- CREATE UNIQUE INDEX registers a UNIQUE constraint (validating the
  existing data first — DuckDB: "Data contains duplicates on indexed
  column(s)"), so ingest-time enforcement picks it up exactly like a
  declared constraint. A non-unique CREATE INDEX is accepted and
  recorded but is otherwise a no-op: Spark has no secondary indexes;
  scan pruning comes from parquet min/max + partitioning instead. The
  registry makes DROP INDEX and duplicate-name errors behave.

Pinned DuckDB semantics (tests/test_alter.py re-derives each from live
duckdb):
- dropping a key column: "Cannot drop column … because there is a
  UNIQUE constraint that depends on it" → 2BP01 here.
- RENAME COLUMN follows keys: the constraint registry is rewritten.
- ALTER TYPE converts STRICTLY — a value that does not cast raises
  (22P02 here), never silently NULLs; optional ``USING <expr>``
  computes the new value from the old row.

Crash safety without a table format: the staged swap is
DROP-then-RENAME (both metadata ops on the in-memory catalog; RENAME
moves the managed location — verified on this Spark). A crash between
them leaves the complete new data under ``<t>__alter_staging_*`` and no
base dir; the bootstrap janitor (executor._sweep_orphan_dirs) finishes
the swap by moving the staging dir over the missing base dir, and
removes stale staging dirs when the base survived. The reference's
engine does this with MVCC; this is the honest parquet equivalent.

Transactions: ALTER TABLE / CREATE INDEX / DROP INDEX inside an open
transaction block raise 0A000 — the staged-overlay publish path is
same-schema (INSERT OVERWRITE) by design. DuckDB supports transactional
ALTER; documented gap, loud not silent.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import functions as F

from duck_server_spark.engine.errors import PgError

_ALTER_VERB = re.compile(r"^\s*alter\s+table\s+", re.IGNORECASE)
_DROP_COL = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"drop\s+(?:column\s+)?(?P<ifex>if\s+exists\s+)?[`\"]?(?P<col>\w+)[`\"]?\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_COL = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"rename\s+(?:column\s+)?[`\"]?(?P<old>\w+)[`\"]?\s+to\s+[`\"]?(?P<new>\w+)[`\"]?\s*;?\s*$",
    re.IGNORECASE,
)
_SET_NOT_NULL = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"alter\s+(?:column\s+)?[`\"]?(?P<col>\w+)[`\"]?\s+"
    r"(?P<verb>set|drop)\s+not\s+null\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"alter\s+(?:column\s+)?[`\"]?(?P<col>\w+)[`\"]?\s+(?:set\s+data\s+)?type\s+"
    r"(?P<dt>[\w()\[\], ]+?)(?:\s+using\s+(?P<using>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_DEFAULT = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"add\s+(?:column\s+)?(?:if\s+not\s+exists\s+)?[`\"]?(?P<col>\w+)[`\"]?\s+"
    r"(?P<dt>[\w()\[\], ]+?)\s+default\s+(?P<dflt>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RENAME_TABLE = re.compile(
    r"^\s*alter\s+table\s+(?:if\s+exists\s+)?(?P<tbl>[\w.]+)\s+"
    r"rename\s+to\s+(?P<new>[\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_INDEX = re.compile(
    r"^\s*create\s+(?P<uniq>unique\s+)?index\s+(?P<ifnex>if\s+not\s+exists\s+)?"
    r"[`\"]?(?P<name>\w+)[`\"]?\s+on\s+(?P<tbl>[\w.]+)\s*\((?P<cols>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_INDEX = re.compile(
    r"^\s*drop\s+index\s+(?P<ifex>if\s+exists\s+)?[`\"]?(?P<name>\w+)[`\"]?\s*;?\s*$",
    re.IGNORECASE,
)

ALTER_STAGING_MARK = "__alter_staging_"


def intercept(engine, q: str) -> str | None:
    """Handle ALTER TABLE column surgery and index DDL; None when the
    statement is not ours (native Spark handles plain ADD COLUMN)."""
    m = _RENAME_TABLE.match(q)
    if m:
        return _rename_table(engine, m.group("tbl"), m.group("new"))
    m = _DROP_COL.match(q)
    # "DROP COLUMN"-shaped text also matches RENAME badly — try specific
    # forms in an order where the regexes are mutually exclusive anyway.
    if m and not re.search(r"\brename\b|\badd\b|\balter\s+column\b", q, re.IGNORECASE):
        return _drop_column(engine, m.group("tbl"), m.group("col"), bool(m.group("ifex")))
    m = _RENAME_COL.match(q)
    if m:
        return _rename_column(engine, m.group("tbl"), m.group("old"), m.group("new"))
    m = _SET_NOT_NULL.match(q)
    if m:
        return _set_not_null(
            engine, m.group("tbl"), m.group("col"), m.group("verb").lower() == "set"
        )
    m = _ALTER_TYPE.match(q)
    if m:
        return _alter_type(
            engine, m.group("tbl"), m.group("col"), m.group("dt"), m.group("using")
        )
    m = _ADD_DEFAULT.match(q)
    if m:
        return _add_column_default(
            engine, m.group("tbl"), m.group("col"), m.group("dt"), m.group("dflt")
        )
    m = _CREATE_INDEX.match(q)
    if m:
        return _create_index(
            engine,
            m.group("name"),
            m.group("tbl"),
            [c.strip().strip('`"') for c in m.group("cols").split(",") if c.strip()],
            unique=bool(m.group("uniq")),
            if_not_exists=bool(m.group("ifnex")),
        )
    m = _DROP_INDEX.match(q)
    if m:
        return _drop_index(engine, m.group("name"), bool(m.group("ifex")))
    return None


def _require_column(engine, table: str, col: str) -> str:
    """Case-insensitive bind like duck's: returns the STORED spelling
    (round-13 statement mutation sweep: ALTER … DROP COLUMN with a
    case-flipped name errored where duck binds it)."""
    by_lower = {
        f.name.lower(): f.name
        for f in engine.spark.table(table).schema.fields
    }
    stored = by_lower.get(col.lower())
    if stored is None:
        raise PgError(
            "42703", f'column "{col}" of relation "{table}" does not exist'
        )
    return stored


def _swap_in(engine, table: str, transform) -> None:
    """Schema-changing rewrite through the write gate
    (transactions.publish_gated): stage the transformed fresh base, then
    — if no concurrent publish landed since the base was fingerprinted —
    swap it in under the commit mutex (DROP base + RENAME staging;
    Spark's catalog moves the managed location on rename). The heavy
    work (the full rewrite) runs OUTSIDE the mutex; the swap is two
    metadata ops, held under the EXCLUSIVE visibility gate (round-8
    review) so a concurrent SELECT cannot analyze between them — the
    same mechanism the commit sweep uses. Crash-recoverable via
    recover_staging_dirs."""
    from duck_server_spark.engine.transactions import (
        VISIBILITY_GATE,
        publish_gated,
        staging_name,
        table_dir,
    )

    spark = engine.spark
    staging = staging_name(table, ALTER_STAGING_MARK)

    def stage(fresh):
        # column DEFAULT metadata does not ride saveAsTable — capture it
        # so surviving columns keep their defaults for future inserts
        # (round 12, found by tools/statement_probe.py)
        defaults = {
            f.name: f.metadata["CURRENT_DEFAULT"]
            for f in fresh.schema.fields
            if "CURRENT_DEFAULT" in f.metadata
        }
        transform(fresh).write.saveAsTable(staging)
        return defaults

    def publish(defaults):
        with VISIBILITY_GATE.writing():
            spark.sql(f"DROP TABLE {table}")
            spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        for c in spark.table(table).schema.fieldNames():
            if c in defaults:
                spark.sql(f"ALTER TABLE {table} ALTER COLUMN `{c}` SET DEFAULT {defaults[c]}")

    def discard(_defaults):
        # with the base dropped and the rename not done, the staging
        # holds the only copy: leave it to recover_staging_dirs
        if spark.catalog.tableExists(table):
            spark.sql(f"DROP TABLE IF EXISTS {staging}")
            shutil.rmtree(table_dir(spark, staging), ignore_errors=True)

    # a crashed earlier process with this pid can have left an
    # orphaned staging directory that saveAsTable refuses
    shutil.rmtree(table_dir(spark, staging), ignore_errors=True)
    publish_gated(spark, table, stage, publish, discard)


def _rename_table(engine, table: str, new: str) -> str:
    """Native Spark rename (the catalog moves the managed location —
    verified), plus registry migration: the renamed table keeps its
    keys, FKs declared AGAINST it keep resolving, and its index records
    follow."""
    engine.spark.sql(f"ALTER TABLE {table} RENAME TO {new}")
    cons = engine.constraints.get(table)
    if cons:
        engine.constraints.put(new, cons)
        engine.constraints.drop(table)
    # child FKs referencing the old name follow the rename
    for child, fk in engine.constraints.referencing(table):
        ccons = engine.constraints.get(child)
        for c in ccons:
            if c.get("kind") == "foreign" and c.get("ref_table") == table.lower():
                c["ref_table"] = new.lower()
        engine.constraints.put(child, ccons)
    for iname, rec in list(engine.indexes.items()):
        if rec.get("table") == table.lower():
            rec = dict(rec)
            rec["table"] = new.lower()
            engine.put_index(iname, rec)
    return "ALTER TABLE"


def _drop_column(engine, table: str, col: str, if_exists: bool) -> str:
    spark = engine.spark
    if if_exists and col.lower() not in [
        f.name.lower() for f in spark.table(table).schema.fields
    ]:
        return "ALTER TABLE"
    col = _require_column(engine, table, col)
    cons = engine.constraints.get(table)
    survivors = []
    changed = False
    for c in cons:
        if c["kind"] in ("primary", "unique", "foreign") and col in c["cols"]:
            raise PgError(
                "2BP01",
                f'Cannot drop column "{col}" because there is a '
                "UNIQUE or FOREIGN KEY constraint that depends on it",
            )
        if c["kind"] == "check" and col in c.get("cols", []):
            # pinned DuckDB: an INLINE check drops with its column; a
            # TABLE-LEVEL check referencing the column blocks the drop
            if c.get("on") == col:
                changed = True
                continue
            raise PgError(
                "2BP01",
                f'Cannot drop column "{col}" because there is a '
                "CHECK constraint that depends on it",
            )
        if c["kind"] in ("notnull", "seq_default") and col in c["cols"]:
            changed = True
            continue  # column-local attributes: gone with the column
        survivors.append(c)
    keep = [f.name for f in spark.table(table).schema.fields if f.name != col]
    if not keep:
        raise PgError("0A000", "cannot drop the only column of a table")
    _swap_in(engine, table, lambda df: df.select(*keep))
    if changed:
        engine.constraints.put(table, survivors)
    return "ALTER TABLE"


def _set_not_null(engine, table: str, col: str, set_: bool) -> str:
    """ALTER COLUMN … SET NOT NULL validates the EXISTING data first
    (pinned DuckDB: a stored NULL blocks the alter); DROP NOT NULL just
    deregisters. Registry-only — no data rewrite either way."""
    col = _require_column(engine, table, col)
    cons = engine.constraints.get(table)

    def is_nn(c):
        return c["kind"] == "notnull" and c["cols"] == [col]

    if set_:
        if not any(is_nn(c) for c in cons):
            nulls = (
                engine.spark.table(table).filter(F.col(col).isNull()).limit(1)
            )
            if nulls.count() > 0:
                raise PgError(
                    "23502",
                    f'null value in column "{col}" of relation "{table}" '
                    "violates not-null constraint",
                )
            engine.constraints.put(
                table, cons + [{"kind": "notnull", "cols": [col]}]
            )
    elif any(is_nn(c) for c in cons):
        engine.constraints.put(table, [c for c in cons if not is_nn(c)])
    return "ALTER TABLE"


def _rename_column(engine, table: str, old: str, new: str) -> str:
    spark = engine.spark
    old = _require_column(engine, table, old)
    names = [f.name for f in spark.table(table).schema.fields]
    if new.lower() in [n.lower() for n in names]:
        raise PgError("42701", f'column "{new}" of relation "{table}" already exists')
    _swap_in(
        engine,
        table,
        lambda df: df.select(
            *[F.col(n).alias(new) if n == old else F.col(n) for n in names]
        ),
    )
    # keys follow the rename (DuckDB: renaming a PK column keeps the PK;
    # a CHECK expression follows too — pinned in tests/test_row_constraints)
    cons = engine.constraints.get(table)
    if cons:
        out = []
        for c in cons:
            c = dict(c)
            c["cols"] = [new if x == old else x for x in c["cols"]]
            if c.get("on") == old:
                c["on"] = new
            if c.get("kind") == "check":
                # quote-aware: never rewrites string literals (a column
                # named `active` must not corrupt a <> 'active' check)
                from duck_server_spark.engine.constraints import subst_ident

                c["expr"] = subst_ident(c["expr"], old, new)
            out.append(c)
        engine.constraints.put(table, out)
    return "ALTER TABLE"


def _alter_type(engine, table: str, col: str, dt: str, using: str | None) -> str:
    from duck_server_spark.plans.rewrites import normalize_type_spec

    spark = engine.spark
    col = _require_column(engine, table, col)
    dt = normalize_type_spec(dt.strip())
    # USING is a raw duck-dialect fragment (ALTER intercepts before
    # _prepare_sql): literal semantics + shims, exactly once (the
    # round-10 duck_expr_to_spark invariant — review catch)
    from duck_server_spark.plans import rewrites as _rw

    expr = (
        _rw.duck_expr_to_spark(using.strip())
        if using
        else f"CAST(`{col}` AS {dt})"
    )
    names = [f.name for f in spark.table(table).schema.fields]

    def transform(df):
        out = df.selectExpr(
            *[f"CAST(({expr}) AS {dt}) AS `{col}`" if n == col else f"`{n}`" for n in names]
        )
        # strict conversion like DuckDB: a non-NULL value that casts to
        # NULL is an error, never silent data loss (covers non-ANSI
        # sessions where CAST null-fills instead of raising)
        bad = (
            df.selectExpr(f"`{col}` AS __old", f"CAST(({expr}) AS {dt}) AS __new")
            .where(F.col("__old").isNotNull() & F.col("__new").isNull())
            .limit(1)
        )
        if bad.count() > 0:
            v = bad.collect()[0][0]
            raise PgError("22P02", f"Could not convert {v!r} to {dt}")
        return out

    _swap_in(engine, table, transform)
    return "ALTER TABLE"


def _add_column_default(engine, table: str, col: str, dt: str, default: str) -> str:
    from duck_server_spark.plans.rewrites import normalize_type_spec

    spark = engine.spark
    names = [f.name for f in spark.table(table).schema.fields]
    if col in names:
        raise PgError("42701", f'column "{col}" of relation "{table}" already exists')
    dt = normalize_type_spec(dt.strip())
    # DuckDB back-fills existing rows with the default (probed); the
    # NULL-fill of Spark's native ADD COLUMN would diverge. DEFAULT is
    # a raw duck-dialect fragment — convert exactly once (round 10)
    from duck_server_spark.plans import rewrites as _rw

    default = _rw.duck_expr_to_spark(default)
    _swap_in(
        engine,
        table,
        lambda df: df.withColumn(col, F.expr(f"CAST(({default}) AS {dt})")),
    )
    # register the default for FUTURE inserts too — duck's ADD COLUMN …
    # DEFAULT both back-fills AND keeps the default live (round 12,
    # found by tools/statement_probe.py: a later subset-column INSERT
    # filled NULL here where duck fills the default)
    spark.sql(f"ALTER TABLE {table} ALTER COLUMN `{col}` SET DEFAULT {default}")
    return "ALTER TABLE"


def _create_index(
    engine, name: str, table: str, cols: list[str], unique: bool, if_not_exists: bool
) -> str:
    spark = engine.spark
    if not spark.catalog.tableExists(table):
        raise PgError("42P01", f'relation "{table}" does not exist')
    cols = [_require_column(engine, table, c) for c in cols]
    idx = engine.indexes
    if name.lower() in idx:
        if if_not_exists:
            return "CREATE INDEX"
        raise PgError("42P07", f'index "{name}" already exists')
    if unique:
        # existing data must already be unique (DuckDB: "Data contains
        # duplicates on indexed column(s)"); then register the key so
        # ingest-time enforcement treats it like a declared UNIQUE
        nn = spark.table(table)
        for c in cols:
            nn = nn.filter(F.col(c).isNotNull())
        dup = nn.groupBy(*cols).count().filter(F.col("count") > 1).limit(1)
        if dup.count() > 0:
            raise PgError("23505", "Data contains duplicates on indexed column(s)")
        cons = engine.constraints.get(table)
        cons = cons + [{"kind": "unique", "cols": cols, "index": name.lower()}]
        engine.constraints.put(table, cons)
    engine.put_index(name.lower(), {"table": table.lower(), "cols": cols, "unique": unique})
    return "CREATE INDEX"


def _drop_index(engine, name: str, if_exists: bool) -> str:
    idx = engine.indexes
    rec = idx.get(name.lower())
    if rec is None:
        if if_exists:
            return "DROP INDEX"
        raise PgError("42704", f'index "{name}" does not exist')
    if rec.get("unique"):
        cons = [
            c
            for c in engine.constraints.get(rec["table"])
            if c.get("index") != name.lower()
        ]
        engine.constraints.put(rec["table"], cons)
    engine.drop_index(name.lower())
    return "DROP INDEX"


def recover_staging_dirs(spark, warehouse: str) -> None:
    """Bootstrap recovery for crashed ALTER swaps: a staging dir whose
    base dir is MISSING holds the complete post-ALTER data — move it
    into place; a staging dir whose base survived is a pre-swap leftover
    — remove it. Called from the engine janitor before the generic
    orphan sweep (which must never touch these)."""
    import glob

    for pat in (f"*{ALTER_STAGING_MARK}*", os.path.join("*.db", f"*{ALTER_STAGING_MARK}*")):
        # Newest-first (ADVICE r7): with two leftovers for the same
        # missing base, the LATEST staged rewrite wins (it supersedes the
        # earlier one); the first roll-forward recreates the base, so the
        # older leftover falls into the "base exists → remove" branch
        # instead of raising on a destination-exists rename.
        def _mtime(p: str) -> float:
            try:
                return os.path.getmtime(p)
            except OSError:
                return 0.0  # vanished/unreadable: sort last, never crash

        paths = sorted(
            glob.glob(os.path.join(warehouse, pat)), key=_mtime, reverse=True
        )
        for path in paths:
            stem = os.path.basename(path).split(ALTER_STAGING_MARK)[0]
            base = os.path.join(os.path.dirname(path), stem)
            try:
                if os.path.exists(base):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.rename(path, base)
            except OSError:
                # one corrupt/contended leftover must never block engine
                # bootstrap (ADVICE r7) — leave it for the next sweep
                continue
