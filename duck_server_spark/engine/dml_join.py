"""UPDATE … FROM and DELETE … USING — join-driven DML.

Reference parity: duck_server hands DML verbatim to embedded DuckDB
(pg_server.go simple-query passthrough), which supports both forms.
Spark SQL has neither; the engine lowers them onto the standard staged
copy-on-write rewrite.

Pinned DuckDB semantics (tests/test_dml_join.py re-derives from live
duckdb):
- ``UPDATE t SET … FROM s WHERE pred``: every target row with at least
  one match is updated from SOME matching source row (the pick among
  multiple matches is arbitrary in DuckDB; here it is first-per-group),
  and the command tag counts JOIN MATCHES, not distinct target rows
  (probed: 2 targets × 3 sources with no WHERE → "UPDATE 6").
- ``DELETE FROM t USING s WHERE pred``: deletes target rows with any
  match; the tag counts deleted target rows.
- source column references resolve through the source's own alias
  (``FROM (SELECT …) s`` / ``FROM tbl``); bare names resolve like SQL.

Scale shape: the BASE TABLE IS NEVER SHUFFLED. The target is stamped
with a per-row id (monotonically_increasing_id over the stable file
scan), the join runs target × source with Catalyst free to broadcast
the (typically small) source, and only the MATCHED subset — at most
|matches| rows — goes through the pick-one aggregation. The rewrite is
then a left join of the base against that aggregated match set, which
AQE broadcasts when small. Both references to the stamped base live in
one query plan over one file listing, so the row ids are consistent
between the match pass and the rewrite pass. Publish rides
Engine._overwrite_table, which publishes through the write gate
(transactions.publish_gated).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from duck_server_spark.engine.errors import PgError
from duck_server_spark.plans import rewrites
from duck_server_spark.engine.upsert import (
    _mask_literals,
    _split_assigns,
    _top_level_search,
)

_UPD_HEAD = re.compile(r"^\s*update\s+([\w.]+)\s+set\s+", re.IGNORECASE)
# optional [AS] alias between target and USING (duck allows it;
# statement_probe r12: DELETE FROM t a USING s WHERE a.k = s.k)
_DEL_HEAD = re.compile(
    r"^\s*delete\s+from\s+([\w.]+)"
    r"(?:\s+(?:as\s+)?(?!using\b)([A-Za-z_]\w*))?\s+using\s+",
    re.IGNORECASE,
)
_FROM = re.compile(r"\bfrom\b", re.IGNORECASE)
_WHERE = re.compile(r"\bwhere\b", re.IGNORECASE)
# trailing alias of a FROM-list item: "tbl a" / "(subquery) AS a" / "tbl"
_TRAILING_ALIAS = re.compile(r"(?:\s+(?:as\s+)?([A-Za-z_]\w*)|^\s*([\w.]+)\s*)$", re.IGNORECASE)


def parse_update_from(q: str):
    """(table, assigns, from_sql, where) for UPDATE … SET … FROM …, else
    None (plain UPDATEs stay on the existing predicate-rewrite path)."""
    h = _UPD_HEAD.match(q)
    if not h:
        return None
    rest = q[h.end() :].rstrip().rstrip(";")
    masked = _mask_literals(rest)
    fm = _top_level_search(masked, _FROM)
    if fm is None:
        return None
    set_sql = rest[: fm.start()].rstrip()
    tail = rest[fm.end() :]
    masked_tail = masked[fm.end() :]
    wm = _top_level_search(masked_tail, _WHERE)
    if wm is not None:
        from_sql, where = tail[: wm.start()].strip(), tail[wm.end() :].strip()
    else:
        from_sql, where = tail.strip(), None
    if _top_level_search(_mask_literals(from_sql), re.compile(",")) is not None:
        raise PgError(
            "0A000", "multiple FROM relations in UPDATE are not supported; use a join"
        )
    return h.group(1), _split_assigns(set_sql), from_sql, where


def parse_delete_using(q: str):
    h = _DEL_HEAD.match(q)
    if not h:
        return None
    rest = q[h.end() :].rstrip().rstrip(";")
    masked = _mask_literals(rest)
    wm = _top_level_search(masked, _WHERE)
    if wm is not None:
        using_sql, where = rest[: wm.start()].strip(), rest[wm.end() :].strip()
    else:
        using_sql, where = rest.strip(), None
    if _top_level_search(_mask_literals(using_sql), re.compile(",")) is not None:
        raise PgError(
            "0A000", "multiple USING relations in DELETE are not supported; use a join"
        )
    return h.group(1), using_sql, where, h.group(2)


def _source_df(engine, from_sql: str):
    """Resolve the source relation AND its SQL-visible alias, so
    ``s.col`` references in SET/WHERE keep resolving after the text
    moves into DataFrame land. Inside a transaction the FROM item
    arrives already shadow-rewritten (``s__txn_N``) but the user's
    qualified column refs still say ``s.col`` — the alias resolves back
    through the live shadow registry to the BASE name."""
    from duck_server_spark.engine.transactions import resolve_shadow

    spark = engine.spark
    m = _TRAILING_ALIAS.search(_mask_literals(from_sql))
    alias = None
    if m:
        if m.group(1):
            alias = m.group(1)
        elif m.group(2):
            bare = m.group(2)
            alias = (resolve_shadow(bare) or bare).split(".")[-1]
    df = spark.sql(f"SELECT * FROM {engine._prepare_sql(from_sql, 'pg')}")
    return df.alias(alias) if alias else df


def _stamped_base(
    engine, table: str, fresh: DataFrame, alias: str | None = None
) -> DataFrame:
    """Row-id-stamped target, aliased under the table's simple BASE name
    (a transaction shadow resolves back, so the user's qualified
    ``t.col`` references keep working against the shadow df).
    monotonically_increasing_id is a pure function of (partition index,
    row position) over the scan, and both uses below sit in one query
    plan over one file listing."""
    from duck_server_spark.engine.transactions import resolve_shadow

    simple = alias or (resolve_shadow(table) or table).split(".")[-1].strip('`"')
    return fresh.withColumn("__dmlj_rid", F.monotonically_increasing_id()).alias(simple)


def run_update_from(engine, table: str, assigns, from_sql: str, where: str | None) -> int:
    from duck_server_spark.engine import constraints as cst

    spark = engine.spark
    schema = spark.table(table).schema
    ftype = {f.name: f.dataType.simpleString() for f in schema.fields}
    # duck binds SET columns case-insensitively (round-13 battery)
    by_lower = {f.name.lower(): f.name for f in schema.fields}
    fixed = []
    for col, e in assigns:
        stored = by_lower.get(col.lower())
        if stored is None:
            raise PgError("42703", f'column "{col}" does not exist')
        fixed.append((stored, e))
    assigns = fixed
    src = _source_df(engine, from_sql)

    def transform(fresh: DataFrame) -> DataFrame:
        b = _stamped_base(engine, table, fresh)
        cond = F.expr(rewrites.duck_expr_to_spark(where)) if where else F.lit(True)
        # pick-one + match-count per target row, over the MATCHED subset
        # only (never the full base)
        matched = b.join(src, cond, "inner").select(
            F.col("__dmlj_rid"),
            *[
                F.expr(rewrites.duck_expr_to_spark(e)).cast(ftype[c]).alias(f"__dmlj_new_{c}")
                for c, e in assigns
            ],
        )
        picks = matched.groupBy("__dmlj_rid").agg(
            *[F.first(f"__dmlj_new_{c}").alias(f"__dmlj_new_{c}") for c, _ in assigns],
            F.count(F.lit(1)).alias("__dmlj_matches"),
        )
        j = b.join(picks, on="__dmlj_rid", how="left")
        hit = F.col("__dmlj_matches").isNotNull()
        out = [
            F.when(hit, F.col(f"__dmlj_new_{f.name}")).otherwise(F.col(f.name)).alias(f.name)
            if f.name in dict(assigns)
            else F.col(f.name)
            for f in schema.fields
        ]
        return j.select(*out, F.coalesce("__dmlj_matches", F.lit(0)).alias("__dmlj_matches"))

    metric = F.sum(F.col("__dmlj_matches")).cast("long").alias("n")
    validate = cst.rekey_validator(spark, table, {c for c, _ in assigns}, engine.constraints)
    return engine._overwrite_table(
        table,
        transform,
        metric,
        validate=validate,
        observe_output=True,
        publish_cols=[f.name for f in schema.fields],
    )


def run_delete_using(
    engine, table: str, using_sql: str, where: str | None,
    alias: str | None = None,
) -> int:
    from duck_server_spark.engine import constraints as cst
    from duck_server_spark.engine.transactions import resolve_shadow

    spark = engine.spark
    schema = spark.table(table).schema
    src = _source_df(engine, using_sql)
    cond_sql = where

    # FK restrict: children must not reference keys this delete removes
    refs = engine.constraints.referencing(resolve_shadow(table) or table)
    if refs:
        b = _stamped_base(engine, table, spark.table(table), alias)
        hit_rids = b.join(
            src, F.expr(rewrites.duck_expr_to_spark(cond_sql)) if cond_sql else F.lit(True), "left_semi"
        ).select("__dmlj_rid")
        deleted = b.join(hit_rids, on="__dmlj_rid", how="left_semi").drop("__dmlj_rid")
        remaining = b.join(hit_rids, on="__dmlj_rid", how="left_anti").drop("__dmlj_rid")
        cst.validate_delete_restrict_dfs(
            spark, table, deleted, remaining, refs, engine.constraints
        )

    def transform(fresh: DataFrame) -> DataFrame:
        b = _stamped_base(engine, table, fresh, alias)
        cond = F.expr(rewrites.duck_expr_to_spark(cond_sql)) if cond_sql else F.lit(True)
        hit_rids = b.join(src, cond, "left_semi").select("__dmlj_rid").distinct()
        j = b.join(hit_rids.withColumn("__dmlj_hit", F.lit(1)), on="__dmlj_rid", how="left")
        return j.select(
            *[F.col(f.name) for f in schema.fields],
            F.coalesce("__dmlj_hit", F.lit(0)).alias("__dmlj_hit"),
        )

    metric = F.sum(F.col("__dmlj_hit")).cast("long").alias("n")
    return engine._overwrite_table(
        table,
        transform,
        metric,
        observe_output=True,
        publish_cols=[f.name for f in schema.fields],
        publish_where="__dmlj_hit = 0",
    )
