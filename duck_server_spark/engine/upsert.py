"""INSERT … ON CONFLICT / INSERT OR REPLACE | OR IGNORE — upsert DML.

Reference parity: duck_server forwards INSERT statements verbatim to
embedded DuckDB (pg_server.go simple-query passthrough), and DuckDB
implements the upsert clause natively over its PK/UNIQUE ART indexes —
so every client of the reference can run upserts today. Spark SQL has
no upsert verb for parquet tables; the engine lowers the statement to a
MERGE-shaped copy-on-write plan instead.

Semantics (pinned empirically against the duckdb package — the same
engine the reference embeds; each rule has a test in
tests/test_upsert.py that re-derives the expectation from duckdb live):

- requires a declared PRIMARY KEY / UNIQUE constraint; otherwise
  "There are no UNIQUE/PRIMARY KEY Indexes that refer to this table"
  (Binder error → SQLSTATE 42P10 here).
- ``ON CONFLICT (cols)`` must name an existing key constraint exactly
  (order-insensitive), else 42P10.
- ``DO NOTHING`` without a target skips conflicts on ANY key
  constraint; ``DO UPDATE`` without a target requires the table to have
  exactly ONE key constraint ("Conflict target has to be provided …").
- ``OR IGNORE`` = ``ON CONFLICT DO NOTHING``; ``OR REPLACE`` =
  ``ON CONFLICT DO UPDATE SET <each inserted non-key column> =
  excluded.<col>`` (a partial column list updates only the listed
  columns — probed: INSERT OR REPLACE INTO t (id, v) keeps other
  columns of a conflicting row unchanged).
- combining an OR flag with an explicit ON CONFLICT clause is a parse
  error (42601), as in DuckDB.
- ``excluded.<col>`` in SET / WHERE is the incoming row; bare and
  table-qualified columns are the existing target row (probed:
  ``SET v = v + 1`` increments the OLD v).
- assigning ANY key-constrained column (conflict target or not) is a
  binder error ("Can not assign to column …" → 42P10).
- NULL key parts never conflict (NULL != NULL), so null-keyed source
  rows always insert — matching both DuckDB and the UNIQUE-ignores-
  NULLs rule in constraints.py.
- duplicate conflict-key values WITHIN one command are an error (DuckDB
  raises whether the dups are fresh or both collide with one existing
  row: "can not update the same row twice in the same command") →
  23505 here, before anything is written.
- the command tag counts inserted rows plus rows actually updated (a
  ``DO UPDATE … WHERE`` that filters a matched row out does not count
  it; DO NOTHING counts inserted rows only).

Scale: the MERGE rewrite never shuffles the base table. The source
batch (typically small) is broadcast into a left join against the base
for the update pass, and the insert pass anti-joins the source against
the matched-keys set (itself the output of a column-pruned base key
scan semi-joined with the broadcast source, so it is at most
|source| rows and broadcastable). Total cost: one full base scan for
the rewrite + one key-column base scan for matched keys — the same
shape Delta/Iceberg MERGE executes when the source fits in a broadcast,
with AQE free to fall back to shuffle joins when it does not. The
publish rides the engine's standard staged-overwrite path, which
publishes through the write gate (transactions.publish_gated).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from duck_server_spark.engine.errors import PgError
from duck_server_spark.engine.session import release_staged, stage_frame
from duck_server_spark.plans import rewrites
from duck_server_spark.plans.rewrites import _mask_literals, _sub_outside_literals

_HEAD = re.compile(
    r"^\s*insert\s+(?:or\s+(?P<flag>replace|ignore)\s+)?into\s+"
    r"(?P<tbl>[`\"\w.]+)\s*",
    re.IGNORECASE,
)
_COLS = re.compile(r"^\(([^()]*)\)\s*", re.DOTALL)
_ON_CONFLICT = re.compile(r"\bon\s+conflict\b", re.IGNORECASE)
_CONFLICT_TAIL = re.compile(
    r"^on\s+conflict\s*(?:\((?P<target>[^)]*)\)\s*)?"
    r"do\s+(?:(?P<nothing>nothing)|update\s+set\s+(?P<set>.+))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE = re.compile(r"\bwhere\b", re.IGNORECASE)
_IDENT = re.compile(r"[`\"]?(\w+)[`\"]?\s*$")


@dataclass
class UpsertStmt:
    table: str
    cols: list[str] | None  # explicit insert column list
    source_sql: str  # VALUES … / SELECT … / WITH …
    action: str  # "nothing" | "update"
    target_cols: list[str] | None  # explicit ON CONFLICT (cols)
    assigns: list[tuple[str, str]] | None  # None = OR REPLACE (all cols)
    where: str | None


def _depth_at(masked: str, pos: int) -> int:
    return masked.count("(", 0, pos) - masked.count(")", 0, pos)


def _top_level_search(masked: str, rx: re.Pattern, start: int = 0):
    """First match of `rx` in `masked` at paren depth 0, or None."""
    for m in rx.finditer(masked, start):
        if _depth_at(masked, m.start()) == 0:
            return m
    return None


def _split_idents(csv: str) -> list[str]:
    return [c.strip().strip('`"') for c in csv.split(",") if c.strip()]


def _split_assigns(set_sql: str) -> list[tuple[str, str]]:
    """``a = e1, b = e2`` → [(a, e1), (b, e2)], split at paren depth 0
    on the literal-masked twin so commas inside calls/strings survive."""
    masked = _mask_literals(set_sql)
    parts: list[str] = []
    depth = 0
    last = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(set_sql[last:i])
            last = i + 1
    parts.append(set_sql[last:])
    out = []
    for p in parts:
        if "=" not in p:
            raise PgError("42601", f"malformed SET assignment: {p.strip()!r}")
        col, expr = p.split("=", 1)
        m = _IDENT.match(col.strip())
        if not m:
            raise PgError("42601", f"malformed SET assignment target: {col.strip()!r}")
        out.append((m.group(1), expr.strip()))
    return out


def parse_upsert(q: str) -> UpsertStmt | None:
    """Recognize an upsert-form INSERT; None for every other statement
    (the caller falls through to the plain INSERT paths)."""
    h = _HEAD.match(q)
    if not h:
        return None
    rest = q[h.end() :]
    masked_rest = _mask_literals(rest)
    cols: list[str] | None = None
    cm = _COLS.match(rest)
    if cm and not re.match(
        r"\s*(select|with|values)\b", cm.group(1), re.IGNORECASE
    ):
        cols = _split_idents(cm.group(1))
        rest = rest[cm.end() :]
        masked_rest = masked_rest[cm.end() :]
    oc = _top_level_search(masked_rest, _ON_CONFLICT)
    flag = (h.group("flag") or "").lower()
    if oc is None and not flag:
        return None  # plain INSERT — not ours
    if oc is not None and flag:
        raise PgError(
            "42601",
            "cannot combine OR REPLACE/IGNORE with an ON CONFLICT clause",
        )
    table = h.group("tbl").strip('`"')
    if oc is None:
        # INSERT OR REPLACE / OR IGNORE, no explicit clause
        return UpsertStmt(
            table=table,
            cols=cols,
            source_sql=rest.strip().rstrip(";").strip(),
            action="nothing" if flag == "ignore" else "update",
            target_cols=None,
            assigns=None if flag == "replace" else [],
            where=None,
        )
    source_sql = rest[: oc.start()].strip()
    tail = rest[oc.start() :]
    tm = _CONFLICT_TAIL.match(tail)
    if not tm:
        raise PgError("42601", f"malformed ON CONFLICT clause: {tail.strip()[:80]!r}")
    target_cols = _split_idents(tm.group("target")) if tm.group("target") else None
    if tm.group("nothing"):
        return UpsertStmt(table, cols, source_sql, "nothing", target_cols, [], None)
    set_sql = tm.group("set").rstrip().rstrip(";")
    wm = _top_level_search(_mask_literals(set_sql), _WHERE)
    where = None
    if wm is not None:
        where = set_sql[wm.end() :].strip()
        set_sql = set_sql[: wm.start()].rstrip()
    return UpsertStmt(
        table, cols, source_sql, "update", target_cols, _split_assigns(set_sql), where
    )


def _rewrite_refs(expr: str, table: str, base: str) -> str:
    """``excluded.c`` → ``__excl_c``; ``<table>.c`` / ``<base>.c`` → ``c``
    (bare names already resolve to the target row because the source side
    is renamed before the join). Literal-safe."""
    quals = {t.split(".")[-1].lower() for t in (table, base) if t}

    def fix(seg: str) -> str:
        seg = re.sub(
            r"\bexcluded\s*\.\s*[`\"]?(\w+)[`\"]?",
            lambda m: f"`__excl_{m.group(1)}`",
            seg,
            flags=re.IGNORECASE,
        )
        return re.sub(
            r"\b(\w+)\s*\.\s*[`\"]?(\w+)[`\"]?",
            lambda m: f"`{m.group(2)}`" if m.group(1).lower() in quals else m.group(0),
            seg,
        )

    return _sub_outside_literals(expr, fix)


def run_upsert(engine, up: UpsertStmt) -> int:
    """Execute a parsed upsert; returns the command-tag row count."""
    spark = engine.spark
    from duck_server_spark.engine.transactions import resolve_shadow

    base = resolve_shadow(up.table) or up.table
    all_cst = engine.constraints.get(up.table)
    key_cst = [c for c in all_cst if c["kind"] in ("primary", "unique")]
    if not key_cst:
        raise PgError(
            "42P10",
            "There are no UNIQUE/PRIMARY KEY Indexes that refer to this "
            "table, ON CONFLICT is a no-op",
        )
    if up.target_cols is not None:
        want = {c.lower() for c in up.target_cols}
        hits = [c for c in key_cst if {k.lower() for k in c["cols"]} == want]
        if not hits:
            raise PgError(
                "42P10",
                "The specified columns as conflict target are not referenced "
                "by a UNIQUE/PRIMARY KEY CONSTRAINT",
            )
        targets = hits[:1]
    elif up.action == "nothing":
        targets = key_cst
    else:
        if len(key_cst) > 1:
            raise PgError(
                "42P10",
                "Conflict target has to be provided for a DO UPDATE operation "
                "when the table has multiple UNIQUE/PRIMARY KEY constraints",
            )
        targets = key_cst

    schema = spark.table(up.table).schema
    src = engine._strip_asof_helpers(
        spark.sql(engine._prepare_sql(up.source_sql, "pg"))
    )
    src = engine._align_to_schema(src, schema, up.cols)
    staged_src = stage_frame(src)
    try:
        # duplicate conflict keys within one command: error BEFORE any
        # write, whether the dups are fresh or collide with one existing
        # row (DuckDB raises in both shapes). Non-null keys only — NULLs
        # never conflict.
        for c in targets:
            nn = staged_src
            for k in c["cols"]:
                nn = nn.filter(F.col(k).isNotNull())
            dup = nn.groupBy(*c["cols"]).count().filter(F.col("count") > 1).limit(1)
            if dup.count() > 0:
                raise PgError(
                    "23505",
                    "ON CONFLICT can not update or insert the same row twice "
                    "in the same command: duplicate conflict-key values in "
                    "the proposed rows",
                )
        if up.action == "nothing":
            return _do_nothing(engine, up, staged_src, targets, all_cst)
        return _do_update(engine, up, staged_src, targets[0], all_cst, schema, base)
    finally:
        release_staged(spark, staged_src)


def _do_nothing(engine, up, staged_src: DataFrame, targets, all_cst) -> int:
    """Skip-conflicting-rows append: anti-join per key constraint (plain
    equality, so null-keyed rows pass through and insert), then the
    standard validated append — which re-raises 23505 for conflicts on
    constraints OUTSIDE the target set, exactly like DuckDB does. Runs
    through the write gate (transactions.publish_gated): a concurrent
    insert of the same key landing before the publish forces the
    anti-join and validation to re-run on the fresh base."""
    spark = engine.spark
    from duck_server_spark.engine import constraints as cst
    from duck_server_spark.engine.transactions import publish_gated

    def stage(fresh):
        new_rows = staged_src
        for c in targets:
            keys = list(c["cols"])
            new_rows = new_rows.join(fresh.select(*keys), on=keys, how="left_anti")
        # re-select in table column order (join(on=keys) reorders key cols first)
        staged = stage_frame(new_rows.select(*fresh.columns))
        try:
            cst.validate_append(spark, up.table, staged, all_cst, engine.constraints)
            return staged, staged.count()
        except BaseException:
            release_staged(spark, staged)
            raise

    def publish(staged):
        staged[0].write.mode("append").saveAsTable(up.table)
        release_staged(spark, staged[0])
        return staged[1]

    def discard(staged):
        if staged is not None:
            release_staged(spark, staged[0])

    return publish_gated(spark, up.table, stage, publish, discard)


def _do_update(engine, up, staged_src: DataFrame, target, all_cst, schema, base) -> int:
    """MERGE-shaped rewrite through the engine's staged-overwrite path."""
    spark = engine.spark
    from duck_server_spark.engine import constraints as cst

    keys = list(target["cols"])
    key_cols_all = {k.lower() for c in all_cst if c["kind"] in ("primary", "unique")
                    for k in c["cols"]}
    field_names = [f.name for f in schema.fields]
    if up.assigns is None:  # OR REPLACE: every inserted non-key column
        listed = up.cols or field_names
        assigns = [
            (c, f"`__excl_{c}`") for c in listed if c.lower() not in key_cols_all
        ]
        where_sql = None
    else:
        # duck binds SET columns case-insensitively (round-13 statement
        # mutation sweep: on_conflict_do_update/case)
        by_lower = {f.lower(): f for f in field_names}
        assigns = []
        for col, expr in up.assigns:
            if col.lower() in key_cols_all:
                raise PgError(
                    "42P10",
                    f"Can not assign to column '{col}' because it has a "
                    "UNIQUE/PRIMARY KEY constraint",
                )
            stored = by_lower.get(col.lower())
            if stored is None:
                raise PgError("42703", f'column "{col}" does not exist')
            assigns.append((stored, _rewrite_refs(expr, up.table, base)))
        where_sql = (
            _rewrite_refs(up.where, up.table, base) if up.where else None
        )
    assign_map = {c: e for c, e in assigns}
    ftype = {f.name: f.dataType.simpleString() for f in schema.fields}

    def transform(fresh_base: DataFrame) -> DataFrame:
        s = staged_src.select(
            *[F.col(c).alias(f"__excl_{c}") for c in field_names]
        ).withColumn("__excl_present", F.lit(True))
        cond = None
        for k in keys:
            c = fresh_base[k] == s[f"__excl_{k}"]
            cond = c if cond is None else (cond & c)
        j = fresh_base.join(F.broadcast(s), cond, "left")
        upd = F.col("__excl_present").isNotNull()
        if where_sql:
            upd = upd & F.expr(rewrites.duck_expr_to_spark(where_sql))
        out_cols = []
        for name in field_names:
            if name in assign_map:
                out_cols.append(
                    F.when(upd, F.expr(rewrites.duck_expr_to_spark(assign_map[name])).cast(ftype[name]))
                    .otherwise(F.col(name))
                    .alias(name)
                )
            else:
                out_cols.append(F.col(name))
        updated = j.select(
            *out_cols, F.when(upd, F.lit(1)).otherwise(F.lit(0)).alias("__ups_action")
        )
        # matched keys: column-pruned base scan semi-joined with the
        # broadcast source — at most |source| rows, itself broadcastable
        mk = fresh_base.select(*keys).join(
            F.broadcast(staged_src.select(*keys)), on=keys, how="left_semi"
        )
        ins = staged_src.join(F.broadcast(mk), on=keys, how="left_anti").select(
            *field_names
        )
        inserted = ins.select(*field_names, F.lit(1).alias("__ups_action"))
        return updated.unionAll(inserted)

    metric = F.sum(F.col("__ups_action")).cast("long").alias("n")
    validate = lambda staged: cst.validate_append(  # noqa: E731
        spark, up.table, staged, all_cst, engine.constraints, replace=True
    )
    return engine._overwrite_table(
        up.table,
        transform,
        metric,
        validate=validate,
        observe_output=True,
        publish_cols=field_names,
    )
