"""PRIMARY KEY / UNIQUE / FOREIGN KEY / NOT NULL / CHECK declaration +
ingest-time enforcement.

The reference delegates constraint enforcement to embedded DuckDB, which
indexes the key and rejects violating appends
(/root/reference/README.md:21-22 "primary key"; the COPY/INSERT paths
surface the engine error). Vanilla Spark tables have neither constraint
DDL nor indexes, so we do both halves ourselves:

- DDL: ``CREATE TABLE`` accepts inline ``PRIMARY KEY``/``UNIQUE`` column
  constraints and table-level ``PRIMARY KEY (a, b)`` / ``UNIQUE (...)``
  clauses. They are stripped before the DDL reaches Spark and recorded in
  a JSON registry next to the warehouse (same persistence pattern as the
  user store).
- Ingest: every constrained append (COPY FROM STDIN batches, INSERT)
  first runs TWO distributed checks per key — an intra-batch duplicate
  group-by and a left-semi join against the existing table — both
  ``limit(1)`` so they stop at the first hit. A violation raises
  SQLSTATE 23505 (or 23502 for NULLs in a primary key) BEFORE anything
  is appended, leaving the table unchanged.

Row-local constraints (round 7): NOT NULL raises 23502 and CHECK raises
23514 the same way — validated on the incoming batch (appends) or the
staged rewrite (UPDATE/upsert) before anything publishes. NOT NULL text
stays in the Spark DDL (parsed but unenforced by parquet appends);
CHECK clauses are stripped (Spark rejects the syntax) and recorded.
A CHECK evaluating to NULL passes (SQL three-valued logic); only FALSE
violates. ALTER COLUMN SET/DROP NOT NULL and the DROP/RENAME COLUMN
interactions live in engine/alter.py, pinned against live DuckDB.

Scale: the semi-join is a broadcast of the (usually small) incoming
batch against the table's key columns — a column-pruned scan, no index
needed; the intra-batch check is a partial-aggregated group-by on the
batch only. At 100 TB the per-append cost is one key-column scan, the
honest price of uniqueness without a table format's index support.
PG null semantics: UNIQUE ignores rows with NULL key parts (multiple
NULLs allowed); PRIMARY KEY rejects them.
"""

from __future__ import annotations

import json
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duck_server_spark.engine.errors import PgError

# table-level:  [CONSTRAINT name] PRIMARY KEY (a, b) | UNIQUE (a, b)
_TABLE_LEVEL = re.compile(
    r"^\s*(?:CONSTRAINT\s+\w+\s+)?(PRIMARY\s+KEY|UNIQUE)\s*\(([^)]*)\)\s*$",
    re.IGNORECASE,
)
# table-level FK: [CONSTRAINT name] FOREIGN KEY (a, b) REFERENCES t (x, y)
_TABLE_FK = re.compile(
    r"^\s*(?:CONSTRAINT\s+\w+\s+)?FOREIGN\s+KEY\s*\(([^)]*)\)\s*"
    r"REFERENCES\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE,
)
# inline:  <col> <type...> PRIMARY KEY | UNIQUE  (strip just the keyword)
_INLINE = re.compile(r"\b(PRIMARY\s+KEY|UNIQUE)\b", re.IGNORECASE)
# inline FK:  <col> <type...> REFERENCES t (x)
_INLINE_FK = re.compile(r"\bREFERENCES\s+([\w.]+)\s*(?:\(([^)]*)\))?", re.IGNORECASE)
# table-level CHECK: [CONSTRAINT name] CHECK (expr)   (expr extracted
# balance-aware — a regex capture would truncate at the first ')')
_TABLE_CHECK = re.compile(r"^\s*(?:CONSTRAINT\s+\w+\s+)?CHECK\s*\(", re.IGNORECASE)
# inline CHECK attached to a column definition
_INLINE_CHECK = re.compile(r"\bCHECK\s*\(", re.IGNORECASE)
_NOT_NULL = re.compile(r"\bNOT\s+NULL\b", re.IGNORECASE)
# `DEFAULT nextval('seq')` — matched on the quote-MASKED item (the
# literal argument is blanked to spaces there), so the span covers the
# whole clause; the sequence name is re-read from the raw text
_SEQ_DEFAULT = re.compile(r"\bDEFAULT\s+nextval\s*\(\s*\)", re.IGNORECASE)
_IDENT = re.compile(r"[A-Za-z_]\w*")
_TABLE_LEVEL_HEAD = re.compile(
    r"^\s*(?:CONSTRAINT\b|PRIMARY\s+KEY\b|UNIQUE\s*\(|FOREIGN\s+KEY\b|CHECK\s*\()",
    re.IGNORECASE,
)
_CREATE_HEAD = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?([\w.]+)\s*\(",
    re.IGNORECASE,
)


def _match_create_table(ddl: str):
    """→ (table, body, tail) for CREATE TABLE, else None. The column
    body ends at the close paren that BALANCES the opening one — a
    greedy regex would swallow into a parenthesized tail like
    ``USING parquet OPTIONS (path '…')`` and corrupt the rebuilt DDL.
    Quoted spans are skipped while scanning, so a paren inside a string
    literal (``DEFAULT 'a)b'``) or quoted identifier never miscounts
    (ADVICE r4)."""
    m = _CREATE_HEAD.match(ddl)
    if not m:
        return None
    depth, start, i, n = 1, m.end(), m.end(), len(ddl)
    while i < n:
        ch = ddl[i]
        if ch in "'\"`":
            i = _skip_quoted(ddl, i, ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tail = ddl[i + 1 :].strip().rstrip(";").strip()
                return m.group(1), ddl[start:i], tail
        i += 1
    return None


def _skip_quoted(s: str, i: int, quote: str) -> int:
    """Index just past the quoted span starting at s[i] (doubled-quote
    escapes respected for ' and ")."""
    j = i + 1
    n = len(s)
    while j < n:
        if s[j] == quote:
            if quote != "`" and j + 1 < n and s[j + 1] == quote:
                j += 2  # '' / "" escape
                continue
            return j + 1
        j += 1
    return n  # unterminated: consume to end, caller errors downstream


def _split_columns(body: str) -> list[str]:
    """Split a CREATE TABLE body on top-level commas (quote-aware:
    commas/parens inside string literals or quoted identifiers are
    inert — ADVICE r4)."""
    parts, depth, start, i, n = [], 0, 0, 0, len(body)
    while i < n:
        ch = body[i]
        if ch in "'\"`":
            i = _skip_quoted(body, i, ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
        i += 1
    parts.append(body[start:])
    return [p for p in (s.strip() for s in parts) if p]


def _cols_list(csv: str) -> list[str]:
    return [c.strip().strip('`"') for c in csv.split(",") if c.strip()]


def _mask_quotes(s: str) -> str:
    """Copy of `s` with quoted spans blanked (length-preserving), so
    keyword searches never match inside a string literal or quoted
    identifier."""
    out, i, n = list(s), 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"`":
            j = _skip_quoted(s, i, ch)
            for k in range(i, min(j, n)):
                out[k] = " "
            i = j
            continue
        i += 1
    return "".join(out)


def _mask_parens(s: str) -> str:
    """Quote-mask, then additionally blank every parenthesized group —
    leaves only the top-level tokens of a column definition, so a
    ``NOT NULL`` search can't match inside a DEFAULT (…) expression."""
    out, i, n, depth = list(_mask_quotes(s)), 0, len(s), 0
    while i < n:
        ch = out[i]
        if ch == "(":
            depth += 1
            out[i] = " "
        elif ch == ")":
            depth -= 1
            out[i] = " "
        elif depth > 0:
            out[i] = " "
        i += 1
    return "".join(out)


def _balanced_span(s: str, open_idx: int) -> int:
    """Index just past the ')' balancing the '(' at s[open_idx]
    (quote-aware)."""
    depth, i, n = 0, open_idx, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"`":
            i = _skip_quoted(s, i, ch)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return n


def _mask_str_literals(s: str) -> str:
    """Length-preserving copy with only SINGLE-quoted (string literal)
    spans blanked. Double quotes and backticks are IDENTIFIER quoting in
    PG/DuckDB — their contents must stay visible to identifier scans
    (review finding: masking them dropped `"price"` from a CHECK's
    column attribution, silently skipping UPDATE revalidation)."""
    out, i, n = list(s), 0, len(s)
    while i < n:
        if s[i] == "'":
            j = _skip_quoted(s, i, "'")
            for k in range(i, min(j, n)):
                out[k] = " "
            i = j
            continue
        i += 1
    return "".join(out)


def _expr_cols(expr: str, declared: dict[str, str]) -> list[str]:
    """Declared column names referenced by a constraint expression —
    identifier-token intersection over the string-literal-masked text
    (quoted identifiers like `"price"` count), order-preserving. Drives
    the "does this UPDATE touch a constrained column" revalidation
    trigger."""
    seen: set[str] = set()
    out: list[str] = []
    for tok in _IDENT.findall(_mask_str_literals(expr)):
        t = tok.lower()
        if t in declared and t not in seen:
            seen.add(t)
            out.append(declared[t])
    return out


def subst_ident(expr: str, old: str, new: str) -> str:
    """Rename a column reference inside a stored constraint expression:
    bare, double-quoted, and backticked forms, NEVER inside string
    literals (review finding: a blind regex rewrote `'active'` literals
    when a column named active was renamed)."""
    masked = _mask_str_literals(expr)
    pat = re.compile(
        rf'\b{re.escape(old)}\b|"{re.escape(old)}"|`{re.escape(old)}`',
        re.IGNORECASE,
    )
    res, i = [], 0
    for m in pat.finditer(masked):
        res.append(expr[i : m.start()])
        quoted = masked[m.start()] in '"`'
        res.append(f"{masked[m.start()]}{new}{masked[m.start()]}" if quoted else new)
        i = m.end()
    res.append(expr[i:])
    return "".join(res)


def _spark_check_expr(expr: str) -> str:
    """A stored CHECK expression is DuckDB/PG-spelled. Before F.expr:
    run the dialect rewrites (`~` → RLIKE, duck function aliases,
    ::casts) and convert double-quoted identifiers to backticks (Spark's
    default parser reads "x" as a STRING LITERAL — review finding:
    CHECK ("price" > 0) silently never enforced)."""
    from duck_server_spark.plans import rewrites

    # literal semantics FIRST (round-10 review family): the stored text
    # is raw duck-dialect — CHECK (name ~ '^[a-z]+\\d$') must keep its
    # backslash as data under Spark's escape-processing parser
    out = rewrites.rewrite_common(rewrites.normalize_literals(expr))
    masked = _mask_str_literals(out)
    res, i = [], 0
    for m in re.finditer(r'"([A-Za-z_]\w*)"', masked):
        res.append(out[i : m.start()])
        res.append(f"`{m.group(1)}`")
        i = m.end()
    res.append(out[i:])
    return "".join(res)


def extract_constraints(ddl: str) -> tuple[str, str | None, list[dict]]:
    """→ (ddl with constraints stripped, table name, constraint list).

    Each constraint is {"kind": "primary"|"unique", "cols": [...]},
    {"kind": "foreign", "cols": [...], "ref_table": str,
    "ref_cols": [...] | None} (None = the parent's primary key, resolved
    at enforcement time), {"kind": "notnull", "cols": [col]}, or
    {"kind": "check", "expr": str, "cols": [referenced cols]}.
    CHECK clauses are stripped (Spark's parser rejects them); NOT NULL
    stays in the DDL text (Spark accepts it but does not enforce it on
    parquet appends — enforcement is ours either way).
    Non-CREATE-TABLE statements pass through.
    """
    m = _match_create_table(ddl)
    if not m:
        return ddl, None, []
    table, body, tail = m
    found: list[dict] = []
    cols_out: list[str] = []
    items = _split_columns(body)
    # declared column names (lower → as-written), for CHECK-expr column
    # attribution — column items are the ones not led by a table-level
    # constraint keyword
    declared: dict[str, str] = {}
    for item in items:
        if not _TABLE_LEVEL_HEAD.match(item):
            name = item.split(None, 1)[0].strip('`"')
            declared.setdefault(name.lower(), name)
    for item in items:
        tl = _TABLE_LEVEL.match(item)
        if tl:
            kind = "primary" if tl.group(1).upper().startswith("PRIMARY") else "unique"
            found.append({"kind": kind, "cols": _cols_list(tl.group(2))})
            continue  # table-level clause: drop the whole item
        fk = _TABLE_FK.match(item)
        if fk:
            found.append(
                {
                    "kind": "foreign",
                    "cols": _cols_list(fk.group(1)),
                    "ref_table": fk.group(2).lower(),
                    "ref_cols": _cols_list(fk.group(3)) if fk.group(3) else None,
                }
            )
            continue
        tc = _TABLE_CHECK.match(item)
        if tc:
            end = _balanced_span(item, tc.end() - 1)
            expr = item[tc.end() : end - 1].strip()
            found.append(
                {"kind": "check", "expr": expr, "cols": _expr_cols(expr, declared)}
            )
            continue  # table-level clause: drop the whole item
        # inline CHECK (possibly several) — strip each balanced span;
        # "on" records the owning column (DuckDB drops an inline check
        # with its column, but a table-level check BLOCKS the drop)
        icm = _INLINE_CHECK.search(_mask_quotes(item))
        while icm:
            end = _balanced_span(item, icm.end() - 1)
            expr = item[icm.end() : end - 1].strip()
            found.append(
                {
                    "kind": "check",
                    "expr": expr,
                    "cols": _expr_cols(expr, declared),
                    "on": item.split(None, 1)[0].strip('`"'),
                }
            )
            item = (item[: icm.start()].rstrip() + " " + item[end:].lstrip()).strip()
            icm = _INLINE_CHECK.search(_mask_quotes(item))
        if _NOT_NULL.search(_mask_parens(item)):
            found.append(
                {"kind": "notnull", "cols": [item.split(None, 1)[0].strip('`"')]}
            )
            # NOT NULL text stays in the item: Spark parses it fine
        # SERIAL-style `DEFAULT nextval('seq')` (round 7): Spark's DDL
        # default must be foldable, so the clause is stripped here and
        # recorded as a seq_default registry row — the validated-insert
        # path fills the column by reserving a contiguous range
        # (engine/executor.py). Validators skip the kind explicitly.
        sdm = _SEQ_DEFAULT.search(_mask_quotes(item))
        if sdm:
            arg = item[sdm.start() : sdm.end()]
            nm = re.search(r"'([^']+)'", arg)
            found.append(
                {
                    "kind": "seq_default",
                    "cols": [item.split(None, 1)[0].strip('`"')],
                    "seq": nm.group(1) if nm else "",
                }
            )
            item = (item[: sdm.start()].rstrip() + " " + item[sdm.end() :].lstrip()).strip()
        im = _INLINE.search(item)
        if im:
            colname = item.split(None, 1)[0].strip('`"')
            kind = "primary" if im.group(1).upper().startswith("PRIMARY") else "unique"
            found.append({"kind": kind, "cols": [colname]})
            item = _INLINE.sub("", item).strip()
        ifk = _INLINE_FK.search(item)
        if ifk:
            colname = item.split(None, 1)[0].strip('`"')
            found.append(
                {
                    "kind": "foreign",
                    "cols": [colname],
                    "ref_table": ifk.group(1).lower(),
                    "ref_cols": _cols_list(ifk.group(2)) if ifk.group(2) else None,
                }
            )
            item = _INLINE_FK.sub("", item).strip()
        cols_out.append(item)
    if not found:
        return ddl, table, []
    # rebuild: CREATE TABLE <name> (cols) <tail>
    head = re.match(r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?[\w.]+", ddl, re.IGNORECASE)
    rebuilt = f"{head.group(0)} ({', '.join(cols_out)}) {tail or ''}".strip()
    return rebuilt, table, found


class ConstraintStore:
    """Persisted table-constraint registry (JSON next to the warehouse)."""

    def __init__(self, path: str):
        self._path = path
        self._lock = threading.Lock()

    def _load(self) -> dict:
        try:
            with open(self._path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def get(self, table: str) -> list[dict]:
        data = self._load()
        hit = data.get(table.lower())
        if hit is not None:
            return hit
        # transaction shadows (<name>__txn_<id>, engine/transactions.py)
        # carry their base table's constraints: DML inside BEGIN..COMMIT
        # is redirected to the shadow BEFORE the executor's constraint
        # lookup, and a dup key must fail at statement time there too.
        # Resolution goes through the LIVE shadow registry — not a name
        # pattern — so a user table literally named foo__txn_1 keeps its
        # own registry entry (ADVICE r4).
        from duck_server_spark.engine.transactions import resolve_shadow

        base = resolve_shadow(table)
        if base is not None:
            return data.get(base, [])
        return []

    def put(self, table: str, constraints: list[dict]) -> None:
        with self._lock:
            data = self._load()
            data[table.lower()] = constraints
            with open(self._path, "w") as f:
                json.dump(data, f)

    def drop(self, table: str) -> None:
        with self._lock:
            data = self._load()
            if data.pop(table.lower(), None) is not None:
                with open(self._path, "w") as f:
                    json.dump(data, f)

    def referencing(self, parent: str) -> list[tuple[str, dict]]:
        """All (child_table, fk_constraint) pairs whose FK targets
        `parent` — the DELETE-restrict reverse lookup. O(registry), which
        is O(#declared constraints), never data-sized."""
        parent = parent.lower()
        out: list[tuple[str, dict]] = []
        for tbl, cons in self._load().items():
            for c in cons:
                if c.get("kind") == "foreign" and c.get("ref_table") == parent:
                    out.append((tbl, c))
        return out


def _display_name(table: str) -> str:
    """User-facing relation name: a transaction shadow reports its BASE
    table in constraint-violation messages, like the reference would.
    Live-shadow registry, not a name pattern (ADVICE r4)."""
    from duck_server_spark.engine.transactions import resolve_shadow

    return resolve_shadow(table) or table


def _resolve_ref_cols(fk: dict, store: "ConstraintStore | None") -> list[str]:
    """Parent key columns an FK references: explicit ref cols, else the
    parent's declared PRIMARY KEY, else same-named columns."""
    if fk.get("ref_cols"):
        return fk["ref_cols"]
    if store is not None:
        for c in store.get(fk["ref_table"]):
            if c["kind"] == "primary":
                return c["cols"]
    return fk["cols"]


def _check_fk(
    spark: SparkSession, disp: str, rows: DataFrame, fk: dict, store,
    table: str | None = None,
) -> None:
    """Raise 23503 if `rows` contain an FK tuple with no parent row.
    PG MATCH SIMPLE semantics: a row with ANY NULL FK part passes. The
    probe is a column-pruned scan of the parent's key columns + one
    anti-join, limit(1) early-exit — no index needed, the honest price
    of referential integrity without a table format.

    Inside a transaction the child rows arrive under the child's SHADOW
    name — the parent probe must then read the SAME transaction's staged
    parent (read-your-writes: a parent INSERT earlier in the block makes
    the child row valid; a parent DELETE invalidates it) rather than the
    published base (ADVICE r5). `table` is the actual constrained table
    name (possibly a shadow); resolution goes through the live shadow
    registry."""
    from duck_server_spark.engine.transactions import sibling_dropped, sibling_shadow

    fkcols = fk["cols"]
    ref_cols = _resolve_ref_cols(fk, store)
    cname = f"{disp}_{'_'.join(fkcols)}_fkey"
    if table and sibling_dropped(table, fk["ref_table"]):
        # parent DROPped (not restaged) earlier in the SAME transaction:
        # every NON-NULL child FK tuple is an orphan as seen inside the
        # txn — probing the published base would wrongly pass and commit
        # orphans (ADVICE r6). MATCH SIMPLE still applies: rows whose FK
        # parts include a NULL reference no parent and pass, so only
        # raise when the batch actually carries a non-NULL FK tuple.
        nonnull = rows
        for c in fkcols:
            nonnull = nonnull.filter(F.col(c).isNotNull())
        if nonnull.limit(1).count() > 0:
            raise PgError(
                "23503",
                f'insert or update on table "{disp}" violates foreign key '
                f'constraint "{cname}": referenced table '
                f'"{fk["ref_table"]}" is dropped in the current transaction',
            )
        return  # all-NULL FK batch: nothing to validate, parent is gone
    probe = rows.select([F.col(c).alias(r) for c, r in zip(fkcols, ref_cols)])
    for r in ref_cols:
        probe = probe.filter(F.col(r).isNotNull())
    parent_name = (
        sibling_shadow(table, fk["ref_table"]) if table else None
    ) or fk["ref_table"]
    parent = spark.table(parent_name).select(*ref_cols)
    orphan = probe.join(parent, on=ref_cols, how="left_anti").limit(1)
    if orphan.count() > 0:
        raise PgError(
            "23503",
            f'insert or update on table "{disp}" violates foreign key '
            f'constraint "{cname}"',
        )


def check_row_constraints(disp: str, rows: DataFrame, constraints: list[dict]) -> None:
    """NOT NULL (23502) + CHECK (23514) over `rows`. All NOT NULL columns
    probe in ONE limit(1) job (the hit row is inspected driver-side to
    name the violating column, PG-style); each CHECK is its own limit(1)
    probe. SQL three-valued logic: a CHECK evaluating to NULL passes —
    only FALSE violates."""
    nn_cols = [k for c in constraints if c["kind"] == "notnull" for k in c["cols"]]
    if nn_cols:
        pred = None
        for k in nn_cols:
            p = F.col(k).isNull()
            pred = p if pred is None else (pred | p)
        hit = rows.filter(pred).limit(1).collect()
        if hit:
            bad = next(k for k in nn_cols if hit[0][k] is None)
            raise PgError(
                "23502",
                f'null value in column "{bad}" of relation "{disp}" '
                "violates not-null constraint",
            )
    for c in constraints:
        if c["kind"] != "check":
            continue
        cname = (
            f"{disp}_{'_'.join(c['cols'])}_check" if c["cols"] else f"{disp}_check"
        )
        viol = rows.filter(
            ~F.coalesce(F.expr(_spark_check_expr(c["expr"])).cast("boolean"), F.lit(True))
        ).limit(1)
        if viol.count() > 0:
            raise PgError(
                "23514",
                f'new row for relation "{disp}" violates check constraint "{cname}"',
            )


def validate_append(
    spark: SparkSession,
    table: str,
    rows: DataFrame,
    constraints: list[dict],
    store: "ConstraintStore | None" = None,
    replace: bool = False,
) -> None:
    """Raise PgError 23505/23502/23503/23514 if writing `rows` to `table`
    would violate any declared constraint. By default `rows` are
    appended, so their keys are also probed against the existing table;
    with ``replace`` they are the table's whole post-rewrite contents
    (a copy-on-write UPDATE's staged result — ``SET pk = const`` can
    mint duplicates append-time validation never sees), so there is no
    base to probe. Runs BEFORE the write; all checks early-exit via
    limit(1)."""
    disp = _display_name(table)
    check_row_constraints(disp, rows, constraints)
    for c in constraints:
        keys = c["cols"]
        kind = c["kind"]
        if kind in ("notnull", "check", "seq_default"):
            continue  # row-level / fill-time concerns, not key checks
        if kind == "foreign":
            _check_fk(spark, disp, rows, c, store, table=table)
            continue
        cname = f"{disp}_{'pkey' if kind == 'primary' else '_'.join(keys) + '_key'}"
        nonnull = rows
        if kind == "primary":
            null_pred = None
            for k in keys:
                p = F.col(k).isNull()
                null_pred = p if null_pred is None else (null_pred | p)
            if rows.filter(null_pred).limit(1).count() > 0:
                raise PgError(
                    "23502",
                    f'null value in column of primary key "{cname}" of relation "{disp}"',
                )
        else:
            for k in keys:
                nonnull = nonnull.filter(F.col(k).isNotNull())
        # duplicates within `rows` (partial-aggregated group-by)
        probes = [nonnull.groupBy(*keys).count().filter(F.col("count") > 1)]
        if not replace:
            # vs the existing table: column-pruned key scan, semi join
            existing = spark.table(table).select(*keys)
            probes.append(nonnull.select(*keys).join(existing, on=keys, how="left_semi"))
        for hit in probes:
            if hit.limit(1).count() > 0:
                raise PgError(
                    "23505", f'duplicate key value violates unique constraint "{cname}"'
                )


def rekey_validator(spark: SparkSession, table: str, assigned: set, store: "ConstraintStore"):
    """The check a copy-on-write UPDATE's staged rewrite needs before it
    publishes, or None when it needs none: assigning a column of a
    declared key can mint duplicates (validate_append with
    ``replace``), and re-keying a REFERENCED parent can orphan its
    children (validate_parent_rekey; DuckDB rejects it)."""
    from duck_server_spark.engine.transactions import resolve_shadow

    found = store.get(table)
    refs = store.referencing(resolve_shadow(table) or table)
    rekeys_own = bool(assigned & {k for c in found for k in c.get("cols", [])})
    rekeys_parent = bool(
        assigned & {k for _, fk in refs for k in _resolve_ref_cols(fk, store)}
    )
    if not (rekeys_own or rekeys_parent):
        return None

    def validate(staged: DataFrame) -> None:
        if rekeys_own:
            validate_append(spark, table, staged, found, store, replace=True)
        if rekeys_parent:
            validate_parent_rekey(spark, table, staged, refs, store)

    return validate


def validate_parent_rekey(
    spark: SparkSession,
    parent: str,
    staged: DataFrame,
    refs: list[tuple[str, dict]],
    store: "ConstraintStore | None" = None,
) -> None:
    """An UPDATE that rewrites a referenced parent's key columns must not
    orphan existing child rows (DuckDB raises a FK constraint error —
    pinned in tests/test_dml_join.py). Per child FK: its non-NULL key
    tuples must all still find a parent in the STAGED (post-update)
    table. One column-pruned child scan + one anti-join against the
    staged keys, limit(1) early-exit — same scale shape as the
    delete-restrict probe. Inside a transaction the child reads through
    its own shadow (read-your-writes)."""
    from duck_server_spark.engine.transactions import sibling_shadow

    disp = _display_name(parent)
    for child, fk in refs:
        ref_cols = _resolve_ref_cols(fk, store)
        # Self-referencing FKs read the child side from the PRE-update
        # published state on purpose: DuckDB's row-wise FK check rejects
        # even a CONSISTENT whole-table re-key (SET id=id+1000,
        # mgr=mgr+1000 → "key mgr: 1 is still referenced") — pinned live
        # in tests/test_constraints.py. Reading from `staged` instead
        # would implement PG's set-based semantics and silently diverge
        # from the reference's engine.
        child_rel = sibling_shadow(parent, child) or child
        probe = spark.table(child_rel).select(
            [F.col(c).alias(r) for c, r in zip(fk["cols"], ref_cols)]
        )
        for r in ref_cols:
            probe = probe.filter(F.col(r).isNotNull())
        orphan = probe.join(
            staged.select(*ref_cols), on=ref_cols, how="left_anti"
        ).limit(1)
        if orphan.count() > 0:
            cname = f"{child}_{'_'.join(fk['cols'])}_fkey"
            raise PgError(
                "23503",
                f'update on table "{disp}" violates foreign key '
                f'constraint "{cname}" on table "{child}"',
            )


def validate_delete_restrict(
    spark: SparkSession,
    parent: str,
    where: str | None,
    refs: list[tuple[str, dict]],
    store: "ConstraintStore | None" = None,
) -> None:
    """ON DELETE RESTRICT (PG/DuckDB default — the reference rejects the
    delete via DuckDB's FK index, README.md:21-22): raise 23503 if any
    child row references a parent key that this DELETE would remove
    entirely. A key counts as removed only when NO remaining parent row
    still provides it (duplicate parent keys keep the reference valid).
    Per child: one semi-join against the deleted keys + one anti-join
    against the remaining keys, limit(1) early-exit — column-pruned key
    scans, never a full-table compare."""
    # alias under the BASE simple name so a qualified user predicate
    # (`DELETE FROM t WHERE t.id = …`) resolves against a txn shadow too
    df = spark.table(parent).alias(_display_name(parent).split(".")[-1].strip('`"'))
    deleted = df.filter(F.expr(where)) if where else df
    remaining = (
        df.filter(~F.expr(where)) if where else spark.createDataFrame([], df.schema)
    )
    validate_delete_restrict_dfs(spark, parent, deleted, remaining, refs, store)


def validate_delete_restrict_dfs(
    spark: SparkSession,
    parent: str,
    deleted: DataFrame,
    remaining: DataFrame,
    refs: list[tuple[str, dict]],
    store: "ConstraintStore | None" = None,
) -> None:
    """DataFrame-shaped variant of validate_delete_restrict for callers
    whose delete set is join-derived (DELETE … USING) rather than a
    WHERE predicate."""
    disp = _display_name(parent)
    for child, fk in refs:
        ref_cols = _resolve_ref_cols(fk, store)
        cname = f"{child}_{'_'.join(fk['cols'])}_fkey"
        ch = spark.table(child).select(
            [F.col(c).alias(r) for c, r in zip(fk["cols"], ref_cols)]
        )
        for r in ref_cols:
            ch = ch.filter(F.col(r).isNotNull())
        orphan = (
            ch.join(deleted.select(*ref_cols), on=ref_cols, how="left_semi")
            .join(remaining.select(*ref_cols), on=ref_cols, how="left_anti")
            .limit(1)
        )
        if orphan.count() > 0:
            raise PgError(
                "23503",
                f'update or delete on table "{disp}" violates foreign key '
                f'constraint "{cname}" on table "{child}"',
            )
