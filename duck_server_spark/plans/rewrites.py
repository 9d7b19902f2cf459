"""Front-end SQL dialect shims: the textual compatibility rewrites the
reference applies before delegating to its engine (SURVEY.md §4.1), plus
the DuckDB/PG → Spark dialect gaps we close the same way.

Reference parity (file:line in /root/reference):
- `LIMIT n,m` → `LIMIT m OFFSET n`          ch_server.go:155,164
- `version()` → literal                     ch_server.go:160
- `select table` keyword quoting            ch_server.go:161
- newline flattening for CH queries         ch_server.go:163
- `show transaction_read_only` → `select 0` pg_conn.go:305,444
- `SET extra_float_digits/application_name` → no-op  pg_conn.go:448-453
- `$n` → `null` for describe probes         pg_conn.go:652-656
Additional DuckDB→Spark gaps (SURVEY.md §7 "Dialect gap"):
- `x::type` casts → `CAST(x AS type)`
- `QUALIFY <pred>` → auto-rewritten to a post-window filter subquery
  (rewrite_qualify; the DataFrame idiom also exists in
  operators/relational.py)
- `read_csv/read_parquet/read_json('path')` → Spark path relations
"""

from __future__ import annotations

import re

VERSION_STRING = "23.3.1.2823"  # ch_server.go:160 literal
SERVER_VERSION = "16.0-sparksql-4.1"  # pg_conn.go:22 pattern

_LIMIT_NM = re.compile(r"\blimit\s+(\d+)\s*,\s*(\d+)", re.IGNORECASE)
_VERSION = re.compile(r"\bversion\(\)", re.IGNORECASE)
_SELECT_TABLE = re.compile(r"^(\s*select\s+)table\b", re.IGNORECASE)
_SET_NOOP = re.compile(
    r"^\s*set\s+(extra_float_digits|application_name|search_path|statement_timeout|client_encoding|datestyle|timezone)\b",
    re.IGNORECASE,
)
_PARAM = re.compile(r"\$(\d+)")
_PG_CAST = re.compile(
    r"::\s*(double\s+precision|timestamp\s+with(?:out)?\s+time\s+zone"
    r"|[A-Za-z_][A-Za-z0-9_]*(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\[\s*\])*)",
    re.IGNORECASE,
)
_CURRENT_SCHEMA = re.compile(r"\bcurrent_schema\(\)", re.IGNORECASE)
# DuckDB star modifier `* EXCLUDE (a, b)` / `* EXCLUDE a` → Spark's
# `* EXCEPT (a, b)` (same semantics, different keyword). GROUP BY ALL /
# ORDER BY ALL / `* EXCEPT` need no shim — Spark 4 supports them natively.
_EXCLUDE_PARENS = re.compile(
    r"(?<=\*\s)\s*EXCLUDE\s*\(([^)]*)\)", re.IGNORECASE
)
_EXCLUDE_BARE = re.compile(
    r"(?<=\*\s)\s*EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE
)

# DuckDB function spellings whose Spark twin has IDENTICAL argument
# order and semantics — pure name aliasing, applied outside string
# literals only. Spellings with different arg conventions (strftime,
# list_aggregate, len) are intentionally NOT mapped.
_DUCK_FN_ALIASES = {
    # round 9 (VERDICT r8 item 6): list_sort's EXACT twin is array_sort,
    # not sort_array — DuckDB's default is ASC NULLS LAST (verified live:
    # list_sort([3,1,NULL,2]) = [1,2,3,NULL]); Spark's sort_array puts
    # NULLs FIRST ascending, array_sort puts them LAST. The old mapping
    # silently drifted on null-containing lists. list_distinct moved to
    # an expression shim (_rewrite_list_fn_shims): DuckDB drops NULLs,
    # array_distinct keeps them.
    "list_sort": "array_sort",
    "list_reverse": "reverse",
    "list_contains": "array_contains",
    "list_value": "array",
    "string_split": "split",
    "str_split": "split",
    "string_split_regex": "split",
    # PG/DuckDB regex splitter → Spark's split (also regex-based;
    # verified value-equal on multi-char patterns)
    "regexp_split_to_array": "split",
    "regexp_matches": "regexp_like",
    "strlen": "length",
    "epoch_ms": "unix_millis",
    "list_concat": "concat",
    "list_append": "array_append",
    # round 5: higher-order + min/max list aliases (lambda syntax `x ->`
    # is identical in both dialects, so these are pure renames)
    "list_transform": "transform",
    "list_filter": "filter",
    # round 10 batch 2: documented duck alias spellings (pinned live)
    "list_apply": "transform",
    "array_apply": "transform",
    "array_transform": "transform",
    "array_filter": "filter",
    "list_cat": "concat",
    "array_cat": "concat",
    # (list_intersect lives in fn_shims: duck DROPS NULL elements where
    # Spark's array_intersect keeps them — third-review catch; element
    # ORDER stays engine-specific in both engines' docs: sort after)
    "list_min": "array_min",
    "list_max": "array_max",
    "array_length": "size",
    "list_has_any": "arrays_overlap",
    # round 8: list_position → array_position is EXACT on DuckDB 1.x
    # (verified live: both yield the 1-based index, 0 for a missing
    # element, NULL when either argument is NULL — the old "DuckDB
    # yields NULL for missing" note described pre-1.0 behavior).
    # list_indexof is DuckDB's documented alias for the same function.
    "list_position": "array_position",
    "list_indexof": "array_position",
    # round 10: arg_max/arg_min (+ argmax/argmin spellings) → Spark's
    # max_by/min_by — verified live: identical 2-arg semantics, both
    # engines ignore NULL ordering keys, ties engine-arbitrary in both.
    # (DuckDB's own max_by/min_by spellings already match Spark's.)
    "arg_max": "max_by",
    "arg_min": "min_by",
    "argmax": "max_by",
    "argmin": "min_by",
    # round 10: list_extract/list_element → try_element_at — verified
    # live: 1-based, NULL for out-of-bounds, negative indexes from the
    # end, NULL list → NULL. Pinned divergence: index 0 is NULL on
    # DuckDB but a LOUD Spark error (INVALID_INDEX_OF_ZERO) — never
    # silent drift.
    "list_extract": "try_element_at",
    "list_element": "try_element_at",
    # round 10: editdist3 is DuckDB's sqlite-heritage spelling of plain
    # levenshtein (verified live: identical values, NULL→NULL)
    "editdist3": "levenshtein",
    # round 8: array_to_string(arr, sep) → array_join(arr, sep) — both
    # 2-arg forms skip NULL elements; DuckDB has no 3-arg form, Spark's
    # optional nullReplacement is a superset. Pure rename.
    "array_to_string": "array_join",
    # NOT list_slice/list_reduce: argument semantics differ (inclusive
    # end vs length; no init accumulator) — silent drift, not a rename.
    # round 10: PG/duck row(…) constructor → struct(…) (pure rename)
    "row": "struct",
    # round 7: scalar unnest → explode is exact for arrays (one row per
    # element, NULL/empty → no rows); struct-unnest and recursive:=
    # shapes make explode ERROR, never drift. The FROM-clause table form
    # is rewritten first by _rewrite_series_unnest (which preserves
    # DuckDB's default column name); generate_series is handled there
    # too (NOT a plain alias: Spark's 2-arg sequence auto-reverses).
    "unnest": "explode",
}
_DUCK_FN_RE = re.compile(
    r"\b(" + "|".join(sorted(_DUCK_FN_ALIASES, key=len, reverse=True)) + r")\s*\(",
    re.IGNORECASE,
)
# list_slice(l, a, b) → slice(l, a, b - a + 1): both ends inclusive in
# DuckDB, start + LENGTH in Spark — the conversion is exact ONLY for
# all-positive literal bounds, including the edges (end past the list
# clamps; end < start yields []; verified value-for-value in tests).
# Everything else passes through untouched and errors loudly instead of
# drifting (ADVICE r6: the old rewrite took ALL 3-arg calls, so
# mixed-sign bounds like list_slice(l, 2, -2) — valid DuckDB — silently
# returned []; and all-negative diverges on the clamp edge: DuckDB
# clamps list_slice(l,-5,-1) to the whole 3-element list where Spark's
# slice yields []). The 4-arg step variant also passes through.
# list_reduce / list_sum / list_avg / list_aggregate get expression
# shims below (round 10) — a pure rename can't express their NULL-skip
# and typed-zero semantics.
_LIST_SLICE = re.compile(r"\b(?:list_slice|array_slice)\s*\(", re.IGNORECASE)
_NONNEG_INT = re.compile(r"^\s*\+?\d+\s*$")


# round 9 (VERDICT r8 item 6): single-arg list_* forms whose exact twin
# needs an argument/expression change, not a rename. Verified live vs
# DuckDB 1.x:
#   list_reverse_sort(l)  = DESC NULLS LAST  → sort_array(l, false)
#   list_distinct(l)      drops NULLs        → filter(array_distinct(l), …)
#     (element ORDER stays engine-specific in BOTH engines' docs — the
#     repo convention is "always sort after" for order-sensitive use)
#   list_unique(l)        = count of distinct non-NULL elements
# Multi-arg forms ('DESC', 'NULLS FIRST' options) pass through and error
# loudly in Spark — never a silent semantics change.
# (list_min/list_max are plain renames in the alias table above).
# DuckDB's array_* spellings alias the list_* semantics — array_distinct
# DROPS NULLs there while Spark's native array_distinct KEEPS them
# (verified live, a silent-drift hazard), so the array_* spellings
# route through the same NULL-dropping templates. The templates emit
# __SPARK_ARRAY_DISTINCT__ as a placeholder for Spark's native function
# so the rescan loop can never re-match its own replacement text.
_LIST_FN_SHIM = re.compile(
    r"\b(list_reverse_sort|array_reverse_sort|list_distinct|array_distinct"
    r"|list_unique|array_unique|list_sum|list_avg"
    r"|list_count|list_reduce|list_aggregate|list_aggr|array_aggregate"
    r"|list_prepend|array_prepend|list_has_all|array_has_all"
    r"|struct_extract|struct_pack|array_sort)\s*\(|\brange\(",
    re.IGNORECASE,
)
# duck list_sort('ASC'|'DESC'[, 'NULLS FIRST'|'NULLS LAST']) option
# combos → Spark spellings (pinned live round 11: DESC default is
# NULLS LAST like list_reverse_sort; ASC default NULLS LAST)
_SORT_ORDER_TPL = {
    ("asc", "nulls last"): "__SPARK_ARRAY_SORT__({x})",
    ("asc", "nulls first"): "sort_array({x}, true)",
    ("desc", "nulls last"): "sort_array({x}, false)",
    ("desc", "nulls first"): "reverse(__SPARK_ARRAY_SORT__({x}))",
}
# array_* → the list_* template/dispatch key it shares semantics with
_LIST_FN_CANON = {
    "array_reverse_sort": "list_reverse_sort",
    "array_distinct": "list_distinct",
    "array_unique": "list_unique",
    "array_aggregate": "list_aggregate",
    "array_prepend": "list_prepend",
    "array_has_all": "list_has_all",
}
_LIST_FN_TPL = {
    "list_reverse_sort": "sort_array({x}, false)",
    "list_distinct": (
        "filter(__SPARK_ARRAY_DISTINCT__({x}), ld_x -> ld_x IS NOT NULL)"
    ),
    "list_unique": (
        "cardinality(filter(__SPARK_ARRAY_DISTINCT__({x}), "
        "ld_x -> ld_x IS NOT NULL))"
    ),
    # list-aggregate family (round 10, pinned live vs DuckDB 1.x):
    # NULL elements are SKIPPED, an empty/NULL list yields NULL. The
    # fold accumulates in DOUBLE — Spark's aggregate() demands a
    # type-STABLE accumulator and decimal addition widens precision
    # (DECIMAL(4,1)+e → DECIMAL(5,1), an analysis error), so the typed-
    # zero trick only works for int/double inputs AT THE TEXT TIER.
    # Round 13: the engine's expression-probe pass
    # (executor._retype_list_sums) preempts this template with a typed
    # DECIMAL(38,·) accumulator for integral/decimal elements — duck's
    # HUGEINT/DECIMAL rendering exactly (probe list_sum_typed). This
    # DOUBLE fallback remains for float elements (DOUBLE in duck too)
    # and for unprobeable operands. avg is DOUBLE in both; count is the
    # non-NULL element count (NULL list → NULL).
    "list_sum": (
        "CASE WHEN cardinality(filter({x}, ls_e -> ls_e IS NOT NULL)) > 0 "
        "THEN aggregate(filter({x}, ls_e -> ls_e IS NOT NULL), "
        "CAST(0 AS DOUBLE), (ls_a, ls_b) -> ls_a + ls_b) ELSE NULL END"
    ),
    "list_avg": (
        "try_divide(CAST(aggregate(filter({x}, la_e -> la_e IS NOT NULL), "
        "CAST(0 AS DOUBLE), (la_a, la_b) -> la_a + la_b) AS DOUBLE), "
        "cardinality(filter({x}, la_e -> la_e IS NOT NULL)))"
    ),
    "list_min": "array_min({x})",
    "list_max": "array_max({x})",
    "list_count": "cardinality(filter({x}, lc_e -> lc_e IS NOT NULL))",
}
# list_aggregate(x, 'name') dispatches to the same templates; unknown
# names pass through and error loudly (never a silent semantics change)
_LIST_AGG_NAMES = {
    "sum": "list_sum",
    "min": "list_min",
    "max": "list_max",
    "avg": "list_avg",
    "mean": "list_avg",
    "count": "list_count",
}


# jaccard / hamming / mismatches (round 10): DuckDB's character-level
# similarity scalars as pure JVM expression templates — whole-stage
# codegen, no Python boundary (the pandas-UDF tier in
# functions/text_similarity.py covers only the algorithms Spark's
# expression language genuinely can't: damerau/jaro/jaro_winkler).
# Pinned live vs DuckDB 1.0:
# - jaccard is CASE-SENSITIVE character-SET similarity
#   (|A∩B| / |A∪B|; 'Abc' vs 'abc' = 0.5), ERRORS on an empty-string
#   argument ("An argument too short!"), NULL → NULL.
# - hamming (alias mismatches) requires EQUAL, NON-ZERO lengths and
#   errors otherwise; counts differing positions; NULL → NULL.
# The NULL path rides the expressions themselves: length(NULL) makes
# the error-guard CASE fall through, split(NULL) → NULL arrays,
# size(NULL array) → NULL (non-legacy Spark), division → NULL.
_TEXT_SIM = re.compile(r"\b(jaccard|hamming|mismatches)\s*\(", re.IGNORECASE)
_JACCARD_TPL = (
    "CASE WHEN length({a}) = 0 OR length({b}) = 0 THEN "
    "raise_error('Invalid Input Error: Jaccard Function: An argument too short!') "
    "ELSE size(array_intersect(array_distinct(split({a}, '')), "
    "array_distinct(split({b}, '')))) "
    "/ size(array_union(array_distinct(split({a}, '')), "
    "array_distinct(split({b}, '')))) END"
)
_HAMMING_TPL = (
    "CASE WHEN length({a}) <> length({b}) OR length({a}) = 0 THEN "
    "raise_error('Invalid Input Error: Mismatch Function: Strings must be of equal length!') "
    "ELSE CAST(size(filter(zip_with(split({a}, ''), split({b}, ''), "
    "(hm_x, hm_y) -> hm_x <> hm_y), hm_z -> hm_z)) AS BIGINT) END"
)


def _rewrite_text_similarity(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _TEXT_SIM.search(masked, pos)
        if m is None:
            return q
        end = _scan_balanced(masked, m.end())
        inner, minner = q[m.end() : end - 1], masked[m.end() : end - 1]
        args = _split_top_level(inner, minner)
        if len(args) != 2:
            pos = m.end()  # wrong arity: pass through, loud Spark error
            continue
        tpl = _JACCARD_TPL if m.group(1).lower() == "jaccard" else _HAMMING_TPL
        repl = tpl.replace("{a}", args[0]).replace("{b}", args[1])
        q = q[: m.start()] + repl + q[end:]
        # rescan from the start of the replacement: nested calls were
        # copied into it verbatim; the template's own "Jaccard/Mismatch
        # Function" words live inside string literals, which the masked
        # rescan never matches
        pos = m.start()


# string_agg / listagg / group_concat (round 10). Spark 4 has
# string_agg/listagg natively with IDENTICAL 2-arg semantics (NULL
# values skipped), so only three dialect gaps need text work, all
# pinned live vs DuckDB 1.x:
#   1. the 1-arg form defaults the separator to ',' on DuckDB but to
#      NOTHING on Spark ('b','a' → 'b,a' vs 'ba') — a silent-drift
#      hazard, so the shim pins an explicit ',' argument;
#   2. DuckDB takes PG-style ORDER BY INSIDE the argument list
#      (string_agg(x, ',' ORDER BY y DESC)); Spark wants the standard
#      WITHIN GROUP (ORDER BY …) clause after the call;
#   3. DuckDB's default null ordering is NULLS LAST for BOTH
#      directions while Spark's ASC default is NULLS FIRST — keys
#      without an explicit NULLS get one pinned.
# group_concat is DuckDB's alias for the same aggregate; Spark lacks
# the name, so it canonicalizes to string_agg. DISTINCT prefixes ride
# along inside the first argument's text untouched.
_STRING_AGG = re.compile(r"\b(string_agg|listagg|group_concat)\s*\(", re.IGNORECASE)
_BARE_FILTER = re.compile(r"(\)\s*FILTER\s*\(\s*)(?!WHERE\b)", re.IGNORECASE)
_ORDER_BY_IN_ARGS = re.compile(r"\border\s+by\b", re.IGNORECASE)


def _rewrite_string_agg(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _STRING_AGG.search(masked, pos)
        if m is None:
            return q
        end = _scan_balanced(masked, m.end())
        inner, minner = q[m.end() : end - 1], masked[m.end() : end - 1]
        # depth-0 ORDER BY inside the argument list → WITHIN GROUP
        within = ""
        for om in _ORDER_BY_IN_ARGS.finditer(minner):
            if minner[: om.start()].count("(") == minner[: om.start()].count(")"):
                keys = _split_top_level(
                    inner[om.end() :], minner[om.end() :]
                )
                keys = [
                    k if re.search(r"\bnulls\b", k, re.IGNORECASE)
                    else f"{k} NULLS LAST"
                    for k in keys
                ]
                within = f" WITHIN GROUP (ORDER BY {', '.join(keys)})"
                inner, minner = inner[: om.start()], minner[: om.start()]
                break
        args = _split_top_level(inner, minner)
        if len(args) == 1:
            args.append("','")
        name = m.group(1).lower()
        if name == "group_concat":
            name = "string_agg"
        repl = f"{name}({', '.join(args)}){within}"
        q = q[: m.start()] + repl + q[end:]
        pos = m.start() + len(repl)  # output re-matches the name: skip past


def _rewrite_list_fn_shims(q: str) -> str:
    q = _rewrite_list_fn_shims_inner(q)
    # resolve the placeholders the templates emit so the rescan loop can
    # never re-match its own replacements (array_distinct/array_prepend
    # are BOTH DuckDB spellings we rewrite and the Spark natives we
    # rewrite INTO — a raw array_prepend(…) replacement would re-match
    # and swap its arguments forever)
    q = q.replace("__SPARK_ARRAY_DISTINCT__(", "array_distinct(")
    q = q.replace("__SPARK_ARRAY_SORT__(", "array_sort(")
    return q.replace("__SPARK_ARRAY_PREPEND__(", "array_prepend(")


def _rewrite_list_fn_shims_inner(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _LIST_FN_SHIM.search(masked, pos)
        if m is None:
            return q
        end = _scan_balanced(masked, m.end())
        inner, minner = q[m.end() : end - 1], masked[m.end() : end - 1]
        args = _split_top_level(inner, minner)
        fname = (m.group(1) or "range").lower()
        fname = _LIST_FN_CANON.get(fname, fname)
        if fname == "range":
            # scalar range(n) / range(a, b): DuckDB's half-open integer
            # range ([] when empty — the SCALAR form clamps descending
            # spans to [] where the TVF errors, a DuckDB asymmetry
            # pinned live). Spark's sequence() is inclusive and
            # direction-inferring, so the length is clamped explicitly.
            # 3-arg step passes through and errors loudly; table-
            # function position (FROM / any JOIN / FROM-list comma) is
            # Spark's NATIVE distributed range TVF, already aliased by
            # _rewrite_series_unnest — never touch it (the round-10
            # FROM-only guard missed `CROSS JOIN range(n) b` and broke
            # it into a scalar — caught by the timeout tests).
            if _in_tvf_position(masked, m.start()):
                pos = m.end()
                continue
            if len(args) == 1:
                n = args[0]
                repl = (
                    f"slice(sequence(0, greatest(({n}) - 1, 0)), 1, "
                    f"greatest(({n}), 0))"
                )
            elif len(args) == 2:
                a, b = args
                repl = (
                    f"slice(sequence(({a}), greatest(({b}) - 1, ({a}))), 1, "
                    f"greatest(({b}) - ({a}), 0))"
                )
            elif len(args) == 3:
                # stepped scalar range: INT-LITERAL args materialize at
                # bind time (round 11 — covers range(5, 1, -2) = [5, 3];
                # the span is user-typed-literal-bounded). Non-literal
                # steps pass through and error loudly.
                try:
                    a0, b0, s0 = (int(x) for x in args)
                except ValueError:
                    pos = m.end()
                    continue
                if s0 == 0:
                    pos = m.end()  # duck errors; Spark errors too: loud
                    continue
                # O(1) bind-time arithmetic (review r11: the first cut
                # materialized the value list as SQL TEXT — a 35-byte
                # query could build a multi-MB statement); the emitted
                # sequence() is lazy until execution, same cost class
                # as duck's own list materialization
                n = len(range(a0, b0, s0))
                if n == 0:
                    repl = f"slice(array({a0}), 1, 0)"
                else:
                    last = a0 + (n - 1) * s0
                    repl = f"sequence({a0}, {last}, {s0})"
            else:
                pos = m.end()
                continue
        elif fname == "array_sort":
            # duck list_sort/array_sort with STRING-LITERAL order
            # options (the bare and lambda forms pass through — they
            # match Spark natively). list_sort was alias-renamed to
            # array_sort before this pass runs (round 11).
            if len(args) not in (2, 3):
                pos = m.end()
                continue
            om = re.fullmatch(r"\s*'(asc|desc)'\s*", args[1], re.IGNORECASE)
            if om is None:
                pos = m.end()  # lambda comparator: native
                continue
            order = om.group(1).lower()
            nulls = "nulls last"
            if len(args) == 3:
                nm2 = re.fullmatch(
                    r"\s*'(nulls\s+first|nulls\s+last)'\s*",
                    args[2],
                    re.IGNORECASE,
                )
                if nm2 is None:
                    pos = m.end()
                    continue
                nulls = re.sub(r"\s+", " ", nm2.group(1).lower())
            repl = _SORT_ORDER_TPL[(order, nulls)].replace("{x}", args[0])
        elif fname == "list_prepend":
            # DuckDB: list_prepend(elem, list); Spark: array_prepend(
            # list, elem) — same name family, SWAPPED argument order
            if len(args) != 2:
                pos = m.end()
                continue
            repl = f"__SPARK_ARRAY_PREPEND__({args[1]}, {args[0]})"
        elif fname == "list_has_all":
            # DuckDB pins (verified live): NULL elements in the needle
            # list are IGNORED, an empty needle is TRUE, a NULL list on
            # either side is NULL — forall over the NULL-filtered needle
            # reproduces all three
            if len(args) != 2:
                pos = m.end()
                continue
            x, y = args
            # exists + null-safe equality instead of array_contains:
            # array_contains hard-errors on a void-typed probe (the
            # `[NULL]` literal needle), <=> coerces fine
            repl = (
                f"forall(filter({y}, lh_e -> lh_e IS NOT NULL), "
                f"lh_e -> exists({x}, lh_x -> lh_x <=> lh_e))"
            )
        elif fname == "struct_extract":
            # struct_extract(s, 'name') → parenthesized field access;
            # only the string-literal-name form rewrites (integer index
            # and dynamic names pass through and error loudly)
            if len(args) != 2:
                pos = m.end()
                continue
            name_arg = args[1].strip()
            nm = re.fullmatch(r"'([A-Za-z_][A-Za-z0-9_]*)'", name_arg)
            if nm is None:
                pos = m.end()
                continue
            repl = f"({args[0]}).{nm.group(1)}"
        elif fname == "struct_pack":
            # struct_pack(a := 1, b := x + 1) → named_struct('a', 1,
            # 'b', x + 1); every argument must be the `name := expr`
            # form (DuckDB rejects anything else too)
            parts = []
            for a in args:
                am = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*:=(.*)$", a, re.DOTALL)
                if am is None:
                    parts = None
                    break
                parts.append(f"'{am.group(1)}', {am.group(2).strip()}")
            if not parts:
                pos = m.end()
                continue
            repl = f"named_struct({', '.join(parts)})"
        elif fname == "list_reduce":
            # list_reduce(x, f) → fold f over the tail starting from the
            # head element. Pinned divergence: DuckDB ERRORS on an empty
            # list, this returns NULL (get() on empty is NULL) — the
            # non-error surface is value-identical.
            if len(args) != 2:
                pos = m.end()
                continue
            x, f = args
            repl = (
                f"reduce(slice({x}, 2, greatest(cardinality({x}) - 1, 0)), "
                f"get({x}, 0), {f})"
            )
        elif fname in ("list_aggregate", "list_aggr"):
            if len(args) != 2:
                pos = m.end()
                continue
            name = args[1].strip().strip("'\"").lower()
            tpl_key = _LIST_AGG_NAMES.get(name)
            if tpl_key is None:
                pos = m.end()  # unknown aggregate: loud Spark error
                continue
            repl = _LIST_FN_TPL[tpl_key].replace("{x}", args[0])
        else:
            if len(args) != 1:
                pos = m.end()  # option-arg variants: loud Spark error
                continue
            repl = _LIST_FN_TPL[fname].replace("{x}", args[0])
        q = q[: m.start()] + repl + q[end:]
        pos = m.start()  # rescan: nested list_* calls inside the argument


def _rewrite_list_slice(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _LIST_SLICE.search(masked, pos)
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        inner, inner_masked = q[m.end() : i - 1], masked[m.end() : i - 1]
        args = _split_top_level(inner, inner_masked)
        if len(args) != 3:
            pos = m.end()  # 4-arg step variant: pass through (errors loudly)
            continue
        lst, a, b = args
        is_str = bool(re.fullmatch(r"\s*'(?:[^']|'')*'\s*", lst))
        szfn = "length" if is_str else "size"
        if _NONNEG_INT.match(a) and _NONNEG_INT.match(b) and int(a) >= 1:
            an, bn = f"({a})", f"({b})"
        elif re.fullmatch(r"\s*[-+]?\d+\s*", a) and re.fullmatch(
            r"\s*[-+]?\d+\s*", b
        ) and int(a) != 0:
            # NEGATIVE literal indices count from the end inclusive
            # (pinned live round 13: [1..5][-3:-1] = [3,4,5], [2:-2] =
            # [2,3,4], start clamps to 1, end clamps to len)
            def _norm(v: str, lo: bool) -> str:
                n = int(v)
                if n >= 0:
                    return f"({n})"
                base = f"{szfn}({lst}) + {n} + 1"
                return (
                    f"greatest({base}, 1)" if lo else f"({base})"
                )

            an, bn = _norm(a, True), _norm(b, False)
            bn = f"least({bn}, {szfn}({lst}))"
        else:
            pos = m.end()  # non-literal / zero-start: loud error
            continue
        if is_str:
            # duck list_slice/array_slice over a STRING takes 1-based
            # substring semantics (pinned: list_slice('abcde',2,3)='bc')
            repl = f"substring({lst}, {an}, greatest({bn} - {an} + 1, 0))"
        else:
            # greatest(…, 0): DuckDB yields [] when end < start; Spark's
            # slice errors on a negative length, so the length clamps at 0
            repl = f"slice({lst}, {an}, greatest({bn} - {an} + 1, 0))"
        q = q[: m.start()] + repl + q[i:]
        pos = m.start()  # rescan the replacement: nested list_slice inside


# strftime / strptime shims (round 8): DuckDB formats dates with
# C-style %-codes; Spark's date_format/to_timestamp use Java patterns.
# A pure name alias would silently misformat, so the FORMAT LITERAL is
# translated %-code-by-code and the call only rewrites when every code
# has an exact Java twin (verified value-for-value vs live DuckDB in
# tests/test_compat.py); otherwise the call passes through untouched and
# errors loudly (UNRESOLVED_ROUTINE), never drifts. Literal runs are
# fully quoted in the Java pattern ('T' in ISO timestamps would
# otherwise be a pattern letter). strptime → to_timestamp is value-exact
# on success; on a MALFORMED input DuckDB errors while a non-ANSI Spark
# session NULLs (pinned divergence, error-path only).
_STRF_CALL = re.compile(r"\b(strftime|strptime)\s*\(", re.IGNORECASE)
_STRF_MAP = {
    "Y": "yyyy", "m": "MM", "d": "dd", "H": "HH", "I": "hh", "M": "mm",
    "S": "ss", "y": "yy", "j": "DDD", "a": "EEE", "A": "EEEE", "b": "MMM",
    "B": "MMMM", "p": "a", "f": "SSSSSS",
    # %g = milliseconds in duck (pinned: '.123456' → '123'); the
    # dash-prefixed codes are the no-pad variants (handled as 2-char
    # codes in _java_pattern, round 13)
    "g": "SSS",
    "-d": "d", "-m": "M", "-H": "H", "-I": "h", "-M": "m", "-S": "s",
    "-j": "D", "-y": "y",
}
_PLAIN_STR_LIT = re.compile(r"^\s*'([^']*)'\s*$", re.DOTALL)


def _java_pattern(fmt: str) -> str | None:
    """C-style strftime format → Java DateTimeFormatter pattern; None
    when any %-code (or an embedded apostrophe) has no exact twin."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit) + "'")  # quote ALL literal runs
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                return None
            code = fmt[i + 1]
            # two-char no-pad codes: %-d, %-m, … (round 13)
            if code == "-" and i + 2 < len(fmt) and ("-" + fmt[i + 2]) in _STRF_MAP:
                code = "-" + fmt[i + 2]
            if code == "%":
                lit.append("%")  # literal percent
            else:
                mapped = _STRF_MAP.get(code)
                if mapped is None:
                    return None  # %G, %V, … — no exact twin: loud
                flush()
                out.append(mapped)
            i += 1 + len(code)
        elif c == "'":
            return None  # apostrophe quoting corner: stay loud, not clever
        else:
            lit.append(c)
            i += 1
    flush()
    return "".join(out)


_DATE_TRUNC_COARSE = re.compile(
    r"\bdate_trunc\s*\(\s*'(day|week|month|quarter|year|decade|century|"
    r"millennium|isoyear)'\s*,",
    re.IGNORECASE,
)


def _rewrite_date_trunc_coarse(q: str) -> str:
    """duck's date_trunc returns DATE for day-or-coarser parts — for
    BOTH date and timestamp inputs (pinned live round 13: typeof
    week/DATE = DATE, typeof week/TIMESTAMP = DATE, minute/DATE =
    TIMESTAMP); Spark always returns TIMESTAMP. Wrap coarse-part calls
    in CAST(… AS DATE) — part names are always literals, so this is
    pure text. One right-to-left pass: the wrap re-contains the call,
    so no fixpoint."""
    if "date_trunc" not in q.lower():
        return q
    # match on q (the part literal is masked in the twin); paren scan
    # on masked; a masked-out match can't occur since 'date_trunc('
    # itself would be inside a literal then
    masked = _mask_literals(q)
    spans: list[tuple[int, int]] = []
    for m in _DATE_TRUNC_COARSE.finditer(q):
        if masked[m.start()] != q[m.start()]:
            continue  # inside a string literal
        end = _scan_balanced(masked, masked.index("(", m.start()) + 1)
        spans.append((m.start(), end))
    # outermost spans only: a nested coarse call's intermediate type
    # doesn't change the result, and wrapping it would shift the outer
    # span's offsets
    spans = [
        (s, e)
        for s, e in spans
        if not any(s2 < s and e <= e2 for s2, e2 in spans if (s2, e2) != (s, e))
    ]
    for s, e in reversed(spans):
        q = q[:s] + f"CAST({q[s:e]} AS DATE)" + q[e:]
    return q


def _composite_strftime(operand: str, fmt: str) -> str | None:
    """strftime format containing %W → concat of date_format segments
    around the computed Monday-first week-of-year (C strftime %W:
    (yday0 + 7 - monday_wday) / 7, zero-padded to 2). None when any
    surrounding segment is itself unmappable."""
    wk = (
        f"lpad(CAST((dayofyear({operand}) - 1 + 7 - "
        f"((dayofweek({operand}) + 5) % 7)) div 7 AS STRING), 2, '0')"
    )
    parts = fmt.split("%W")
    segs: list[str] = []
    for k, part in enumerate(parts):
        if k:
            segs.append(wk)
        if part == "":
            continue
        jp = _java_pattern(part)
        if jp is None:
            return None
        segs.append(
            f"date_format({operand}, '{jp.replace(chr(39), chr(39) * 2)}')"
        )
    return "concat(" + ", ".join(segs) + ")" if len(segs) > 1 else segs[0]


def _rewrite_strftime(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _STRF_CALL.search(masked, pos)
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        inner, inner_masked = q[m.end() : i - 1], masked[m.end() : i - 1]
        args = _split_top_level(inner, inner_masked)
        litm = _PLAIN_STR_LIT.match(args[1]) if len(args) == 2 else None
        java = _java_pattern(litm.group(1)) if litm else None
        is_strf = m.group(1).lower() == "strftime"
        if java is None:
            # %W (C-style Monday-first week 00-53) has no Java pattern —
            # formatting direction only, as a concat of mapped segments
            # around a computed week number (round 13, pinned live:
            # strftime(DATE '2024-03-05', '%W') = '10')
            comp = (
                _composite_strftime(args[0], litm.group(1))
                if is_strf and litm and "%W" in litm.group(1)
                else None
            )
            if comp is None:
                pos = m.end()  # non-literal / unmappable format: loud
                continue
            q = q[: m.start()] + comp + q[i:]
            pos = m.start()
            continue
        fn = "date_format" if is_strf else "to_timestamp"
        repl = f"{fn}({args[0]}, '{java.replace(chr(39), chr(39) * 2)}')"
        q = q[: m.start()] + repl + q[i:]
        # rescan from the replacement start: args[0] may itself contain a
        # nested strftime/strptime (strptime∘strftime round trips); the
        # rewritten head no longer matches, so this terminates
        pos = m.start()


# date_diff / datediff (round 8): DuckDB's 3-arg form counts PART
# BOUNDARIES CROSSED (date_diff('hour', 00:59, 02:01) = 2; 'month',
# Jan-31 → Feb-01 = 1), which is NOT Spark's timestampdiff (complete
# units elapsed) — a name alias would silently drift on every partial
# unit. Each supported part rewrites to the exact boundary arithmetic
# (verified value-for-value vs live DuckDB): calendar parts via
# year/quarter/month/week-truncation differences, clock parts via
# truncated epoch-second differences. Unknown parts pass through and
# error loudly. Spark's OWN 2-arg datediff(end, start) never matches
# (3 args + leading string literal required).
_DATE_DIFF_CALL = re.compile(r"\b(?:date_diff|datediff)\s*\(", re.IGNORECASE)
_DATE_DIFF_TPL = {
    "year": "CAST(year({b}) - year({a}) AS BIGINT)",
    "quarter": (
        "CAST((year({b}) * 4 + quarter({b})) - "
        "(year({a}) * 4 + quarter({a})) AS BIGINT)"
    ),
    "month": (
        "CAST((year({b}) * 12 + month({b})) - "
        "(year({a}) * 12 + month({a})) AS BIGINT)"
    ),
    "week": (
        "CAST(datediff(date_trunc('week', {b}), "
        "date_trunc('week', {a})) / 7 AS BIGINT)"
    ),
    "day": "CAST(datediff(CAST({b} AS DATE), CAST({a} AS DATE)) AS BIGINT)",
    "hour": (
        "CAST((unix_seconds(date_trunc('hour', CAST({b} AS TIMESTAMP))) - "
        "unix_seconds(date_trunc('hour', CAST({a} AS TIMESTAMP)))) / 3600 AS BIGINT)"
    ),
    "minute": (
        "CAST((unix_seconds(date_trunc('minute', CAST({b} AS TIMESTAMP))) - "
        "unix_seconds(date_trunc('minute', CAST({a} AS TIMESTAMP)))) / 60 AS BIGINT)"
    ),
    "second": (
        "CAST(unix_seconds(CAST({b} AS TIMESTAMP)) - "
        "unix_seconds(CAST({a} AS TIMESTAMP)) AS BIGINT)"
    ),
}
_DATE_DIFF_ALIASES = {
    "min": "minute", "mins": "minute", "mi": "minute",
    "sec": "second", "secs": "second", "ss": "second", "s": "second",
    "hh": "hour", "hr": "hour", "hrs": "hour",
    "dd": "day", "d": "day", "yy": "year", "yyyy": "year",
    "mon": "month", "mons": "month", "qq": "quarter", "ww": "week",
}


def _date_diff_part(raw: str) -> str | None:
    p = raw.strip().lower()
    if p in _DATE_DIFF_TPL:
        return p
    if p.endswith("s") and p[:-1] in _DATE_DIFF_TPL:
        return p[:-1]  # plural spellings
    return _DATE_DIFF_ALIASES.get(p)


def _rewrite_date_diff(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _DATE_DIFF_CALL.search(masked, pos)
        if m is None:
            return q
        depth, i = 1, m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        inner, inner_masked = q[m.end() : i - 1], masked[m.end() : i - 1]
        args = _split_top_level(inner, inner_masked)
        litm = _PLAIN_STR_LIT.match(args[0]) if len(args) == 3 else None
        part = _date_diff_part(litm.group(1)) if litm else None
        if part is None or part not in _DATE_DIFF_TPL:
            pos = m.end()  # 2-arg Spark form / unknown part: untouched
            continue
        # callback substitution, not str.format: argument text containing
        # '{'/'}' (struct literals, braces in strings) must pass through
        # verbatim instead of raising KeyError on a valid statement, and a
        # callable replacement is inserted literally — no collision with
        # brace tokens inside the other argument (ADVICE r8)
        repl = re.sub(
            r"\{([ab])\}",
            lambda mm, a=args[1], b=args[2]: a if mm.group(1) == "a" else b,
            _DATE_DIFF_TPL[part],
        )
        q = q[: m.start()] + repl + q[i:]
        pos = m.start() + len(repl)


# DuckDB series/unnest shims (round 7). Spark has neither name:
# - `FROM generate_series(a, b[, s])` → `FROM explode(sequence(…)) AS
#   gs_N(generate_series)` — Spark's explode TVF under DuckDB's default
#   column name; a user alias is preserved (`AS t` keeps column name
#   `generate_series`, `AS t(x)` keeps the user's column).
# - scalar `generate_series(a, b)` → `sequence(a, b, 1)`: the EXPLICIT
#   step matters — DuckDB's default step is +1 and a descending 2-arg
#   series ERRORS ("cannot generate infinite series"), while Spark's
#   2-arg sequence silently auto-reverses (5→1 yields [5,4,…]). With
#   the pinned step both engines error loudly on that edge (pinned in
#   tests/test_compat.py).
# - `FROM unnest(arr)` → `FROM explode(arr) AS u_N(unnest)`; scalar
#   unnest renames to explode via the alias table (exact for arrays;
#   DuckDB's struct-unnest / recursive:= forms make explode error
#   loudly, never drift).
# Lateral shapes (`FROM t, generate_series(1, t.n)`, JOIN …) pass
# through untouched and error loudly.
_GEN_SERIES = re.compile(r"\bgenerate_series\s*\(", re.IGNORECASE)
_RANGE_TVF = re.compile(r"\brange\s*\(", re.IGNORECASE)
# clause keywords that prove an EXPRESSION context when met first on the
# backward scan (see _in_tvf_position)
_EXPR_CONTEXT_WORDS = frozenset(
    "select where on having when then else by and or not in exists case"
    " returning set values as union all distinct limit offset intersect"
    " except using between like ilike is".split()
)


def _in_tvf_position(masked: str, pos: int) -> bool:
    """True when the call starting at `pos` sits in table-function
    position: scanning BACKWARD at the same paren depth, the nearest
    clause keyword is FROM or JOIN (covers `FROM range(…)`,
    `CROSS JOIN range(…) b`, and the comma form `FROM t, range(…)` —
    intervening identifiers/aliases/commas keep scanning). Crossing an
    opening parenthesis means argument-list position (an expression);
    so does meeting SELECT/WHERE/ON/… first."""
    depth = 0
    i = pos - 1
    while i >= 0:
        ch = masked[i]
        if ch == ")":
            depth += 1
        elif ch == "(":
            if depth == 0:
                return False  # crossed into an argument list
            depth -= 1
        elif depth == 0 and (ch.isalpha() or ch == "_"):
            j = i
            while j >= 0 and (masked[j].isalnum() or masked[j] == "_"):
                j -= 1
            word = masked[j + 1 : i + 1].lower()
            if word in ("from", "join"):
                return True
            if word in _EXPR_CONTEXT_WORDS:
                return False
            i = j  # table name / alias / join qualifier: keep walking
            continue
        i -= 1
    return False
_FROM_UNNEST = re.compile(r"\b(from)\s+unnest\s*\(", re.IGNORECASE)
_FROM_TAIL = re.compile(r"\bfrom\s*$", re.IGNORECASE)
# trailing alias after a TVF: [AS] name [(col)] — but never a keyword
_TVF_ALIAS = re.compile(
    r"\s*(?:as\s+)?([A-Za-z_]\w*)\s*(\(\s*[A-Za-z_]\w*\s*\))?", re.IGNORECASE
)
_NOT_ALIASES = frozenset(
    "where group order having limit offset union intersect except join inner left "
    "right full cross natural on using window qualify asof semi anti lateral".split()
)
_TVF_SEQ = [0]


def _scan_balanced(masked: str, start: int) -> int:
    """Index just past the ')' closing the '(' that `start` sits after."""
    depth, i = 1, start
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    return i


def _tvf_alias_at(q: str, masked: str, i: int, default_col: str) -> tuple[str, int]:
    """(alias clause, index past it) for a TVF ending at `i` — the user's
    alias when one follows, else a fresh `gs_N(<default_col>)`."""
    # a hex-armored __DUCK_UCOL_…__ placeholder decodes at the END of
    # rewrite_common — the backtick decision must look at the DECODED
    # name (review r11: `range(1, 4)` landed unquoted)
    enc = re.fullmatch(r"__DUCK_UCOL_([0-9a-f]+)__", default_col)
    plain = bytes.fromhex(enc.group(1)).decode("utf-8") if enc else default_col
    dc = default_col if re.fullmatch(r"\w+", plain) else f"`{default_col}`"
    am = _TVF_ALIAS.match(masked, i)
    if am and am.group(1).lower() not in _NOT_ALIASES:
        # user column list kept verbatim; bare table alias keeps DuckDB's
        # default column name
        cols = q[am.start(2) : am.end(2)] if am.group(2) else f"({dc})"
        return f" AS {am.group(1)}{cols}", am.end()
    _TVF_SEQ[0] += 1
    return f" AS gs_{_TVF_SEQ[0]}({dc})", i


_REPEAT_TVF = re.compile(r"\brepeat\s*\(", re.IGNORECASE)
_GLOB_TVF = re.compile(r"\bglob\s*\(", re.IGNORECASE)


def _rewrite_misc_tvfs(q: str) -> str:
    """repeat(v, n) and glob(pattern) in table-function position.

    - repeat → a projection over Spark's NATIVE range TVF (lazy,
      distributed, O(1) memory at any n — never a materialized array).
      DuckDB names the column after the rendered value expression; the
      plain-literal case keeps that name (pinned: repeat('x',2) →
      column `x`), other shapes use `repeat`.
    - glob → resolved driver-side at bind time into an inline VALUES
      relation with DuckDB's `file` column (sorted, like duck). File
      listing is metadata, not data — the list is bounded by the
      catalog, same cost class as duck's own glob."""
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _REPEAT_TVF.search(masked, pos)
        if m is None:
            break
        if not _in_tvf_position(masked, m.start()):
            pos = m.end()
            continue
        end = _scan_balanced(masked, m.end())
        args = _split_top_level(q[m.end() : end - 1], masked[m.end() : end - 1])
        if len(args) != 2:
            pos = m.end()
            continue
        lit = _PLAIN_STR_LIT.match(args[0])
        col = lit.group(1) if lit and lit.group(1).isidentifier() else "repeat"
        repl = (
            f"(SELECT ({args[0]}) AS `{col}` FROM range({args[1]}))"
        )
        q = q[: m.start()] + repl + q[end:]
        pos = m.start() + len(repl)
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _GLOB_TVF.search(masked, pos)
        if m is None:
            break
        if not _in_tvf_position(masked, m.start()):
            pos = m.end()
            continue
        end = _scan_balanced(masked, m.end())
        args = _split_top_level(q[m.end() : end - 1], masked[m.end() : end - 1])
        lit = _PLAIN_STR_LIT.match(args[0]) if len(args) == 1 else None
        if lit is None:
            pos = m.end()  # non-literal pattern: loud
            continue
        import glob as _glob

        # statement text is Spark-escaped; un-double for the OS glob
        files = sorted(_glob.glob(lit.group(1).replace("\\\\", "\\")))
        if files:
            vals = ", ".join("('" + f.replace("'", "''") + "')" for f in files)
            repl = f"(SELECT file FROM (VALUES {vals}) AS __glob_v(file))"
        else:
            repl = "(SELECT CAST(NULL AS STRING) AS file WHERE 1 = 0)"
        q = q[: m.start()] + repl + q[end:]
        pos = m.start() + len(repl)
    return q


def _rewrite_series_unnest(q: str) -> str:
    # generate_series: both forms in one scan (TVF when preceded by FROM)
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _GEN_SERIES.search(masked, pos)
        if m is None:
            break
        i = _scan_balanced(masked, m.end())
        inner = q[m.end() : i - 1]
        args = _split_top_level(inner, masked[m.end() : i - 1])
        if len(args) not in (2, 3):
            pos = m.end()
            continue
        seq = (
            f"sequence({inner})"
            if len(args) == 3
            else f"sequence({inner}, 1)"
        )
        if _FROM_TAIL.search(masked, 0, m.start()):
            # `\s*$` pins the match to a FROM immediately preceding: TVF
            alias, after = _tvf_alias_at(q, masked, i, "generate_series")
            q = q[: m.start()] + f"explode({seq}){alias}" + q[after:]
        else:
            q = q[: m.start()] + seq + q[i:]
        pos = m.start()  # rescan: nested calls inside the args
    # FROM range(a[, b[, s]]) — DuckDB's half-open integer table
    # generator, default column name `range`. Spark's NATIVE range TVF
    # has the exact same half-open value semantics (incl. negative
    # steps) and is the right engine at scale — a lazy, distributed
    # row source split across executors, not an explode of a
    # materialized array — so the rewrite just renames the output
    # column (`id` → `range`) through the alias clause. Error-edge
    # parity (pinned live vs DuckDB 1.x): equal bounds → empty on
    # both; a direction-mismatched or zero step is a DuckDB BINDER
    # error where Spark returns empty/errors differently — when the
    # arguments are integer literals the mismatch is detected here and
    # rewritten to a raise_error subquery with DuckDB's message.
    # Non-literal arguments take the native path (values identical;
    # the error edge alone diverges — documented pin). Non-FROM
    # positions are left for the scalar shim, which skips FROM
    # position (_rewrite_list_fn_shims runs after this pass).
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _RANGE_TVF.search(masked, pos)
        if m is None:
            break
        if not _in_tvf_position(masked, m.start()):
            pos = m.end()
            continue
        i = _scan_balanced(masked, m.end())
        inner = q[m.end() : i - 1]
        args = _split_top_level(inner, masked[m.end() : i - 1])
        if len(args) not in (1, 2, 3):
            pos = m.end()
            continue
        err = None
        try:
            vals = [int(x) for x in args]
        except ValueError:
            vals = None
        if vals is not None:
            a0, b0 = (0, vals[0]) if len(vals) == 1 else (vals[0], vals[1])
            s0 = vals[2] if len(vals) == 3 else 1
            if s0 == 0:
                err = "interval cannot be 0!"
            elif b0 > a0 and s0 < 0:
                err = (
                    "start is smaller than end, but increment is "
                    "negative: cannot generate infinite series"
                )
            elif b0 < a0 and s0 > 0:
                err = (
                    "start is bigger than end, but increment is "
                    "positive: cannot generate infinite series"
                )
        alias, after = _tvf_alias_at(q, masked, i, "range")
        if err is not None:
            repl = f"(SELECT raise_error('{err}') AS range){alias}"
        else:
            repl = f"range({inner}){alias}"
        q = q[: m.start()] + repl + q[after:]
        pos = m.start() + len(repl)
    # FROM unnest(arr) — scalar unnest renames via the alias table.
    # DuckDB 1.0's default column name is the RENDERED ARGUMENT
    # expression (pinned live: unnest([1,2,3]) → `main.list_value(1, 2,
    # 3)`, unnest(range(1,4)) → `range(1, 4)`; a bare table alias does
    # NOT rename the column — only an explicit column list does).
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _FROM_UNNEST.search(masked, pos)
        if m is None:
            return q
        i = _scan_balanced(masked, m.end())
        inner = q[m.end() : i - 1]
        minner = masked[m.end() : i - 1]
        alias, after = _tvf_alias_at(
            q, masked, i, _duck_unnest_colname(inner, minner)
        )
        q = q[: m.start()] + f"{m.group(1)} explode({inner}){alias}" + q[after:]
        pos = m.start() + len(m.group(1)) + 1  # past FROM: rescan subqueries


def _ucol_encode(name: str) -> str:
    """Hex-armored column-name placeholder — NO later pass can corrupt
    it; decoded once at the end of rewrite_common."""
    return "__DUCK_UCOL_" + name.encode("utf-8").hex() + "__"


_UCOL_RE = re.compile(r"__DUCK_UCOL_([0-9a-f]+)__")


def _duck_unnest_colname(inner: str, minner: str) -> str:
    """DuckDB 1.0's rendered-expression default column name for a
    FROM-position unnest argument: `[a, b]` → `main.list_value(a, b)`
    (scalar calls render schema-qualified, args ', '-joined); a call
    like range(1,4) renders as `range(1, 4)`; anything else keeps its
    own text."""
    # the WHOLE name is emitted hex-encoded in a placeholder (resolved
    # at the END of rewrite_common): later passes rewrite inside
    # backtick identifiers too (the fn-alias table maps list_value →
    # array; the list shims match range( — review r11 caught
    # unnest(range(1,4))'s name being rewritten), and a placeholder is
    # the established self-protection mechanism
    s, ms = inner.strip(), minner.strip()
    if s.startswith("[") and s.endswith("]"):
        items = _split_top_level(s[1:-1], ms[1:-1])
        return _ucol_encode(f"main.list_value({', '.join(items)})")
    cm = re.match(r"^([A-Za-z_]\w*)\s*\(", s)
    if cm and ms and _scan_balanced(ms, len(cm.group(0))) == len(ms):
        args = _split_top_level(
            s[len(cm.group(0)) : -1], ms[len(cm.group(0)) : -1]
        )
        name = cm.group(1)
        if name.lower() in ("array", "list_value"):
            # the bracket literal may already be spelled array(…) by an
            # earlier pass — duck renders both as main.list_value(…)
            return _ucol_encode(f"main.list_value({', '.join(args)})")
        return _ucol_encode(f"{name}({', '.join(args)})")
    return s


# DuckDB sampling clauses (round 7): `… FROM t USING SAMPLE <spec>` /
# `TABLESAMPLE <method>(<n>)` → Spark's `TABLESAMPLE (<n> ROWS|PERCENT)`
# in the same position. Units follow DuckDB's defaults: a bare number
# means ROWS, bernoulli/system without a unit mean PERCENT, reservoir
# without a unit means ROWS. Row-count forms are exact on both engines;
# percent forms are approximate on both (DuckDB system picks whole
# vectors, Spark samples per split — sampling is non-deterministic
# either way, so no oracle twin).
#
# SCOPE GUARD (review finding): DuckDB's USING SAMPLE is a STATEMENT-
# level clause — `FROM t1, t2 USING SAMPLE 5 ROWS` samples the JOIN
# RESULT, and `FROM t WHERE p USING SAMPLE n` samples after the filter.
# Spark's TABLESAMPLE attaches to ONE table ref, so the rewrite is only
# exact when the clause directly follows the sole relation of its FROM
# scope. Any top-level comma/JOIN/WHERE between that FROM and the
# clause → pass through untouched (Spark errors loudly; never a
# silently mis-scoped sample). Seeded forms (`(system, 377)`) pass
# through whole; Spark-spelled `TABLESAMPLE (…)` (paren first) never
# matches — no double rewrite.
_USING_SAMPLE = re.compile(
    r"\b(?:using\s+sample|tablesample)\s+"
    r"(?:(?P<meth>bernoulli|system|reservoir)\s*\(\s*(?P<mval>\d+(?:\.\d+)?)\s*"
    r"(?P<munit>%|percent\b|rows\b)?\s*\)"
    r"|(?P<val>\d+(?:\.\d+)?)\s*(?P<unit>%|percent\b|rows\b)?"
    r"(?:\s*\(\s*(?P<meth2>bernoulli|system|reservoir)\s*\))?)",
    re.IGNORECASE,
)


def _sample_scope_is_single_relation(masked: str, start: int) -> bool:
    """True when the sampling clause at `start` directly follows the ONLY
    relation of its FROM scope: find the enclosing paren scope, take its
    last same-depth FROM, and reject if any same-depth comma/JOIN/WHERE
    sits between that FROM and the clause."""
    depth, i, scope = 0, start - 1, 0
    while i >= 0:
        ch = masked[i]
        if ch == ")":
            depth += 1
        elif ch == "(":
            if depth == 0:
                scope = i + 1
                break
            depth -= 1
        i -= 1
    seg = masked[scope:start]
    fm_end, depth = None, 0
    for m2 in re.finditer(r"[()]|\bfrom\b", seg, re.IGNORECASE):
        tok = m2.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            fm_end = m2.end()
    if fm_end is None:
        return False
    depth = 0
    for m2 in re.finditer(r"[(),]|\bjoin\b|\bwhere\b", seg[fm_end:], re.IGNORECASE):
        tok = m2.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return False
    return True


def _rewrite_using_sample(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _USING_SAMPLE.search(masked, pos)
        if m is None:
            return q
        if m.group("meth2") is None and re.match(r"\s*\(", masked[m.end() :]):
            # an unconsumed following paren is a seeded/extended method
            # spec (`10% (system, 377)`) — leave the whole clause alone
            pos = m.end()
            continue
        if not _sample_scope_is_single_relation(masked, m.start()):
            pos = m.end()
            continue
        val = m.group("mval") or m.group("val")
        unit = m.group("munit") or m.group("unit")
        meth = (m.group("meth") or m.group("meth2") or "").lower()
        if unit:
            kind = "PERCENT" if unit.strip().lower() in ("%", "percent") else "ROWS"
        else:
            kind = "PERCENT" if meth in ("bernoulli", "system") else "ROWS"
        repl = f"TABLESAMPLE ({val} {kind})"
        q = q[: m.start()] + repl + q[m.end() :]
        pos = m.start() + len(repl)


# ---------------------------------------------------------------------------
# SELECT DISTINCT ON (round 7): the PG/DuckDB idiom (pg_conn.go delegates
# it to embedded DuckDB; Spark's parser rejects it outright). Rewrite in
# place to the row_number()=1 window idiom — the same plan shape as
# operators/relational.py distinct_on, ONE shuffle on the partition keys:
#     SELECT DISTINCT ON (k) sel FROM … [ORDER BY ob] [LIMIT/OFFSET …]
#   → SELECT * EXCEPT (__don_rn_N) FROM (
#       SELECT sel, row_number() OVER (PARTITION BY k ORDER BY ob|k)
#         AS __don_rn_N FROM …) __don_N
#     WHERE __don_rn_N = 1 [ORDER BY ob] [LIMIT/OFFSET …]
# The helper column is EXCEPTed in the same statement, so it can never
# leak to clients through any projection shape. Without ORDER BY the
# picked row is arbitrary in DuckDB too — keys as the window order keeps
# the plan deterministic. WHERE/GROUP BY/HAVING stay inside the inner
# select (DISTINCT ON applies after them, matching both engines).
# Loud-by-construction edges: an ORDER BY naming a select-list ALIAS
# fails analysis inside the window (Spark resolves window order against
# the input), an outer ORDER BY on a non-projected base column fails on
# the derived table, set operations and FROM-less selects pass through
# untouched — in every case Spark errors on the text instead of silently
# drifting from DuckDB.
# ---------------------------------------------------------------------------
_DISTINCT_ON = re.compile(r"\bselect\s+distinct\s+on\s*\(", re.IGNORECASE)
_DON_CLAUSE = re.compile(
    r"[()]|\bfrom\b|\border\s+by\b|\blimit\b|\boffset\b|"
    r"\bunion\b|\bintersect\b|\bexcept\b",
    re.IGNORECASE,
)
_DON_SEQ = [0]


def _rewrite_distinct_on(q: str) -> str:
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _DISTINCT_ON.search(masked, pos)
        if m is None:
            return q
        keys_end = _scan_balanced(masked, m.end())
        keys = q[m.end() : keys_end - 1].strip()
        # one forward scan for this select's top-level clause boundaries;
        # the scope ends where depth goes negative (enclosing ')') or EOS
        depth = 0
        from_pos = order_pos = order_kw_end = tail_pos = None
        scope_end, setop = len(q), False
        for t in _DON_CLAUSE.finditer(masked, keys_end):
            tok = t.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
                if depth < 0:
                    scope_end = t.start()
                    break
            elif depth == 0:
                kw = tok.lower()
                if kw == "from":
                    if from_pos is None:
                        from_pos = t.start()
                elif from_pos is None:
                    continue  # ORDER BY inside a sel-list window spec etc.
                elif kw.startswith("order"):
                    if order_pos is None:
                        order_pos, order_kw_end = t.start(), t.end()
                elif kw in ("limit", "offset"):
                    if tail_pos is None:
                        tail_pos = t.start()
                else:  # union/intersect/except after FROM = set operation
                    setop = True
                    break
        if setop or from_pos is None or not keys:
            pos = m.end()  # pass through: Spark errors loudly
            continue
        sel = q[keys_end:from_pos].strip()
        body_end = min(p for p in (order_pos, tail_pos, scope_end) if p is not None)
        body = q[from_pos:body_end].strip()
        ob_end = tail_pos if tail_pos is not None else scope_end
        ob = q[order_kw_end:ob_end].strip() if order_pos is not None else None
        tail = q[tail_pos:scope_end].strip() if tail_pos is not None else ""
        # the outer ORDER BY re-sorts the one-row-per-key result; DuckDB
        # lets it reference non-projected columns and aggregates, which
        # the derived table hides — so each ORDER BY expression is
        # projected as a helper column in the inner select and EXCEPTed
        # back out (bare-integer items are POSITIONAL in DuckDB; the
        # statement passes through rather than ordering by a constant)
        ob_helpers: list[tuple[str, str]] = []  # (expr, trailing modifiers)
        if ob is not None:
            positional = False
            for item in _split_top_level(
                ob, _mask_literals(ob) if "'" in ob else None
            ):
                im = re.match(
                    r"^(.*?)((?:\s+(?:asc|desc))?(?:\s+nulls\s+(?:first|last))?)\s*$",
                    item,
                    re.IGNORECASE | re.DOTALL,
                )
                expr = im.group(1).strip()
                if re.fullmatch(r"\d+", expr):
                    positional = True
                    break
                ob_helpers.append((expr, im.group(2).strip()))
            if positional:
                pos = m.end()
                continue
            # a bare select-list ALIAS in ORDER BY (DuckDB resolves it;
            # Spark's window and the inner projection can't) → substitute
            # its expression; only exact-alias items, so expressions OVER
            # aliases still error loudly rather than half-resolve
            alias_map = {}
            for s_item in _split_top_level(
                sel, _mask_literals(sel) if "'" in sel else None
            ):
                am = re.match(
                    r"^(.*\S)\s+as\s+([A-Za-z_]\w*)\s*$",
                    s_item,
                    re.IGNORECASE | re.DOTALL,
                )
                if am:
                    alias_map[am.group(2).lower()] = am.group(1).strip()
            # DuckDB's default null order is NULLS LAST for both
            # directions; Spark's ASC default is NULLS FIRST — pin it
            # explicitly or a NULL in an order column flips which row
            # wins rn=1 (and which rows a LIMIT keeps)
            ob_helpers = [
                (
                    alias_map.get(e.lower(), e),
                    mods if "nulls" in mods.lower() else f"{mods} NULLS LAST".strip(),
                )
                for e, mods in ob_helpers
            ]
        _DON_SEQ[0] += 1
        n = _DON_SEQ[0]
        helper_cols = "".join(
            f", ({e}) AS __don_ob_{n}_{i}" for i, (e, _) in enumerate(ob_helpers)
        )
        window_ob = (
            ", ".join(f"{e} {mods}".strip() for e, mods in ob_helpers)
            if ob_helpers
            else keys
        )
        inner = (
            f"SELECT {sel}{helper_cols}, row_number() OVER (PARTITION BY {keys} "
            f"ORDER BY {window_ob}) AS __don_rn_{n} {body}"
        )
        except_list = ", ".join(
            [f"__don_rn_{n}"] + [f"__don_ob_{n}_{i}" for i in range(len(ob_helpers))]
        )
        repl = (
            f"SELECT * EXCEPT ({except_list}) FROM ({inner}) __don_{n} "
            f"WHERE __don_rn_{n} = 1"
        )
        if ob_helpers:
            outer_ob = ", ".join(
                f"__don_ob_{n}_{i} {mods}".strip()
                for i, (_, mods) in enumerate(ob_helpers)
            )
            repl += f" ORDER BY {outer_ob}"
        if tail:
            repl += " " + tail
        q = q[: m.start()] + repl + q[scope_end:]
        # rescan from the top: nested DISTINCT ON in sel/body still needs
        # rewriting, and this site's keyword is consumed (no livelock)


# ---------------------------------------------------------------------------
# DuckDB/PG bracket & brace literals + 1-based subscripts (round 7; the
# SURVEY §7 "list literals" dialect gap). All rewrites are literal-masked
# and balanced-scan based; every shape outside the exact contract passes
# through and errors loudly in Spark rather than drifting.
#
# - `[a, b, c]` / `ARRAY[a, b, c]` → `array(a, b, c)`; `[]` → `array()`.
#   A '[' is a LITERAL only when it does not follow a primary expression
#   (identifier, ')', ']', quoted identifier) — otherwise it's a
#   subscript.
# - `{'k': v, …}` → `named_struct('k', v, …)`; `MAP {'k': v}` → map(…).
# - `base[n]` (INTEGER-LITERAL index) → `try_element_at(base, n)`: both
#   engines are 1-based with NULL out-of-bounds and negative-from-end;
#   DuckDB's `[0]` is NULL, Spark's errors — rewritten to NULL when the
#   literal is 0. NON-literal indexes pass through: Spark's native `[i]`
#   is 0-based, but rewriting blind would also break Spark-native maps
#   (`m['k']` stays native; NOTE DuckDB map subscripts return a
#   single-element LIST — a documented, loud-in-tests divergence).
# - `base[a:b]` (positive-literal slice) → `slice(base, a, b-a+1)`;
#   open ends use 1 / size(base). Other slice shapes pass through.
# ---------------------------------------------------------------------------
# incl. } (brace literals) and ' (string literals: 'xyz'[2] subscripts)
_PRIMARY_END = re.compile(r"[\w$\"`'\)\]}]")
_INT_LIT = re.compile(r"^\s*(-?\d+)\s*$")
_SLICE_LIT = re.compile(r"^\s*(-?\d+|)\s*:\s*(-?\d+|)\s*$")
# duck's stepped slice `l[a:b:c]` (LISTS only — duck itself rejects the
# string form, round 12). Nonzero literal step required.
_SLICE_STEP_LIT = re.compile(
    r"^\s*(-?\d+|)\s*:\s*(-?\d+|)\s*:\s*(-?[1-9]\d*)\s*$"
)


def _slice_bound(lit: str, default: str, size_expr: str) -> str:
    """1-based slice bound; a NEGATIVE literal counts from the end
    (duck: -1 = last element, pinned [1..5][-3:-2] = [3,4])."""
    if not lit:
        return default
    v = int(lit)
    if v < 0:
        return f"({size_expr} + 1 - {-v})"
    return str(v)
# a bracket directly after one of these WORDS is a literal, not a
# subscript of the keyword ("SELECT [1,2]", "WHEN [..] THEN", "IN", …)
_NON_PRIMARY_KEYWORDS = frozenset(
    "select where when then else and or not in as on by from case end union "
    "all distinct having limit offset set values returning intersect except "
    "group order like ilike between is exists any some using with".split()
)


def _subscript_position(masked: str, i: int) -> bool:
    """True when the '[' at masked[i] follows a primary expression (a
    subscript), False when it opens a literal."""
    before = masked[:i].rstrip()
    if not before or not _PRIMARY_END.match(before[-1]):
        return False
    w = re.search(r"([A-Za-z_]\w*)$", before)
    if w and w.group(1).lower() in _NON_PRIMARY_KEYWORDS | {"array"}:
        return False
    return True


def _expr_start(masked: str, end: int) -> int:
    """Index where the primary expression ENDING at `end` (exclusive)
    begins: walks back over identifier chains, quoted identifiers, and
    balanced ()/[] groups joined by '.'."""
    i = end
    while i > 0:
        ch = masked[i - 1]
        if ch in ")]":
            opener = "(" if ch == ")" else "["
            depth, j = 0, i - 1
            while j >= 0:
                if masked[j] == ch:
                    depth += 1
                elif masked[j] == opener:
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j < 0:
                return i
            i = j
            # a call: consume the function name too
            while i > 0 and (masked[i - 1].isalnum() or masked[i - 1] in "_$"):
                i -= 1
            continue
        if ch == "'":
            # string literal base (masked shows bare '…' delimiters):
            # walk to its opening quote
            j = i - 2
            while j >= 0 and masked[j] != "'":
                j -= 1
            if j < 0:
                return i
            i = j
            continue
        if ch in '"`':
            q = ch
            j = i - 2
            while j >= 0 and masked[j] != q:
                j -= 1
            i = j if j >= 0 else i
            continue
        if ch.isalnum() or ch in "_$.":
            i -= 1
            continue
        break
    return i


def _rewrite_bracket_literals(q: str) -> str:
    """`[a, b]` and `ARRAY[a, b]` → array(a, b) at every non-subscript
    bracket (one rewrite per pass, rescan until stable)."""
    while True:
        masked = _mask_literals(q)
        changed = False
        for m in re.finditer(r"\[", masked):
            i = m.start()
            if _subscript_position(masked, i):
                continue
            before = masked[:i].rstrip()
            prev_word = re.search(r"([A-Za-z_]\w*)\s*$", before)
            is_array_kw = (
                prev_word is not None and prev_word.group(1).lower() == "array"
            )
            end = _scan_sq_balanced(masked, i + 1)
            if end is None:
                continue
            inner = q[i + 1 : end - 1]
            # a ':' marks a slice — but only OUTSIDE brace literals:
            # [{'a':1}] is a list of structs, not a slice (round 10)
            minner = _mask_literals(inner)
            bdepth, is_slice = 0, False
            for ch in minner:
                if ch == "{":
                    bdepth += 1
                elif ch == "}":
                    bdepth -= 1
                elif ch == ":" and bdepth == 0:
                    is_slice = True
                    break
            if is_slice:
                continue
            start = prev_word.start(1) if is_array_kw else i
            q = q[:start] + f"array({inner})" + q[end:]
            changed = True
            break
        if not changed:
            return q


def _scan_sq_balanced(masked: str, start: int) -> int | None:
    """Index past the ']' balancing the '[' that `start` sits after
    (None when unbalanced)."""
    depth, i = 1, start
    while i < len(masked):
        if masked[i] == "[":
            depth += 1
        elif masked[i] == "]":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return None


# `{…}::VARCHAR` / `({…})::VARCHAR` — duck renders struct duck-text:
# `{'k': 1, 's': a b}` (keys single-quoted, values raw/unquoted, NULL
# spelled NULL). Spark's struct→string cast renders values only ({1}).
# Closed for brace LITERALS (the only bind-time-provable struct shape)
# by concatenating per-field prefixes with each value cast to STRING;
# nested brace literals recurse, list values keep Spark's '[1, 2]'
# rendering which matches duck's. Runs BEFORE the brace→named_struct
# pass (round 12). Struct-typed COLUMN casts stay documented
# (probe list_to_str_cast).
_STRUCT_VARCHAR_POST = re.compile(
    r"\s*::\s*(?:varchar|text|string)\b", re.IGNORECASE
)


def _scan_brace(masked: str, i: int) -> int | None:
    """End index (exclusive) of the brace group opening at masked[i]."""
    depth, j = 1, i + 1
    while j < len(masked) and depth:
        if masked[j] == "{":
            depth += 1
        elif masked[j] == "}":
            depth -= 1
        j += 1
    return None if depth else j


def _brace_to_ducktext(inner: str, inner_masked: str) -> str | None:
    pieces: list[str] = []
    items = _split_top_level(inner, inner_masked)
    if not items:
        return None
    for idx, item in enumerate(items):
        im = _mask_literals(item)
        ci = im.find(":")
        if ci < 0:
            return None
        key, val = item[:ci].strip(), item[ci + 1 :].strip()
        km = re.match(r"^'([^']*)'$", key)
        if km is None:
            return None
        prefix = ("{" if idx == 0 else ", ") + f"'{km.group(1)}': "
        pieces.append("'" + prefix.replace("'", "''") + "'")
        vm = _mask_literals(val)
        if val.startswith("{") and _scan_brace(vm, 0) == len(val):
            nested = _brace_to_ducktext(val[1:-1], vm[1:-1])
            if nested is None:
                return None
            pieces.append(nested)
        else:
            pieces.append(f"coalesce(CAST(({val}) AS STRING), 'NULL')")
    pieces.append("'}'")
    return "(" + " || ".join(pieces) + ")"


def _rewrite_struct_varchar_casts(q: str) -> str:
    if "{" not in q or "::" not in q:
        return q
    while True:
        masked = _mask_literals(q)
        hit = None
        for m in re.finditer(r"\{", masked):
            i = m.start()
            j = _scan_brace(masked, i)
            if j is None:
                return q
            # MAP {…} literals keep native map rendering
            mp = re.search(r"([A-Za-z_]\w*)\s*$", masked[:i].rstrip())
            if mp is not None and mp.group(1).lower() == "map":
                continue
            start, end = i, j
            # optional single paren wrap: ({…})::VARCHAR
            before = masked[:i].rstrip()
            after_ws = j
            while after_ws < len(masked) and masked[after_ws].isspace():
                after_ws += 1
            if (
                before.endswith("(")
                and after_ws < len(masked)
                and masked[after_ws] == ")"
            ):
                pm = _STRUCT_VARCHAR_POST.match(masked, after_ws + 1)
                if pm is not None:
                    start, end = len(before) - 1, pm.end()
            if start == i:
                pm = _STRUCT_VARCHAR_POST.match(masked, j)
                if pm is None:
                    continue
                end = pm.end()
            text = _brace_to_ducktext(q[i + 1 : j - 1], masked[i + 1 : j - 1])
            if text is None:
                continue
            hit = (start, end, text)
            break
        if hit is None:
            return q
        s0, e0, rep = hit
        q = q[:s0] + rep + q[e0:]


def _rewrite_brace_literals(q: str) -> str:
    """`{'k': v, …}` → named_struct('k', v, …); `MAP {'k': v}` → map."""
    while True:
        masked = _mask_literals(q)
        m = re.search(r"\{", masked)
        if m is None:
            return q
        i = m.start()
        depth, j = 1, i + 1
        while j < len(masked) and depth:
            if masked[j] == "{":
                depth += 1
            elif masked[j] == "}":
                depth -= 1
            j += 1
        if depth:
            return q  # unbalanced: leave for Spark to reject loudly
        inner, inner_masked = q[i + 1 : j - 1], masked[i + 1 : j - 1]
        pairs: list[str] = []
        ok = True
        for item in _split_top_level(inner, inner_masked):
            im = _mask_literals(item)
            ci = im.find(":")
            if ci < 0:
                ok = False
                break
            key, val = item[:ci].strip(), item[ci + 1 :].strip()
            if not re.match(r"^'[^']*'$", key):
                ok = False  # unquoted / computed keys: pass through loudly
                break
            pairs.append(f"{key}, {val}")
        if not ok or not pairs:
            return q
        before = masked[:i].rstrip()
        mp = re.search(r"([A-Za-z_]\w*)\s*$", before)
        if mp is not None and mp.group(1).lower() == "map":
            q = q[: mp.start(1)] + f"map({', '.join(pairs)})" + q[j:]
        else:
            q = q[:i] + f"named_struct({', '.join(pairs)})" + q[j:]


def _rewrite_subscripts(q: str) -> str:
    """Integer-literal subscripts and positive-literal slices on a
    primary expression (1-based DuckDB semantics)."""
    while True:
        masked = _mask_literals(q)
        changed = False
        for m in re.finditer(r"\[", masked):
            i = m.start()
            if not _subscript_position(masked, i):
                continue  # literal position (already handled)
            end = _scan_sq_balanced(masked, i + 1)
            if end is None:
                continue
            inner = q[i + 1 : end - 1]
            before_end = len(masked[:i].rstrip())
            base_start = _expr_start(masked, before_end)
            base = q[base_start:before_end].strip()
            if not base:
                continue
            il = _INT_LIT.match(inner)
            sl = _SLICE_LIT.match(inner)
            st = _SLICE_STEP_LIT.match(inner)
            if st is not None:
                # stepped LIST slice: positions a, a+c, … walked with a
                # lazy sequence + element reads; direction-mismatched
                # bounds yield [] (duck), and sequence() never sees them
                size_e = f"size({base})"
                c = int(st.group(3))
                if c > 0:
                    a = f"greatest({_slice_bound(st.group(1), '1', size_e)}, 1)"
                    b = f"least({_slice_bound(st.group(2), size_e, size_e)}, {size_e})"
                    cmp_op = "<="
                else:
                    a = f"least({_slice_bound(st.group(1), size_e, size_e)}, {size_e})"
                    b = f"greatest({_slice_bound(st.group(2), '1', size_e)}, 1)"
                    cmp_op = ">="
                repl = (
                    f"(CASE WHEN ({a}) {cmp_op} ({b}) THEN "
                    f"transform(sequence({a}, {b}, {c}), "
                    f"sl_i -> try_element_at({base}, sl_i)) "
                    "ELSE array() END)"
                )
                q = q[:base_start] + repl + q[end:]
                changed = True
                break
            # a provably-MAP base — map literal (MAP {…} → map(…)) or a
            # map-constructor call — takes duck-1.0 subscript semantics:
            # m[k] is the ONE-ELEMENT LIST [v], missing/NULL key → []
            # (pinned live; same shape as the map_extract shim). Only
            # provable bases rewrite; a map-typed COLUMN subscript keeps
            # Spark's scalar element_at (type-blind here — documented).
            if re.match(
                r"^\(*\s*map(_from_arrays|_from_entries|_concat)?\s*\(",
                base,
                re.IGNORECASE,
            ) and not sl:
                key = inner.strip()
                # key test via a null-safe lambda equality, NOT
                # map_contains_key — Spark rejects an untyped NULL
                # literal there, and duck's m[NULL] is [] (pinned)
                # parenthesized so a CHAINED subscript (m['k'][1]) sees
                # a balanced primary base on the rescan
                repl = (
                    f"(CASE WHEN size(filter(map_keys({base}), "
                    f"mk_k -> mk_k <=> ({key}))) > 0 "
                    f"THEN array(try_element_at({base}, {key})) "
                    "ELSE array() END)"
                )
                q = q[:base_start] + repl + q[end:]
                changed = True
                break
            # a STRING base takes duck's 1-based substring semantics
            # ('abcde'[2] = 'b', [2:4] = 'bcd') — only provably-string
            # bases rewrite (a literal, optionally parenthesized);
            # column bases are type-blind and keep list semantics
            is_str = bool(
                re.fullmatch(r"\(?\s*'(?:[^']|'')*'\s*\)?", base)
            )
            if il and is_str:
                # duck: 'abc'[0] is the EMPTY STRING, not NULL (pinned)
                idx = int(il.group(1))
                repl = "''" if idx == 0 else f"substring({base}, {idx}, 1)"
            elif sl and is_str:
                # duck clamps a 0 start to 1 (pinned: 'abcde'[0:2]='ab');
                # negative bounds count from the end (round 11)
                size_e = f"length({base})"
                a = f"greatest({_slice_bound(sl.group(1), '1', size_e)}, 1)"
                b = _slice_bound(sl.group(2), size_e, size_e)
                length = f"greatest(({b}) - ({a}) + 1, 0)"
                repl = f"substring({base}, ({a}), {length})"
            elif il:
                idx = int(il.group(1))
                repl = (
                    "NULL" if idx == 0 else f"try_element_at({base}, {inner.strip()})"
                )
            elif sl:
                # duck clamps a 0 start to 1 for lists too (pinned:
                # [1,2,3][0:2] = [1,2]; Spark slice() errors on 0);
                # negative bounds count from the end (round 11)
                size_e = f"size({base})"
                a = f"greatest({_slice_bound(sl.group(1), '1', size_e)}, 1)"
                b = _slice_bound(sl.group(2), size_e, size_e)
                length = f"greatest(({b}) - ({a}) + 1, 0)"
                repl = f"slice({base}, ({a}), {length})"
            else:
                continue  # non-literal index/slice: pass through
            q = q[:base_start] + repl + q[end:]
            changed = True
            break
        if not changed:
            return q


# DuckDB simplified UNPIVOT statement (round 7):
#     UNPIVOT tbl ON c1, c2, … INTO NAME n VALUE v
# → Spark's SQL-standard clause (which DuckDB also accepts):
#     SELECT * FROM tbl UNPIVOT (v FOR n IN (c1, c2, …))
# Both engines exclude NULL cells by default — semantics line up exactly.
# Column-pattern forms (COLUMNS(*), exclude lists, multi-VALUE) don't
# match the regex and pass through loudly.
_UNPIVOT_STMT = re.compile(
    r"^\s*unpivot\s+([\w.`\"]+)\s+on\s+(.+?)\s+into\s+name\s+"
    r"([\w`\"]+)\s+value\s+([\w`\"]+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_unpivot_stmt(q: str) -> str:
    m = _UNPIVOT_STMT.match(q)
    if m is None:
        return q
    tbl, cols, name, val = m.groups()
    return f"SELECT * FROM {tbl} UNPIVOT ({val} FOR {name} IN ({cols}))"


# DML RETURNING (round 7): split `INSERT/UPDATE/DELETE … RETURNING items`
# into (base statement, items text). Only the LAST top-level occurrence
# counts — a RETURNING inside a subquery or string literal never splits.
_RETURNING_TOK = re.compile(r"[()]|\breturning\b", re.IGNORECASE)
_DML_VERB = re.compile(r"^\s*(insert|update|delete)\b", re.IGNORECASE)


def split_returning(q: str) -> tuple[str, str] | None:
    """→ (DML statement without the clause, RETURNING item list) or None
    when the statement has no top-level RETURNING (or isn't DML)."""
    if not _DML_VERB.match(q):
        return None
    masked = _mask_literals(q)
    depth, hit = 0, None
    for t in _RETURNING_TOK.finditer(masked):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            hit = t
    if hit is None:
        return None
    items = q[hit.end() :].strip().rstrip(";").strip()
    return q[: hit.start()].rstrip(), items


# EXTRACT(EPOCH FROM x) → unix_timestamp(x): PG/DuckDB idiom Spark's
# EXTRACT doesn't accept (it has no EPOCH field). Needs a balanced-paren
# scan because x can contain calls.
_EXTRACT_EPOCH = re.compile(r"\bEXTRACT\s*\(\s*EPOCH\s+FROM\b", re.IGNORECASE)


def _rewrite_extract_epoch(q: str) -> str:
    # Search and paren-scan on the literal-MASKED text (so 'EXTRACT('
    # or parens inside string literals are invisible), slice the
    # original so literal contents pass through untouched.
    while True:
        masked = _mask_literals(q)
        m = _EXTRACT_EPOCH.search(masked)
        if not m:
            return q
        depth = 1
        i = m.end()
        while i < len(masked) and depth:
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
            i += 1
        inner = q[m.end() : i - 1]
        # DOUBLE with the fractional seconds — duck's extract(epoch)
        # yields 1704164645.25 for a .25s timestamp (pinned round 10;
        # the old unix_timestamp() rewrite truncated to whole seconds)
        q = (
            q[: m.start()]
            + f"(CAST(unix_micros(CAST({inner.strip()} AS TIMESTAMP)) "
            "AS DOUBLE) / 1000000)"
            + q[i:]
        )


# duck casts a duck-list-syntax STRING to a typed list:
# '[1, 2, 3]'::INT[] parses the text ([] → empty; '[a, b]'::VARCHAR[]
# keeps elements verbatim minus surrounding whitespace — quotes are NOT
# stripped, pinned live round 12). Literal operands parse at bind time
# into an array literal; dynamic operands pass through loudly.
_STR_ARR_POSTFIX = re.compile(
    r"\s*::\s*([A-Za-z_]\w*)\s*\[\s*\](?!\s*\[)", re.IGNORECASE
)
_ARR_ELEM_SAFE = re.compile(r"[-+0-9.eE]+|true|false|null", re.IGNORECASE)


def _split_list_text(inner: str) -> list[str]:
    """Split duck list-literal text on top-level commas. Double-quoted
    segments are atomic (commas/brackets inside them don't split) but
    the quotes themselves stay verbatim in the element — pinned live:
    '["a,b", c]'::VARCHAR[] = ['"a,b"', 'c']."""
    out, buf, depth, in_dq = [], [], 0, False
    for ch in inner:
        if in_dq:
            buf.append(ch)
            if ch == '"':
                in_dq = False
            continue
        if ch == '"':
            in_dq = True
            buf.append(ch)
        elif ch in "[{(":
            depth += 1
            buf.append(ch)
        elif ch in "]})":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf).strip())
    return out


def _rewrite_str_list_casts(q: str) -> str:
    if "::" not in q or "[" not in q:
        return q
    while True:
        masked = _mask_literals(q)
        hit = None
        for s, e, kind in _protected_spans(q):
            if kind != "quote":
                continue
            content = q[s + 1 : e - 1].strip()
            if not (content.startswith("[") and content.endswith("]")):
                continue
            pm = _STR_ARR_POSTFIX.match(masked, e)
            if pm is None:
                continue
            ty = pm.group(1)
            inner = content[1:-1].strip()
            elems = _split_list_text(inner) if inner else []
            sty = normalize_type(f"{ty}[]")
            if ty.lower() in ("varchar", "text", "string", "bpchar", "char"):
                body = ", ".join(f"'{x}'" for x in elems)
            elif all(_ARR_ELEM_SAFE.fullmatch(x) for x in elems):
                body = ", ".join(elems)
            else:
                continue  # unparseable element: loud native error
            hit = (s, pm.end(), f"CAST(array({body}) AS {sty})")
            break
        if hit is None:
            return q
        s0, e0, rep = hit
        q = q[:s0] + rep + q[e0:]


# duck's sub-second EXTRACT fields (round 12, pinned live):
# second/seconds TRUNCATE to a BIGINT (00:00:02.25 → 2) where Spark's
# SECOND is DECIMAL(8,6); milliseconds/microseconds scale the
# fractional seconds (2250 / 1500000). Works for TIME and TIMESTAMP
# operands alike (both extract SECOND as decimal in Spark).
_EXTRACT_SUBSEC = re.compile(
    r"\bEXTRACT\s*\(\s*(micro|milli)?seconds?\s+FROM\b", re.IGNORECASE
)
# date_part spelling on purpose: an EXTRACT in the template would
# re-match _EXTRACT_SUBSEC and loop the rewriter
_SUBSEC_TEMPLATES = {
    "": "CAST(floor(date_part('SECOND', {0})) AS BIGINT)",
    # milli TRUNCATES in duck (01.9996 → 1999, pinned live); micro is
    # exact at µs granularity so floor == round
    "milli": "CAST(floor(date_part('SECOND', {0}) * 1000) AS BIGINT)",
    "micro": "CAST(floor(date_part('SECOND', {0}) * 1000000) AS BIGINT)",
}


def _rewrite_extract_subsec(q: str) -> str:
    while True:
        masked = _mask_literals(q)
        m = _EXTRACT_SUBSEC.search(masked)
        if not m:
            return q
        open_paren = masked.index("(", m.start())
        i = _scan_balanced(masked, open_paren + 1)
        inner_from = q[m.end() : i - 1].strip()
        prefix = (m.group(1) or "").lower()
        q = (
            q[: m.start()]
            + _SUBSEC_TEMPLATES[prefix].format(inner_from)
            + q[i:]
        )


# duck `DATE + TIME` (either order) → TIMESTAMP (pinned live round 12).
# Spark has no date+time addition; the time-of-day becomes a day-time
# interval. date_part spellings on purpose (this runs after fn_shims
# and the sub-second EXTRACT pass — neither rescans them).
_TIME_LIT = r"TIME\s*'[^']*'"
_DATE_PLUS_TIME: re.Pattern | None = None  # compiled lazily: the
# _DATE_OPERAND alternation it embeds is defined further down the file


def _rewrite_date_plus_time(q: str) -> str:
    if "+" not in q:
        return q
    global _DATE_PLUS_TIME
    if _DATE_PLUS_TIME is None:
        _DATE_PLUS_TIME = re.compile(
            rf"(?:({_DATE_OPERAND})\s*\+\s*({_TIME_LIT}))"
            rf"|(?:({_TIME_LIT})\s*\+\s*({_DATE_OPERAND}))",
            re.IGNORECASE,
        )
    while True:
        masked = _mask_literals(q)
        m = _DATE_PLUS_TIME.search(masked)
        if m is None:
            return q
        d = q[m.start(1) : m.end(1)] if m.group(1) else q[m.start(4) : m.end(4)]
        t = q[m.start(2) : m.end(2)] if m.group(2) else q[m.start(3) : m.end(3)]
        q = (
            q[: m.start()]
            + f"(CAST({d} AS TIMESTAMP) + make_dt_interval(0, "
            f"date_part('HOUR', {t}), date_part('MINUTE', {t}), "
            f"date_part('SECOND', {t})))"
            + q[m.end() :]
        )


# PG/duck starts-with operator `a ^@ b` → startswith(a, b) (round 12).
# Left operand via the shared backwards primary walk; right operand is
# one forward primary (quote span / paren group / ident chain with an
# optional call) — matching how the operator is actually written.
_PREFIX_OP = re.compile(r"\^@")


def _rewrite_prefix_op(q: str) -> str:
    if "^@" not in q:
        return q
    while True:
        masked = _mask_literals(q)
        m = _PREFIX_OP.search(masked)
        if m is None:
            return q
        lend = len(masked[: m.start()].rstrip())
        lstart = _expr_start(masked, lend)
        left = q[lstart:lend].strip()
        i = m.end()
        while i < len(masked) and masked[i].isspace():
            i += 1
        if i >= len(masked):
            return q
        if masked[i] == "'":
            j = masked.index("'", i + 1) + 1
        elif masked[i] == "(":
            j = _scan_balanced(masked, i + 1)
        else:
            rm = re.match(r"[A-Za-z_][\w.]*", masked[i:])
            if rm is None:
                return q  # unparseable: loud native error downstream
            j = i + rm.end()
            if j < len(masked) and masked[j] == "(":
                j = _scan_balanced(masked, j + 1)
        if not left:
            return q
        q = (
            q[:lstart]
            + f"startswith({left}, {q[i:j]})"
            + q[j:]
        )


# PG regex-match operator `expr ~ 'pat'` → RLIKE (DuckDB accepts `~`,
# pg_conn.go delegates it; Spark's `~` is bitwise NOT so the form
# `~ '<literal>'` is unambiguous). Applied per non-literal segment, so
# the pattern anchors on the segment end ($) where the literal begins.
_PG_REGEX_OP = re.compile(r"\s~\s*(?='|$)")

_DUCK_TO_SPARK_TYPES = {
    "double precision": "double",
    "timestamp with time zone": "timestamp",
    "timestamp without time zone": "timestamp_ntz",
    "hugeint": "decimal(38,0)",
    # duck's default DECIMAL/NUMERIC is (18,3); Spark's bare DECIMAL is
    # (10,0) — map the bare spelling to duck's default (round 12).
    # Parameterized DECIMAL(p,s) spellings pass through untouched.
    "decimal": "decimal(18,3)",
    "numeric": "decimal(18,3)",
    "timestamptz": "timestamp",
    "varchar": "string",
    "text": "string",
    "ubigint": "decimal(20,0)",
    "uinteger": "bigint",
    "blob": "binary",
    "real": "float",
    "int4": "int",
    "int8": "bigint",
    "int2": "smallint",
    "float4": "float",
    "float8": "double",
    "bool": "boolean",
    # round 10: the unsigned tail widens to the next SIGNED type that
    # holds the full value range (Spark has no unsigned types); UUID and
    # BIT(-string) are strings (DuckDB renders both as text; equality /
    # grouping semantics survive, bit-ops on BIT don't — loud)
    "utinyint": "smallint",
    "usmallint": "int",
    "uhugeint": "decimal(38,0)",
    "uuid": "string",
    "bit": "string",
    "bitstring": "string",
    "varint": "decimal(38,0)",
    # JSON values travel as their text form; the -> / ->> operators
    # parse to VARIANT at the extraction site (round 10)
    "json": "string",
}

# `ENUM('a','b',…)` type spellings (casts + DDL): Spark has no enum —
# a string column with the same text values is the faithful projection
# (comparisons/grouping equal; duck's enum-order comparisons diverge
# loudly via type errors, never silently)
_ENUM_TYPE = re.compile(r"\bENUM\s*\((?:[^()']|'(?:[^']|'')*')*\)", re.IGNORECASE)


def normalize_type(name: str) -> str:
    key = re.sub(r"\s+", " ", name.strip().lower())
    # duck's [] array suffixes nest: DOUBLE[] → ARRAY<DOUBLE> (the DDL
    # path has its own handling in normalize_type_spec; this covers
    # `::TYPE[]` casts — round-10 embedding gate catch)
    depth = 0
    while key.endswith("[]") or key.endswith("[ ]"):
        key = key[: key.rfind("[")].strip()
        depth += 1
    out = _DUCK_TO_SPARK_TYPES.get(key, key if depth else name)
    for _ in range(depth):
        out = f"ARRAY<{out}>"
    return out


_TWO_WORD_TYPE = re.compile(
    r"^(double\s+precision|timestamp\s+with\s+time\s+zone|"
    r"timestamp\s+without\s+time\s+zone)\b",
    re.IGNORECASE,
)
_DDL_HEAD = re.compile(
    r"^\s*create\s+(?:or\s+replace\s+)?(?:temp(?:orary)?\s+)?table\s+"
    r"(?:if\s+not\s+exists\s+)?[`\"\w.]+\s*\(",
    re.IGNORECASE,
)
_CAST_HEAD = re.compile(r"\b(?:try_)?cast\s*\(", re.IGNORECASE)
_DDL_ITEM_KEYWORDS = re.compile(
    r"^(CONSTRAINT|PRIMARY|UNIQUE|FOREIGN|CHECK)\b", re.IGNORECASE
)


def normalize_type_spec(spec: str) -> str:
    """Normalize the LEADING type of a column/cast spec to Spark's
    spelling: bare TEXT/VARCHAR/BLOB/… through the type map (Spark's
    parser rejects bare VARCHAR and TEXT entirely — review follow-up:
    every PG/DuckDB client writes them), two-word forms (DOUBLE
    PRECISION, TIMESTAMP WITH TIME ZONE), and DuckDB's `[]` array
    suffixes → ARRAY<…>. Parenthesized specs (VARCHAR(10),
    DECIMAL(10,2)) are already Spark-valid and stay untouched. Anything
    after the type (NOT NULL, DEFAULT …) passes through verbatim."""
    two = _TWO_WORD_TYPE.match(spec)
    if two:
        return normalize_type(two.group(1)) + spec[two.end() :]
    one = re.match(r"^\s*([A-Za-z_]\w*)", spec)
    if not one:
        return spec
    base, tail = one.group(1), spec[one.end() :]
    pm = re.match(r"^\s*\(", tail)
    if pm:
        close = _scan_balanced(tail, tail.index("(") + 1)
        typed, tail = base + tail[:close], tail[close:]
    else:
        typed = normalize_type(base)
    am = re.match(r"^(\s*\[\s*\])+", tail)
    if am:
        for _ in range(am.group(0).count("[")):
            typed = f"ARRAY<{typed}>"
        tail = tail[am.end() :]
    return typed + tail


def _rewrite_ddl_types(q: str) -> str:
    """Normalize every column type in a CREATE TABLE body (runs AFTER
    constraint extraction stripped CHECK/keys, so remaining items are
    `name TYPE [NOT NULL] [DEFAULT …]`)."""
    m = _DDL_HEAD.match(q)
    if not m:
        return q
    masked = _mask_literals(q)
    end = _scan_balanced(masked, m.end())
    body, body_masked = q[m.end() : end - 1], masked[m.end() : end - 1]
    out = []
    for item in _split_top_level(body, body_masked):
        it = item.strip()
        if _DDL_ITEM_KEYWORDS.match(it):
            out.append(it)
            continue
        nm = re.match(r"^([`\"]?\w+[`\"]?)\s+(.+)$", it, re.DOTALL)
        if not nm:
            out.append(it)
            continue
        out.append(f"{nm.group(1)} {normalize_type_spec(nm.group(2))}")
    return q[: m.end()] + ", ".join(out) + q[end - 1 :]


# plain `ALTER TABLE t ADD COLUMN c VARCHAR` passes through to Spark's
# native NULL-fill ADD COLUMN, so its duck type spelling must normalize
# like a CREATE body's (round 12, found by tools/statement_probe.py)
_ALTER_ADD_COL_TYPE = re.compile(
    r"^(\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?[`\"\w.]+\s+ADD\s+"
    r"(?!CONSTRAINT\b|PRIMARY\b|UNIQUE\b|FOREIGN\b|CHECK\b)"
    r"(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?[`\"]?\w+[`\"]?\s+)(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_alter_add_type(q: str) -> str:
    m = _ALTER_ADD_COL_TYPE.match(q)
    if m is None:
        return q
    return m.group(1) + normalize_type_spec(m.group(2))


def blank_comments(q: str) -> str:
    """Blank SQL comments (outside string literals) with spaces,
    preserving offsets. The DDL/DML intercept regexes assume whitespace
    between tokens — `UPDATE t -- note\\n SET …` must hit the same
    branch as the comment-free spelling (round 12, found by
    tools/statement_probe.py). Spark parses comments fine in the plain
    query path; this is for the engine's own statement dispatch."""
    if "--" not in q and "/*" not in q:
        return q
    for s, e, kind in _protected_spans(q):
        if kind == "comment":
            q = q[:s] + " " * (e - s) + q[e:]
    return q


def _rewrite_cast_types(q: str) -> str:
    """CAST(x AS TEXT) / TRY_CAST(… AS BLOB[]): normalize the type after
    the cast's top-level AS (the README's own advice to clients is
    explicit casts — the `::type` form was already handled)."""
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _CAST_HEAD.search(masked, pos)
        if m is None:
            return q
        end = _scan_balanced(masked, m.end())
        inner, inner_m = q[m.end() : end - 1], masked[m.end() : end - 1]
        asm, depth = None, 0
        for mm in re.finditer(r"[()]|\bAS\b", inner_m, re.IGNORECASE):
            tok = mm.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                asm = mm
        if asm is None:
            pos = m.end()
            continue
        spec = inner[asm.end() :].strip()
        new_spec = normalize_type_spec(spec)
        if new_spec != spec:
            q = q[: m.end()] + inner[: asm.end()] + " " + new_spec + ")" + q[end:]
        pos = m.end()  # rescan: nested casts inside the expression


def rewrite_ch_query(q: str) -> str:
    """ClickHouse-HTTP-path rewrites (ch_server.go:155-164 order),
    applied outside string literals only (the reference regex-rewrites
    the raw text, literals included — a bug class we don't replicate)."""
    q = q.replace("\r\n", " ").replace("\n", " ")  # ch_server.go:163
    q = _sub_outside_literals(q, lambda s: _VERSION.sub(f"'{VERSION_STRING}'", s))
    q = _sub_outside_literals(q, lambda s: _SELECT_TABLE.sub(r"\1`table`", s))
    q = _sub_outside_literals(q, lambda s: _LIMIT_NM.sub(r"LIMIT \2 OFFSET \1", s))
    return rewrite_common(q)


def rewrite_pg_query(q: str) -> str:
    """PG-path rewrites (pg_conn.go:444-453 intercept list)."""
    if _SET_NOOP.match(q):
        return "SELECT 1 LIMIT 0"  # pg_conn.go:448-453 ack shape
    return rewrite_common(q)


# ---------------------------------------------------------------------------
# DuckDB FROM-first syntax (round 9, VERDICT r8 punch item 3)
# ---------------------------------------------------------------------------
# `FROM t`, `FROM t SELECT a WHERE p`, `FROM t WHERE p` — idiomatic in
# DuckDB-land (the reference forwards them verbatim, pg_conn.go:314).
# Grammar pinned vs live DuckDB 1.x: the optional SELECT clause comes
# IMMEDIATELY after the from-clause (before WHERE/GROUP/ORDER…);
# `FROM t WHERE p SELECT a` and `FROM t GROUP BY b SELECT …` are parser
# errors there and stay errors here (the shim only moves a SELECT found
# in the pinned position). Pure textual rewrite to standard SELECT, like
# the DISTINCT ON shim — applies at statement level (incl. after a WITH
# clause), inside parenthesized sub-bodies/CTEs, and per set-op arm.

_FROM_FIRST_GUARD = re.compile(r"(?:^|[()])\s*from\b", re.IGNORECASE)
_BODY_KW = re.compile(
    r"\b(select|where|group|having|qualify|window|order|limit|offset)\b",
    re.IGNORECASE,
)
_SETOP_KW = re.compile(r"\b(union|intersect|except)\b", re.IGNORECASE)
_AS_FROM = re.compile(r"\bas\s+(?=from\b)", re.IGNORECASE)
_INSERT_FROM = re.compile(
    r"\binsert\s+into\s+[\w.`\"]+\s*(?:\([^()]*\)\s*)?(?:by\s+name\s+)?(?=from\b)",
    re.IGNORECASE,
)
_TAIL_KW = re.compile(
    r"\b(where|group|having|qualify|window|order|limit|offset|union|intersect|except)\b",
    re.IGNORECASE,
)


def _depth0_matches(regex: re.Pattern, masked: str):
    """Matches of `regex` in `masked` at paren depth 0, in order."""
    depth = 0
    out = []
    j = 0
    # walk chars once, collecting matches whose start sits at depth 0
    ms = list(regex.finditer(masked))
    mi = 0
    for i, ch in enumerate(masked):
        while mi < len(ms) and ms[mi].start() == i:
            if depth == 0:
                out.append(ms[mi])
            mi += 1
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
    del j
    return out


def _rewrite_from_first_arm(a: str, ma: str) -> str:
    """One set-op arm: `FROM refs [SELECT list] tail` → standard SELECT.
    Returns `a` unchanged when it isn't FROM-led."""
    if not re.match(r"\s*from\b", ma, re.IGNORECASE):
        return a
    kws = _depth0_matches(_BODY_KW, ma)
    if not kws or kws[0].group(1).lower() != "select":
        # no SELECT clause → implicit star; WHERE/ORDER/… already follow
        # the from-clause in standard order
        return "SELECT * " + a
    sel = kws[0]
    tails = [m for m in _depth0_matches(_TAIL_KW, ma) if m.start() > sel.end()]
    list_end = tails[0].start() if tails else len(a)
    select_list = a[sel.end() : list_end].strip()
    from_refs = a[: sel.start()].strip()
    tail = a[list_end:]  # keep trailing whitespace: the set-op splitter
    # rejoins arms by plain concatenation, so the boundary must survive
    out = f"SELECT {select_list} {from_refs}"
    return out + (" " + tail if tail.strip() else " ")


def _rewrite_from_first_body(s: str, ms: str) -> str:
    """Rewrite every FROM-led set-op arm of a query body."""
    cuts = [m.start() for m in _depth0_matches(_SETOP_KW, ms)]
    if not cuts:
        return _rewrite_from_first_arm(s, ms)
    out = []
    prev = 0
    for c in cuts + [len(s)]:
        seg, mseg = s[prev:c], ms[prev:c]
        if prev == 0:
            out.append(_rewrite_from_first_arm(seg, mseg))
        else:
            # seg starts with the set-op keyword [ALL|DISTINCT]
            km = re.match(
                r"\s*\w+(?:\s+(?:all|distinct)\b)?\s*", mseg, re.IGNORECASE
            )
            head = seg[: km.end()]
            out.append(
                head
                + _rewrite_from_first_arm(seg[km.end() :], mseg[km.end() :])
            )
        prev = c
    return "".join(out)


# keywords that legitimately precede a parenthesized sub-body — an
# identifier before '(' that is NOT one of these is a function call
_SUBQUERY_INTRO_KEYWORDS = frozenset(
    {
        "from",
        "join",
        "as",
        "on",
        "where",
        "and",
        "or",
        "not",
        "in",
        "exists",
        "all",
        "distinct",
        "any",
        "some",
        "union",
        "except",
        "intersect",
        "select",
        "lateral",
        "values",
        "having",
        "when",
        "then",
        "else",
        "using",
        "by",
        "cross",
        "left",
        "right",
        "full",
        "inner",
        "outer",
        "anti",
        "semi",
        "natural",
        "asof",
        # scalar-subquery-introducing operators (review finding: a
        # paren after BETWEEN/LIKE/IS was misread as a function call,
        # skipping the FROM-first rewrite of a valid DuckDB sub-body)
        "between",
        "like",
        "ilike",
        "rlike",
        "similar",
        "glob",
        "is",
        "escape",
        "limit",
        "offset",
    }
)


def with_prefix_end(q: str, masked: str) -> int:
    """Index where the statement body begins after an optional leading
    WITH clause (the CTE list); the first non-space index when there is
    none. Mirrors rewrite_from_first's CTE walk — used by the engine's
    UNION BY NAME splitter to carry the CTE prefix onto every arm."""
    i = len(q) - len(q.lstrip())
    if not re.match(r"with\b", masked[i:], re.IGNORECASE):
        return i
    j = i + 4
    rm = re.match(r"\s+recursive\b", masked[j:], re.IGNORECASE)
    if rm:
        j += rm.end()
    while True:  # walk `name [(cols)] AS ( … )` [, …]
        cm = re.match(
            r'\s*[\w"`]+\s*(?:\([^()]*\))?\s+as\s*(?:not\s+materialized\s*|materialized\s*)?\(',
            masked[j:],
            re.IGNORECASE,
        )
        if cm is None:
            break
        j = _scan_balanced(masked, j + cm.end())
        tm = re.match(r"\s*,", masked[j:])
        if tm is None:
            break
        j += tm.end()
    return j + len(q[j:]) - len(q[j:].lstrip())


def rewrite_from_first(q: str) -> str:
    masked = _mask_literals(q)
    if (
        _FROM_FIRST_GUARD.search(masked) is None
        and re.search(r"\bas\s+from\b", masked, re.IGNORECASE) is None
        and not re.match(r"\s*(with|insert)\b", masked, re.IGNORECASE)
    ):
        return q
    # parenthesized sub-bodies (derived tables, CTE bodies, set-op arms):
    # outermost-first; each pass rewrites one and the loop re-masks
    pos = 0
    while True:
        m = re.compile(r"\(\s*from\b", re.IGNORECASE).search(masked, pos)
        if m is None:
            break
        # function-call position is NOT a sub-body: standard SQL keyword
        # arguments like TRIM(FROM ' x ') must stay untouched (round-10
        # advice finding). A '(' directly preceded by an identifier that
        # is not a subquery-introducing keyword is a call.
        before = masked[: m.start()].rstrip()
        tok = re.search(r'[\w`"]+$', before)
        if tok is not None and tok.group(0).strip('`"').lower() not in (
            _SUBQUERY_INTRO_KEYWORDS
        ):
            pos = m.start() + 1
            continue
        end = _scan_balanced(masked, m.start() + 1)
        inner, minner = q[m.start() + 1 : end - 1], masked[m.start() + 1 : end - 1]
        new = _rewrite_from_first_body(inner, minner)
        q = q[: m.start() + 1] + new + q[end - 1 :]
        masked = _mask_literals(q)
        pos = m.start() + 1  # the inner body may itself contain "( FROM"
    # body positions introduced by a keyword (all pinned valid in
    # DuckDB 1.x): CTAS / CREATE VIEW `AS FROM …` and
    # `INSERT INTO t [(cols)] [BY NAME] FROM …` — the body runs to the
    # end of the statement. `FROM` cannot be an unquoted alias or type,
    # so `AS (?=FROM)` at depth 0 is unambiguous.
    for kw_re in (_AS_FROM, _INSERT_FROM):
        hits = _depth0_matches(kw_re, masked)
        if hits:
            p = hits[0].end()
            q = q[:p] + _rewrite_from_first_body(q[p:], masked[p:])
            masked = _mask_literals(q)
    # statement level, with an optional WITH clause in front
    i = len(q) - len(q.lstrip())
    if re.match(r"with\b", masked[i:], re.IGNORECASE):
        j = i + 4
        rm = re.match(r"\s+recursive\b", masked[j:], re.IGNORECASE)
        if rm:
            j += rm.end()
        while True:  # walk `name [(cols)] AS ( … )` [, …]
            cm = re.match(
                r'\s*[\w"`]+\s*(?:\([^()]*\))?\s+as\s*(?:not\s+materialized\s*|materialized\s*)?\(',
                masked[j:],
                re.IGNORECASE,
            )
            if cm is None:
                break
            j = _scan_balanced(masked, j + cm.end())
            tm = re.match(r"\s*,", masked[j:])
            if tm is None:
                break
            j += tm.end()
        body_start = j + len(q[j:]) - len(q[j:].lstrip())
    else:
        body_start = i
    if re.match(r"from\b", masked[body_start:], re.IGNORECASE):
        q = q[:body_start] + _rewrite_from_first_body(
            q[body_start:], masked[body_start:]
        )
    return q


# DuckDB's introspection TVFs are served as snapshot views here, so the
# paren-call spelling drops its parens (round 9; the bare spelling
# `FROM duckdb_tables` is valid DuckDB too)
_DUCKDB_TVF_VIEWS = re.compile(
    r"\b(duckdb_tables|duckdb_views|duckdb_columns|duckdb_constraints"
    r"|duckdb_schemas|duckdb_settings|duckdb_functions|duckdb_databases"
    r"|duckdb_sequences|duckdb_indexes|duckdb_keywords|duckdb_types"
    r"|duckdb_extensions)"
    r"\s*\(\s*\)",
    re.IGNORECASE,
)

# PG's current_setting('name') → the engine's GUC value as a text
# literal at bind time (round 9). The wire layer substitutes
# session-overlay names FIRST (per-connection SET values); what reaches
# here resolves against the shared defaults table, and an unknown name
# raises PG's exact 42704 — never a Spark unknown-function error.
_CURRENT_SETTING = re.compile(
    r"\bcurrent_setting\s*\(\s*'([^']*)'\s*\)", re.IGNORECASE
)


def _rewrite_current_setting(q: str) -> str:
    if not _CURRENT_SETTING.search(q):
        return q
    from duck_server_spark.engine.errors import PgError
    from duck_server_spark.engine.gucs import ALL_GUCS, sql_str

    masked = _mask_literals(q)
    out, pos = [], 0
    for m in _CURRENT_SETTING.finditer(q):
        if not masked[m.start() :].lower().startswith("current_setting"):
            continue  # the whole call text sits inside a string literal
        name = m.group(1).lower()
        if name not in ALL_GUCS:
            raise PgError(
                "42704", f'unrecognized configuration parameter "{name}"'
            )
        out.append(q[pos : m.start()])
        out.append(f"'{sql_str(ALL_GUCS[name][0])}'")
        pos = m.end()
    out.append(q[pos:])
    return "".join(out)


# `trim(FROM x)` — valid standard SQL / DuckDB, Spark wants trim(BOTH FROM x)
_TRIM_BARE_FROM = re.compile(r"\b(trim\s*\(\s*)(from)\b", re.IGNORECASE)


# ---------------------------------------------------------------------------
# DuckDB/PG infix operators Spark lacks (round 10, tools/dialect_probe.py):
#   ^ and **  → power()            (duck ^ is exponentiation, LEFT-assoc,
#                                    and unary minus binds tighter: -2^2=4 —
#                                    both pinned live; Spark ^ is XOR)
#   //        → div                (keyword swap keeps Spark's precedence
#                                    parse, so a*b//c groups like duck)
#   ~ !~      → [NOT] RLIKE        (partial regex match, like duck)
#   ~~ !~~ ~~* !~~* → [NOT] [I]LIKE
#   SIMILAR TO → RLIKE '^(?:…)$'   (duck SIMILAR TO is FULL-string regex,
#                                    no PG %-wildcards — pinned live)
#   GLOB      → RLIKE (literal glob → anchored regex)
#   AT TIME ZONE → to_utc_timestamp (naive ts interpreted in zone — the
#                                    PG direction for timestamp-without-tz)
# Keyword swaps are plain guarded regex substitutions over the masked
# twin; ^/**/AT TIME ZONE need bounded operand capture (primary
# expressions only; anything unclear is left alone → loud parse error
# downstream, never a silent wrong answer).
# ---------------------------------------------------------------------------

# token before an operator that proves EXPRESSION context (the operator
# position would be unary / clause-initial, not a binary operator)
_EXPR_CONTEXT_KEYWORDS = frozenset(
    """select from where and or not when then else case on by having limit
    offset in is like ilike rlike between all any some distinct as join
    values set returning union intersect except with window partition over
    order group filter qualify using lateral cross inner left right full
    semi anti asof than row rows range preceding following unbounded
    """.split()
)


def _operand_ends_before(masked: str, i: int) -> bool:
    """True if the non-space text before position i ends an operand
    (identifier/literal/closing bracket) that is not a bare keyword."""
    k = i
    while k > 0 and masked[k - 1].isspace():
        k -= 1
    if k == 0:
        return False
    c = masked[k - 1]
    if c in ")]}'`\"":
        return True
    if not (c.isalnum() or c == "_"):
        return False
    # word: reject expression-context keywords
    s = k
    while s > 0 and (masked[s - 1].isalnum() or masked[s - 1] == "_"):
        s -= 1
    return masked[s:k].lower() not in _EXPR_CONTEXT_KEYWORDS


def _operand_starts_at(masked: str, i: int) -> bool:
    k = i
    while k < len(masked) and masked[k].isspace():
        k += 1
    if k >= len(masked):
        return False
    return masked[k].isalnum() or masked[k] in "_'`\"([{+-$"


def _swap_op_outside_literals(q: str, op: re.Pattern, repl: str) -> str:
    """Replace a binary operator spelling with a keyword spelling, only
    where both sides look like operands. Scans the masked twin (so
    operators inside string literals are data) but edits the original."""
    masked = _mask_literals(q)
    out, pos = [], 0
    for m in op.finditer(masked):
        if not (
            _operand_ends_before(masked, m.start())
            and _operand_starts_at(masked, m.end())
        ):
            continue
        out.append(q[pos : m.start()])
        out.append(repl)
        pos = m.end()
    if not out:
        return q
    out.append(q[pos:])
    return "".join(out)


_TYPED_LIT_KEYWORDS = ("date", "timestamp", "timestamptz", "time", "interval")


def _capture_left(q: str, masked: str, i: int) -> int | None:
    """Start index of the primary expression ending just before i
    (including any `expr::type` cast chain — `'…'::JSON -> 'a'` must
    capture the whole cast, not the bare type word), or None if it
    can't be captured confidently."""
    start = _capture_left_primary(q, masked, i)
    while start is not None:
        # whitespace-tolerant cast chain: DuckDB accepts `x :: JSON`
        k = start
        while k > 0 and masked[k - 1].isspace():
            k -= 1
        if k < 2 or masked[k - 2 : k] != "::":
            break
        prev = _capture_left_primary(q, masked, k - 2)
        if prev is None:
            break
        start = prev
    return start


def _capture_left_primary(q: str, masked: str, i: int) -> int | None:
    k = i
    while k > 0 and masked[k - 1].isspace():
        k -= 1
    if k == 0:
        return None
    c = masked[k - 1]
    start: int | None = None
    if c == "'":
        # literal: find the span that ends at k on the masked twin
        for lm in _STR_LIT.finditer(masked):
            if lm.end() == k:
                start = lm.start()
                break
        if start is None:
            return None
        # typed literal? DATE '…' / TIMESTAMP '…'
        w = start
        while w > 0 and masked[w - 1].isspace():
            w -= 1
        s = w
        while s > 0 and (masked[s - 1].isalnum() or masked[s - 1] == "_"):
            s -= 1
        if masked[s:w].lower() in _TYPED_LIT_KEYWORDS:
            start = s
    elif c in ")]}":
        depth = 0
        j = k - 1
        opener = {")": "(", "]": "[", "}": "{"}[c]
        closer = c
        while j >= 0:
            if masked[j] == closer:
                depth += 1
            elif masked[j] == opener:
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        start = j
        # function call / subscripted identifier: include the name chain
        s = j
        while s > 0 and (masked[s - 1].isalnum() or masked[s - 1] in "_.$`"):
            s -= 1
        if s < j:
            start = s
    elif c.isalnum() or c in "_`":
        s = k
        while s > 0 and (masked[s - 1].isalnum() or masked[s - 1] in "_.$`"):
            s -= 1
        word = masked[s:k].lower()
        if word in _EXPR_CONTEXT_KEYWORDS:
            return None
        start = s
    else:
        return None
    # unary sign binds tighter than duck's ^ (pinned: -2^2 = 4): include
    # a sign only when IT is in expression context (not binary +/-)
    w = start
    while w > 0 and masked[w - 1].isspace():
        w -= 1
    if w > 0 and masked[w - 1] in "+-" and not _operand_ends_before(masked, w - 1):
        start = w - 1
    return start


def _capture_right(q: str, masked: str, i: int) -> int | None:
    """End index (exclusive) of the primary expression starting at/after
    i, including postfix subscripts / ::casts / .field chains."""
    n = len(masked)
    k = i
    while k < n and masked[k].isspace():
        k += 1
    if k >= n:
        return None
    if masked[k] in "+-":  # unary sign
        k += 1
        while k < n and masked[k].isspace():
            k += 1
        if k >= n:
            return None
    c = masked[k]
    if c == "'":
        lm = _STR_LIT.match(masked, k)
        if not lm:
            return None
        end = lm.end()
    elif c in "([{":
        depth = 0
        j = k
        closer = {"(": ")", "[": "]", "{": "}"}[c]
        while j < n:
            if masked[j] == c:
                depth += 1
            elif masked[j] == closer:
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if j >= n:
            return None
        end = j + 1
    elif c.isalnum() or c in "_`$":
        j = k
        while j < n and (masked[j].isalnum() or masked[j] in "_.$`"):
            j += 1
        word = masked[k:j].lower()
        if word in _TYPED_LIT_KEYWORDS:
            # typed literal: keyword + literal/number (+ optional unit word)
            w = j
            while w < n and masked[w].isspace():
                w += 1
            lm = _STR_LIT.match(masked, w)
            if lm:
                end = lm.end()
            else:
                w2 = w
                while w2 < n and (masked[w2].isalnum() or masked[w2] in "._"):
                    w2 += 1
                if w2 == w:
                    return None
                end = w2
            if word == "interval":
                # optional unit word(s): INTERVAL 1 MONTH / '2' DAYS
                w = end
                while w < n and masked[w].isspace():
                    w += 1
                w2 = w
                while w2 < n and masked[w2].isalpha():
                    w2 += 1
                if masked[w:w2].lower() in (
                    "year", "years", "month", "months", "day", "days",
                    "hour", "hours", "minute", "minutes", "second",
                    "seconds", "week", "weeks", "millisecond",
                    "milliseconds", "microsecond", "microseconds",
                ):
                    end = w2
        else:
            end = j
            # function call?
            w = j
            while w < n and masked[w].isspace():
                w += 1
            if w < n and masked[w] == "(":
                depth = 0
                while w < n:
                    if masked[w] == "(":
                        depth += 1
                    elif masked[w] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    w += 1
                if w >= n:
                    return None
                end = w + 1
    else:
        return None
    # postfix: subscripts, ::casts, .field
    while end < n:
        if masked[end] == "[":
            depth = 0
            j = end
            while j < n:
                if masked[j] == "[":
                    depth += 1
                elif masked[j] == "]":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j >= n:
                break
            end = j + 1
        elif masked.startswith("::", end):
            # type-name scan with paren-depth tracking (ADVICE r10):
            # ',' and ')' belong to the type only inside its own
            # '( … )' parameter list — DECIMAL(10, 2) — while a
            # depth-0 ',' or ')' ends the ENCLOSING expression list
            # ('power(a, b::INT, c)' must stop after INT).
            j = end + 2
            depth = 0
            while j < n:
                ch = masked[j]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    if depth == 0:
                        break
                    depth -= 1
                elif depth == 0:
                    if ch == ",":
                        break
                    if ch == " ":
                        if not re.match(
                            r" *(precision|with|without|time|zone|varying)\b",
                            masked[j:],
                            re.IGNORECASE,
                        ):
                            break
                    elif not (ch.isalnum() or ch in "_[]"):
                        break
                j += 1
            end = j
        elif masked[end] == "." and end + 1 < n and (
            masked[end + 1].isalnum() or masked[end + 1] in "_`"
        ):
            j = end + 1
            while j < n and (masked[j].isalnum() or masked[j] in "_`"):
                j += 1
            end = j
        else:
            break
    return end


# WITH c AS [NOT] MATERIALIZED (…) — a pure optimizer hint in DuckDB;
# Spark's CTE inlining decision is Catalyst's (the hint has no Spark
# counterpart, dropping it is semantics-preserving)
_CTE_MATERIALIZED = re.compile(r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(", re.IGNORECASE)

# numeric literals with DuckDB's readability underscores: 1_000_000
_NUM_UNDERSCORE = re.compile(
    r"(?<![\w.])(\d[0-9_]*\d|\d)(\.[0-9_]+)?(?![\w.])"
)


def _strip_num_underscores(seg: str) -> str:
    def repl(m: re.Match) -> str:
        t = m.group(0)
        return t.replace("_", "") if "_" in t else t

    return _NUM_UNDERSCORE.sub(repl, seg)


_POW_OP = re.compile(r"\^|\*\*")
_ANY_ALL_OP = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE
)
_JSON_ARROW = re.compile(r"->>|->(?!>)")
_HIGHER_ORDER_FNS = frozenset(
    """transform filter exists forall aggregate reduce zip_with
    map_filter map_zip_with transform_keys transform_values array_sort
    list_transform list_filter list_reduce list_aggregate
    list_apply array_apply array_transform array_filter""".split()
)
_AT_TIME_ZONE = re.compile(r"\bAT\s+TIME\s+ZONE\b", re.IGNORECASE)
_SIMILAR_TO = re.compile(r"\b(NOT\s+)?SIMILAR\s+TO\b", re.IGNORECASE)
_GLOB_OP = re.compile(r"\b(NOT\s+)?GLOB\b", re.IGNORECASE)
_INT_DIV = re.compile(r"//")
_LIKE_FAMILY = [
    (re.compile(r"!~~\*"), " NOT ILIKE "),
    (re.compile(r"~~\*"), " ILIKE "),
    (re.compile(r"!~~"), " NOT LIKE "),
    (re.compile(r"~~"), " LIKE "),
    # duck's ~ / !~ are regexp_FULL_match (pinned live: 'abc' ~ 'b.' is
    # FALSE) — route through the SIMILAR TO pass below, which anchors
    (re.compile(r"!~(?![~*])"), " NOT SIMILAR TO "),
    (re.compile(r"(?<![!~<>=])~(?![~*=])"), " SIMILAR TO "),
]


def _glob_to_regex(glob: str) -> str:
    """DuckDB GLOB pattern → anchored Java regex. `*` crosses
    everything (pinned live: 'a/b' GLOB 'a*'), `?` is any one char,
    [class] passes through with [!…] negation converted."""
    out, i, n = [], 0, len(glob)
    while i < n:
        c = glob[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = glob.find("]", i + 2)  # "]" first in class is literal
            if j == -1:
                out.append(re.escape(c))
            else:
                cls = glob[i + 1 : j]
                if cls.startswith("!"):
                    cls = "^" + cls[1:]
                out.append("[" + cls + "]")
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "^" + "".join(out) + "$"


_FILTER_OVER = re.compile(r"\)\s*FILTER\s*\(", re.IGNORECASE)
_EXCLUDE_CURRENT = re.compile(
    r"\s*EXCLUDE\s+(CURRENT\s+ROW|TIES|GROUP)\b", re.IGNORECASE
)
_FRAME_CLAUSE = re.compile(
    r"\s*(ROWS|RANGE|GROUPS)\s+(BETWEEN\s+.*|UNBOUNDED\s+PRECEDING.*|"
    r"CURRENT\s+ROW.*|\d+\s+(?:PRECEDING|FOLLOWING).*)$",
    re.IGNORECASE | re.DOTALL,
)


def _call_before(q: str, masked: str, close_pos: int):
    """(name_start, name, args) of the call whose ')' sits at close_pos."""
    depth = 0
    j = close_pos
    while j >= 0:
        if masked[j] == ")":
            depth += 1
        elif masked[j] == "(":
            depth -= 1
            if depth == 0:
                break
        j -= 1
    if j < 0:
        return None
    s = j
    while s > 0 and (masked[s - 1].isalnum() or masked[s - 1] == "_"):
        s -= 1
    if s == j:
        return None
    inner, minner = q[j + 1 : close_pos], masked[j + 1 : close_pos]
    return s, q[s:j].strip(), _split_top_level(inner, minner)


def _rewrite_filter_over_window(q: str) -> str:
    """`agg(args) FILTER (WHERE cond) OVER …` — Spark refuses filtered
    window aggregates ('not supported yet'); the exact equivalent is
    conditional input: agg(CASE WHEN cond THEN arg END) OVER …
    (count(*) counts a CASE over 1). Plain grouped FILTER stays native."""
    while True:
        masked = _mask_literals(q)
        hit = None
        for m in _FILTER_OVER.finditer(masked):
            fend = _scan_balanced(masked, m.end())
            after = masked[fend:]
            if not re.match(r"\s*OVER\b", after, re.IGNORECASE):
                continue
            call = _call_before(q, masked, m.start())
            if call is None:
                continue
            hit = (m, fend, call)
            break
        if hit is None:
            return q
        m, fend, (nstart, name, args) = hit
        cond = q[m.end() : fend - 1].strip()
        cond = re.sub(r"^\s*WHERE\b", "", cond, flags=re.IGNORECASE).strip()
        if name.lower() == "count" and (not args or args == ["*"]):
            repl = f"count(CASE WHEN {cond} THEN 1 END)"
        elif args and not re.match(r"\s*DISTINCT\b", args[0], re.IGNORECASE):
            # EVERY non-literal argument becomes conditional, not just
            # the first — a filtered row must not contribute its
            # ORDERING/second argument either (review-caught:
            # max_by/arg_max under FILTER let excluded rows win via
            # their key). PLAIN LITERALS stay unwrapped (second review
            # catch: a CASE-wrapped separator/percentage turns a
            # foldable parameter non-foldable and Spark rejects
            # string_agg/percentile outright).
            def _wrap(a: str) -> str:
                if re.fullmatch(
                    r"\s*(?:'(?:[^']|'')*'|[0-9]+(?:\.[0-9]+)?|TRUE|FALSE|NULL)\s*",
                    a,
                    re.IGNORECASE,
                ):
                    return a
                return f"CASE WHEN {cond} THEN {a} END"

            repl = f"{name}({', '.join(_wrap(a) for a in args)})"
        else:
            return q  # zero-arg non-count / DISTINCT: loud pass-through
        q = q[:nstart] + repl + q[fend:]


def _rewrite_window_exclude(q: str) -> str:
    """`OVER (… frame EXCLUDE CURRENT ROW)` for the distributive
    aggregates (sum/count/avg): frame aggregate minus the current row's
    contribution — exact, pinned vs DuckDB. A frame that cannot contain
    the current row (N FOLLOWING start / N PRECEDING end) makes the
    clause a no-op and just drops it. min/max/other EXCLUDE shapes pass
    through and error loudly (their exclusion is not arithmetic).

    Non-rewritable hits are SKIPPED, not an early return (ADVICE r10):
    a later rewritable EXCLUDE in the same statement must still be
    converted; the skipped one keeps its EXCLUDE text and fails loudly
    in Spark's parser."""
    pos = 0
    while True:
        masked = _mask_literals(q)
        m = _EXCLUDE_CURRENT.search(masked, pos)
        if m is None:
            return q
        pos = m.end()  # default resume point: skip this hit (loud)
        # enclosing OVER ( … ) window spec
        depth = 0
        j = m.start()
        while j >= 0:
            if masked[j] == ")":
                depth += 1
            elif masked[j] == "(":
                depth -= 1
                if depth < 0:
                    break
            j -= 1
        if j < 0 or not re.search(r"\bOVER\s*$", masked[:j], re.IGNORECASE):
            continue
        over_kw = re.search(r"\bOVER\s*$", masked[:j], re.IGNORECASE).start()
        spec_end = _scan_balanced(masked, j + 1)
        # _call_before wants the index OF the ')': scan back from OVER
        k = over_kw - 1
        while k > 0 and masked[k].isspace():
            k -= 1
        if masked[k] != ")":
            continue
        call = _call_before(q, masked, k)
        if call is None:
            continue
        nstart, name, args = call
        kind = re.sub(r"\s+", " ", m.group(1).upper())
        spec_wo = (q[j + 1 : m.start()] + q[m.end() : spec_end - 1]).strip()
        frame = spec_wo
        # frame that can't contain the current row → EXCLUDE is a no-op
        cannot = re.search(
            r"BETWEEN\s+\d+\s+FOLLOWING|AND\s+\d+\s+PRECEDING",
            frame,
            re.IGNORECASE,
        )
        lname = name.lower()
        win = f"OVER ({spec_wo})"
        if _FRAME_CLAUSE.search(spec_wo) is None:
            # duck REJECTS any EXCLUDE without a frame clause (parse
            # error, pinned) — applies to CURRENT ROW too (ADVICE r10):
            # pass through so Spark errors loudly instead of answering
            # unparseable SQL
            continue
        if kind in ("TIES", "GROUP") and cannot:
            # peers may sit inside a frame that excludes the current
            # row — no no-op shortcut and no arithmetic: loud
            continue
        if kind in ("TIES", "GROUP"):
            # peers arithmetic is exact only when the frame provably
            # CONTAINS the whole peer group: RANGE mode (incl. the
            # default no-frame spec) always does; ROWS only over the
            # full partition. Other ROWS frames pass through → loud.
            fm = _FRAME_CLAUSE.search(spec_wo)
            if fm is None:
                # duck REJECTS EXCLUDE without a frame clause (parse
                # unreachable (the depth-0 frame guard above already
                # required a frame clause) — kept as a belt-and-braces
                # skip
                continue
            mode = fm.group(1).upper()
            full = re.search(
                r"UNBOUNDED\s+PRECEDING\s+AND\s+UNBOUNDED\s+FOLLOWING",
                fm.group(0),
                re.IGNORECASE,
            )
            if mode == "GROUPS" or (mode == "ROWS" and not full):
                continue
            base = spec_wo[: fm.start()].strip()
            pwin = f"OVER ({base} RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
            keep_current = kind == "TIES"
            if lname == "count" and args == ["*"]:
                add = " + 1" if keep_current else ""
                repl = f"(count(*) {win} - count(*) {pwin}{add})"
            elif lname in ("count", "sum", "avg") and len(args) == 1:
                x = args[0]
                cur1 = f"CASE WHEN ({x}) IS NOT NULL THEN 1 ELSE 0 END"
                curx = f"coalesce({x}, 0)"
                n = (
                    f"(count({x}) {win} - count({x}) {pwin}"
                    + (f" + {cur1}" if keep_current else "")
                    + ")"
                )
                s = (
                    f"(sum({x}) {win} - coalesce(sum({x}) {pwin}, 0)"
                    + (f" + {curx}" if keep_current else "")
                    + ")"
                )
                if lname == "count":
                    repl = n
                elif lname == "sum":
                    repl = f"(CASE WHEN {n} = 0 THEN NULL ELSE {s} END)"
                else:
                    repl = f"try_divide({s}, nullif({n}, 0))"
            else:
                continue  # unsupported agg for TIES/GROUP: loud
            q = q[:nstart] + repl + q[spec_end:]
            pos = nstart + len(repl)
            continue
        if cannot:
            repl = f"{name}({', '.join(args)}) {win}"
        elif lname == "sum" and len(args) == 1:
            x = args[0]
            # NULL, not 0, when the frame minus the current row is
            # empty (review-caught: first row of a CURRENT-ROW-ended
            # frame) — same remaining-count guard the avg branch uses
            rem = (
                f"(count({x}) {win} - "
                f"CASE WHEN ({x}) IS NOT NULL THEN 1 ELSE 0 END)"
            )
            repl = (
                f"(CASE WHEN {rem} = 0 THEN NULL "
                f"ELSE sum({x}) {win} - coalesce({x}, 0) END)"
            )
        elif lname == "count" and args == ["*"]:
            repl = f"(count(*) {win} - 1)"
        elif lname == "count" and len(args) == 1:
            x = args[0]
            repl = (
                f"(count({x}) {win} - "
                f"CASE WHEN ({x}) IS NOT NULL THEN 1 ELSE 0 END)"
            )
        elif lname == "avg" and len(args) == 1:
            x = args[0]
            n = f"(count({x}) {win} - CASE WHEN ({x}) IS NOT NULL THEN 1 ELSE 0 END)"
            repl = f"try_divide(sum({x}) {win} - coalesce({x}, 0), nullif({n}, 0))"
        else:
            continue  # unsupported agg for EXCLUDE: loud pass-through
        q = q[:nstart] + repl + q[spec_end:]
        pos = nstart + len(repl)


def _rewrite_infix_ops(q: str) -> str:
    """All the operator conversions above, idempotent (every rewrite
    removes its own trigger spelling)."""
    # LIKE/RLIKE family first: plain guarded swaps (longest spellings
    # first so `!~~*` never half-matches as `!~`)
    for op, repl in _LIKE_FAMILY:
        q = _swap_op_outside_literals(q, op, repl)
    # // → div (keyword swap keeps Spark's precedence parse)
    q = _swap_op_outside_literals(q, _INT_DIV, " div ")
    # ^ / ** → power(L, R), left-assoc with rescan
    guard = 0
    while guard < 50:
        guard += 1
        masked = _mask_literals(q)
        m = None
        for cand in _POW_OP.finditer(masked):
            if _operand_ends_before(masked, cand.start()) and _operand_starts_at(
                masked, cand.end()
            ):
                m = cand
                break
        if m is None:
            break
        ls = _capture_left(q, masked, m.start())
        re_ = _capture_right(q, masked, m.end())
        if ls is None or re_ is None:
            break  # unclear shape: leave for a loud downstream error
        left = q[ls : m.start()].strip()
        right = q[m.end() : re_].strip()
        q = q[:ls] + f"power({left}, {right})" + q[re_:]
    # cmp ANY/ALL/SOME over a LIST argument (subqueries stay native):
    # duck `x = ANY([…])` quantifies over elements — exists/forall
    # higher-order twins. `L op ANY(R)` ≡ exists(R, v -> L op v).
    while True:
        masked = _mask_literals(q)
        hit = None
        for m in _ANY_ALL_OP.finditer(masked):
            inner_start = m.end()
            if re.match(r"\s*(select|with)\b", masked[inner_start:], re.IGNORECASE):
                continue  # quantified subquery: native/loud path
            end = _scan_balanced(masked, m.end())
            ls = _capture_left(q, masked, m.start())
            if ls is None:
                continue
            hit = (m, end, ls)
            break
        if hit is None:
            break
        m, end, ls = hit
        op = {"!=": "<>"}.get(m.group(1), m.group(1))
        fn = "exists" if m.group(2).lower() in ("any", "some") else "forall"
        left = q[ls : m.start()].strip()
        arr = q[m.end() : end - 1].strip()
        q = q[:ls] + f"{fn}({arr}, az_x -> ({left}) {op} az_x)" + q[end:]
    # JSON extraction arrows (duck/PG): j -> 'k' keeps JSON (quoted
    # string leaves), j ->> 'k' extracts TEXT — exact via Spark 4's
    # VARIANT functions (to_json(variant_get(parse_json(…))) /
    # variant_get(…, 'string')). Literal string/integer keys only
    # (the ubiquitous shape); expression keys pass through → loud.
    # Lambda arrows are excluded: a bare-identifier left side in the
    # argument position of a HIGHER-ORDER function is a lambda.
    while True:
        masked = _mask_literals(q)
        hit = None
        for m in _JSON_ARROW.finditer(masked):
            k = m.end()
            while k < len(masked) and masked[k].isspace():
                k += 1
            lm = _STR_LIT.match(masked, k)
            key = None
            if lm:
                key = q[k + 1 : lm.end() - 1].replace("''", "'")
                kend = lm.end()
                path = (
                    f"$.{key}"
                    if re.fullmatch(r"\w+", key)
                    else "$['" + key + "']"  # SQL-escaped at emission
                )
            else:
                im = re.match(r"\d+", masked[k:])
                if im is None:
                    continue
                kend = k + im.end()
                path = f"$[{im.group(0)}]"
            ls = _capture_left(q, masked, m.start())
            if ls is None:
                continue
            left = q[ls : m.start()].strip()
            if re.fullmatch(r"\w+", left) or re.fullmatch(
                r"\(\s*\w+(\s*,\s*\w+)*\s*\)", left
            ):
                # bare param(s): lambda iff the enclosing call is a
                # higher-order function
                w = ls
                while w > 0 and masked[w - 1].isspace():
                    w -= 1
                if w > 0 and masked[w - 1] in "(,":
                    depth = 0
                    j2 = w - 1
                    while j2 >= 0:
                        if masked[j2] == ")":
                            depth += 1
                        elif masked[j2] == "(":
                            depth -= 1
                            if depth < 0:
                                break
                        j2 -= 1
                    s2 = j2
                    while s2 > 0 and (
                        masked[s2 - 1].isalnum() or masked[s2 - 1] == "_"
                    ):
                        s2 -= 1
                    if masked[s2:j2].lower() in _HIGHER_ORDER_FNS:
                        continue
            hit = (m, ls, left, kend, path)
            break
        if hit is None:
            break
        m, ls, left, kend, path = hit
        path_sql = path.replace("\\", "\\\\").replace("'", "''")
        base = f"parse_json(CAST({left} AS STRING))"
        if m.group(0) == "->>":
            repl = f"variant_get({base}, '{path_sql}', 'string')"
        else:
            repl = f"to_json(variant_get({base}, '{path_sql}'))"
        q = q[:ls] + repl + q[kend:]
    # SIMILAR TO → anchored RLIKE over the captured pattern
    while True:
        masked = _mask_literals(q)
        m = _SIMILAR_TO.search(masked)
        if m is None:
            break
        re_ = _capture_right(q, masked, m.end())
        if re_ is None:
            break
        neg = "NOT " if m.group(1) else ""
        pat = q[m.end() : re_].strip()
        lit = _PLAIN_STR_LIT.match(pat)
        if lit:
            body = lit.group(1)
            repl = f"{neg}RLIKE '^(?:{body})$'"
        else:
            repl = f"{neg}RLIKE concat('^(?:', {pat}, ')$')"
        q = q[: m.start()] + repl + q[re_:]
    # GLOB → anchored RLIKE (literal patterns converted at bind time;
    # non-literal patterns left alone → loud, never silently wrong)
    while True:
        masked = _mask_literals(q)
        hit = None
        for m in _GLOB_OP.finditer(masked):
            re_ = _capture_right(q, masked, m.end())
            if re_ is None:
                continue
            pat = q[m.end() : re_].strip()
            lit = _PLAIN_STR_LIT.match(pat)
            if lit is None:
                continue
            hit = (m, re_, lit.group(1))
            break
        if hit is None:
            break
        m, re_, body = hit
        neg = "NOT " if m.group(1) else ""
        # the statement text is already Spark-escaped; un-double for the
        # Python-side conversion, re-escape the emitted literal
        rx = _glob_to_regex(body.replace("\\\\", "\\"))
        rx_sql = rx.replace("\\", "\\\\").replace("'", "''")
        q = q[: m.start()] + f"{neg}RLIKE '{rx_sql}'" + q[re_:]
    # AT TIME ZONE → to_utc_timestamp(L, R): naive timestamps interpreted
    # in the zone (the PG direction; timestamptz inputs are a documented
    # divergence — Spark has no per-value tz type)
    while True:
        masked = _mask_literals(q)
        m = _AT_TIME_ZONE.search(masked)
        if m is None:
            break
        ls = _capture_left(q, masked, m.start())
        re_ = _capture_right(q, masked, m.end())
        if ls is None or re_ is None:
            break
        left = q[ls : m.start()].strip()
        right = q[m.end() : re_].strip()
        q = q[:ls] + f"to_utc_timestamp({left}, {right})" + q[re_:]
    return q


def duck_expr_to_spark(text: str) -> str:
    """Fragment-level duck→Spark conversion for the engine's
    F.expr/selectExpr consumers (COW DML SET/WHERE, join-DML conditions,
    upsert assignments, CHECK enforcement, RETURNING items). These
    fragments are sliced from RAW statements that never pass
    Engine._prepare_sql, so they need BOTH halves exactly once: literal
    semantics (round-10 review catch — an extended-protocol UPDATE
    param 'a\\nb' was stored with a real newline because the wire now
    renders params duck-dialect), then the full shim pipeline."""
    return rewrite_common(normalize_literals(text))


def rewrite_common(q: str) -> str:
    """Dialect-gap rewrites applied on every path."""
    # PG double-quoted identifiers → backticks FIRST, so every later
    # shim scans one quoting dialect (round 10). Idempotent — the
    # engine entry points already normalized statements that took the
    # intercept path, this catches direct rewrite callers (gate rows,
    # macro bodies, CHECK expressions).
    q = normalize_quoted_idents(q)
    # standard-SQL bare `trim(FROM x)` (DuckDB-valid) → Spark needs the
    # BOTH keyword; must run BEFORE rewrite_from_first so the guard never
    # mistakes it for a sub-body (round-10 advice finding)
    q = _sub_outside_literals(
        q, lambda seg: _TRIM_BARE_FROM.sub(r"\1BOTH \2", seg)
    )
    q = rewrite_from_first(q)  # FROM-first → standard SELECT (round 9)
    # infix operators Spark lacks (^ ** // ~-family SIMILAR TO GLOB
    # AT TIME ZONE) — early, so later shims scan operator-free text
    q = _rewrite_infix_ops(q)
    q = _sub_outside_literals(q, lambda s: _CTE_MATERIALIZED.sub("AS (", s))
    q = _sub_outside_literals(q, _strip_num_underscores)
    # the round-10 scalar/aggregate registry (plans/fn_shims.py): before
    # the alias table so argument-shape shims (list_transform 1-based
    # index lambdas, regexp_* defaults) see the duck spellings
    from duck_server_spark.plans.fn_shims import rewrite_fn_shims

    q = rewrite_fn_shims(q)
    q = _sub_outside_literals(q, lambda s: _DUCKDB_TVF_VIEWS.sub(r"\1", s))
    q = _rewrite_current_setting(q)
    # x::type → CAST-free Spark double-colon is actually supported in
    # Spark 3.4+ (`expr::type`), but duck-specific type NAMES are not.
    def _cast_type(m: re.Match) -> str:
        return "::" + normalize_type(m.group(1))

    # ENUM(...) spans string literals, so scan the masked twin and slice
    # the original (a _sub_outside_literals segment never sees the
    # whole spelling)
    while True:
        em = _ENUM_TYPE.search(_mask_literals(q))
        if em is None:
            break
        q = q[: em.start()] + "STRING" + q[em.end() :]
    q = rewrite_bare_values(q)  # duck col0… naming (r11)
    q = _rewrite_in_values(q)  # IN (VALUES …) → IN (SELECT …) (r11)
    q = _sub_outside_literals(
        q, lambda seg: _COLLATE_NOCASE.sub("COLLATE UTF8_LCASE", seg)
    )
    # TIMESTAMPTZ only in its LITERAL-prefix position (the segment ends
    # where the quoted literal starts) — a blanket word swap rewrote
    # COLUMNS named timestamptz (second review catch); cast/DDL type
    # positions are covered by the type map
    q = _sub_outside_literals(
        q,
        lambda seg: re.sub(
            r"\bTIMESTAMPTZ\s*$", "TIMESTAMP ", seg, flags=re.IGNORECASE
        ),
    )
    q = _rewrite_epoch_ts(q)
    q = _rewrite_str_list_casts(q)  # '[1, 2]'::INT[] (round 12)
    q = _rewrite_literal_int_casts(q)  # duck half-away rounding (r11)
    q = _rewrite_literal_dec_casts(q)  # duck rescale truncation (r12)
    q = _rewrite_bit_literals(q)  # before bit→string type mapping (r11)
    q = _sub_outside_literals(q, lambda seg: _PG_CAST.sub(_cast_type, seg))
    q = _sub_outside_literals(q, lambda seg: _CURRENT_SCHEMA.sub("current_database()", seg))
    q = _sub_outside_literals(
        q,
        lambda seg: _EXCLUDE_BARE.sub(
            r"EXCEPT (\1)", _EXCLUDE_PARENS.sub(r"EXCEPT (\1)", seg)
        ),
    )
    q = rewrite_unpivot_stmt(q)  # statement-anchored, runs at most once
    q = _rewrite_distinct_on(q)  # after EXCLUDE→EXCEPT: sel-list stars ok
    q = _rewrite_misc_tvfs(q)  # repeat()/glob() table functions (round 10)
    q = _rewrite_series_unnest(q)  # before the alias pass: the TVF forms
    q = _rewrite_using_sample(q)
    q = _rewrite_ddl_types(q)
    q = _rewrite_alter_add_type(q)  # ADD COLUMN type spec (round 12)
    q = _rewrite_cast_types(q)
    q = _rewrite_bracket_literals(q)  # after type rewrites: INT[] is gone
    q = _rewrite_struct_varchar_casts(q)  # before braces lower (r12)
    q = _rewrite_brace_literals(q)
    q = _rewrite_subscripts(q)
    q = _sub_outside_literals(
        q,
        lambda seg: _PG_REGEX_OP.sub(
            " RLIKE ",
            _DUCK_FN_RE.sub(lambda m: _DUCK_FN_ALIASES[m.group(1).lower()] + "(", seg),
        ),
    )
    q = rewrite_star_replace(q)
    q = _rewrite_extract_epoch(q)
    q = _rewrite_extract_subsec(q)  # duck sub-second fields (round 12)
    q = _rewrite_date_plus_time(q)  # DATE + TIME → TIMESTAMP (round 12)
    q = _rewrite_prefix_op(q)  # a ^@ b → startswith (round 12)
    q = _rewrite_string_agg(q)  # 1-arg default sep + ORDER BY-in-args (round 10)
    q = _rewrite_text_similarity(q)  # jaccard/hamming JVM templates (round 10)
    # DuckDB allows FILTER (expr) without the WHERE keyword; Spark
    # requires it. Only aggregate-call position matches (`) FILTER (`)
    # — the higher-order filter(arr, λ) is never preceded by `)`.
    q = _sub_outside_literals(
        q, lambda seg: _BARE_FILTER.sub(r"\1WHERE ", seg)
    )
    # duck-inside-parens IGNORE/RESPECT NULLS → Spark-outside (r11)
    q = _sub_outside_literals(
        q, lambda seg: _NULLS_TREATMENT_IN_CALL.sub(r") \1 NULLS", seg)
    )
    q = _rewrite_named_window_refinement(q)  # OVER (w frame…) (r11)
    # FILTER over a WINDOW (Spark: 'not supported yet') → conditional
    # input; frame EXCLUDE CURRENT ROW → frame minus current (round 10)
    q = _rewrite_filter_over_window(q)
    q = _rewrite_window_exclude(q)
    q = _rewrite_list_slice(q)
    q = _rewrite_list_fn_shims(q)  # list_reverse_sort/distinct/unique (round 9)
    q = _rewrite_strftime(q)  # %-format translation (round 8)
    q = _rewrite_date_trunc_coarse(q)  # coarse parts → DATE (round 13)
    q = _rewrite_date_diff(q)  # boundary-crossing arithmetic (round 8)
    q = _rewrite_date_minus_date(q)  # date − date → BIGINT days (round 11)
    q = rewrite_asof_join(q)
    q = _rewrite_positional_join(q)  # duck POSITIONAL JOIN (round 12)
    q = rewrite_qualify(q)
    from duck_server_spark.sources.files import rewrite_file_functions

    # resolve the FROM-unnest column-name placeholder LAST (see
    # _duck_unnest_colname) — after every pass that could rewrite the
    # rendered name inside its backticks
    if "__DUCK_UCOL_" in q:
        q = _UCOL_RE.sub(lambda m: bytes.fromhex(m.group(1)).decode("utf-8"), q)
    return rewrite_file_functions(q)


# duck COLLATE NOCASE ↔ Spark 4's native UTF8_LCASE collation —
# comparisons, ORDER BY, and projections all match (pinned live r11:
# both keep the original value when projected, compare case-blind)
_COLLATE_NOCASE = re.compile(r"\bCOLLATE\s+NOCASE\b", re.IGNORECASE)

# 'epoch'::TIMESTAMP / CAST('epoch' AS TIMESTAMP) — duck's named
# timestamp literal for 1970-01-01 00:00:00 (infinity/-infinity have NO
# Spark representation and stay loud). Span-walk like the BIT packer:
# the literal itself is invisible to segment-based passes.
_EPOCH_POSTFIX = re.compile(
    r"\s*::\s*timestamp(_ntz|tz)?(\s+with\s+time\s+zone)?\b", re.IGNORECASE
)
_EPOCH_CAST_POST = re.compile(
    r"\s+AS\s+TIMESTAMP(_NTZ|TZ)?(\s+WITH\s+TIME\s+ZONE)?\s*\)", re.IGNORECASE
)
_EPOCH_VALUE = "TIMESTAMP '1970-01-01 00:00:00'"


def _rewrite_epoch_ts(q: str) -> str:
    if "epoch" not in q.lower():
        return q
    while True:
        masked = _mask_literals(q)
        hit = None
        for s, e, kind in _protected_spans(q):
            if kind != "quote" or q[s + 1 : e - 1].strip().lower() != "epoch":
                continue
            if _EPOCH_POSTFIX.match(masked, e):
                hit = (s, _EPOCH_POSTFIX.match(masked, e).end(), _EPOCH_VALUE)
                break
            pre = _STR_SPAN_CAST_PRE.search(masked[:s])
            post = _EPOCH_CAST_POST.match(masked, e)
            if pre and post:
                hit = (pre.start(), post.end(), _EPOCH_VALUE)
                break
        if hit is None:
            return q
        s0, e0, rep = hit
        q = q[:s0] + rep + q[e0:]

# bare VALUES statement: duck names the columns col0, col1, … (Spark
# names them col1, col2, …) — wrap with an explicit alias (round 11)
_BARE_VALUES = re.compile(r"^\s*VALUES\s*\(", re.IGNORECASE)
_VALUES_TAIL = re.compile(
    r"\b(ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT)\b", re.IGNORECASE
)


# `IN (VALUES (…), …)` — duck accepts a bare VALUES list as the IN
# subquery; Spark needs a SELECT wrapper (round 11)
_IN_VALUES = re.compile(r"\b(IN\s*\()\s*VALUES\b", re.IGNORECASE)


def _rewrite_in_values(q: str) -> str:
    while True:
        masked = _mask_literals(q)
        m = _IN_VALUES.search(masked)
        if m is None:
            return q
        open_paren = m.end(1) - 1
        end = _scan_balanced(masked, open_paren + 1)
        inner = q[open_paren + 1 : end - 1]
        # Spark requires an alias on a VALUES derived table here
        q = (
            q[: open_paren + 1]
            + f"SELECT * FROM ({inner.strip()}) __duck_inv"
            + q[end - 1 :]
        )


def rewrite_bare_values(q: str) -> str:
    m = _BARE_VALUES.match(q)
    if m is None:
        return q
    masked = _mask_literals(q)
    # arity of the first tuple
    first_end = _scan_balanced(masked, m.end())
    arity = len(
        _split_top_level(q[m.end() : first_end - 1], masked[m.end() : first_end - 1])
    )
    # rows list ends at the first depth-0 tail keyword (or statement end)
    depth, split = 0, len(q)
    vstart = q.upper().index("VALUES")
    for t in _VALUES_TAIL.finditer(masked):
        before = masked[vstart : t.start()]
        if before.count("(") == before.count(")"):
            split = t.start()
            break
    cols = ", ".join(f"col{i}" for i in range(arity))
    return (
        f"SELECT * FROM ({q[:split].rstrip().rstrip(';')}) t({cols}) {q[split:]}"
    )


# duck puts IGNORE/RESPECT NULLS INSIDE the call parens —
# `first_value(x IGNORE NULLS)`; Spark wants it outside the parens.
# The spelling `<kw> NULLS)` is unambiguous (no other clause ends that
# way), so a guarded swap moves it out (round 11).
_NULLS_TREATMENT_IN_CALL = re.compile(
    r"\s+(IGNORE|RESPECT)\s+NULLS\s*\)", re.IGNORECASE
)

# duck's POSITIONAL JOIN (pair rows by position, NULL-pad the shorter
# side): each side gets a per-row ordinal (row_number over the scan
# order via monotonically_increasing_id — inner ORDER BY subqueries keep
# their sort, pinned by probe positional_join_probe) and the sides FULL
# JOIN on it. Dialect tier: the ordinal window is a single-partition
# pass, the faithful cost of an inherently order-dependent operator —
# the scale path is operators/relational.py join_positional
# (zipWithIndex, per-partition offsets). Star-selects would surface the
# __duck_pos helper; explicit projections (the only sane use) don't.
_POSITIONAL_JOIN = re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE)
_PJ_SEQ = [0]


def _pj_wrap(rel: str, alias: str | None) -> str:
    _PJ_SEQ[0] += 1
    alias = alias or f"__duck_pj{_PJ_SEQ[0]}"
    return (
        "(SELECT *, row_number() OVER "
        "(ORDER BY monotonically_increasing_id()) AS __duck_pos "
        f"FROM {rel}) {alias}"
    )


_REL_HEAD_KEYWORDS = frozenset(
    {"from", "join", "on", "using", "where", "select", "lateral",
     "inner", "left", "right", "full", "cross", "natural", "as"}
)


def _rel_alias_backwards(
    q: str, masked: str, lend: int
) -> tuple[int, int, str | None]:
    """Parse `<relation> [AS] [alias]` ENDING at lend (exclusive),
    walking backwards. Returns (rel_start, rel_end, alias)."""
    t_start = _expr_start(masked, lend)
    tok = q[t_start:lend].strip()
    before = masked[:t_start].rstrip()
    if not re.fullmatch(r"[A-Za-z_][\w.]*", tok):
        return t_start, lend, None  # bare (subquery)
    if re.search(r"\bAS$", before, re.IGNORECASE):
        tbl_end = len(before[: len(before) - 2].rstrip())
        return _expr_start(masked, tbl_end), tbl_end, tok
    if before.endswith(")"):
        return _expr_start(masked, len(before)), len(before), tok
    pm = re.search(r"([A-Za-z_][\w.]*)$", before)
    if pm is not None and pm.group(1).lower() not in _REL_HEAD_KEYWORDS:
        return pm.start(1), len(before), tok  # "table alias"
    return t_start, lend, tok.split(".")[-1]  # tok IS the relation


def positional_join_relations(q: str) -> list[str]:
    """Named base relations feeding POSITIONAL JOINs — parsed with the
    same backward/forward scan as the rewrite, no mutation. The
    executor's size guard (round 13, VERDICT r12 watch item 1) sizes
    these to refuse single-partitioning a huge input; subqueries return
    no name and pass unguarded (documented)."""
    rels: list[str] = []
    masked = _mask_literals(q)
    for m in _POSITIONAL_JOIN.finditer(masked):
        lend = len(masked[: m.start()].rstrip())
        lstart, lrel_end, _ = _rel_alias_backwards(q, masked, lend)
        lrel = q[lstart:lrel_end].strip()
        if re.fullmatch(r"[A-Za-z_][\w.]*", lrel):
            rels.append(lrel)
        i = m.end()
        while i < len(masked) and masked[i].isspace():
            i += 1
        rm = re.match(r"[A-Za-z_][\w.]*", masked[i:])
        if rm is not None:
            rels.append(q[i : i + rm.end()])
    return rels


def _rewrite_positional_join(q: str) -> str:
    while True:
        masked = _mask_literals(q)
        m = _POSITIONAL_JOIN.search(masked)
        if m is None:
            return q
        lend = len(masked[: m.start()].rstrip())
        lstart, lrel_end, lalias = _rel_alias_backwards(q, masked, lend)
        lrel = q[lstart:lrel_end].strip()
        if not lrel:
            return q  # unparseable: loud native error downstream
        # RIGHT: relation primary + optional [AS] alias
        i = m.end()
        while i < len(masked) and masked[i].isspace():
            i += 1
        if i < len(masked) and masked[i] == "(":
            rend = _scan_balanced(masked, i + 1)
        else:
            rm = re.match(r"[A-Za-z_][\w.]*", masked[i:])
            if rm is None:
                return q
            rend = i + rm.end()
        rrel = q[i:rend]
        ralias = None
        am = re.match(
            r"\s+(?:AS\s+)?([A-Za-z_]\w*)", masked[rend:], re.IGNORECASE
        )
        tail_kw = (
            "on", "using", "where", "group", "order", "limit", "join",
            "inner", "left", "right", "full", "cross", "positional",
            "union", "intersect", "except", "qualify", "window", "having",
        )
        if am and am.group(1).lower() not in tail_kw:
            ralias = am.group(1)
            rend += am.end()
        elif masked[i] != "(":
            ralias = rrel.split(".")[-1]
        q = (
            q[:lstart]
            + _pj_wrap(lrel, lalias)
            + " FULL JOIN "
            + _pj_wrap(rrel, ralias)
            + " USING (__duck_pos)"
            + q[rend:]
        )


# `OVER (w ROWS …)` — a named-window REFINEMENT (base window + frame).
# Spark supports named windows (`OVER w` / `OVER (w)`) but not
# refinements, and rejects a base-window ref at a DEFINITION site
# (`WINDOW w2 AS (w1 ROWS …)`), so both are expanded at bind time.
# Duck's resolution rule (pinned live): a definition's leading base
# identifier resolves only against TEXTUALLY EARLIER definitions;
# unknown / self / forward / cyclic refs are silently ignored (no
# base), while an unknown name in OVER position is an error. Specs are
# pre-expanded once in textual order, so cycles can't loop (r12).
_WINDOW_DEF = re.compile(r"\bWINDOW\s+([A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE)
_WINDOW_DEF_SIBLING = re.compile(r",\s*([A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE)
_WINDOW_SPEC_HEAD = re.compile(r"\s*([A-Za-z_]\w*)\b")
_WINDOW_SPEC_KEYWORDS = frozenset(
    {"partition", "order", "rows", "range", "groups", "exclude"}
)


_WINDOW_FRAME_KW = re.compile(r"\b(?:ROWS|RANGE|GROUPS)\b", re.IGNORECASE)


def _rewrite_named_window_refinement(q: str) -> str:
    from duck_server_spark.engine.errors import PgError

    masked = _mask_literals(q)
    if not _WINDOW_DEF.search(masked):
        return q
    # 1. collect definitions in textual order, following comma-separated
    #    siblings of each WINDOW keyword (`WINDOW a AS (...), b AS (...)`)
    defs: list[tuple[str, int, int]] = []  # (name, body_start, body_end)
    for wm in _WINDOW_DEF.finditer(masked):
        name, pos = wm.group(1), wm.end()
        while True:
            end = _scan_balanced(masked, pos)
            defs.append((name.lower(), pos, end - 1))
            sib = _WINDOW_DEF_SIBLING.match(masked, end)
            if sib is None:
                break
            name, pos = sib.group(1), sib.end()
    # 2. every reference copies the referenced def's DIRECT elements only
    #    (one level, non-recursive — pinned live against duck): a def's
    #    leading base identifier inlines the base's direct text when the
    #    base was defined textually earlier, and is dropped otherwise,
    #    so cycles / self-refs / forward refs can't loop
    direct: dict[str, str] = {}
    bodies: list[tuple[int, int, str]] = []
    for name, s, e in defs:
        body, mbody = q[s:e], masked[s:e]
        base = ""
        hm = _WINDOW_SPEC_HEAD.match(mbody)
        if hm is not None and hm.group(1).lower() not in _WINDOW_SPEC_KEYWORDS:
            base = direct.get(hm.group(1).lower(), "")
            body = body[hm.end() :].lstrip()
        direct[name] = body.strip()
        bodies.append((s, e, (base + " " + direct[name]).strip()))
    # 3. splice: def bodies in place (WINDOW clause becomes Spark-valid,
    #    bare `OVER name` then resolves the one-level-expanded spec);
    #    `OVER (name …)` refinements get the direct spec inlined; a bare
    #    copy `OVER (name)` likewise (duck errors if it has a frame)
    spans: list[tuple[int, int, str]] = list(bodies)
    for om in re.finditer(r"\bOVER\s*\(\s*([A-Za-z_]\w*)\b", masked, re.IGNORECASE):
        name = om.group(1).lower()
        if name not in direct or any(s <= om.start(1) < e for s, e, _ in bodies):
            continue
        rest = masked[om.end() :].lstrip()
        if rest.startswith(")") and _WINDOW_FRAME_KW.search(
            _mask_literals(direct[name])
        ):
            raise PgError(
                "42601",
                f'cannot copy window "{om.group(1)}" because it has a '
                "frame clause",
            )
        spans.append((om.start(1), om.end(1), direct[name] + " "))
    for s, e, text in sorted(spans, reverse=True):
        q = q[:s] + text + q[e:]
    return q


# Numeric-LITERAL casts to integer types round HALF AWAY FROM ZERO in
# DuckDB (2.5::INT = 3, '1.9'::INT = 2) where Spark truncates — closed
# at bind time for provable literals (round 11). COLUMN casts keep
# Spark semantics: the tie rule is source-type-dependent there
# (DECIMAL half-away vs DOUBLE banker's — pinned live) and bind-time
# text cannot know the type; documented in the probe divergence list.
_INT_TYPES = r"(?:u?tinyint|u?smallint|u?integer|int2|int4|int8|int|bigint|hugeint)"
_LIT_INT_CAST = re.compile(
    rf"(?<![\w.'])(\d+\.\d+)(?=\s*::\s*{_INT_TYPES}\b)", re.IGNORECASE
)
_CAST_NUM_INT = re.compile(
    rf"(\bCAST\s*\(\s*|\bTRY_CAST\s*\(\s*)([+-]?\d+\.\d+)(?=\s+AS\s+{_INT_TYPES}\s*\))",
    re.IGNORECASE,
)
_STR_SPAN_POSTFIX = re.compile(rf"\s*::\s*{_INT_TYPES}\b", re.IGNORECASE)
_STR_SPAN_CAST_PRE = re.compile(r"\b(?:TRY_)?CAST\s*\(\s*$", re.IGNORECASE)
_STR_SPAN_CAST_POST = re.compile(rf"\s+AS\s+{_INT_TYPES}\s*\)", re.IGNORECASE)
_NUMERIC_DEC = re.compile(r"\s*[+-]?\d+\.\d+\s*")


def _round_half_away(txt: str) -> str:
    import decimal

    d = decimal.Decimal(txt.strip())
    return str(d.quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))


# duck TRUNCATES a decimal literal rescaled to a lower-scale DECIMAL
# (toward zero; 2.45::DECIMAL(3,1) = 2.4, 99.99::DECIMAL(3,1) = 99.9 —
# no overflow where Spark's HALF_UP 100.0 would not fit) while Spark
# rounds HALF_UP. `::` binds tighter than unary minus, so the matched
# literal is always the positive spelling. Default DECIMAL = (18,3),
# duck's. STRING literals rescale by ROUNDING in duck — Spark's HALF_UP
# already matches those. (round 12, pinned live)
_DEC_TARGET = r"(?:DECIMAL|NUMERIC)(?:\s*\(\s*(\d+)\s*,\s*(\d+)\s*\))?"
_LIT_DEC_CAST = re.compile(
    rf"(?<![\w.'])(\d+\.\d+)\s*::\s*{_DEC_TARGET}(?!\w)", re.IGNORECASE
)
_CAST_NUM_DEC = re.compile(
    rf"(\bCAST\s*\(\s*)(\d+\.\d+)(\s+AS\s+){_DEC_TARGET}(\s*\))",
    re.IGNORECASE,
)


def _trunc_to_scale(txt: str, scale_grp: str | None) -> str:
    s = int(scale_grp) if scale_grp is not None else 3
    whole, _, frac = txt.partition(".")
    return f"{whole}.{frac[:s]}" if s > 0 and frac[:s] else whole


def _rewrite_literal_dec_casts(q: str) -> str:
    if "." not in q:
        return q
    return _sub_outside_literals(
        q,
        lambda seg: _CAST_NUM_DEC.sub(
            lambda m: m.group(1)
            + _trunc_to_scale(m.group(2), m.group(5))
            + m.group(0)[m.end(2) - m.start() :],
            _LIT_DEC_CAST.sub(
                lambda m: _trunc_to_scale(m.group(1), m.group(3))
                + m.group(0)[m.end(1) - m.start() :],
                seg,
            ),
        ),
    )


def _rewrite_literal_int_casts(q: str) -> str:
    if "." not in q:
        return q
    # bare decimal literals (digits are visible in the masked twin)
    q = _sub_outside_literals(
        q,
        lambda s: _CAST_NUM_INT.sub(
            lambda m: m.group(1) + _round_half_away(m.group(2)),
            _LIT_INT_CAST.sub(lambda m: _round_half_away(m.group(1)), s),
        ),
    )
    # quoted decimal-string literals: walk the protected quote spans
    # directly ('1.9'::INT / CAST('2.5' AS INT)) — the content is
    # invisible to segment-based passes by design
    while True:
        masked = _mask_literals(q)
        hit = None
        for s, e, kind in _protected_spans(q):
            if kind != "quote":
                continue
            content = q[s + 1 : e - 1]
            if not _NUMERIC_DEC.fullmatch(content):
                continue
            if _STR_SPAN_POSTFIX.match(masked, e) or (
                _STR_SPAN_CAST_PRE.search(masked[:s])
                and _STR_SPAN_CAST_POST.match(masked, e)
            ):
                hit = (s, e, content)
                break
        if hit is None:
            return q
        s, e, content = hit
        q = q[:s] + _round_half_away(content) + q[e:]


# '101'::BIT — DuckDB's BITSTRING packs to bytes client-side: first
# byte = count of leading pad bits, then the bits themselves packed
# MSB-first with the PAD BITS SET (pinned live 1.0: '101' → 0x05 0xFD).
# A string LITERAL packs at bind time into a Spark binary literal
# (X'…'); empty / non-[01] literals raise duck's conversion errors.
# Non-literal bases keep the documented bit→string type mapping.
_BIT_CAST = re.compile(
    r"(?:'((?:[^']|'')*)'\s*::\s*(?:BIT|BITSTRING)\b"
    r"|CAST\s*\(\s*'((?:[^']|'')*)'\s*AS\s+(?:BIT|BITSTRING)\s*\))",
    re.IGNORECASE,
)


def _pack_bit_literal(bits: str) -> str:
    if bits == "":
        return "raise_error('Conversion Error: Cannot cast empty string to BIT')"
    if not re.fullmatch(r"[01]+", bits):
        bad = next(c for c in bits if c not in "01")
        return (
            "raise_error('Conversion Error: Invalid character encountered "
            f"in string -> bit conversion: ''{bad}''')"
        )
    pad = (8 - len(bits) % 8) % 8
    padded = "1" * pad + bits
    raw = bytes([pad]) + bytes(
        int(padded[i : i + 8], 2) for i in range(0, len(padded), 8)
    )
    return "X'" + raw.hex().upper() + "'"


def _rewrite_bit_literals(q: str) -> str:
    while True:
        masked = _mask_literals(q)
        m = _BIT_CAST.search(masked)
        if m is None:
            return q
        grp = 1 if m.group(1) is not None else 2
        bits = q[m.start(grp) : m.end(grp)]
        q = q[: m.start()] + _pack_bit_literal(bits) + q[m.end() :]


# date − date → BIGINT day count (DuckDB; Spark returns INTERVAL DAY).
# Only PROVABLY-date operand spellings rewrite — a column operand's type
# is unknowable in text, and duck's '-' result depends on it (date−int →
# DATE, ts−ts → INTERVAL), so anything else passes through with Spark's
# native semantics (never-silent convention). timestamp − timestamp is
# deliberately NOT matched: duck returns INTERVAL there and Spark's
# native interval result is the faithful shape.
_DATE_OPERAND = (
    # (?<![\w.]) guards each spelling against matching as the SUFFIX of
    # a longer identifier — 'my_current_date - current_date' must not
    # splice (review r11)
    r"(?<![\w.])(?:DATE\s*'[^']*'|current_date\b(?:\s*\(\s*\))?|"
    r"make_date\s*\([^()]*\)|CAST\s*\([^()]*\bAS\s+DATE\s*\)|"
    r"'[^']*'\s*::\s*date\b|today\s*\(\s*\))"
)
_DATE_MINUS_DATE = re.compile(
    rf"({_DATE_OPERAND})\s*-\s*({_DATE_OPERAND})", re.IGNORECASE
)


def _rewrite_date_minus_date(q: str) -> str:
    """`DATE '…' - DATE '…'` (and other provable date spellings) →
    CAST(datediff(L, R) AS BIGINT) — duck 1.0 returns BIGINT days
    (pinned: DATE '2024-03-01' - DATE '2024-01-01' = 60)."""
    while True:
        masked = _mask_literals(q)
        m = _DATE_MINUS_DATE.search(masked)
        if m is None:
            return q
        left = q[m.start(1) : m.end(1)]
        right = q[m.start(2) : m.end(2)]
        q = (
            q[: m.start()]
            + f"CAST(datediff({left}, {right}) AS BIGINT)"
            + q[m.end() :]
        )


# optional intervening EXCEPT (…) — duck allows `* EXCLUDE (…) REPLACE
# (…)` and the EXCLUDE→EXCEPT swap runs first (round 11)
_STAR_REPLACE = re.compile(
    r"\*\s+(?:EXCEPT\s*\(([^()]*)\)\s*)?REPLACE\s*\(", re.IGNORECASE
)


def _split_top_level(s: str, masked: str | None = None) -> list[str]:
    """Split on commas at paren depth 0. Depth/commas are read from
    `masked` (literal-masked twin) when given; slices come from `s`."""
    scan = masked if masked is not None else s
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(scan):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def rewrite_star_replace(q: str) -> str:
    """DuckDB `SELECT * REPLACE (expr AS col, ...)` → Spark
    `SELECT * EXCEPT (col, ...), expr AS col, ...`.

    Trigger search, paren scan, and comma split all run on the
    literal-MASKED text so string literals (which may contain 'REPLACE
    (', parens, or commas) pass through untouched; slices come from the
    original text. Caveat (documented): the replaced columns move to the
    END of the projection — DuckDB keeps them in place. Clients that
    address columns by name (every wire client here) are unaffected."""
    masked = _mask_literals(q)
    m = None
    for cand in _STAR_REPLACE.finditer(masked):
        # Only a bare or qualified select-star qualifies: the text before
        # the '*' must end with SELECT [DISTINCT], ',', or '.' — otherwise
        # this is multiplication by a replace() call
        # (`SELECT a * replace(b, 'x', '') FROM t`), which must pass through.
        before = masked[: cand.start()].rstrip()
        if before.endswith((",", ".")) or re.search(
            r"(?i)\bSELECT(\s+DISTINCT)?$", before
        ):
            m = cand
            break
    if not m:
        return q
    i, depth = m.end(), 1
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    inner, inner_masked = q[m.end() : i - 1], masked[m.end() : i - 1]
    items = _split_top_level(inner, inner_masked)
    names = [
        re.split(r"\s+as\s+", it, flags=re.IGNORECASE)[-1].strip().strip('"')
        for it in items
    ]
    if m.group(1):  # merged EXCLUDE/EXCEPT list (round 11)
        names = [c.strip() for c in m.group(1).split(",") if c.strip()] + names
    repl = f"* EXCEPT ({', '.join(names)}), {', '.join(items)}"
    return rewrite_star_replace(q[: m.start()] + repl + q[i:])


# ---------------------------------------------------------------------------
# ASOF JOIN (round 6): DuckDB 1.0 exposes the keyword through the
# reference's delegation surface (/root/reference/README.md:26); Spark SQL
# has no ASOF primitive. The shim rewrites
#     l ASOF [LEFT] JOIN r [alias] ON l.k = r.k AND l.ts >= r.ts
# into a validity-interval equi-join: each right row is valid from its ts
# until the NEXT right row's ts for the same key (one lead() window over
# the right side only), and the join band picks exactly the as-of row:
#     [LEFT] JOIN (SELECT __asof_r.*, lead(ts) OVER (PARTITION BY k
#                  ORDER BY ts ASC) AS __asof_end_i FROM r __asof_r) alias
#       ON l.k = alias.k AND l.ts >= alias.ts
#      AND (alias.__asof_end_i IS NULL OR l.ts < alias.__asof_end_i)
# Scale shape: Catalyst plans the equi-join on the key with the band as a
# residual filter — ONE shuffle of each side on the key, no range
# explosion and no all-pairs argmax (the same plan the DataFrame idiom in
# operators/events_time.py produces). All four inequality directions are
# supported; >= / > look backward (largest earlier right ts), <= / <
# forward. Statements whose ON shape can't be parsed (expressions on the
# right time column, two inequalities, unqualified operands) pass through
# unchanged and surface Spark's own error rather than silently drifting.
# ---------------------------------------------------------------------------

_ASOF = re.compile(r"\bASOF\s+(LEFT\s+)?JOIN\b", re.IGNORECASE)
_ON_END_KW = re.compile(
    r"(JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ASOF|WHERE|GROUP|ORDER|HAVING|"
    r"LIMIT|UNION|INTERSECT|EXCEPT|QUALIFY|WINDOW|OFFSET)\b",
    re.IGNORECASE,
)
_IDENT = re.compile(r"[A-Za-z_][\w$.]*")
_SIMPLE_COL = re.compile(r"^[A-Za-z_][\w$]*$")
_AND_SPLIT = re.compile(r"\(|\)|\bAND\b", re.IGNORECASE)
_FLIP_OP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _split_on_and(s: str) -> list[str]:
    masked = _mask_literals(s)
    parts, depth, start = [], 0, 0
    for mm in _AND_SPLIT.finditer(masked):
        t = mm.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            parts.append(s[start : mm.start()])
            start = mm.end()
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _classify_ineq(cond: str) -> tuple[str, str, str] | None:
    """→ (left, op, right) if cond is a single </>/<=/>= comparison."""
    for op in (">=", "<="):
        idx = cond.find(op)
        if idx != -1:
            return cond[:idx].strip(), op, cond[idx + 2 :].strip()
    for op in (">", "<"):
        idx = cond.find(op)
        if idx != -1 and (idx + 1 >= len(cond) or cond[idx + 1] not in "=<>"):
            return cond[:idx].strip(), op, cond[idx + 1 :].strip()
    return None


def _parse_asof_conds(conds: str, alias: str):
    """→ (equality conds, right key cols, left time expr, op, right time
    col) or None when the shape isn't a rewritable ASOF ON clause."""
    pref = alias.lower() + "."
    eqs: list[str] = []
    keys: list[str] = []
    ineq = None
    for cond in _split_on_and(conds):
        c = _classify_ineq(cond)
        if c is not None:
            if ineq is not None:
                return None  # ASOF takes exactly one inequality
            left, op, right = c
            if right.lower().startswith(pref):
                ineq = (left, op, right)
            elif left.lower().startswith(pref):
                ineq = (right, _FLIP_OP[op], left)
            else:
                return None
            continue
        sides = [s.strip() for s in cond.split("=")]
        if len(sides) != 2:
            return None
        key = next((s for s in sides if s.lower().startswith(pref)), None)
        if key is None or not _SIMPLE_COL.match(key[len(pref):]):
            return None
        eqs.append(cond.strip())
        keys.append(key[len(pref):])
    if ineq is None:
        return None
    lexpr, op, rexpr = ineq
    tscol = rexpr[len(pref):]
    if not _SIMPLE_COL.match(tscol):
        return None
    return eqs, keys, lexpr, op, tscol


def rewrite_asof_join(q: str) -> str:
    """Rewrite every `ASOF [LEFT] JOIN` (see block comment above). When
    the outer projection contains a star that would expose a validity-end
    helper column — bare `*`, `*, extra`, or `<right-alias>.*`, for joins
    rewritten at the statement's top paren level — the result is wrapped
    in `SELECT * EXCEPT (helpers)` so the helpers don't leak into the
    client's output (ADVICE r6: the old wrap only fired on `^SELECT *
    FROM`). Helpers that survive other shapes (CTE-star, nested
    subquery stars) are stripped at the DataFrame layer by
    Engine.query's drop guard — schema-level, so every textual shape is
    covered there."""
    helpers: list[tuple[str, str, int]] = []  # (name, right alias, depth)
    for seq in range(1, 17):  # bounded: statements have few ASOF joins
        masked = _mask_literals(q)
        m = _ASOF.search(masked)
        if m is None:
            break
        is_left = bool(m.group(1))
        n = len(q)
        i = m.end()
        while i < n and q[i].isspace():
            i += 1
        if i < n and q[i] == "(":  # subquery right side
            depth, j = 1, i + 1
            while j < n and depth:
                if masked[j] == "(":
                    depth += 1
                elif masked[j] == ")":
                    depth -= 1
                j += 1
            right_src = q[i:j]
        else:
            im = _IDENT.match(q, i)
            if im is None:
                return q
            right_src, j = im.group(0), im.end()
        k = j
        while k < n and q[k].isspace():
            k += 1
        alias = None
        am = _IDENT.match(q, k)
        if am and am.group(0).lower() == "as":
            k = am.end()
            while k < n and q[k].isspace():
                k += 1
            am = _IDENT.match(q, k)
        collist = None
        if am and am.group(0).lower() != "on":
            alias, j = am.group(0), am.end()
            k = j
            while k < n and q[k].isspace():
                k += 1
            if k < n and q[k] == "(":  # alias column list: v(ts, val)
                depth, j2 = 1, k + 1
                while j2 < n and depth:
                    if masked[j2] == "(":
                        depth += 1
                    elif masked[j2] == ")":
                        depth -= 1
                    j2 += 1
                collist = q[k + 1 : j2 - 1]
                k = j2
                while k < n and q[k].isspace():
                    k += 1
            am = _IDENT.match(q, k)
        if alias is None:
            if right_src.startswith("("):
                return q  # a subquery right side needs an alias
            alias = right_src.split(".")[-1]
        if am is None or am.group(0).lower() != "on":
            return q
        cond_start = am.end()
        # ON conds end at a top-level keyword, comma, semicolon, or the
        # closing paren of an enclosing subquery (scanned on the mask)
        depth = 0
        cond_end = n
        p = cond_start
        while p < n:
            ch = masked[p]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    cond_end = p
                    break
                depth -= 1
            elif (ch == "," or ch == ";") and depth == 0:
                cond_end = p
                break
            elif depth == 0 and (ch.isalpha() or ch == "_"):
                if _ON_END_KW.match(masked, p):
                    cond_end = p
                    break
                idm = _IDENT.match(masked, p)
                p = idm.end() if idm else p + 1
                continue
            p += 1
        parsed = _parse_asof_conds(q[cond_start:cond_end], alias)
        if parsed is None:
            return q
        eqs, keys, lexpr, op, tscol = parsed
        helper = f"__asof_end_{seq}"
        pre = masked[: m.start()]
        helpers.append((helper, alias, pre.count("(") - pre.count(")")))
        part_by = f"PARTITION BY {', '.join(keys)} " if keys else ""
        order = "ASC" if op in (">=", ">") else "DESC"
        inner_alias = f"__asof_r({collist})" if collist else "__asof_r"
        new_right = (
            f"(SELECT __asof_r.*, lead({tscol}) OVER ({part_by}ORDER BY "
            f"{tscol} {order}) AS {helper} FROM {right_src} {inner_alias}) {alias}"
        )
        endref = f"{alias}.{helper}"
        rexpr = f"{alias}.{tscol}"
        closer = {">=": "<", ">": "<=", "<=": ">", "<": ">="}[op]
        band = (
            f"{lexpr} {op} {rexpr} AND "
            f"({endref} IS NULL OR {lexpr} {closer} {endref})"
        )
        new_conds = " AND ".join(eqs + [band])
        jt = "LEFT JOIN" if is_left else "JOIN"
        q = q[: m.start()] + f"{jt} {new_right} ON {new_conds} " + q[cond_end:]
    if helpers:
        im = re.match(
            r"\s*INSERT\s+INTO\s+[`\"]?[\w.]+[`\"]?\s*(?:\([^)]*\)\s*)?",
            q,
            re.IGNORECASE,
        )
        head, body = (q[: im.end()], q[im.end() :]) if im else ("", q)
        exposed = _exposed_asof_helpers(body, helpers)
        if exposed:
            body = (
                f"SELECT * EXCEPT ({', '.join(exposed)}) "
                f"FROM ({body.rstrip().rstrip(';')}) __asof_outer"
            )
            q = head + body
    return q


def _exposed_asof_helpers(q: str, helpers: list[tuple[str, str, int]]) -> list[str]:
    """Which helper columns does the statement's OUTER star projection
    expose? Only depth-0 joins can reach the outer projection directly;
    a bare `*` (alone or `*, extra`) exposes all of them, `<alias>.*`
    exposes that right side's helper. Statements starting with WITH, or
    with no top-level star, expose nothing HERE (deeper leak shapes are
    stripped by Engine.query's schema-level drop guard — wrapping them
    textually would add EXCEPT refs to columns sub-projections may have
    already dropped, turning a working query into an analysis error)."""
    masked = _mask_literals(q)
    m = re.match(r"\s*SELECT\s+(?:DISTINCT\s+|ALL\s+)?", q, re.IGNORECASE)
    if m is None:
        return []
    # (INSERT INTO t SELECT * FROM … ASOF JOIN … is handled by the
    # caller: rewrite_asof_join wraps the SELECT part so the helper
    # can't land in the target table by position.)
    # projection ends at the first top-level FROM
    depth, i, start, end = 0, m.end(), m.end(), None
    while i < len(masked):
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and ch in "Ff"
            and (i == 0 or not (masked[i - 1].isalnum() or masked[i - 1] == "_"))
            and re.match(r"FROM\b", masked[i:], re.IGNORECASE)
        ):
            end = i
            break
        i += 1
    if end is None:
        return []
    proj, proj_masked = q[start:end], masked[start:end]
    top = {h for h, _a, d in helpers if d == 0}
    exposed: list[str] = []
    for item in _split_top_level(proj, proj_masked):
        item = item.strip()
        if item == "*":
            exposed += [h for h, _a, d in helpers if d == 0 and h not in exposed]
        else:
            sm = re.match(r"([A-Za-z_][\w]*)\s*\.\s*\*$", item)
            if sm:
                exposed += [
                    h
                    for h, a, d in helpers
                    if d == 0 and a.lower() == sm.group(1).lower() and h not in exposed
                ]
    return [h for h in exposed if h in top]


_QUALIFY = re.compile(r"\bqualify\b", re.IGNORECASE)
_TAIL = re.compile(r"\b(order\s+by|limit)\b", re.IGNORECASE)


def rewrite_qualify(q: str) -> str:
    """DuckDB `QUALIFY <pred>` → post-window filter subquery:

        SELECT * EXCEPT (__q)
        FROM (SELECT *, (<pred>) AS __q FROM (<query sans QUALIFY>))
        WHERE __q  [ORDER BY/LIMIT tail]

    Window functions in <pred> evaluate over the wrapped query's output —
    equivalent whenever the select list keeps the columns the predicate
    references (the common case; the reference's engine handles the rest
    natively and we document the gap, SURVEY.md §7)."""
    masked = _mask_literals(q)
    m = _QUALIFY.search(masked)  # 'qualify' inside a literal is data
    if not m:
        return q
    before, after = q[: m.start()], q[m.end():]
    after_masked = masked[m.end():]
    # find ORDER BY / LIMIT only at paren depth 0 (not inside OVER (...));
    # scan the masked twin so literal parens/keywords don't miscount
    split_at = None
    depth = 0
    for tm in _TAIL.finditer(after_masked):
        depth = after_masked[: tm.start()].count("(") - after_masked[: tm.start()].count(")")
        if depth == 0:
            split_at = tm.start()
            break
    pred = after[:split_at] if split_at is not None else after
    tail = after[split_at:] if split_at is not None else ""
    pred = pred.strip().rstrip(";")
    return (
        f"SELECT * EXCEPT (__q) FROM (SELECT *, ({pred}) AS __q FROM ({before.strip()}) "
        f"__qualify_in) __qualify_out WHERE __q {tail}"
    )


# Single-quoted SQL string literal, with '' as the escaped quote.
_STR_LIT = re.compile(r"'(?:[^']|'')*'")

# Dollar-quoted literal opener: $$ or $tag$ (PG syntax DuckDB accepts).
# A bare positional parameter `$1` never matches (the tag must be an
# identifier), so PREPARE-path placeholders are safe.
_DOLLAR_OPEN = re.compile(r"\$([A-Za-z_]\w*)?\$")


def normalize_literals(q: str) -> str:
    """DuckDB/PG string-literal semantics → Spark's (round 10, found by
    tools/dialect_probe.py): in DuckDB and PG a plain '...' literal is
    RAW — backslash is data, so '(\\d+)' is a working regex — while
    Spark processes C-style escapes in plain literals ('\\d' silently
    becomes 'd', breaking every regex a reference user writes). Three
    conversions, one left-to-right scan:

    - plain '...'        → backslashes doubled (content preserved)
    - e'...' / E'...'    → prefix stripped, content untouched (PG
      escape-string semantics == Spark plain-literal semantics: \\n is
      a newline, an unknown escape like \\d drops the backslash —
      pinned by tests against live DuckDB)
    - $$...$$ / $t$...$t$ → single-quoted with ' doubled, then the raw
      rule (dollar-quoted content is raw, including quotes/backslashes)

    NOT idempotent — runs exactly once per statement, at the top of
    Engine._prepare_sql AFTER macro inlining (macro bodies are
    duck-dialect text) and BEFORE every shim that injects Spark-dialect
    literals (strftime patterns, pivot values, text templates)."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        # comments are BLANKED to spaces (round 11): comments have no
        # semantics, an apostrophe inside "-- don't" must not
        # desynchronize literal detection (round-10 review), and — the
        # round-11 mutation sweep's find — every later rewrite that
        # SPLICES statement text onto one line (DISTINCT ON's derived
        # table, the unnest-item parse) is poisoned by a surviving
        # "--" swallowing the rest of its new line. Newlines inside the
        # comment are preserved so line numbers in errors stay stable.
        if c == "-" and q.startswith("--", i):
            j = q.find("\n", i)
            j = n if j == -1 else j
            out.append(" " * (j - i))
            i = j
            continue
        if c == "/" and q.startswith("/*", i):
            j = q.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append("".join(ch if ch == "\n" else " " for ch in q[i:j]))
            i = j
            continue
        if c == "'":
            # find the literal's end, honoring '' doubling
            j = i + 1
            while j < n:
                if q[j] == "'":
                    if j + 1 < n and q[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            body = q[i + 1 : j] if j < n else q[i + 1 :]
            # e-prefix? the char just written must be a bare e/E token
            is_escape_str = bool(out) and out[-1] in "eE" and (
                len(out) < 2 or not (out[-2].isalnum() or out[-2] in "_$'\"`")
            )
            if is_escape_str:
                out.pop()  # strip the prefix; Spark gives '...' the
                # same escape semantics PG gives e'...'
            else:
                body = body.replace("\\", "\\\\")
            out.append("'" + body + "'")
            i = j + 1
            continue
        if c == "$":
            m = _DOLLAR_OPEN.match(q, i)
            if m:
                close = q.find(m.group(0), m.end())
                if close != -1:
                    body = q[m.end() : close]
                    body = body.replace("'", "''").replace("\\", "\\\\")
                    out.append("'" + body + "'")
                    i = close + len(m.group(0))
                    continue
        out.append(c)
        i += 1
    return "".join(out)


_SIMPLE_IDENT = re.compile(r"[A-Za-z_]\w*")

# quoted spellings of these stay BACKTICKED (bare would be ambiguous in
# alias-without-AS / table-alias / clause positions, or is outright
# reserved in Spark's grammar). Users quote simple names precisely
# because they collide with keywords, so the list is deliberately wide:
# keeping backticks is always parse-safe on query paths.
_QUOTED_IDENT_KEYWORDS = frozenset(
    """
    all alter analyze and anti any array as asc asof begin between both
    by call case cast check checkpoint collate column commit constraint
    copy create cross cube current database day default deallocate
    delete desc describe discard distinct drop else end escape except
    exclude execute exists explain export extract false fetch filter
    first following for foreign from full function grant group grouping
    having hour if ignore ilike import in index inner insert intersect
    interval into is join key last lateral leading left like limit
    macro merge minus minute month natural no not null nulls offset on
    only or order outer over partition pivot position pragma preceding
    prepare primary qualify range recursive references rename replace
    reset respect returning right rlike rollback rollup row rows sample
    schema second select semi sequence set show similar some struct
    summarize table tablesample temp temporary then to trailing
    transaction trim true truncate type unbounded union unique unknown
    unpivot update use user using vacuum values view when where window
    with within year
    """.split()
)


def normalize_quoted_idents(q: str) -> str:
    """PG/DuckDB double-quoted identifiers → Spark backticks, globally
    (round 10, VERDICT r9 punch item 1 — the reference gets this for
    free because embedded DuckDB parses PG quoting natively behind the
    delegation points, pg_conn.go:314 / ch_server.go:227; Spark's
    default parser reads "x" as a STRING LITERAL instead).

    One left-to-right scan that understands BOTH quote kinds at once
    (the regex-mask approach can't: a `'` inside "a'b" would open a
    phantom string literal) plus comments:

    - '…' string literals ('' escape) copied verbatim — a literal
      'he said "hi"' keeps its double quotes as data
    - `…` already-backticked identifiers (`` escape) copied verbatim,
      which also makes the transform idempotent
    - -- and /* */ comments copied verbatim
    - "…" identifiers ("" unescapes to one ") → `…` with any backtick
      in the content doubled; qualified "a"."b" converts per segment
    - a quoted SIMPLE identifier (plain word, not a SQL keyword)
      drops its quoting entirely: `UPDATE "t" SET "c" = 1` becomes the
      exact text the engine's own DML/DDL intercept machinery already
      parses (`UPDATE t SET c = 1`) — backtick-spelled statements would
      miss the COW-UPDATE/DELETE/DROP intercepts and dozens of other
      statement regexes. Resolution is case-insensitive anyway (pin
      below), so dropping the quotes never changes which object binds;
      alias case is preserved verbatim by both Spark and DuckDB.
      Keyword or non-word contents ("order", "a b", "a""b") keep
      backticks — safe on every query path, and the DML-intercept gap
      for keyword-NAMED tables is the same pre-existing backtick gap.

    Case-sensitivity pin: PG resolves "Ident" case-SENSITIVELY while
    Spark (default) and DuckDB both resolve identifiers
    case-insensitively — we match DuckDB (the oracle), a documented
    divergence from strict PG. An unbalanced double quote leaves the
    tail untouched so Spark's parser owns the error message."""
    if '"' not in q:
        return q
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c == "'" or c == "`":
            j = i + 1
            while j < n:
                if q[j] == c:
                    if j + 1 < n and q[j + 1] == c:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            out.append(q[i:j])
            i = j
        elif c == "-" and q.startswith("--", i):
            j = q.find("\n", i)
            j = n if j == -1 else j
            out.append(q[i:j])
            i = j
        elif c == "/" and q.startswith("/*", i):
            j = q.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append(q[i:j])
            i = j
        elif c == '"':
            j = i + 1
            body: list[str] = []
            closed = False
            while j < n:
                if q[j] == '"':
                    if j + 1 < n and q[j + 1] == '"':
                        body.append('"')
                        j += 2
                        continue
                    j += 1
                    closed = True
                    break
                body.append(q[j])
                j += 1
            if not closed:
                out.append(q[i:])
                break
            name = "".join(body)
            if _SIMPLE_IDENT.fullmatch(name) and (
                name.lower() not in _QUOTED_IDENT_KEYWORDS
            ):
                out.append(name)
            else:
                out.append("`" + name.replace("`", "``") + "`")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _protected_spans(q: str) -> list[tuple[int, int, str]]:
    """(start, end, kind) spans of quoted literals ('…' with ''
    doubling), dollar-quoted literals ($$…$$ / $tag$…$tag$), and SQL
    comments (-- …\\n, /* … */), from ONE left-to-right scan — so an
    apostrophe inside a comment or dollar literal can never
    desynchronize quote detection (round-10 review family: a
    "-- don't" comment made every later literal invisible to every
    masked scan in the pipeline)."""
    spans: list[tuple[int, int, str]] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c == "-" and q.startswith("--", i):
            j = q.find("\n", i)
            j = n if j == -1 else j
            spans.append((i, j, "comment"))
            i = j
            continue
        if c == "/" and q.startswith("/*", i):
            j = q.find("*/", i + 2)
            j = n if j == -1 else j + 2
            spans.append((i, j, "comment"))
            i = j
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if q[j] == "'":
                    if j + 1 < n and q[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n), "quote"))
            i = j + 1
            continue
        if c == "$":
            m = _DOLLAR_OPEN.match(q, i)
            if m:
                close = q.find(m.group(0), m.end())
                if close != -1:
                    e = close + len(m.group(0))
                    spans.append((i, e, "dollar"))
                    i = e
                    continue
        i += 1
    return spans


def _mask_literals(q: str) -> str:
    """Same-length twin of `q` with every string literal's CONTENT
    replaced by spaces — search/scan on the mask, slice the original.
    Quoted literals keep their delimiters visible (the established
    contract); dollar-quoted literals and comments mask ENTIRELY, so
    positional scans never match keywords inside either."""
    # fast path (review: this runs per iteration of every rewrite loop;
    # statements without comment/dollar markers — the overwhelming
    # majority — keep the C-level regex)
    if "--" not in q and "/*" not in q and "$" not in q:
        return _STR_LIT.sub(
            lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", q
        )
    out = list(q)
    for s, e, kind in _protected_spans(q):
        if kind == "quote":
            for k in range(s + 1, e - 1):
                out[k] = " "
        else:
            for k in range(s, e):
                out[k] = " "
    return "".join(out)


def _sub_outside_literals(q: str, fn) -> str:
    """Apply `fn(segment) -> segment` only to the parts of `q` that are
    NOT inside string literals (quoted or dollar-quoted) or comments,
    so a literal '$1' is never treated as a parameter placeholder and
    comment text is never rewritten."""
    out = []
    pos = 0
    for s, e, _kind in _protected_spans(q):
        out.append(fn(q[pos:s]))
        out.append(q[s:e])
        pos = e
    out.append(fn(q[pos:]))
    return "".join(out)


def count_params(q: str) -> int:
    """Number of distinct $n placeholders outside string literals."""
    found: set = set()
    _sub_outside_literals(q, lambda seg: (found.update(_PARAM.findall(seg)), seg)[1])
    return len(found)


def substitute_params(q: str, params: list) -> str:
    """$n placeholders → escaped literals. The reference always falls back
    to textual inlining beyond 20 params (pg_conn.go:716-766) because of
    per-param cgo cost; our py4j boundary has the same shape, so we always
    inline — one JVM call per query. Placeholders inside string literals
    are left alone (they are data, not parameters)."""

    def repl(m: re.Match) -> str:
        idx = int(m.group(1)) - 1
        if idx < 0 or idx >= len(params):
            return "NULL"
        # duck-dialect rendering: the inlined text re-enters the engine's
        # statement pipeline, whose normalize_literals pass doubles
        # backslashes exactly once (round 10) — pre-doubling here would
        # quadruple them.
        return render_literal(params[idx], dialect="duck")

    return _sub_outside_literals(q, lambda seg: _PARAM.sub(repl, seg))


def params_to_null(q: str) -> str:
    """$n → null for describe probes (pg_conn.go:652-656)."""
    return _sub_outside_literals(q, lambda seg: _PARAM.sub("null", seg))


def split_expr_list(s: str) -> list[str]:
    """Split an EXECUTE-argument list on top-level commas (commas inside
    parens or string literals are inert)."""
    return _split_top_level(s, _mask_literals(s))


def substitute_param_exprs(q: str, exprs: list[str]) -> str:
    """$n placeholders → the nth SQL expression text (already-valid SQL
    from the same statement, so no literal rendering needed — each
    expression arrives pre-parenthesized by the caller). The SQL-level
    `EXECUTE name(args)` twin of substitute_params; placeholders inside
    string literals stay data."""

    def repl(m: re.Match) -> str:
        idx = int(m.group(1)) - 1
        if idx < 0 or idx >= len(exprs):
            return "NULL"
        return exprs[idx]

    return _sub_outside_literals(q, lambda seg: _PARAM.sub(repl, seg))


def render_literal(v, dialect: str = "spark") -> str:
    import datetime as _dt
    import decimal as _dec

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, bytes):
        return "X'" + v.hex() + "'"
    # typed temporal/decimal literals (binary Bind params decode to these)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.replace(tzinfo=None).isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, _dec.Decimal):
        return str(v)
    # pg_conn.go:753 doubles quotes only (DuckDB literals are ANSI); Spark
    # literals ALSO process backslash escapes by default, so a backslash
    # must be doubled too or a trailing `\` escapes the closing quote
    # (breaking out of the literal) and `\n` silently becomes a newline.
    # dialect="duck": text that re-enters the statement pipeline, where
    # normalize_literals does the doubling exactly once (round 10).
    s = str(v).replace("'", "''")
    if dialect == "spark":
        s = s.replace("\\", "\\\\")
    return f"'{s}'"
