"""Statement-level differential battery (round 12, VERDICT r11 item 5).

The SELECT-only probe battery (tools/dialect_probe.py) found round 10's
highest-leverage bug; writes deserve the same sweep. Each probe here is
a SEQUENCE of DuckDB statements (CREATE/INSERT/UPDATE/DELETE/ALTER/
transactions) run verbatim on BOTH engines — live DuckDB and this
engine's execute()/query() path — followed by a comparison of the final
contents of every table the probe declares. A statement that errors
must error on BOTH engines (the error text may differ; the step index
must match), and the surviving table state must match value-for-value.

Usage: python tools/statement_probe.py [filter-substring]
Prints one line per probe: PASS / MISMATCH / ENGINE_ERR / DUCK_ERR.
DUCK_ERR rows are sequences the local DuckDB build itself rejects in a
way the battery cannot express (dropped, out of surface).
"""

from __future__ import annotations

import os
import re
import sys
import traceback

sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

import duckdb  # noqa: E402

# Expected divergences: probe name → pinned reason. Everything else
# must match; tests/test_statement_gate.py pins the PASS set.
EXPECTED_STMT_DIVERGENCES: dict[str, str] = {
    "err_double_begin_noop": (
        "deliberate PG semantics: BEGIN inside an open transaction is a "
        "warning-noop that keeps the block (wire_server.py _txn_control"
        ", tests pin it) — duckdb errors 'cannot start a transaction "
        "within a transaction' AND aborts the block. Real PG clients "
        "(psql scripts, JDBC autocommit toggles) issue redundant BEGINs "
        "and expect the PG behavior; replicating duck's here would "
        "abort their work for no user value"
    ),
}

# (name, [statements...], [tables to compare at the end])
# Table names are unique per probe (sp_<short>_<n>) so probes are
# independent; the harness DROPs them on both engines before and after.
SEQS: list[tuple[str, list[str], list[str]]] = [
    # ---- create / insert basics ----
    ("create_insert_basic", [
        "CREATE TABLE sp_cib (i INTEGER, s VARCHAR)",
        "INSERT INTO sp_cib VALUES (1, 'a'), (2, 'b'), (3, NULL)",
    ], ["sp_cib"]),
    ("insert_subset_cols", [
        "CREATE TABLE sp_sub (i INTEGER, s VARCHAR, d DOUBLE)",
        "INSERT INTO sp_sub (s, i) VALUES ('x', 9), ('y', 8)",
    ], ["sp_sub"]),
    ("insert_defaults", [
        "CREATE TABLE sp_def (i INTEGER DEFAULT 7, s VARCHAR DEFAULT 'dft', d DOUBLE)",
        "INSERT INTO sp_def (d) VALUES (1.5), (2.5)",
        "INSERT INTO sp_def VALUES (DEFAULT, 'x', 3.5)",
    ], ["sp_def"]),
    ("insert_select", [
        "CREATE TABLE sp_isa (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_isa VALUES (1, 'a'), (2, 'b')",
        "CREATE TABLE sp_isb (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_isb SELECT k + 10, upper(v) FROM sp_isa",
    ], ["sp_isa", "sp_isb"]),
    ("insert_values_alias", [
        "CREATE TABLE sp_iva (a INTEGER, b VARCHAR)",
        "INSERT INTO sp_iva SELECT * FROM (VALUES (1, 'p'), (2, 'q')) v(a, b)",
    ], ["sp_iva"]),
    ("insert_by_name", [
        "CREATE TABLE sp_ibn (i INTEGER, s VARCHAR, d DOUBLE)",
        "INSERT INTO sp_ibn BY NAME SELECT 'nm' AS s, 4 AS i",
    ], ["sp_ibn"]),
    ("ctas_values", [
        "CREATE TABLE sp_ctas AS SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)",
    ], ["sp_ctas"]),
    ("ctas_series", [
        "CREATE TABLE sp_ctsr AS SELECT g AS n, g * g AS sq FROM generate_series(1, 5) t(g)",
    ], ["sp_ctsr"]),
    ("create_or_replace_table", [
        "CREATE TABLE sp_cor (i INTEGER)",
        "INSERT INTO sp_cor VALUES (1)",
        "CREATE OR REPLACE TABLE sp_cor (s VARCHAR)",
        "INSERT INTO sp_cor VALUES ('new')",
    ], ["sp_cor"]),
    ("drop_recreate", [
        "CREATE TABLE sp_drc (i INTEGER)",
        "INSERT INTO sp_drc VALUES (1)",
        "DROP TABLE sp_drc",
        "CREATE TABLE sp_drc (i INTEGER, s VARCHAR)",
        "INSERT INTO sp_drc VALUES (2, 'b')",
    ], ["sp_drc"]),
    ("wide_types_roundtrip", [
        "CREATE TABLE sp_wt (a SMALLINT, b BIGINT, c DOUBLE, d DECIMAL(9,2), e DATE, f TIMESTAMP, g BOOLEAN, h VARCHAR)",
        "INSERT INTO sp_wt VALUES (1, 9999999999, 1.25, 12.34, DATE '2024-02-29', TIMESTAMP '2024-01-02 03:04:05', true, 'x')",
        "INSERT INTO sp_wt VALUES (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
    ], ["sp_wt"]),
    ("insert_string_coercion", [
        "CREATE TABLE sp_coe (i INTEGER, d DOUBLE, b BOOLEAN)",
        "INSERT INTO sp_coe VALUES ('5', '1.5', 'true')",
    ], ["sp_coe"]),
    ("insert_list_column", [
        "CREATE TABLE sp_lst (k INTEGER, xs INTEGER[])",
        "INSERT INTO sp_lst VALUES (1, [1, 2, 3]), (2, []), (3, NULL)",
    ], ["sp_lst"]),
    # ---- update ----
    ("update_where", [
        "CREATE TABLE sp_upw (k INTEGER, v INTEGER)",
        "INSERT INTO sp_upw VALUES (1, 10), (2, 20), (3, 30)",
        "UPDATE sp_upw SET v = v + 1 WHERE k >= 2",
    ], ["sp_upw"]),
    ("update_all_rows", [
        "CREATE TABLE sp_upa (k INTEGER, v INTEGER)",
        "INSERT INTO sp_upa VALUES (1, 10), (2, 20)",
        "UPDATE sp_upa SET v = -v",
    ], ["sp_upa"]),
    ("update_expr_mix", [
        "CREATE TABLE sp_upe (k INTEGER, s VARCHAR, v INTEGER)",
        "INSERT INTO sp_upe VALUES (1, 'ab', 5), (2, 'cdef', 7)",
        "UPDATE sp_upe SET v = v * 2 + length(s), s = upper(s) || '_x'",
    ], ["sp_upe"]),
    ("update_case_expr", [
        "CREATE TABLE sp_upc (k INTEGER, tier VARCHAR)",
        "INSERT INTO sp_upc VALUES (5, NULL), (15, NULL), (25, NULL)",
        "UPDATE sp_upc SET tier = CASE WHEN k < 10 THEN 'lo' WHEN k < 20 THEN 'mid' ELSE 'hi' END",
    ], ["sp_upc"]),
    ("update_from_join", [
        "CREATE TABLE sp_uft (k INTEGER, v INTEGER)",
        "INSERT INTO sp_uft VALUES (1, 0), (2, 0), (3, 0)",
        "CREATE TABLE sp_ufs (k INTEGER, nv INTEGER)",
        "INSERT INTO sp_ufs VALUES (1, 100), (3, 300)",
        "UPDATE sp_uft SET v = sp_ufs.nv FROM sp_ufs WHERE sp_uft.k = sp_ufs.k",
    ], ["sp_uft"]),
    ("update_scalar_subquery", [
        "CREATE TABLE sp_uss (k INTEGER, v INTEGER)",
        "INSERT INTO sp_uss VALUES (1, 1), (2, 2)",
        "CREATE TABLE sp_usq (x INTEGER)",
        "INSERT INTO sp_usq VALUES (41), (42)",
        "UPDATE sp_uss SET v = (SELECT max(x) FROM sp_usq) WHERE k = 1",
    ], ["sp_uss"]),
    ("update_null_set", [
        "CREATE TABLE sp_unl (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_unl VALUES (1, 'a'), (2, 'b')",
        "UPDATE sp_unl SET v = NULL WHERE k = 2",
    ], ["sp_unl"]),
    ("update_date_arith_cols", [
        "CREATE TABLE sp_uda (k INTEGER, d1 DATE, d2 DATE, lag BIGINT)",
        "INSERT INTO sp_uda VALUES (1, DATE '2024-01-01', DATE '2024-03-01', NULL), (2, DATE '2024-02-10', DATE '2024-02-01', NULL)",
        "UPDATE sp_uda SET lag = d2 - d1",
    ], ["sp_uda"]),
    # ---- delete ----
    ("delete_where", [
        "CREATE TABLE sp_dlw (k INTEGER)",
        "INSERT INTO sp_dlw VALUES (1), (2), (3), (4)",
        "DELETE FROM sp_dlw WHERE k % 2 = 0",
    ], ["sp_dlw"]),
    ("delete_all", [
        "CREATE TABLE sp_dla (k INTEGER)",
        "INSERT INTO sp_dla VALUES (1), (2)",
        "DELETE FROM sp_dla",
    ], ["sp_dla"]),
    ("delete_using", [
        "CREATE TABLE sp_dut (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_dut VALUES (1, 'a'), (2, 'b'), (3, 'c')",
        "CREATE TABLE sp_dus (k INTEGER)",
        "INSERT INTO sp_dus VALUES (1), (3)",
        "DELETE FROM sp_dut USING sp_dus WHERE sp_dut.k = sp_dus.k",
    ], ["sp_dut"]),
    ("delete_in_subquery", [
        "CREATE TABLE sp_dsq (k INTEGER)",
        "INSERT INTO sp_dsq VALUES (1), (2), (3), (4)",
        "CREATE TABLE sp_dsk (k INTEGER)",
        "INSERT INTO sp_dsk VALUES (2), (4)",
        "DELETE FROM sp_dsq WHERE k IN (SELECT k FROM sp_dsk)",
    ], ["sp_dsq"]),
    ("truncate_table", [
        "CREATE TABLE sp_trc (k INTEGER)",
        "INSERT INTO sp_trc VALUES (1), (2)",
        "TRUNCATE sp_trc",
        "INSERT INTO sp_trc VALUES (9)",
    ], ["sp_trc"]),
    ("delete_then_reinsert", [
        "CREATE TABLE sp_dri (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_dri VALUES (1, 'old')",
        "DELETE FROM sp_dri WHERE k = 1",
        "INSERT INTO sp_dri VALUES (1, 'new')",
    ], ["sp_dri"]),
    # ---- alter ----
    ("alter_add_column", [
        "CREATE TABLE sp_aac (k INTEGER)",
        "INSERT INTO sp_aac VALUES (1), (2)",
        "ALTER TABLE sp_aac ADD COLUMN s VARCHAR",
        "INSERT INTO sp_aac VALUES (3, 'new')",
    ], ["sp_aac"]),
    ("alter_add_column_default", [
        "CREATE TABLE sp_aad (k INTEGER)",
        "INSERT INTO sp_aad VALUES (1)",
        "ALTER TABLE sp_aad ADD COLUMN tag VARCHAR DEFAULT 'dft'",
        "INSERT INTO sp_aad (k) VALUES (2)",
    ], ["sp_aad"]),
    ("alter_drop_column", [
        "CREATE TABLE sp_adc (k INTEGER, junk VARCHAR, v DOUBLE)",
        "INSERT INTO sp_adc VALUES (1, 'x', 1.5)",
        "ALTER TABLE sp_adc DROP COLUMN junk",
        "INSERT INTO sp_adc VALUES (2, 2.5)",
    ], ["sp_adc"]),
    ("alter_rename_column", [
        "CREATE TABLE sp_arc (old_name INTEGER)",
        "INSERT INTO sp_arc VALUES (1)",
        "ALTER TABLE sp_arc RENAME COLUMN old_name TO new_name",
        "INSERT INTO sp_arc (new_name) VALUES (2)",
        "UPDATE sp_arc SET new_name = new_name * 10 WHERE new_name = 2",
    ], ["sp_arc"]),
    ("alter_rename_table", [
        "CREATE TABLE sp_art_a (k INTEGER)",
        "INSERT INTO sp_art_a VALUES (1)",
        "ALTER TABLE sp_art_a RENAME TO sp_art_b",
        "INSERT INTO sp_art_b VALUES (2)",
    ], ["sp_art_b"]),
    ("alter_column_type", [
        "CREATE TABLE sp_act (k INTEGER, v INTEGER)",
        "INSERT INTO sp_act VALUES (1, 42)",
        "ALTER TABLE sp_act ALTER v TYPE VARCHAR",
        "INSERT INTO sp_act VALUES (2, 'text-now')",
    ], ["sp_act"]),
    # ---- constraints: the violating step must error on BOTH engines ----
    ("not_null_violation", [
        "CREATE TABLE sp_nnv (k INTEGER NOT NULL, v VARCHAR)",
        "INSERT INTO sp_nnv VALUES (1, 'ok')",
        "INSERT INTO sp_nnv VALUES (NULL, 'bad')",
    ], ["sp_nnv"]),
    ("pk_duplicate", [
        "CREATE TABLE sp_pkd (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_pkd VALUES (1, 'a'), (2, 'b')",
        "INSERT INTO sp_pkd VALUES (1, 'dup')",
    ], ["sp_pkd"]),
    ("unique_violation", [
        "CREATE TABLE sp_unq (k INTEGER, email VARCHAR UNIQUE)",
        "INSERT INTO sp_unq VALUES (1, 'a@x'), (2, 'b@x')",
        "INSERT INTO sp_unq VALUES (3, 'a@x')",
    ], ["sp_unq"]),
    ("check_violation", [
        "CREATE TABLE sp_chk (k INTEGER CHECK (k > 0))",
        "INSERT INTO sp_chk VALUES (1)",
        "INSERT INTO sp_chk VALUES (-1)",
    ], ["sp_chk"]),
    ("fk_violation", [
        "CREATE TABLE sp_fkp (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_fkp VALUES (1), (2)",
        "CREATE TABLE sp_fkc (r INTEGER REFERENCES sp_fkp (k))",
        "INSERT INTO sp_fkc VALUES (1)",
        "INSERT INTO sp_fkc VALUES (99)",
    ], ["sp_fkp", "sp_fkc"]),
    ("update_breaks_check", [
        "CREATE TABLE sp_ubc (k INTEGER CHECK (k < 100))",
        "INSERT INTO sp_ubc VALUES (1)",
        "UPDATE sp_ubc SET k = 500",
    ], ["sp_ubc"]),
    ("insert_wrong_arity", [
        "CREATE TABLE sp_iar (a INTEGER, b INTEGER)",
        "INSERT INTO sp_iar VALUES (1, 2, 3)",
        "INSERT INTO sp_iar VALUES (7, 8)",
    ], ["sp_iar"]),
    # ---- upsert ----
    ("on_conflict_do_nothing", [
        "CREATE TABLE sp_ocn (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_ocn VALUES (1, 'orig')",
        "INSERT INTO sp_ocn VALUES (1, 'skip'), (2, 'new') ON CONFLICT DO NOTHING",
    ], ["sp_ocn"]),
    ("on_conflict_do_update", [
        "CREATE TABLE sp_ocu (k INTEGER PRIMARY KEY, v VARCHAR, n INTEGER)",
        "INSERT INTO sp_ocu VALUES (1, 'orig', 1)",
        "INSERT INTO sp_ocu VALUES (1, 'upd', 5), (2, 'new', 7) ON CONFLICT (k) DO UPDATE SET v = excluded.v, n = sp_ocu.n + excluded.n",
    ], ["sp_ocu"]),
    ("insert_or_ignore", [
        "CREATE TABLE sp_ioi (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_ioi VALUES (1, 'a')",
        "INSERT OR IGNORE INTO sp_ioi VALUES (1, 'dup'), (2, 'b')",
    ], ["sp_ioi"]),
    ("insert_or_replace", [
        "CREATE TABLE sp_ior (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_ior VALUES (1, 'a')",
        "INSERT OR REPLACE INTO sp_ior VALUES (1, 'repl'), (2, 'b')",
    ], ["sp_ior"]),
    # ---- RETURNING (state after; the clause must not double-apply) ----
    ("insert_returning_state", [
        "CREATE TABLE sp_irs (k INTEGER, v INTEGER DEFAULT 9)",
        "INSERT INTO sp_irs (k) VALUES (1), (2) RETURNING k, v",
    ], ["sp_irs"]),
    ("update_returning_state", [
        "CREATE TABLE sp_urs (k INTEGER, v INTEGER)",
        "INSERT INTO sp_urs VALUES (1, 10), (2, 20)",
        "UPDATE sp_urs SET v = v + 5 WHERE k = 2 RETURNING *",
    ], ["sp_urs"]),
    ("delete_returning_state", [
        "CREATE TABLE sp_drs (k INTEGER)",
        "INSERT INTO sp_drs VALUES (1), (2), (3)",
        "DELETE FROM sp_drs WHERE k > 1 RETURNING k",
    ], ["sp_drs"]),
    # ---- sequences ----
    ("sequence_nextval_insert", [
        "CREATE SEQUENCE sp_seq1",
        "CREATE TABLE sp_sqt (id BIGINT, v VARCHAR)",
        "INSERT INTO sp_sqt VALUES (nextval('sp_seq1'), 'a'), (nextval('sp_seq1'), 'b')",
        "INSERT INTO sp_sqt VALUES (nextval('sp_seq1'), 'c')",
    ], ["sp_sqt"]),
    ("sequence_default_column", [
        "CREATE SEQUENCE sp_seq2 START 100",
        "CREATE TABLE sp_sdc (id BIGINT DEFAULT nextval('sp_seq2'), v VARCHAR)",
        "INSERT INTO sp_sdc (v) VALUES ('a'), ('b')",
    ], ["sp_sdc"]),
    # ---- transactions ----
    ("txn_commit", [
        "CREATE TABLE sp_txc (k INTEGER)",
        "BEGIN",
        "INSERT INTO sp_txc VALUES (1)",
        "INSERT INTO sp_txc VALUES (2)",
        "COMMIT",
    ], ["sp_txc"]),
    ("txn_rollback", [
        "CREATE TABLE sp_txr (k INTEGER)",
        "INSERT INTO sp_txr VALUES (0)",
        "BEGIN",
        "INSERT INTO sp_txr VALUES (1)",
        "UPDATE sp_txr SET k = 99",
        "ROLLBACK",
    ], ["sp_txr"]),
    ("txn_rollback_ddl", [
        "CREATE TABLE sp_txd (k INTEGER)",
        "INSERT INTO sp_txd VALUES (1)",
        "BEGIN",
        "DELETE FROM sp_txd",
        "ROLLBACK",
    ], ["sp_txd"]),
    # ---- views over evolving base tables ----
    ("view_reflects_dml", [
        "CREATE TABLE sp_vrb (k INTEGER, v INTEGER)",
        "INSERT INTO sp_vrb VALUES (1, 10)",
        "CREATE VIEW sp_vrv AS SELECT k, v * 2 AS dbl FROM sp_vrb",
        "INSERT INTO sp_vrb VALUES (2, 20)",
        "UPDATE sp_vrb SET v = 99 WHERE k = 1",
    ], ["sp_vrv"]),
    ("create_or_replace_view", [
        "CREATE TABLE sp_crv (k INTEGER)",
        "INSERT INTO sp_crv VALUES (1), (2)",
        "CREATE VIEW sp_cvw AS SELECT k FROM sp_crv",
        "CREATE OR REPLACE VIEW sp_cvw AS SELECT k * 10 AS k FROM sp_crv",
    ], ["sp_cvw"]),
    # ---- coercion & rounding on the write path ----
    ("insert_decimal_to_int", [
        # duck rounds on the INSERT coercion path too (half away from
        # zero for DECIMAL literals) — the write-path twin of the
        # lit_int_cast_round probe
        "CREATE TABLE sp_dti (i INTEGER)",
        "INSERT INTO sp_dti VALUES (2.5), (-2.5), (1.4)",
    ], ["sp_dti"]),
    ("insert_cast_overflow", [
        "CREATE TABLE sp_ico (i SMALLINT)",
        "INSERT INTO sp_ico VALUES (1)",
        "INSERT INTO sp_ico VALUES (99999)",
    ], ["sp_ico"]),
    ("update_type_coercion", [
        "CREATE TABLE sp_utc (d DOUBLE)",
        "INSERT INTO sp_utc VALUES (1.0)",
        "UPDATE sp_utc SET d = '2.5'",
    ], ["sp_utc"]),
    # ---- misc statement shapes ----
    ("comment_hostile_dml", [
        "CREATE TABLE sp_cmh (k INTEGER, s VARCHAR)",
        "INSERT /* c1 */ INTO sp_cmh /* c2 */ VALUES (1, 'a-- not a comment'), (2, '/* not */')",
        "UPDATE sp_cmh -- trailing\n SET s = s || '!' WHERE k = 1",
        "DELETE FROM sp_cmh /* mid */ WHERE k = 2",
    ], ["sp_cmh"]),
    ("quoted_ident_dml", [
        'CREATE TABLE sp_qid ("Key" INTEGER, "oRder" VARCHAR)',
        'INSERT INTO sp_qid ("Key", "oRder") VALUES (1, \'a\')',
        'UPDATE sp_qid SET "oRder" = \'b\' WHERE "Key" = 1',
    ], ["sp_qid"]),
    ("from_first_insert", [
        "CREATE TABLE sp_ffi (k INTEGER, v VARCHAR)",
        "CREATE TABLE sp_ffs (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_ffs VALUES (1, 'z')",
        "INSERT INTO sp_ffi FROM sp_ffs SELECT k, v",
    ], ["sp_ffi"]),
    ("multi_row_large_insert", [
        "CREATE TABLE sp_mri (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_mri SELECT g, 'row_' || g FROM generate_series(1, 50) t(g)",
        "DELETE FROM sp_mri WHERE k % 7 = 0",
        "UPDATE sp_mri SET v = 'lucky' WHERE k % 13 = 0",
    ], ["sp_mri"]),
    # ---- second authoring pass (round 12) ----
    ("update_swap_columns", [
        # all SET right-hand sides read the OLD row (standard SQL)
        "CREATE TABLE sp_usw (a INTEGER, b INTEGER)",
        "INSERT INTO sp_usw VALUES (1, 2), (10, 20)",
        "UPDATE sp_usw SET a = b, b = a",
    ], ["sp_usw"]),
    ("update_qualified_refs", [
        "CREATE TABLE sp_uqr (k INTEGER, v INTEGER)",
        "INSERT INTO sp_uqr VALUES (1, 0), (2, 0)",
        "UPDATE sp_uqr SET v = sp_uqr.k * 5 WHERE sp_uqr.k = 2",
    ], ["sp_uqr"]),
    ("update_with_exists", [
        "CREATE TABLE sp_uwe (k INTEGER, seen BOOLEAN)",
        "INSERT INTO sp_uwe VALUES (1, false), (2, false)",
        "CREATE TABLE sp_uws (k INTEGER)",
        "INSERT INTO sp_uws VALUES (2)",
        "UPDATE sp_uwe SET seen = true WHERE EXISTS (SELECT 1 FROM sp_uws WHERE sp_uws.k = sp_uwe.k)",
    ], ["sp_uwe"]),
    ("update_no_match", [
        "CREATE TABLE sp_unm (k INTEGER)",
        "INSERT INTO sp_unm VALUES (1)",
        "UPDATE sp_unm SET k = 99 WHERE k = 12345",
    ], ["sp_unm"]),
    ("update_nn_violation", [
        "CREATE TABLE sp_unn (k INTEGER NOT NULL)",
        "INSERT INTO sp_unn VALUES (1)",
        "UPDATE sp_unn SET k = NULL",
    ], ["sp_unn"]),
    ("insert_with_cte", [
        "CREATE TABLE sp_iwc (k INTEGER, sq INTEGER)",
        "INSERT INTO sp_iwc WITH g AS (SELECT x FROM (VALUES (1), (2), (3)) v(x)) SELECT x, x * x FROM g",
    ], ["sp_iwc"]),
    ("insert_from_union", [
        "CREATE TABLE sp_ifu (k INTEGER)",
        "INSERT INTO sp_ifu SELECT 1 UNION ALL SELECT 2 UNION SELECT 2",
    ], ["sp_ifu"]),
    ("insert_select_empty", [
        "CREATE TABLE sp_ise (k INTEGER)",
        "INSERT INTO sp_ise SELECT 1 WHERE false",
    ], ["sp_ise"]),
    ("insert_arith_values", [
        "CREATE TABLE sp_iav (k INTEGER, d DOUBLE)",
        "INSERT INTO sp_iav VALUES (1 + 2, 10.0 / 4), (-(3), 2 * 0.5)",
    ], ["sp_iav"]),
    ("ctas_order_limit", [
        "CREATE TABLE sp_col AS SELECT g FROM generate_series(1, 10) t(g) ORDER BY g DESC LIMIT 3",
    ], ["sp_col"]),
    ("double_create_errors", [
        "CREATE TABLE sp_dce (k INTEGER)",
        "CREATE TABLE sp_dce (k INTEGER)",
    ], ["sp_dce"]),
    ("create_if_not_exists", [
        "CREATE TABLE sp_cne (k INTEGER)",
        "INSERT INTO sp_cne VALUES (1)",
        "CREATE TABLE IF NOT EXISTS sp_cne (other VARCHAR)",
        "INSERT INTO sp_cne VALUES (2)",
    ], ["sp_cne"]),
    ("drop_missing_errors", [
        "DROP TABLE sp_dme_nosuch",
    ], []),
    ("alter_drop_keeps_other_defaults", [
        # the rebuild swap must re-register surviving columns' defaults
        "CREATE TABLE sp_adk (k INTEGER, tag VARCHAR DEFAULT 'dft', junk INTEGER)",
        "INSERT INTO sp_adk VALUES (1, 'x', 9)",
        "ALTER TABLE sp_adk DROP COLUMN junk",
        "INSERT INTO sp_adk (k) VALUES (2)",
    ], ["sp_adk"]),
    ("rename_col_keeps_default", [
        "CREATE TABLE sp_rkd (k INTEGER, tag VARCHAR DEFAULT 'dft')",
        "INSERT INTO sp_rkd VALUES (1, 'x')",
        "ALTER TABLE sp_rkd RENAME COLUMN tag TO label",
        "INSERT INTO sp_rkd (k) VALUES (2)",
    ], ["sp_rkd"]),
    ("check_multi_column", [
        "CREATE TABLE sp_cmc (a INTEGER, b INTEGER, CHECK (a < b))",
        "INSERT INTO sp_cmc VALUES (1, 2)",
        "INSERT INTO sp_cmc VALUES (5, 3)",
        "UPDATE sp_cmc SET b = 0",
    ], ["sp_cmc"]),
    ("timestamp_date_string_insert", [
        "CREATE TABLE sp_tds (t TIMESTAMP, d DATE)",
        "INSERT INTO sp_tds VALUES ('2024-01-02 03:04:05', '2024-02-29')",
        "INSERT INTO sp_tds VALUES (TIMESTAMP '2001-01-01 00:00:00', DATE '2001-12-31')",
    ], ["sp_tds"]),
    ("delete_between", [
        "CREATE TABLE sp_dbw (k INTEGER)",
        "INSERT INTO sp_dbw SELECT g FROM generate_series(1, 10) t(g)",
        "DELETE FROM sp_dbw WHERE k BETWEEN 3 AND 7",
    ], ["sp_dbw"]),
    # ---- third authoring pass (round 12) ----
    ("schema_qualified_dml", [
        "CREATE SCHEMA sp_sch",
        "CREATE TABLE sp_sch.sp_qt (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_sch.sp_qt VALUES (1, 'a'), (2, 'b')",
        "UPDATE sp_sch.sp_qt SET v = upper(v) WHERE k = 2",
        "DELETE FROM sp_sch.sp_qt WHERE k = 1",
    ], ["sp_sch.sp_qt"]),
    ("insert_default_values_stmt", [
        "CREATE TABLE sp_idv (k INTEGER DEFAULT 5, v VARCHAR DEFAULT 'd')",
        "INSERT INTO sp_idv DEFAULT VALUES",
        "INSERT INTO sp_idv DEFAULT VALUES",
    ], ["sp_idv"]),
    ("update_set_default", [
        "CREATE TABLE sp_usd (k INTEGER, v VARCHAR DEFAULT 'dft')",
        "INSERT INTO sp_usd VALUES (1, 'x'), (2, 'y')",
        "UPDATE sp_usd SET v = DEFAULT WHERE k = 1",
    ], ["sp_usd"]),
    ("ctas_from_first", [
        "CREATE TABLE sp_cff_src (k INTEGER)",
        "INSERT INTO sp_cff_src VALUES (1), (2)",
        "CREATE TABLE sp_cff AS FROM sp_cff_src SELECT k * 10 AS k10",
    ], ["sp_cff"]),
    ("alter_set_drop_not_null", [
        "CREATE TABLE sp_ann (k INTEGER)",
        "INSERT INTO sp_ann VALUES (1)",
        "ALTER TABLE sp_ann ALTER COLUMN k SET NOT NULL",
        "INSERT INTO sp_ann VALUES (NULL)",
        "ALTER TABLE sp_ann ALTER COLUMN k DROP NOT NULL",
        "INSERT INTO sp_ann VALUES (NULL)",
    ], ["sp_ann"]),
    ("alter_type_using", [
        "CREATE TABLE sp_atu (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_atu VALUES (1, '10'), (2, 'x')",
        "ALTER TABLE sp_atu ALTER v TYPE INTEGER USING CASE WHEN v = 'x' THEN -1 ELSE v::INTEGER END",
    ], ["sp_atu"]),
    ("macro_in_dml", [
        "CREATE MACRO sp_twice(x) AS x * 2",
        "CREATE TABLE sp_mcd (k INTEGER)",
        "INSERT INTO sp_mcd VALUES (sp_twice(3)), (sp_twice(5))",
        "UPDATE sp_mcd SET k = sp_twice(k) WHERE k = 6",
    ], ["sp_mcd"]),
    ("sequence_options", [
        "CREATE SEQUENCE sp_sqo START 10 INCREMENT 5",
        "CREATE TABLE sp_sot (id BIGINT)",
        "INSERT INTO sp_sot VALUES (nextval('sp_sqo')), (nextval('sp_sqo')), (nextval('sp_sqo'))",
    ], ["sp_sot"]),
    ("view_with_column_list", [
        "CREATE TABLE sp_vcl_t (a INTEGER, b INTEGER)",
        "INSERT INTO sp_vcl_t VALUES (1, 2)",
        "CREATE VIEW sp_vcl (x, y) AS SELECT a, b FROM sp_vcl_t",
    ], ["sp_vcl"]),
    ("insert_cols_reordered", [
        "CREATE TABLE sp_icr (a INTEGER, b VARCHAR, c DOUBLE)",
        "INSERT INTO sp_icr (c, a, b) VALUES (1.5, 7, 'z'), (2.5, 8, 'w')",
    ], ["sp_icr"]),
    ("ctas_null_then_typed", [
        "CREATE TABLE sp_cnt AS SELECT * FROM (VALUES (NULL), (1), (2)) t(x)",
    ], ["sp_cnt"]),
    ("update_self_subquery", [
        "CREATE TABLE sp_usq2 (k INTEGER, v INTEGER)",
        "INSERT INTO sp_usq2 VALUES (1, 10), (2, 20), (3, 30)",
        "UPDATE sp_usq2 SET v = v - (SELECT min(v) FROM sp_usq2)",
    ], ["sp_usq2"]),
    ("truncate_missing_errors", [
        "TRUNCATE sp_tme_nosuch",
    ], []),
    ("alter_drop_missing_col", [
        "CREATE TABLE sp_adm (k INTEGER)",
        "ALTER TABLE sp_adm DROP COLUMN nosuch",
    ], ["sp_adm"]),
    ("rename_to_existing_errors", [
        "CREATE TABLE sp_rte_a (k INTEGER)",
        "CREATE TABLE sp_rte_b (k INTEGER)",
        "ALTER TABLE sp_rte_a RENAME TO sp_rte_b",
    ], ["sp_rte_a", "sp_rte_b"]),
    ("delete_using_alias", [
        "CREATE TABLE sp_dua (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_dua VALUES (1, 'a'), (2, 'b'), (3, 'c')",
        "CREATE TABLE sp_dub (k INTEGER)",
        "INSERT INTO sp_dub VALUES (2)",
        "DELETE FROM sp_dua t USING sp_dub s WHERE t.k = s.k",
    ], ["sp_dua"]),
    ("insert_double_into_decimal", [
        "CREATE TABLE sp_idd (d DECIMAL(6,2))",
        "INSERT INTO sp_idd VALUES (CAST(1.255 AS DOUBLE)), (CAST(-1.255 AS DOUBLE))",
    ], ["sp_idd"]),
    ("comment_hostile_returning", [
        "CREATE TABLE sp_chr2 (k INTEGER, v INTEGER DEFAULT 9)",
        "INSERT INTO sp_chr2 (k) /* c */ VALUES (1), (2) -- tail\n RETURNING k, v",
        "UPDATE sp_chr2 -- note\n SET v = v + 1 WHERE k = 2 RETURNING *",
    ], ["sp_chr2"]),
    ("copy_roundtrip_csv", [
        "CREATE TABLE sp_cpa (k INTEGER, v VARCHAR)",
        "INSERT INTO sp_cpa VALUES (1, 'a'), (2, 'with,comma'), (3, NULL)",
        "COPY sp_cpa TO '/tmp/sp_copy_rt.csv' (HEADER)",
        "CREATE TABLE sp_cpb (k INTEGER, v VARCHAR)",
        "COPY sp_cpb FROM '/tmp/sp_copy_rt.csv' (HEADER)",
    ], ["sp_cpa", "sp_cpb"]),
    # ---- error-path parity (round 13, VERDICT r12 item 4): sequences
    # where a MID-SEQUENCE statement must FAIL on both engines — the
    # err-step comparison asserts the same step errors AND the
    # post-error state matches (atomicity: a failed multi-row write
    # leaves nothing behind) ----
    ("err_pk_dup_inside_one_insert", [
        "CREATE TABLE sp_epdi (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_epdi VALUES (1, 'pre')",
        "INSERT INTO sp_epdi VALUES (2, 'a'), (2, 'dup-in-batch')",
    ], ["sp_epdi"]),
    ("err_then_on_conflict_recovers", [
        "CREATE TABLE sp_eocr (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_eocr VALUES (1, 'a')",
        "INSERT INTO sp_eocr VALUES (1, 'boom')",
        "INSERT INTO sp_eocr VALUES (1, 'ignored') ON CONFLICT DO NOTHING",
        "INSERT INTO sp_eocr VALUES (1, 'upd') ON CONFLICT DO UPDATE SET v = excluded.v",
    ], ["sp_eocr"]),
    ("err_upsert_excluded_expr", [
        "CREATE TABLE sp_euee (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_euee VALUES (1, 'a'), (2, 'b')",
        "INSERT INTO sp_euee VALUES (1, 'x'), (3, 'c') ON CONFLICT DO UPDATE SET v = excluded.v || '!'",
    ], ["sp_euee"]),
    ("err_rollback_after_error", [
        "CREATE TABLE sp_erae (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_erae VALUES (1)",
        "BEGIN",
        "INSERT INTO sp_erae VALUES (2)",
        "INSERT INTO sp_erae VALUES (1)",
        "ROLLBACK",
    ], ["sp_erae"]),
    ("err_commit_of_failed_block", [
        "CREATE TABLE sp_ecfb (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_ecfb VALUES (1)",
        "BEGIN",
        "INSERT INTO sp_ecfb VALUES (2)",
        "INSERT INTO sp_ecfb VALUES (1)",
        "COMMIT",
    ], ["sp_ecfb"]),
    ("err_stmts_after_txn_error", [
        "CREATE TABLE sp_eate (k INTEGER PRIMARY KEY)",
        "BEGIN",
        "INSERT INTO sp_eate VALUES (1)",
        "INSERT INTO sp_eate VALUES (1)",
        "INSERT INTO sp_eate VALUES (3)",
        "ROLLBACK",
        "INSERT INTO sp_eate VALUES (9)",
    ], ["sp_eate"]),
    ("err_int_overflow_bigvalue", [
        "CREATE TABLE sp_eiob (i INTEGER)",
        "INSERT INTO sp_eiob VALUES (1)",
        "INSERT INTO sp_eiob VALUES (99999999999999)",
    ], ["sp_eiob"]),
    ("err_string_not_number", [
        "CREATE TABLE sp_esnn (i INTEGER)",
        "INSERT INTO sp_esnn VALUES (1)",
        "INSERT INTO sp_esnn VALUES ('abc')",
    ], ["sp_esnn"]),
    ("err_null_into_pk", [
        "CREATE TABLE sp_enip (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_enip VALUES (1, 'a')",
        "INSERT INTO sp_enip VALUES (NULL, 'boom')",
    ], ["sp_enip"]),
    ("err_null_into_notnull_update", [
        "CREATE TABLE sp_ennu (k INTEGER, v VARCHAR NOT NULL)",
        "INSERT INTO sp_ennu VALUES (1, 'a'), (2, 'b')",
        "UPDATE sp_ennu SET v = NULL WHERE k = 2",
    ], ["sp_ennu"]),
    ("err_update_breaks_unique", [
        "CREATE TABLE sp_ebuq (k INTEGER, email VARCHAR UNIQUE)",
        "INSERT INTO sp_ebuq VALUES (1, 'a@x'), (2, 'b@x')",
        "UPDATE sp_ebuq SET email = 'a@x' WHERE k = 2",
    ], ["sp_ebuq"]),
    ("err_update_check_atomic", [
        "CREATE TABLE sp_euca (k INTEGER CHECK (k < 100))",
        "INSERT INTO sp_euca VALUES (1), (50), (99)",
        "UPDATE sp_euca SET k = k + 10",
    ], ["sp_euca"]),
    ("err_insert_check_multirow_atomic", [
        "CREATE TABLE sp_eicm (k INTEGER CHECK (k > 0), v VARCHAR)",
        "INSERT INTO sp_eicm VALUES (1, 'pre')",
        "INSERT INTO sp_eicm VALUES (2, 'ok'), (-3, 'bad'), (4, 'never')",
    ], ["sp_eicm"]),
    ("err_fk_insert_missing_parent", [
        "CREATE TABLE sp_efmp (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_efmp VALUES (1)",
        "CREATE TABLE sp_efmc (r INTEGER REFERENCES sp_efmp (k))",
        "INSERT INTO sp_efmc VALUES (1), (7)",
    ], ["sp_efmp", "sp_efmc"]),
    ("err_fk_delete_parent_in_use", [
        "CREATE TABLE sp_edpp (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_edpp VALUES (1), (2)",
        "CREATE TABLE sp_edpc (r INTEGER REFERENCES sp_edpp (k))",
        "INSERT INTO sp_edpc VALUES (1)",
        "DELETE FROM sp_edpp WHERE k = 1",
        "DELETE FROM sp_edpp WHERE k = 2",
    ], ["sp_edpp", "sp_edpc"]),
    ("err_multicol_unique", [
        "CREATE TABLE sp_emcu (a INTEGER, b INTEGER, UNIQUE (a, b))",
        "INSERT INTO sp_emcu VALUES (1, 1), (1, 2)",
        "INSERT INTO sp_emcu VALUES (1, 2)",
        "INSERT INTO sp_emcu VALUES (2, 2)",
    ], ["sp_emcu"]),
    ("err_insert_too_many_cols", [
        "CREATE TABLE sp_etmc (a INTEGER, b VARCHAR)",
        "INSERT INTO sp_etmc VALUES (1, 'x', 99)",
        "INSERT INTO sp_etmc VALUES (2, 'y')",
    ], ["sp_etmc"]),
    ("err_missing_notnull_col", [
        "CREATE TABLE sp_emnc (a INTEGER, b VARCHAR NOT NULL)",
        "INSERT INTO sp_emnc (a) VALUES (1)",
        "INSERT INTO sp_emnc VALUES (2, 'ok')",
    ], ["sp_emnc"]),
    ("err_unknown_insert_column", [
        "CREATE TABLE sp_euic (a INTEGER)",
        "INSERT INTO sp_euic (nope) VALUES (1)",
        "INSERT INTO sp_euic (a) VALUES (2)",
    ], ["sp_euic"]),
    ("err_update_unknown_column", [
        "CREATE TABLE sp_euuc (a INTEGER)",
        "INSERT INTO sp_euuc VALUES (1)",
        "UPDATE sp_euuc SET nope = 2",
        "UPDATE sp_euuc SET a = 2",
    ], ["sp_euuc"]),
    ("err_update_set_case_insensitive", [
        "CREATE TABLE sp_esci (abc INTEGER, v VARCHAR)",
        "INSERT INTO sp_esci VALUES (1, 'a')",
        "UPDATE sp_esci SET ABC = 2 WHERE v = 'a'",
    ], ["sp_esci"]),
    ("err_delete_missing_table", [
        "CREATE TABLE sp_edmt (a INTEGER)",
        "DELETE FROM sp_edmt_nosuch",
        "INSERT INTO sp_edmt VALUES (1)",
    ], ["sp_edmt"]),
    ("err_create_dup_column", [
        "CREATE TABLE sp_ecdc (a INTEGER, a VARCHAR)",
        "CREATE TABLE sp_ecdc (a INTEGER)",
        "INSERT INTO sp_ecdc VALUES (1)",
    ], ["sp_ecdc"]),
    ("err_decimal_overflow", [
        "CREATE TABLE sp_edco (d DECIMAL(4,2))",
        "INSERT INTO sp_edco VALUES (12.34)",
        "INSERT INTO sp_edco VALUES (123.45)",
    ], ["sp_edco"]),
    ("err_alter_type_bad_cast", [
        "CREATE TABLE sp_eabc (v VARCHAR)",
        "INSERT INTO sp_eabc VALUES ('12'), ('abc')",
        "ALTER TABLE sp_eabc ALTER COLUMN v TYPE INTEGER",
    ], ["sp_eabc"]),
    ("err_add_column_dup_name", [
        "CREATE TABLE sp_eacd (a INTEGER)",
        "INSERT INTO sp_eacd VALUES (1)",
        "ALTER TABLE sp_eacd ADD COLUMN a VARCHAR",
    ], ["sp_eacd"]),
    ("err_returning_under_conflict", [
        "CREATE TABLE sp_eruc (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_eruc VALUES (1, 'a')",
        "INSERT INTO sp_eruc VALUES (1, 'dup') RETURNING k",
        "INSERT INTO sp_eruc VALUES (2, 'b') RETURNING k, v",
    ], ["sp_eruc"]),
    ("err_or_ignore_then_state", [
        "CREATE TABLE sp_eois (k INTEGER PRIMARY KEY, v VARCHAR)",
        "INSERT INTO sp_eois VALUES (1, 'a')",
        "INSERT OR IGNORE INTO sp_eois VALUES (1, 'skip'), (2, 'new')",
    ], ["sp_eois"]),
    ("err_ctas_from_missing", [
        "CREATE TABLE sp_ecfm AS SELECT * FROM sp_ecfm_nosuch",
        "CREATE TABLE sp_ecfm (a INTEGER)",
        "INSERT INTO sp_ecfm VALUES (1)",
    ], ["sp_ecfm"]),
    ("err_view_on_dropped_table", [
        "CREATE TABLE sp_evdt (a INTEGER)",
        "INSERT INTO sp_evdt VALUES (1)",
        "CREATE VIEW sp_evdt_v AS SELECT a FROM sp_evdt",
        "DROP TABLE sp_evdt",
        "CREATE TABLE sp_evdt (a INTEGER)",
        "INSERT INTO sp_evdt VALUES (9)",
    ], ["sp_evdt"]),
    ("err_double_begin_noop", [
        "CREATE TABLE sp_edbn (a INTEGER)",
        "BEGIN",
        "BEGIN",
        "INSERT INTO sp_edbn VALUES (1)",
        "COMMIT",
    ], ["sp_edbn"]),
    ("err_update_where_error_atomic", [
        "CREATE TABLE sp_ewea (k INTEGER PRIMARY KEY, v INTEGER)",
        "INSERT INTO sp_ewea VALUES (1, 10), (2, 20)",
        "UPDATE sp_ewea SET k = 1 WHERE k = 2",
        "UPDATE sp_ewea SET v = 99 WHERE k = 2",
    ], ["sp_ewea"]),
    # duck file table-functions with options + the bare-path relation
    # (round 13): header/type sniffing, explicit options, FROM '…csv'
    ("file_read_functions", [
        "CREATE TABLE sp_frf (a INTEGER, b VARCHAR)",
        "INSERT INTO sp_frf VALUES (1, 'x'), (2, NULL), (3, 'q,z')",
        "COPY sp_frf TO '/tmp/sp_frf.csv' (HEADER)",
        "CREATE TABLE sp_frr AS SELECT * FROM read_csv('/tmp/sp_frf.csv')",
        "CREATE TABLE sp_frb AS SELECT a, b FROM '/tmp/sp_frf.csv'",
        "CREATE TABLE sp_frh AS SELECT * FROM read_csv('/tmp/sp_frf.csv', header = true)",
    ], ["sp_frr", "sp_frb", "sp_frh"]),
    # SQL-standard information_schema shapes (round 13): snapshot the
    # rows into a table so the final-state comparison pins column
    # names, duck type spellings, nullability, and defaults
    ("info_schema_columns_shape", [
        "CREATE TABLE sp_isq (k INTEGER PRIMARY KEY, v VARCHAR DEFAULT 'x', d DECIMAL(4,1), n INTEGER NOT NULL)",
        "CREATE TABLE sp_isc AS SELECT column_name, data_type, is_nullable, column_default, ordinal_position FROM information_schema.columns WHERE table_name = 'sp_isq'",
        "CREATE TABLE sp_ist AS SELECT table_name, table_type FROM information_schema.tables WHERE table_name = 'sp_isq'",
    ], ["sp_isc", "sp_ist"]),
    ("err_truncate_then_reuse", [
        "CREATE TABLE sp_etru (k INTEGER PRIMARY KEY)",
        "INSERT INTO sp_etru VALUES (1)",
        "TRUNCATE sp_etru",
        "INSERT INTO sp_etru VALUES (1)",
        "INSERT INTO sp_etru VALUES (1)",
    ], ["sp_etru"]),
]


def canon_rows(rows, cols):
    """Order-insensitive canonical form reusing the SELECT battery's
    cell normalization."""
    from tools.dialect_probe import canon
    import pandas as pd

    return canon(pd.DataFrame(rows, columns=cols))


_TX_HEAD = re.compile(
    r"^\s*(begin|start\s+transaction|commit|end|rollback|abort)\b",
    re.IGNORECASE,
)


class MiniSession:
    """The wire server's per-connection statement routing, minus the
    protocol: BEGIN opens a TxnOverlay, in-txn statements go through
    intercept_ddl/prepare, errors abort the block (status E), COMMIT of
    a failed block rolls back — wire_server.py _route, _txn_control."""

    _next_id = 9000

    def __init__(self, eng):
        self.eng = eng
        self.txn = None

    def run(self, stmt: str) -> None:
        from duck_server_spark.engine.transactions import TxnOverlay

        m = _TX_HEAD.match(stmt)
        if m:
            head = m.group(1).split()[0].lower()
            if head in ("begin", "start"):
                if self.txn is None:
                    MiniSession._next_id += 1
                    self.txn = TxnOverlay(self.eng, MiniSession._next_id)
                return
            txn, self.txn = self.txn, None
            if txn is not None:
                if head in ("commit", "end") and txn.status != "E":
                    txn.commit()
                else:
                    txn.rollback()
            return
        q = stmt
        try:
            if self.txn is not None:
                if self.txn.status == "E":
                    raise RuntimeError(
                        "current transaction is aborted, commands ignored"
                    )
                tag = self.txn.intercept_ddl(q)
                if tag is not None:
                    return
                q = self.txn.prepare(q)
            head = re.match(r"\s*(\w+)", q).group(1).lower()
            if head in ("select", "with", "values", "from", "pivot",
                        "show", "describe", "summarize"):
                self.eng.query(q).collect()
                return
            r = self.eng.execute_returning(q)
            if r is not None:
                r[0].collect()
                return
            self.eng.execute(q)
        except Exception:
            if self.txn is not None:
                self.txn.status = "E"
            raise

    def close(self) -> None:
        if self.txn is not None:
            txn, self.txn = self.txn, None
            txn.rollback()


class WireSession:
    """MiniSession's statement contract over a LIVE PG socket (round
    13, VERDICT r12 item 3): each statement travels as a simple-protocol
    Query — or through Parse/Bind/Describe/Execute/Sync when
    extended=True — so the wire layer's framing, per-connection txn
    status, and error-until-Sync recovery sit inside the differential
    loop instead of beside it. Errors surface as raised RuntimeError
    exactly like MiniSession so run_probe's err-step comparison is
    unchanged."""

    def __init__(self, host: str, port: int, extended: bool = False):
        from tests.pg_client import PgClient

        self.c = PgClient(host, port)
        self.extended = extended

    def run(self, stmt: str) -> None:
        if self.extended and not _TX_HEAD.match(stmt):
            self.c.parse("", stmt)
            self.c.bind("", "", [])
            self.c.describe_portal("")
            self.c.execute("")
            self.c.sync_collect()
        else:
            self.c.simple_query(stmt)

    def close(self) -> None:
        try:
            self.c.simple_query("ROLLBACK")
        except Exception:
            pass
        try:
            self.c.terminate()
        except Exception:
            pass


def run_wire_copy_probe(eng, host: str, port: int) -> list[str]:
    """COPY FROM STDIN end-to-end over the socket (CopyInResponse /
    CopyData / CopyDone), compared against DuckDB loading the same CSV
    bytes from a temp file — the one write path the direct battery
    cannot reach (wire_server.py _copy_in)."""
    import tempfile

    problems: list[str] = []
    csv_text = "1,alpha,1.5\n2,\"be,ta\",2.5\n3,,3.25\n"
    ddl = "CREATE TABLE sp_wcopy (i INTEGER, s VARCHAR, d DOUBLE)"
    duck = duckdb.connect()
    _cleanup(eng, {"sp_wcopy"})
    sess = WireSession(host, port)
    try:
        duck.execute(ddl)
        with tempfile.NamedTemporaryFile("w", suffix=".csv", delete=False) as f:
            f.write(csv_text)
            path = f.name
        duck.execute(f"COPY sp_wcopy FROM '{path}' (FORMAT csv)")
        sess.run(ddl)
        # chunk mid-record on purpose: framing must reassemble
        cols, rows, tag = sess.c.copy_in(
            "COPY sp_wcopy FROM STDIN (FORMAT csv)",
            [csv_text[:9], csv_text[9:]],
        )
        if tag != "COPY 3":
            problems.append(f"copy tag: {tag!r} (want 'COPY 3')")
        d = duck.execute("SELECT * FROM sp_wcopy").fetchdf()
        g = eng.query("SELECT * FROM sp_wcopy").toPandas()
        g.columns = [c.lower() for c in g.columns]
        d.columns = [c.lower() for c in d.columns]
        if canon_rows(g.values.tolist(), list(g.columns)) != canon_rows(
            d.values.tolist(), list(d.columns)
        ):
            problems.append(
                f"contents of sp_wcopy\n  duck :\n{d.to_string()}"
                f"\n  spark:\n{g.to_string()}"
            )
        return problems
    finally:
        sess.close()
        _cleanup(eng, {"sp_wcopy"})
        duck.close()


def _cleanup(eng, objs) -> None:
    for t in sorted(objs, key=lambda x: ("." not in x, x)):
        ddls = [
            f"DROP TABLE IF EXISTS {t}",
            f"DROP VIEW IF EXISTS {t}",
            f"DROP SEQUENCE IF EXISTS {t}",
        ]
        if "." not in t:
            ddls += [
                f"DROP MACRO IF EXISTS {t}",
                f"DROP SCHEMA IF EXISTS {t} CASCADE",
            ]
        for ddl in ddls:
            try:
                eng.execute(ddl)
            except Exception:
                pass


def run_probe(
    eng,
    name: str,
    stmts: list[str],
    tables: list[str],
    session_factory=None,
) -> list[str]:
    """Run one sequence on BOTH engines; return a list of human-readable
    problems (empty = PASS). Shared by main() and the pytest gates.
    session_factory (round 13) swaps MiniSession for a WireSession so
    the same sequences drive a live PG socket."""
    from tools.dialect_probe import canon

    problems: list[str] = []
    duck = duckdb.connect()
    objs = set(tables) | {
        t.lower()
        for s in stmts
        for t in re.findall(r"\bsp_\w+(?:\.sp_\w+)?", s, re.IGNORECASE)
    }
    _cleanup(eng, objs)
    try:
        duck_err = []
        for i, s in enumerate(stmts):
            try:
                duck.execute(s)
            except Exception as exc:
                duck_err.append((i, str(exc).splitlines()[0]))
        sess = session_factory() if session_factory else MiniSession(eng)
        eng_err = []
        for i, s in enumerate(stmts):
            try:
                sess.run(s)
            except Exception as exc:
                first = str(exc).strip().splitlines()
                eng_err.append((i, (first[0] if first else repr(exc))[:160]))
        sess.close()
        if [i for i, _ in duck_err] != [i for i, _ in eng_err]:
            problems.append(
                f"error-step sets differ\n  duck errs : {duck_err}"
                f"\n  spark errs: {eng_err}"
            )
            return problems
        for t in tables:
            d = duck.execute(f"SELECT * FROM {t}").fetchdf()
            g = eng.query(f"SELECT * FROM {t}").toPandas()
            if sorted(map(str.lower, g.columns)) != sorted(
                map(str.lower, d.columns)
            ):
                problems.append(
                    f"columns of {t}: duck {sorted(d.columns)}"
                    f" vs spark {sorted(g.columns)}"
                )
                return problems
            g.columns = [c.lower() for c in g.columns]
            d.columns = [c.lower() for c in d.columns]
            if canon(g) != canon(d):
                problems.append(
                    f"contents of {t}\n  duck :\n"
                    f"{d.sort_values(by=list(d.columns)).to_string(max_rows=8)}"
                    f"\n  spark:\n"
                    f"{g.sort_values(by=list(g.columns)).to_string(max_rows=8)}"
                )
                return problems
        return problems
    finally:
        _cleanup(eng, objs)
        duck.close()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    wire = "--wire" in sys.argv
    wire_ext = "--wire-ext" in sys.argv
    filt = args[0] if args else ""
    from duck_server_spark.engine.executor import Engine
    from duck_server_spark.engine.session import get_session

    spark = get_session("statement_probe")
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine(spark)

    session_factory = None
    if wire or wire_ext:
        import socket
        import time

        from duck_server_spark.server.pg.wire_server import run_threaded

        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        run_threaded(eng, port=port)
        time.sleep(0.5)
        session_factory = lambda: WireSession(  # noqa: E731
            "127.0.0.1", port, extended=wire_ext
        )
        print(f"(wire mode{' extended' if wire_ext else ''}, port {port})")

    results = {"PASS": [], "MISMATCH": [], "ENGINE_ERR": [], "DUCK_ERR": []}
    if wire or wire_ext:
        problems = run_wire_copy_probe(eng, "127.0.0.1", port)
        key = "PASS" if not problems else "MISMATCH"
        results[key].append("wire_copy_stdin")
        print(f"{'PASS      ' if not problems else 'MISMATCH  '} wire_copy_stdin")
        for p in problems:
            print("  " + p.replace("\n", "\n  "))
    for name, stmts, tables in SEQS:
        if filt and filt not in name:
            continue
        try:
            problems = run_probe(eng, name, stmts, tables, session_factory)
        except Exception:
            results["ENGINE_ERR"].append(name)
            print(f"ENGINE_ERR {name}")
            traceback.print_exc(limit=3)
            continue
        if problems:
            results["MISMATCH"].append(name)
            print(f"MISMATCH   {name}  ({problems[0].splitlines()[0]})")
            for p in problems:
                print("  " + p.replace("\n", "\n  "))
        else:
            results["PASS"].append(name)
            print(f"PASS       {name}")

    print("==== SUMMARY ====")
    for k, v in results.items():
        print(f"{k}: {len(v)}")
        for n in v:
            if k != "PASS":
                print(f"  {k:<10} {n}")


if __name__ == "__main__":
    main()
