"""PG configuration parameters (GUCs) the server reports.

One shared table backs all four read paths a client can take:
- startup ParameterStatus messages (wire_server.py — the subset in
  STARTUP_PARAMS, mirroring the reference's pg_conn.go:20-24),
- `SHOW <guc>` over the wire (wire_server.py fast path),
- `SHOW ALL` (executor.query — psql's \\dconfig reads this),
- the `pg_settings` catalog view (engine/catalog.py — ORMs and psql
  introspection query it).

Values are static session defaults: the engine is an analytics server,
not a tunable PG instance, so SET is accepted-and-ignored for these
(the reference's embedded DuckDB behaves the same way for most PG
GUCs). Descriptions follow PG's wording so \\dconfig output reads
naturally.

Session overlay scope (round 8): the WIRE paths (`SHOW <guc>`,
`SHOW ALL`) merge the connection's SET overlay; the `pg_settings`
CATALOG VIEW cannot — it is resolved inside arbitrary SQL where the
engine has no connection context, so it always shows the shared
defaults. PG purists note: real pg_settings is session-scoped; a
client that needs its own overrides should use SHOW. Honest, documented
divergence rather than a per-query view rebuild.
"""

from __future__ import annotations

from duck_server_spark.plans import rewrites

# name -> (setting, description)
ALL_GUCS: dict[str, tuple[str, str]] = {
    "application_name": ("", "Sets the application name to be reported in statistics and logs."),
    "client_encoding": ("UTF8", "Sets the client's character set encoding."),
    "extra_float_digits": ("1", "Sets the number of digits displayed for floating-point values."),
    "statement_timeout": ("0", "Sets the maximum allowed duration of any statement."),
    "datestyle": ("ISO, MDY", "Sets the display format for date and time values."),
    "integer_datetimes": ("on", "Shows whether datetimes are integer based."),
    "intervalstyle": ("postgres", "Sets the display format for interval values."),
    "is_superuser": ("on", "Shows whether the current user is a superuser."),
    "max_identifier_length": ("63", "Shows the maximum identifier length."),
    "search_path": ('"$user", public', "Sets the schema search order for names that are not schema-qualified."),
    "server_encoding": ("UTF8", "Sets the server (database) character set encoding."),
    "server_version": (rewrites.SERVER_VERSION, "Shows the server version."),
    "standard_conforming_strings": ("on", "Causes '...' strings to treat backslashes literally."),
    "timezone": ("Etc/UTC", "Sets the time zone for displaying and interpreting time stamps."),
    "transaction_isolation": ("read committed", "Sets the current transaction's isolation level."),
}

# The subset advertised as ParameterStatus at startup (pg_conn.go:20-24).
STARTUP_PARAMS = ("client_encoding", "server_version", "standard_conforming_strings")


def guc_value(name: str) -> str | None:
    """Setting for a GUC name (case-insensitive), or None if unknown."""
    entry = ALL_GUCS.get(name.lower())
    return entry[0] if entry else None


def sql_str(s: str, dialect: str = "spark") -> str:
    """Escape a value for embedding in a SQL string literal.

    dialect="spark": text consumed DIRECTLY by spark.sql (executor's
    SHOW path) or emitted INSIDE the rewrite pipeline after
    normalize_literals already ran (current_setting inlining) —
    backslashes double (Spark literals are C-style; a stored 'C:\\temp'
    with quote-only escaping reads back with a TAB).

    dialect="duck": text that re-enters the engine's statement pipeline
    (the wire layer's SHOW/settings-view inlining feeds _run_query →
    Engine.query → normalize_literals), where the doubling happens
    exactly once — pre-doubling here read back 'C:\\\\temp' (round-10
    full-suite catch)."""
    s = s.replace("'", "''")
    if dialect == "spark":
        s = s.replace("\\", "\\\\")
    return s
