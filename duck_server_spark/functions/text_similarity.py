"""DuckDB 1.0 text-similarity scalar family (round 10).

The reference delegates every scalar DuckDB supports
(yjhatfdu/duck_server README.md:26 "Almost everything DuckDB
supported"), and the similarity family is the workhorse of fuzzy-dedup
SQL. Spark's built-in surface covers levenshtein only, so the family
splits by execution tier:

- jaccard / hamming / mismatches: pure JVM expression templates in
  plans/rewrites.py (character-set intersection / zip_with mismatch
  count) — whole-stage-codegen'd, no Python boundary, the hot-path
  spellings.
- editdist3: a plain alias of levenshtein (pinned live: same values).
- damerau_levenshtein / jaro_similarity / jaro_winkler_similarity:
  no JVM equivalent exists, so they are Arrow-batched pandas UDFs
  registered under their DuckDB names. The per-row loop is the honest
  cost of an algorithm Spark lacks; Arrow batching keeps the transfer
  vectorized. At 100 TB these belong in a shortlist stage (e.g. after
  an LSH bucket join), never in a full-corpus scan — the dedup
  operators in operators/dedup.py follow exactly that shape.

Algorithm variants pinned vs live DuckDB 1.0:
- damerau_levenshtein is the UNRESTRICTED edit distance (transposed
  characters may be edited again): DL('ca','abc') = 2, where the
  restricted OSA variant would give 3.
- jaro returns 0.0 whenever either string is empty (including BOTH
  empty — the textbook 1.0-on-equal does not apply to ''), 1.0 on
  equal non-empty strings.
- jaro_winkler applies the standard prefix boost (scale 0.1, prefix
  capped at 4) only when the Jaro score exceeds 0.7:
  jw('axxxxx','abcdef') = jaro = 0.444… (shared prefix but no boost).
- NULL in, NULL out for every function.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf


def _dl(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (the alphabet-indexed dynamic
    program), matching DuckDB's variant: DL('ca','abc') = 2."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    # (la+2) x (lb+2) table with the -1 sentinel row/column
    d = [[maxdist] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    last_row: dict[str, int] = {}
    for i in range(1, la + 1):
        last_col = 0
        for j in range(1, lb + 1):
            k = last_row.get(b[j - 1], 0)
            l = last_col
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_col = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitute / match
                d[i + 1][j] + 1,  # insert
                d[i][j + 1] + 1,  # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transpose
            )
        last_row[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # DuckDB pin: '' scores 0.0 even against ''
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_match = [False] * la
    b_match = [False] * lb
    matches = 0
    for i in range(la):
        lo = i - window if i - window > 0 else 0
        hi = i + window + 1 if i + window + 1 < lb else lb
        for j in range(lo, hi):
            if not b_match[j] and a[i] == b[j]:
                a_match[i] = True
                b_match[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def _jw(a: str, b: str) -> float:
    j = _jaro(a, b)
    if j > 0.7:  # DuckDB pin: boost only above the 0.7 threshold
        prefix = 0
        for x, y in zip(a, b):
            if x != y or prefix == 4:
                break
            prefix += 1
        j += prefix * 0.1 * (1.0 - j)
    return j


def register_text_similarity(spark: SparkSession) -> None:
    """Register the pandas-UDF trio under their DuckDB names.

    The @pandas_udf wrappers are built HERE, not at module level —
    the decorator parses its return-type DDL through the active
    SparkContext, so a module-level definition would make a bare
    `import text_similarity` (the pytest pins import _dl/_jaro
    directly) require a running JVM. Idempotent per live session (the
    session_store flag makes register_views' per-query invocation
    free, and dies with the session)."""
    from duck_server_spark.engine.session import session_store

    store = session_store(spark)
    if store.get("text_similarity_registered"):
        return

    @pandas_udf("bigint")
    def damerau_levenshtein_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else _dl(x, y)
                for x, y in zip(a, b)
            ],
            dtype="Int64",
        )

    @pandas_udf("double")
    def jaro_similarity_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else _jaro(x, y)
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    @pandas_udf("double")
    def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None or y is None else _jw(x, y)
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    spark.udf.register("damerau_levenshtein", damerau_levenshtein_udf)
    spark.udf.register("jaro_similarity", jaro_similarity_udf)
    spark.udf.register("jaro_winkler_similarity", jaro_winkler_udf)
    store["text_similarity_registered"] = True
