"""Shared helpers for operator modules.

The reference engine's surface is SQL-in → rows-out (every client query
reaches DuckDB as text through `c.conn.Prepare(query)`,
/root/reference/pg_conn.go:314). Our Spark-first equivalents are written
either as DataFrame builders or as Spark-SQL over registered temp views —
both produce the same Catalyst plan; we use whichever is the clearer
expression of the operator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duck_server_spark.engine.session import (
    register_views,
    release_staged,
    stage_frame,
    staged_rdd_ids,
)


def sql_op(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a Spark-SQL string as a (spark, sf_dir) -> DataFrame builder.

    Re-registers the fixture temp views on each call (cheap: view
    registration is metadata-only; the parquet scan stays lazy and keeps
    pushdown/pruning through the view).
    """

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return build


def dec2(col) -> F.Column:
    """Cast to DECIMAL(18,2) — the exact-arithmetic carrier for money math
    (see operators/tpch.py docstring for why this guarantees cross-engine
    bit-identical aggregates)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


# SQL fragment twins of dec2 for oracle strings.
DEC = "DECIMAL(18,2)"


def tracked_local_checkpoint(spark: SparkSession, df: DataFrame, registry: list) -> DataFrame:
    """Stage `df` (engine/session.py stage_frame) and record its
    checkpoint RDD id in `registry`, the builder's own list, so the
    builder's next call frees the blocks with release_checkpoints instead
    of leaving generations of stored partitions to GC. The id is read
    from the staged frame itself, so concurrent builders on the shared
    session never see, or release, each other's checkpoints."""
    out = stage_frame(df)
    registry.extend(staged_rdd_ids(out))
    return out


def tracked_local_checkpoint_many(
    spark: SparkSession, dfs: list, registry: list
) -> list:
    """tracked_local_checkpoint for several INDEPENDENT frames, their
    jobs submitted concurrently (guide §2.6 — actions are only
    sequential because the driver calls them sequentially; overlapping
    lets the second job's tasks back-fill executors freed by the first
    job's tail). Wall time is ~max(job times) instead of their sum."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        outs = list(pool.map(stage_frame, dfs))
    for out in outs:
        registry.extend(staged_rdd_ids(out))
    return outs


def release_checkpoints(spark: SparkSession, registry: list) -> None:
    """Free every checkpoint recorded in `registry` and clear it."""
    release_staged(spark, *registry)
    registry.clear()
