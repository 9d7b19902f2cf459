"""SparkSession factory + table registration.

Reference analogue: the embedded engine bootstrap in
``/root/reference/pg_server.go:78-104`` (open one DuckDB database, run the
compat-view init, share it across client connections). Here the shared
engine is a single SparkSession; per-connection state lives in the server
layer, as in the reference (`pg_conn.go:50-68`).

Scale notes (100 TB design intent):
- One SparkSession per process; Spark is safe for concurrent actions from
  many server connections (each query gets its own job group for cancel).
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join conversion replace hand-tuned plans at scale.
- Arrow enabled for the pandas paths (toPandas, pandas UDFs). Results
  reach the protocol edge as Arrow record batches, one partition at a
  time (engine/transfer.py), and are rendered a column at a time.
- Python workers (UDFs, mapInPandas operators) start from
  engine/pyworker.py, which keeps PySpark's per-task import-cache
  invalidation from re-reading pyspark.zip's directory 16 times per
  task on CPython 3.11 (~150 ms of a one-row task's ~250 ms, 4 vCPUs).
  They get this package on their path whatever the caller's working
  directory.
- The server entrypoint (server/__main__.py) registers its --sf-dir
  startup tables sorted within partitions by their leading column and
  marks them for Spark's in-memory columnar cache, lazily and
  MEMORY_ONLY: the first statement on a table fills it, later ones read
  column batches instead of decoding parquet and skip the batches a key
  filter rules out, and a table too big for the heap is recomputed from
  parquet. register_views itself neither sorts nor caches, so the
  operators, bench.py and the plan audit keep their parquet scans.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory holding the duck_server_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_session(app_name: str = "duck_server_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the shared SparkSession.

    local[N] for tests/bench; on a real cluster the master/memory settings
    come from spark-submit and everything else here still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert in load_table (values are micro-granular).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # duck's TIME type: Spark 4.1 ships it behind a flag — with it
        # on, TIME literals, CAST('..' AS TIME), and make_time() all
        # work natively (round 12)
        .config("spark.sql.timeType.enabled", "true")
        # Every fixture parquet is one row group, and a row group is
        # read by the one split holding its midpoint, so this does not
        # spread a scan across cores: sf0.1 lineitem (10.8 MB) gets 3
        # splits, 1 of them non-empty, and an unshuffled result pays a
        # transfer job per split. It is kept because an A/B against
        # 128 MB with minPartitionNum=1 was mixed (-7% on a bulk read,
        # +33% on a lineitem count). On a real cluster with TB inputs
        # the default is right.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # Python workers: see engine/pyworker.py; the path lets them
        # import this package (UDFs and operator functions are pickled
        # by reference) from any working directory
        .config("spark.python.daemon.module", "duck_server_spark.engine.pyworker")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from duck_server_spark.functions.text_similarity import (
        register_text_similarity,
    )

    register_text_similarity(spark)
    return spark


import weakref

# Per-session scratch store for the engine's plan-handle memos
# (load_table relations, register_views state, the operator plan memo,
# the contamination eval index). Round 14 (ADVICE r13): the old dicts
# keyed on id(spark) never evicted — a stopped session's id() can be
# reused by a NEW session, which would then be served DataFrames bound
# to the dead session, and the strong refs grew unboundedly. A
# WeakKeyDictionary keyed on the LIVE session object fixes both: entries
# die with the session, and id reuse is impossible while the key is
# alive.
_SESSION_STORES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def session_store(spark: SparkSession) -> dict:
    store = _SESSION_STORES.get(spark)
    if store is None:
        store = {}
        _SESSION_STORES[spark] = store
    return store


# Staged frames: the one way the engine and the operators materialize an
# intermediate (an eager local checkpoint) and free it again. A staged
# frame's logical plan is a LogicalRDD whose rdd is the persisted one, so
# the id to release is read from the frame itself — no lock, no diff of
# the session-wide persistent set. (Unpersisting `DataFrame.rdd` frees
# nothing: `.rdd` builds a fresh, never-persisted conversion RDD.)


def stage_frame(df: DataFrame) -> DataFrame:
    """Materialize `df` once, so every later job over the result (a
    count, validation scans, the append, self-join sides) reads the same
    stored rows. Free it with release_staged when its owner is done."""
    return df.localCheckpoint(eager=True)


def staged_rdd_ids(df: DataFrame) -> list[int]:
    """The checkpoint RDD ids `df` reads: one per LogicalRDD leaf of its
    logical plan — a staged frame's own, or, for a projection of one
    (a RETURNING result), the staged frame's under it."""
    ids = []
    leaves = df._jdf.queryExecution().logical().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.append(int(leaf.rdd().id()))
    return ids


def release_staged(spark: SparkSession, *staged: "DataFrame | int") -> None:
    """Free the stored blocks of staged frames (or bare checkpoint RDD
    ids) now, not whenever GC gets to them. Ids already freed are
    skipped; release never raises, so it cannot fail a statement."""
    try:
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        for s in staged:
            for rid in [s] if isinstance(s, int) else staged_rdd_ids(s):
                if persistent.containsKey(rid):
                    persistent.get(rid).unpersist(False)
    except Exception:  # noqa: BLE001 — a stopped session frees everything
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized per (session, dir, table): repeated builders reuse the
    analyzed relation instead of re-listing files and re-reading footers
    (~100-200 ms per call). The fixture dirs are immutable."""
    store = session_store(spark)
    key = ("table", sf_dir, name)
    hit = store.get(key)
    if hit is not None:
        return hit
    df = _load_table_uncached(spark, sf_dir, name)
    store[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Self-sufficient against sessions we didn't build (the verification
    # driver constructs its own): UTC pins every session-TZ-sensitive
    # expression (timestamp literals in filters, date→timestamp casts) to
    # the oracle's naive-timestamp semantics. Runtime-settable SQLConf.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # nanosAsLong lets the TIMESTAMP(NANOS) file load (as BIGINT).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The fixture's ts physical type has changed across driver
        # regenerations; accept all three shapes and normalize to TIMESTAMP
        # (session TZ is pinned to UTC above, so NTZ→TIMESTAMP is the
        # identity on the wall-clock values — same semantics as the DuckDB
        # oracle's naive timestamps):
        #   - TIMESTAMP(NANOS): nanosAsLong reads it as epoch-nanos BIGINT
        #     (values are micro-granular, so div 1000 is lossless)
        #   - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as
        #     TIMESTAMP_NTZ, which F.unix_micros et al. reject — cast
        #   - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    view_of: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Register every fixture table as a temp view (name == table name).

    Parquet-backed temp views keep predicate pushdown / column pruning —
    Catalyst sees straight through the view to the file scan.

    view_of, when given, maps each table's parquet frame to the frame
    its view serves; the server entrypoint clusters its startup tables
    this way before caching them (server/__main__.py). Such a call
    always registers.

    Memoized per (session, sf_dir) — round 13 (guide §1.2 per-task
    work): the 10 createOrReplaceTempView py4j round-trips cost ~96 ms
    warm, and every operator builder calls this, so a 25-query bench
    paid ~5 s of pure view re-registration. The memo only records which
    dir was registered last. The executor's transient views are all
    __duck_*-named, but a client's CREATE OR REPLACE VIEW (or TEMP VIEW)
    and DROP VIEW of a fixture name replace or drop that view, and a
    later call for the same dir does not restore it: drop
    session_store(spark)["views_dir"] first to force a re-register.
    """
    store = session_store(spark)
    if view_of is None and store.get("views_dir") == sf_dir:
        return
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        (df if view_of is None else view_of(df)).createOrReplaceTempView(t)
    store["views_dir"] = sf_dir
    # DuckDB-named pandas-UDF scalars (damerau_levenshtein, jaro_*) —
    # registered here too so sessions we didn't build (the verification
    # driver constructs its own) can run the similarity gate rows;
    # a no-op after the first call on a session
    from duck_server_spark.functions.text_similarity import (
        register_text_similarity,
    )

    register_text_similarity(spark)
