"""Run both protocol front-ends over one shared Spark engine.

Reference analogue: /root/reference/main.go:18-47 — flags for db path,
PG port, CH HTTP port; one embedded engine, two servers.

    python -m duck_server_spark.server --pg-port 5433 --ch-port 8123 \
        [--data-dir DIR] [--sf-dir /root/testdata/sf0.01] [--require-auth]

--sf-dir registers the fixture parquet tables as views so clients can
query them immediately (the reference opens its persistent .db file the
same way at startup).

Those startup tables are clustered and then marked for Spark's
in-memory columnar cache (`cacheTable`, MEMORY_ONLY), as the reference
serves its file from DuckDB's buffer manager:
- Clustered by the leading column: each table's view sorts the rows
  within their partitions by its first column (one rule for every
  table; that column is each fixture table's key: l_orderkey,
  o_orderkey, c_custkey, event_id ...). No shuffle is added. Each
  10k-row cached batch then covers a narrow key range, and Spark's
  per-batch min/max statistics skip the batches a key filter rules
  out (sf0.1, a 4k-row lineitem key range: 600,000 -> 20,000 cached
  rows decoded; executor time ~150 ms unsorted, ~70 ms sorted, ~115 ms
  from parquet). Result order of a query with no ORDER BY follows that
  key.
- Lazy: marking costs ~0.4 s; a table's cache is filled by the first
  statement that touches it, which therefore pays a full scan, the sort
  and the build (sf0.1 over PG, 4 vCPUs: lineitem ~2.2-2.7 s, orders
  ~0.7 s, the rest <=0.8 s each; the sort adds no measurable time).
  Later statements read in-memory column batches instead of
  re-decoding parquet.
- MEMORY_ONLY: a read never spills to local disk. A block that does not
  fit in the heap is recomputed from parquet (and re-sorted) on each
  scan.
- Startup tables only: their files are immutable, and Spark's
  plan-keyed cache cannot serve a dropped or replaced view's rows
  (DROP VIEW and CREATE OR REPLACE [TEMP] VIEW uncache it). Managed
  tables are rewritten copy-on-write, so caching them would need
  invalidation at publish. register_views itself stays unsorted and
  uncached: the operators, the bench, the driver contract and the plan
  audit read parquet scans.
"""

from __future__ import annotations

import argparse
import asyncio


def register_startup_tables(spark, sf_dir: str) -> None:
    """Register the fixture tables in `sf_dir` as views clustered by
    their leading column, and mark each for the in-memory cache."""
    from pyspark.storagelevel import StorageLevel

    from duck_server_spark.engine.session import TABLES, register_views

    register_views(spark, sf_dir, lambda df: df.sortWithinPartitions(df.columns[0]))
    for t in TABLES:
        spark.catalog.cacheTable(t, StorageLevel.MEMORY_ONLY)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pg-port", type=int, default=5433)
    ap.add_argument("--ch-port", type=int, default=8123)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--require-auth", action="store_true")
    args = ap.parse_args()

    from duck_server_spark.engine.executor import Engine
    from duck_server_spark.engine.session import get_session
    from duck_server_spark.server.ch.http_server import serve as serve_ch
    from duck_server_spark.server.pg.wire_server import PgServer

    spark = get_session("duck_server_spark")
    if args.sf_dir:
        register_startup_tables(spark, args.sf_dir)
    engine = Engine(spark, data_dir=args.data_dir)

    serve_ch(engine, host=args.host, port=args.ch_port, require_auth=args.require_auth)
    print(f"ClickHouse HTTP listening on {args.host}:{args.ch_port}")

    pg = PgServer(engine, host=args.host, port=args.pg_port, require_auth=args.require_auth)
    print(f"PostgreSQL wire listening on {args.host}:{args.pg_port}")
    asyncio.run(pg.serve_forever())


if __name__ == "__main__":
    main()
