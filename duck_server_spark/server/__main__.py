"""Run both protocol front-ends over one shared Spark engine.

Reference analogue: /root/reference/main.go:18-47 — flags for db path,
PG port, CH HTTP port; one embedded engine, two servers.

    python -m duck_server_spark.server --pg-port 5433 --ch-port 8123 \
        [--data-dir DIR] [--sf-dir /root/testdata/sf0.01] [--require-auth]

--sf-dir registers the fixture parquet tables as views so clients can
query them immediately (the reference opens its persistent .db file the
same way at startup).

Those startup tables are then marked for Spark's in-memory columnar
cache (`cacheTable`, MEMORY_ONLY), as the reference serves its file from
DuckDB's buffer manager:
- Lazy: marking costs ~0.4 s; a table's cache is filled by the first
  statement that touches it, which therefore pays a full scan plus the
  build (sf0.1, 4 vCPUs: lineitem ~2 s, orders ~0.9 s, the rest
  <=0.5 s each). Later statements read in-memory column batches instead
  of re-decoding parquet, and skip the batches whose min/max statistics
  rule out a key filter (an orders key lookup ~140 -> ~85 ms). A scan
  that skips nothing, such as a filter on an unclustered key, decodes
  every cached row, and that is slower than parquet's vectorized reader
  (sf0.1 lineitem range read: executor time ~150 -> ~210 ms).
- MEMORY_ONLY: a read never spills to local disk. A block that does not
  fit in the heap is read from parquet on each scan, as without a cache.
- Startup tables only: their files are immutable, and Spark's
  plan-keyed cache cannot serve a dropped or replaced view's rows
  (DROP VIEW and CREATE OR REPLACE TEMP VIEW uncache it). Managed
  tables are rewritten copy-on-write, so caching them would need
  invalidation at publish. register_views itself stays uncached: the operators, the
  bench, the driver contract and the plan audit read parquet scans.
"""

from __future__ import annotations

import argparse
import asyncio


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pg-port", type=int, default=5433)
    ap.add_argument("--ch-port", type=int, default=8123)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--require-auth", action="store_true")
    args = ap.parse_args()

    from pyspark.storagelevel import StorageLevel

    from duck_server_spark.engine.executor import Engine
    from duck_server_spark.engine.session import TABLES, get_session, register_views
    from duck_server_spark.server.ch.http_server import serve as serve_ch
    from duck_server_spark.server.pg.wire_server import PgServer

    spark = get_session("duck_server_spark")
    if args.sf_dir:
        register_views(spark, args.sf_dir)
        for t in TABLES:
            spark.catalog.cacheTable(t, StorageLevel.MEMORY_ONLY)
    engine = Engine(spark, data_dir=args.data_dir)

    serve_ch(engine, host=args.host, port=args.ch_port, require_auth=args.require_auth)
    print(f"ClickHouse HTTP listening on {args.host}:{args.ch_port}")

    pg = PgServer(engine, host=args.host, port=args.pg_port, require_auth=args.require_auth)
    print(f"PostgreSQL wire listening on {args.host}:{args.pg_port}")
    asyncio.run(pg.serve_forever())


if __name__ == "__main__":
    main()
