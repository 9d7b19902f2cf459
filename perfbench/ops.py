"""The `operators` workload, in-process: a fixed set of registry
operators (one per family of the headline set) through the noop sink.

    python perfbench/ops.py FIXTURE_DIR SECONDS [SPANS_OUT]

Prints `READY` once the session is up and the views are registered,
then one JSON line with the per-operator timings and check results."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import spans

# One operator per family of the headline set in bench.py: TPC-H shapes,
# sessionization windows, dedup (Bloom prefilter: applyInPandas workers
# and a tracked local checkpoint), similarity, Arrow-grouped packing.
# The whole set's cold pass alone outlasts a run's time budget, and the
# minhash dedup's pass time swings 2x between runs. Pinned here so the
# benchmark does not change when bench.py does.
# operator → the fixture table it scans (its input rows)
SCANS = {
    "tpch_q1_pricing_summary": "lineitem",
    "sessionize": "events",
    "dedup_bloom_incremental": "documents",
    "similarity_topk_bruteforce": "embeddings",
    "sequence_packing": "documents",
}
OPERATORS = list(SCANS)
WARM_PASSES = 3


def value_hash(pdf) -> str:
    """Registry check rule: sort the raw frame on every column, then hash
    each row's string form."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.astype(str).itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def main() -> None:
    fx, seconds = sys.argv[1], float(sys.argv[2])
    out = sys.argv[3] if len(sys.argv) > 3 else None
    tracer = spans.TRACER
    if out:
        from launch import event_log_args

        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_args(os.path.dirname(out))
        spans.install_session()
    from duck_server_spark.engine.session import get_session, register_views
    from duck_server_spark.operators import all_oracle_sql, all_queries

    spark = get_session("perfbench_operators")
    register_views(spark, fx)
    print("READY", flush=True)
    queries, oracle = all_queries(), all_oracle_sql()
    build, run = (lambda name: queries[name](spark, fx)), _noop
    if out:
        from duck_server_spark.operators import common

        for fn in ("tracked_local_checkpoint", "tracked_local_checkpoint_many"):
            orig = getattr(common, fn)
            setattr(common, fn, _counted(tracer, orig))
        build = tracer.span("operators.build", build)
        run = tracer.span("operators.exec", run)

    # warm pass: each operator collected and checked against its DuckDB
    # twin
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    from fixture import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    checks = {}
    t_warm = time.perf_counter()
    for name in OPERATORS:
        pdf = queries[name](spark, fx).toPandas()
        if name in oracle:
            opdf = con.execute(oracle[name]).fetchdf()
            ok = len(pdf) == len(opdf) and sorted(pdf.columns) == sorted(opdf.columns) and value_hash(pdf) == value_hash(opdf)
        else:
            ok = True
        checks[name] = {"rows": len(pdf), "ok": bool(ok)}
    con.close()
    # then untimed passes through the noop sink: its first run compiles
    # its own plan, and pass times fall for a few more passes while the
    # JVM's JIT warms up
    for _ in range(WARM_PASSES):
        for name in OPERATORS:
            _noop(queries[name](spark, fx))
    warm_s = time.perf_counter() - t_warm

    if out:
        tracer.reset()
    t_start = time.time()
    # whole passes that fit in the window, at least one
    start = time.perf_counter()
    passes = []
    while not passes or (time.perf_counter() - start) * (len(passes) + 1) / len(passes) <= seconds:
        p = {}
        for name in OPERATORS:
            t0 = time.perf_counter()
            run(build(name))
            p[name] = time.perf_counter() - t0
        passes.append(p)
    t_end = time.time()
    if out:
        tracer.dump(out, {"window": [t_start, t_end]})
    import resource

    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    print(json.dumps({"passes": passes, "checks": checks, "peak_rss_mb": rss, "window": [t_start, t_end],
                      "warm_s": warm_s}), flush=True)
    if out:  # flushes the event log
        spark.stop()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(tracer, fn):
    def w(*a, **k):
        tracer.add("operators.checkpoints")
        return fn(*a, **k)

    return w


if __name__ == "__main__":
    main()
