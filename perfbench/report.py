"""Per-layer metrics of a traced run: span self times, counters, and
Spark job/stage/task records from the local event log."""

from __future__ import annotations

import glob
import json
import os

# spans whose self time lies on a statement's blocking path
_DERIVED = {"transfer.first_batch"}


def pct(values, q: float) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    i = min(len(v) - 1, max(0, int(round(q * (len(v) - 1)))))
    return v[i]


def event_log(dir_: str, window: tuple[float, float]) -> dict:
    """Jobs submitted inside the window (epoch seconds), their stages and
    tasks."""
    lo, hi = window[0] * 1000, window[1] * 1000
    jobs, stage_job, stages = {}, {}, set()
    agg = dict(tasks=0, run=0.0, cpu=0.0, delay=0.0, shuffle=0, input=0, job_ms=0.0)
    # Spark writes a rolling log: a directory of events_* files
    for path in sorted(glob.glob(os.path.join(dir_, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if lo <= t <= hi:
                        jobs[ev["Job ID"]] = t
                        for s in ev["Stage IDs"]:
                            stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    agg["job_ms"] += ev["Completion Time"] - jobs[ev["Job ID"]]
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        stages.add(sid)
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    agg["tasks"] += 1
                    agg["run"] += run
                    agg["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                    agg["delay"] += max(
                        0,
                        info["Finish Time"] - info["Launch Time"] - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0),
                    )
                    agg["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    agg["jobs"], agg["stages"] = len(jobs), len(stages)
    return agg


def layer_metrics(tr: dict, ev: dict, n_stmts: int, client_s: float, extra: dict) -> dict:
    """→ {name: (value, unit)} for every per-layer metric."""
    spans_ = tr["spans"]
    ctr = tr["counters"]
    n = max(1, n_stmts)

    def tot(name):
        return spans_.get(name, [0, 0.0, 0.0])[1]

    def slf(name):
        return spans_.get(name, [0, 0.0, 0.0])[2]

    def calls(name):
        return spans_.get(name, [0, 0.0, 0.0])[0]

    def per(x_s):
        return x_s * 1000.0 / n

    first = spans_.get("transfer.first_batch", [0, 0.0, 0.0])
    lag = tr["samples"].get("pg.loop_lag_s") or [0.0]
    attributed = sum(v[2] for k, v in spans_.items() if k not in _DERIVED)
    span_calls = sum(v[0] for v in spans_.values())
    m = {
        "session.spark_start_s": (ctr.get("session.spark_start_s", 0.0), "s"),
        "session.register_views_s": (ctr.get("session.register_views_s", 0.0), "s"),
        "session.engine_init_s": (ctr.get("session.engine_init_s", 0.0), "s"),
        "pg.decode_ms": (per(slf("pg.decode")), "ms/stmt"),
        "pg.encode_ms": (per(slf("pg.encode")), "ms/stmt"),
        "pg.rows_out": (ctr.get("pg.rows_out", 0), "count"),
        "pg.bytes_out": (ctr.get("pg.bytes_out", 0), "B"),
        "pg.drain_wait_ms": (per(tot("pg.drain_wait")), "ms/stmt"),
        "pg.loop_lag_p95_ms": (pct(lag, 0.95) * 1000.0, "ms"),
        "ch.encode_ms": (per(slf("ch.encode")), "ms/stmt"),
        "ch.decode_ms": (per(slf("ch.decode")), "ms/stmt"),
        "ch.rows_out": (ctr.get("ch.rows_out", 0), "count"),
        "ch.bytes_out": (ctr.get("ch.bytes_out", 0), "B"),
        "types.render_calls": (calls("types.render"), "count"),
        "types.render_ms": (per(tot("types.render")), "ms/stmt"),
        "types.parse_calls": (calls("types.parse"), "count"),
        "types.parse_ms": (per(tot("types.parse")), "ms/stmt"),
        "frontend.prepare_ms": (per(slf("frontend.query") + slf("frontend.execute") + slf("frontend.prepare")), "ms/stmt"),
        "frontend.probe_calls_per_stmt": (calls("frontend.probe") / n, "1/stmt"),
        "frontend.probe_ms": (per(tot("frontend.probe")), "ms/stmt"),
        "frontend.mask_literals_calls_per_stmt": (ctr.get("frontend.mask_literals_calls", 0) / n, "1/stmt"),
        "frontend.rewrite_ms": (per(slf("frontend.rewrite")), "ms/stmt"),
        "catalyst.analysis_ms": (per(tot("catalyst.analysis")), "ms/stmt"),
        "catalyst.optimization_ms": (per(ctr.get("catalyst.optimization_s", 0.0)), "ms/stmt"),
        "catalyst.planning_ms": (per(ctr.get("catalyst.planning_s", 0.0)), "ms/stmt"),
        "spark.jobs_per_stmt": (ev["jobs"] / n, "1/stmt"),
        "spark.job_ms": (ev["job_ms"] / n, "ms/stmt"),
        "spark.stages": (ev["stages"], "count"),
        "spark.tasks": (ev["tasks"], "count"),
        "spark.executor_run_ms": (ev["run"] / n, "ms/stmt"),
        "spark.executor_cpu_ms": (ev["cpu"] / n, "ms/stmt"),
        "spark.scheduler_delay_ms": (ev["delay"] / n, "ms/stmt"),
        "spark.shuffle_write_bytes": (ev["shuffle"], "B"),
        "spark.input_bytes": (ev["input"], "B"),
        "transfer.first_batch_ms": (first[1] * 1000.0 / max(1, first[0]), "ms"),
        "transfer.wait_ms": (per(tot("transfer.wait")), "ms/stmt"),
        "transfer.rows": (ctr.get("transfer.rows", 0), "count"),
        "transfer.batches": (ctr.get("transfer.batches", 0), "count"),
        "ingest.flushes": (calls("ingest.flush"), "count"),
        "ingest.flush_ms": (per(slf("ingest.flush")), "ms/stmt"),
        "ingest.validate_ms": (per(tot("ingest.validate")), "ms/stmt"),
        "ingest.append_ms": (per(slf("ingest.append")), "ms/stmt"),
        "ingest.cow_rewrite_ms": (per(tot("ingest.cow_rewrite")), "ms/stmt"),
        "operators.build_ms": (per(tot("operators.build")), "ms/stmt"),
        "operators.exec_ms": (per(tot("operators.exec")), "ms/stmt"),
        "operators.checkpoints": (ctr.get("operators.checkpoints", 0), "count"),
        "trace.unattributed_share": (max(0.0, 1.0 - attributed / client_s) if client_s else 0.0, "ratio"),
        "trace.overhead_share": (span_calls * tr.get("wrapper_cost_s", 0.0) / client_s if client_s else 0.0, "ratio"),
    }
    m.update(extra)
    return m
