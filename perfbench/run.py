#!/usr/bin/env python3
"""Wire-level benchmark of the PG/CH server and the operator registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. Each run generates its fixture from the
seed, starts the server in a fresh working directory under
`.perfbench_tmp/`, drives the workload for S seconds, checks every
result, stops every process it started (and every process those
started) and waits for each to end, and removes the directory.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` — the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1` (layer wrappers and
the Spark event log on). The line before it carries workload-specific
figures (tails, first-row time, per-direction rates)."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import fixture  # noqa: E402
import ops as ops_  # noqa: E402
import report  # noqa: E402
import wire  # noqa: E402
from pgwire import PgConn  # noqa: E402
from server import Server, adopt_orphans, child_env, reap_descendants, stop_group  # noqa: E402

WORKLOADS = ("wire", "operators")
SCALE = {"wire": 0.1, "operators": 0.01}
SMOKE_SCALE = 0.001
BULK_ROWS = 4_000
INGEST_BATCH = 1_000


def median(v):
    return statistics.median(v) if v else 0.0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, sf: float):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = os.path.join(os.getcwd(), ".perfbench_tmp", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spans_out = os.path.join(self.work, "spans.json") if traced else None
        t0 = time.perf_counter()
        self.fx = fixture.write(os.path.join(self.work, "fixture"), sf, seed)
        self.phases = {"fixture_s": time.perf_counter() - t0}
        self.sizes = fixture.row_counts(sf)

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:  # the parent too, once no other run uses it
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    # ------------------------------------------------------------ wire

    def wire(self) -> dict:
        srv = Server(self.work, self.fx, self.spans_out)
        try:
            return self._drive(srv)
        finally:
            t0 = time.perf_counter()
            srv.stop()
            self.phases["stop_s"] = time.perf_counter() - t0

    def _drive(self, srv: Server) -> dict:
        """Phase 1, the interactive mix, for 60% of the window (its
        latency median needs the samples), then phase 2, bulk reads and
        writes (rows per second of read time is steady on fewer), after
        one warm-up for both."""
        ports = (srv.pg_port, srv.ch_port)
        model = wire.IngestModel()
        stmt = wire.interactive(self.seed, self.sizes, ports)
        bulk = wire.bulk(self.seed, self.sizes, ports, BULK_ROWS, INGEST_BATCH, model)
        c = PgConn("127.0.0.1", srv.pg_port)
        try:
            for sql in [wire.MACRO, *wire.INGEST_DDL]:
                res = c.query(sql)
                if not res.ok:
                    raise RuntimeError(f"{sql}: {res.message}")
        finally:
            c.close()
        self.phases["warm_s"] = wire.warm_up(bulk, stmt)
        if self.traced:
            os.kill(srv.proc.pid, signal.SIGUSR1)
        t_start, cpu0 = time.time(), _cpu()
        wall = 0.0
        for phase, share in ((stmt, 0.6), (bulk, 0.4)):
            deadline = time.perf_counter() + self.seconds * share
            for lp in phase:
                lp.deadline = deadline
            wall += wire.run_loops(phase)
        t_end, cpu1 = time.time(), _cpu()
        if self.traced:
            os.kill(srv.proc.pid, signal.SIGUSR2)
        loops = stmt + bulk
        out = {"setup_s": srv.setup_s, "wall": wall, "window": (t_start, t_end),
               "loadgen_cpu": (cpu1 - cpu0) / wall, "rss": srv.peak_rss_mb(),
               "stmt": stmt, "bulk": bulk, "loops": loops,
               "pre": [d for lp in loops for d in lp.pre],
               "bad": wire.end_state(srv.pg_port, model)}
        if self.traced:
            _wait_file(self.spans_out)
        return out

    # ------------------------------------------------------- operators

    def operators(self) -> dict:
        cmd = [sys.executable, os.path.join(HERE, "ops.py"), self.fx, str(self.seconds)]
        if self.spans_out:
            cmd.append(self.spans_out)
        run_dir = os.path.join(self.work, "server")
        os.makedirs(run_dir, exist_ok=True)
        log = open(os.path.join(self.work, "ops.log"), "wb")
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(self.work), stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True, text=True)
        try:
            setup_s, result = None, None
            for line in proc.stdout:
                if line.startswith("READY") and setup_s is None:
                    setup_s = time.perf_counter() - t0
                elif line.startswith("{"):
                    result = json.loads(line)
                    break
            if self.traced:  # stopping Spark flushes the event log
                proc.wait(timeout=60)
        finally:
            stop_group(proc, sig=signal.SIGTERM if self.traced else signal.SIGKILL)
            log.close()
        if result is None or setup_s is None:
            with open(log.name, "rb") as f:
                tail = f.read()[-3000:].decode(errors="replace")
            raise RuntimeError(f"operators child failed ({proc.returncode}):\n{tail}")
        result["setup_s"] = setup_s
        return result


def _cpu() -> float:
    t = os.times()
    return t.user + t.system


def _wait_file(path: str, timeout: float = 30.0) -> None:
    t0 = time.monotonic()
    while not os.path.exists(path):
        if time.monotonic() - t0 > timeout:
            raise RuntimeError("traced server wrote no spans")
        time.sleep(0.05)


# ---------------------------------------------------------------- metrics


def wire_result(r: Run, out: dict) -> dict:
    done = [d for lp in out["loops"] for d in lp.done]
    oracle = check.Oracle(r.fx, [wire.MACRO])
    failed, msgs = wire.verify(out["pre"] + done, oracle)
    msgs += out["bad"]
    failed += len(out["bad"])
    attempted = len(out["pre"]) + len(done) + 2  # + the end-state checks
    wall = out["wall"]

    def ms(cls):
        return [d.res.latency_s * 1000 for d in done if d.op.cls in cls]

    bulk = [d for d in done if d.op.cls == "bulk"]
    rows_out = sum(d.res.rows for d in done if d.op.cls in ("stmt", "bulk"))
    rows_in = sum(d.op.rows_in for d in done if d.op.cls == "load" and d.res.ok)
    # latency and rate of the interactive mix; rows per second of
    # bulk-read time
    stmt_loops = out["stmt"]
    probe = [d.res.latency_s * 1000 for lp in stmt_loops for d in lp.done]
    read_rows = sum(d.res.rows for d in bulk)
    read_s = sum(d.res.latency_s for d in bulk)
    e2e = {
        "setup_s": (out["setup_s"], "s"),
        "stmt_p50_ms": (median(probe), "ms"),
        "rows_per_s": (read_rows / read_s, "1/s"),
        "server_py_peak_rss_mb": (out["rss"], "MB"),
    }
    details = {
        "stmts_per_s": sum(len(lp.done) / lp.span for lp in stmt_loops),
        "requests": len(done),
        "requests_per_s": sum(len(lp.done) / lp.span for lp in out["loops"] if lp.done),
        "stmt_p95_ms": report.pct(probe, 0.95) if len(probe) >= 200 else None,
        "stmt_max_ms": max(probe, default=None),
        "first_row_p50_ms": median([d.res.first_row_s * 1000 for d in bulk if d.res.first_row_s]) if bulk else None,
        "result_rows_per_s": rows_out / wall,
        "load_rows_per_s_of_load_time": rows_in / max(1e-9, sum(d.res.latency_s for d in done if d.op.cls == "load")),
        "result_mb_per_s": sum(d.res.nbytes for d in bulk) / 1e6 / wall if bulk else None,
        "ingest_rows_per_s": rows_in / wall,
        "dml_p50_ms": median(ms(("dml",))) if ms(("dml",)) else None,
        "serialization_retries": sum(lp.retries for lp in out["loops"]),
        "by_proto": _by_proto(done),
        "check_messages": msgs,
    }
    extra = {"trace.stmt_p50_ms": (median(probe), "ms"), "loadgen.cpu_share": (out["loadgen_cpu"], "ratio")}
    user_bytes = sum(len(b) for d in done if d.op.cls == "load" and d.res.ok
                     for b in (d.op.body if isinstance(d.op.body, list) else [d.op.body]))
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "details": details, "user_bytes": user_bytes,
            "n": len(done), "client_s": sum(d.res.latency_s for d in done), "extra": extra}


def _by_proto(done) -> dict:
    out = {}
    for d in done:
        k = f"{d.op.cls}:{d.op.proto}"
        o = out.setdefault(k, {"n": 0, "rows": 0, "ms": []})
        o["n"] += 1
        o["rows"] += d.res.rows or d.op.rows_in
        o["ms"].append(d.res.latency_s * 1000)
    return {k: {"n": v["n"], "rows": v["rows"], "p50_ms": round(median(v["ms"]), 2)} for k, v in out.items()}


def ops_result(r: Run, res: dict) -> dict:
    passes = res["passes"]
    per_op = [t * 1000 for p in passes for t in p.values()]
    pass_s = [sum(p.values()) for p in passes]
    bad = [n for n, c in res["checks"].items() if not c["ok"]]
    rows = sum(c["rows"] for c in res["checks"].values())
    read = sum(r.sizes[ops_.SCANS[n]] for n in passes[0])
    # five unlike operators are too few for a per-operator median to be
    # steady: the median over passes of the mean operator time instead
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "stmt_p50_ms": (median(pass_s) * 1000 / len(passes[0]), "ms"),
        "rows_per_s": (read / median(pass_s), "1/s"),
        "server_py_peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    details = {"pipeline_s": median(pass_s), "passes": len(passes), "pass_s": [round(t, 3) for t in pass_s],
               "warm_pass_s": res["warm_s"],
               "stmts_per_s": len(per_op) / sum(pass_s),
               "result_rows_per_pass": rows,
               "operator_p50_ms": {n: round(median([p[n] * 1000 for p in passes]), 1) for n in passes[0]},
               "check_messages": [f"{n}: differs from its DuckDB twin" for n in bad]}
    extra = {"trace.stmt_p50_ms": (median(per_op), "ms"), "loadgen.cpu_share": (0.0, "ratio")}
    return {"attempted": len(per_op) + len(res["checks"]), "failed": len(bad), "e2e": e2e, "details": details,
            "n": len(per_op), "client_s": sum(pass_s), "extra": extra, "window": res["window"]}


def layer_report(r: Run, res: dict, window) -> dict:
    with open(r.spans_out) as f:
        tr = json.load(f)
    ev = report.event_log(os.path.join(r.work, "eventlog"), window)
    extra = dict(res["extra"])
    extra.update(_disk(r.work, res.get("user_bytes", 0)))
    return report.layer_metrics(tr, ev, res["n"], res["client_s"], extra)


def _disk(work: str, user: int) -> dict:
    """Files and bytes the server left in its data dir and warehouse,
    against the bytes clients sent to be stored."""
    files, nbytes = 0, 0
    for root, _dirs, names in os.walk(os.path.join(work, "server")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return {"ingest.files_written": (files, "count"),
            "ingest.bytes_written_per_user_byte": (nbytes / user if user else 0.0, "ratio")}


def run_once(workload: str, seed: int, seconds: float, traced: bool, sf: float) -> tuple[dict, dict]:
    r = Run(workload, seed, seconds, traced, sf)
    try:
        if workload == "operators":
            raw = r.operators()
            res = ops_result(r, raw)
            window = raw["window"]
        else:
            out = r.wire()
            t0 = time.perf_counter()
            res = wire_result(r, out)
            r.phases["check_s"] = time.perf_counter() - t0
            window = out["window"]
        metrics = layer_report(r, res, window) if traced else res["e2e"]
    finally:
        r.close()
    final = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    res["details"]["phases"] = r.phases
    return final, res["details"]


# ------------------------------------------------------------------ main


def smoke() -> int:
    """A few seconds per workload at the smallest scale: every metric of
    BENCHMARK.json is emitted with its unit, and nothing failed."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for traced, key in ((False, "end_to_end"), (True, "per_layer")):
            final, details = run_once(w["name"], 1, 3, traced, SMOKE_SCALE)
            got = final["metrics"]
            for m in spec[key]:
                if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{w['name']}: {m['name']} missing or wrong unit")
            if final["failed"]:
                problems.append(f"{w['name']}: {final['failed']} failed: {details.get('check_messages')}")
            print(w["name"], "trace" if traced else "e2e", "failed=", final["failed"], flush=True)
    for p in problems:
        print("SMOKE:", p)
    return 1 if problems else 0


def main() -> int:
    # a terminated run still stops its server and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    adopt_orphans()
    try:
        if a.smoke:
            return smoke()
        final, details = run_once(a.workload, a.seed, a.seconds, bool(a.trace), SCALE[a.workload])
    finally:
        reap_descendants()
    print(json.dumps({"workload": a.workload, "details": details}))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
