"""Start and stop the PG + CH server as its own process, in a fresh
working directory, data dir and warehouse.

Untraced runs start the program exactly as deployed
(`python -m duck_server_spark.server`); traced runs go through
`launch.py`, which installs the layer wrappers first."""

from __future__ import annotations

import ctypes
import os
import random
import signal
import socket
import subprocess
import sys
import time
import urllib.request

from pgwire import PgConn

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36


def free_port() -> int:
    """A free port below the kernel's ephemeral range, so that none of
    the JVM's own listeners (py4j, block manager) can take it between
    this check and the server's bind."""
    while True:
        port = random.randrange(20000, 32000)
        with socket.socket() as s:
            try:
                s.bind(("127.0.0.1", port))
            except OSError:
                continue
            return port


def child_env(work: str) -> dict:
    """SPARK_GRAFT_CPUS = the host's cores; Spark scratch, temp files and
    the Python path of mapInPandas workers all point into the run dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a
    process whose parent exits (the JVM after its Python driver, the
    Python workers after the JVM) is re-parented here rather than to
    init, so `reap_descendants` can find it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
            out.append(int(name))
    return out


def reap_descendants() -> None:
    """Kill every process still descending from this one and wait until
    each has ended. Under `adopt_orphans` no descendant is left once
    this process has no children."""
    while True:
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def stop_group(proc: subprocess.Popen, timeout: float = 60.0, sig: int = signal.SIGTERM) -> None:
    """Signal the process group (Python driver, JVM), wait for the driver
    to exit, then kill and reap whatever it left: the JVM, and the
    Python workers, which run in a process group of their own."""
    try:  # the group outlives its leader while the JVM runs
        os.killpg(proc.pid, sig)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    reap_descendants()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


class Server:
    def __init__(self, work: str, fixture_dir: str, trace_out: str | None):
        self.work = work
        self.pg_port, self.ch_port = free_port(), free_port()
        run_dir = os.path.join(work, "server")
        os.makedirs(run_dir, exist_ok=True)
        args = [
            "--pg-port", str(self.pg_port), "--ch-port", str(self.ch_port),
            "--sf-dir", fixture_dir, "--data-dir", os.path.join(run_dir, "data"),
        ]
        if trace_out:
            cmd = [sys.executable, os.path.join(HERE, "launch.py"), "--trace-out", trace_out, "--", *args]
        else:
            cmd = [sys.executable, "-m", "duck_server_spark.server", *args]
        self.log = open(os.path.join(work, "server.log"), "wb")
        t0 = time.perf_counter()
        self.traced = bool(trace_out)
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=child_env(work), stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        self._wait_ready(t0)
        self.setup_s = time.perf_counter() - t0

    def _wait_ready(self, t0: float, timeout: float = 150.0) -> None:
        """Ready = a PG startup handshake completes and CH answers /ping."""
        pending = {"pg", "ch"}
        while pending:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}:\n{self.tail()}")
            if time.perf_counter() - t0 > timeout:
                self.stop()
                raise RuntimeError("server did not come up")
            if "pg" in pending:
                try:
                    PgConn("127.0.0.1", self.pg_port).close()
                    pending.discard("pg")
                except OSError:
                    pass
            if "ch" in pending:
                try:
                    with urllib.request.urlopen(f"http://127.0.0.1:{self.ch_port}/ping", timeout=2) as r:
                        if r.read().startswith(b"Ok"):
                            pending.discard("ch")
                except OSError:
                    pass
            time.sleep(0.02)

    def tail(self) -> str:
        self.log.flush()
        with open(self.log.name, "rb") as f:
            return f.read()[-3000:].decode(errors="replace")

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """A traced server shuts down cleanly (its event log must be
        flushed); an untraced one is killed, since its run dir is
        discarded anyway."""
        stop_group(self.proc, sig=signal.SIGTERM if self.traced else signal.SIGKILL)
        self.log.close()
