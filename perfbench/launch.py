"""Traced server start: install the layer wrappers, turn on the Spark
event log, then run the program's own entry point. SIGUSR1 marks the
start of the measurement window (totals so far are dropped), SIGUSR2
its end (the totals are written out). SIGTERM stops the Spark context,
which flushes the event log, and exits.

    python perfbench/launch.py --trace-out SPANS.json -- <server args>
"""

from __future__ import annotations

import asyncio
import os
import signal
import sys

import spans


def main() -> None:
    argv = sys.argv[1:]
    sep = argv.index("--")
    out = argv[argv.index("--trace-out") + 1]
    os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_args(os.path.dirname(out))
    spans.install_session()
    spans.install_engine()
    spans.install_wire()
    from duck_server_spark.server import __main__ as entry
    from duck_server_spark.server.pg import wire_server

    serve = wire_server.PgServer.serve_forever

    async def serve_until_term(self):
        loop = asyncio.get_running_loop()
        done = asyncio.Event()
        loop.add_signal_handler(signal.SIGTERM, done.set)
        loop.add_signal_handler(signal.SIGUSR1, spans.TRACER.reset)
        loop.add_signal_handler(signal.SIGUSR2, lambda: spans.TRACER.dump(out))
        task = loop.create_task(serve(self))
        await done.wait()
        await loop.run_in_executor(None, self.engine.spark.stop)
        task.cancel()
        os._exit(0)

    wire_server.PgServer.serve_forever = serve_until_term
    sys.argv = ["duck_server_spark.server", *argv[sep + 1 :]]
    entry.main()


def event_log_args(dir_: str) -> str:
    log_dir = os.path.join(dir_, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


if __name__ == "__main__":
    main()
