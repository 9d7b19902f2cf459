"""Python workers start from engine/pyworker.py: PySpark's per-task
``importlib.invalidate_caches()`` no longer re-reads unchanged zip
archives (pyspark.zip), and workers import this package whatever the
caller's working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from duck_server_spark.engine import pyworker
from duck_server_spark.engine.session import PACKAGE_ROOT

from tests.conftest import SF_DIR


def test_worker_task_rereads_no_zip_archive(spark):
    """A task's invalidate_caches (the same call PySpark's worker makes
    before every task) re-parses no archive directory. With the stock
    zipimporter it re-reads pyspark.zip once per cached importer (16)."""

    def count_rereads(batches):
        import importlib
        import zipimport

        import pandas as pd

        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    out = spark.range(1, numPartitions=1).mapInPandas(count_rereads, "reads INT").collect()
    assert [r.reads for r in out] == [0]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch installs only on CPython < 3.12")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Called on an importer directly (nothing is installed in this
    process): an unchanged archive is read once, a rewritten one again,
    and a module added by the rewrite becomes importable."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    real = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    pyworker.invalidate_caches(importer)  # first call: nothing recorded yet
    assert reads == [archive]
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(zipimport.zipimporter(archive))
    assert reads == [archive]

    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    assert importer.find_spec("zmod_b") is None  # stale directory
    pyworker.invalidate_caches(importer)
    assert reads == [archive, archive]
    spec = importer.find_spec("zmod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    st = os.stat(archive)  # same bytes, new mtime: re-read
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    pyworker.invalidate_caches(importer)
    assert len(reads) == 3


def test_session_outside_the_repo_runs_python_workers(tmp_path):
    """A session built by get_session in a process started elsewhere
    (cwd /tmp, no PYTHONPATH) runs a lambda UDF, a registered pandas
    UDF and a registry operator whose pandas function is pickled by
    reference to this package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from duck_server_spark.engine.session import get_session
        from duck_server_spark.operators.dedup import dedup_embedding_cosine

        spark = get_session("pyworker_cwd", cpus=2)
        spark.udf.register("plus_one", lambda x: x + 1, "int")
        print("udf", spark.sql("SELECT plus_one(41) AS v").first().v)
        print("dl", spark.sql("SELECT damerau_levenshtein('ca', 'abc') AS v").first().v)
        print("op", dedup_embedding_cosine(spark, {SF_DIR!r}).count() >= 0)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split("\n")[-4:-1] == ["udf 42", "dl 2", "op True"], out.stdout
