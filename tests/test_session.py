"""The engine's Python-worker daemon (research_engine_spark/_daemon.py,
set by session.get_spark): a reused worker keeps the directories of the
archives that were on its sys.path at daemon start, re-reads any other
archive per task, and the daemon loads whatever the driver's cwd is."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _importer_reads(spark, archive_name, import_name=None, max_jobs=64):
    """Run one-partition tasks until a worker pid serves two of them;
    return, for that pid, the id of the ``_files`` dict of the importer
    of the sys.path entry ending in ``archive_name`` seen by each task
    (its own reads of the directory), and what each task imported.

    Idle workers are handed out first in, first out, so consecutive tasks
    cycle through the pool; a pid repeats after at most pool-size tasks.
    """

    def probe(it):
        import importlib
        import os
        import sys

        for _ in it:
            got = ""
            if import_name:
                got = importlib.import_module(import_name).VALUE
            entry = next(p for p in sys.path if p.endswith(archive_name))
            files = sys.path_importer_cache[entry]._files
            yield pd.DataFrame({"pid": [os.getpid()], "files": [id(files)],
                                "got": [got]})

    df = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pid long, files long, got string")
    seen: dict[int, list] = {}
    for _ in range(max_jobs):
        row = df.collect()[0]
        seen.setdefault(row.pid, []).append((row.files, row.got))
        if len(seen[row.pid]) == 2:
            return seen[row.pid]
    raise AssertionError(f"no worker served two of {max_jobs} tasks")


def test_reused_worker_keeps_spark_archive(spark):
    """(a) pyspark.zip was on the daemon's sys.path at start, so a reused
    worker keeps one directory dict for it across tasks; pyspark's worker
    alone re-reads it on every task."""
    (first, _), (second, _) = _importer_reads(spark, "pyspark.zip")
    assert first == second


def test_added_archive_still_invalidated(spark, tmp_path):
    """(b) an archive shipped with addPyFile is re-read on every task,
    and a module inside it imports."""
    zpath = tmp_path / "res_daemon_probe.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("res_daemon_probe_mod.py", "VALUE = 'from the archive'\n")
    spark.sparkContext.addPyFile(str(zpath))
    (first, got1), (second, got2) = _importer_reads(
        spark, "res_daemon_probe.zip", import_name="res_daemon_probe_mod")
    assert got1 == got2 == "from the archive"
    # both dicts are alive while the importer re-reads, so a new read
    # always has a new id
    assert first != second


_OUTSIDE_DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from research_engine_spark.session import get_spark

    spark = get_spark(cores=1, extra_conf={{
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g"}})

    def tokenize(it):
        from research_engine_spark.functions.analyzer import analyze
        for pdf in it:
            yield pdf.assign(n=[len(analyze(t)) for t in pdf["text"]])

    rows = (spark.createDataFrame([("neural networks learn",)], "text string")
            .mapInPandas(tokenize, "text string, n long").collect())
    print("TERMS", rows[0]["n"])
    spark.stop()
""")


def test_workers_import_package_outside_its_dir(tmp_path):
    """(c) a driver whose cwd is elsewhere and which finds the package
    only through sys.path runs a package UDF: the workers get the
    package's directory from spark.executorEnv.PYTHONPATH."""
    script = tmp_path / "driver.py"
    script.write_text(_OUTSIDE_DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TERMS 3" in proc.stdout
