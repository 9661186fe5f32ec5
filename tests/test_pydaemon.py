"""The engine's PySpark worker daemon (graph_etl_pipeline_spark/pydaemon.py):
the stat-checked zip invalidation, that Python workers really start in it,
and that they can import it when the driver runs outside the checkout."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from graph_etl_pipeline_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pydaemon_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("pydaemon_probe_a").X == 1

        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_changed_archive
        )
        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        importlib.invalidate_caches()  # no stamp yet: read once
        importlib.invalidate_caches()  # unchanged: not read
        assert [p for p in reads if p == str(archive)] == [str(archive)]

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("pydaemon_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert [p for p in reads if p == str(archive)] == [str(archive)] * 2
        assert importlib.import_module("pydaemon_probe_b").Y == 2
    finally:
        for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
            sys.modules.pop(name, None)


def test_python_workers_start_in_the_engine_daemon(spark):
    def invalidation_in_worker(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    got = spark.sparkContext.parallelize([1], 1).map(invalidation_in_worker).collect()
    assert got == [pydaemon.invalidate_changed_archive.__qualname__]


def test_worker_pythonpath_keeps_a_launch_value(spark, tmp_path):
    """A value the launch conf already holds (the gateway JVM loads
    spark-defaults and submit arguments as system properties) stays on
    the workers' PYTHONPATH, after the package's parent directory."""
    from graph_etl_pipeline_spark import session

    system = spark._jvm.java.lang.System
    key = "spark.executorEnv.PYTHONPATH"
    old = system.getProperty(key)
    system.setProperty(key, str(tmp_path))
    try:
        assert session._worker_pythonpath() == os.pathsep.join(
            [session._PACKAGE_PARENT, str(tmp_path)]
        )
    finally:
        if old is None:
            system.clearProperty(key)
        else:
            system.setProperty(key, old)


def test_driver_outside_the_checkout_runs_python_tasks(tmp_path):
    """Workers start in the engine's daemon module, so they must import the
    package even when neither the driver's working directory nor
    PYTHONPATH points at the checkout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from graph_etl_pipeline_spark.session import get_spark\n"
        "sc = get_spark(cpus=1).sparkContext\n"
        "print('RESULT', sc.parallelize([1], 1).map(lambda x: x + 1).collect())\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "RESULT [2]" in run.stdout
