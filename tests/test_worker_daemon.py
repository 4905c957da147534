"""The Python worker daemon of local sessions (geminigraph_spark/
worker_daemon.py): zip importers re-read only changed archives, workers
run it, and a session started outside the repository still runs tasks."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from geminigraph_spark import worker_daemon
from geminigraph_spark.worker_daemon import StatCheckedZipImporter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gg_wd_first": "X = 1\n"})
    # install into copies of the interpreter's import state, restored after
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    worker_daemon.install()
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("gg_wd_first").X == 1
        assert type(sys.path_importer_cache[archive]) is StatCheckedZipImporter

        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
        )
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"gg_wd_first": "X = 1\n", "gg_wd_added": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("gg_wd_added").Y == 2
    finally:
        for name in ("gg_wd_first", "gg_wd_added"):
            sys.modules.pop(name, None)


def test_workers_use_stat_checked_importers_and_see_added_py_files(spark, tmp_path):
    sc = spark.sparkContext

    def importer_classes(_):
        import sys
        import zipimport

        from geminigraph_spark.worker_daemon import StatCheckedZipImporter

        found = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
        return len(found), sum(type(f) is StatCheckedZipImporter for f in found)

    n, checked = sc.parallelize([0], 1).map(importer_classes).collect()[0]
    assert n > 0 and checked == n

    # a zip shipped after the workers started imports in a later task
    name = f"gg_wd_shipped_{os.getpid()}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 41\n"})
    sc.addPyFile(archive)

    def use(_):
        import importlib

        return importlib.import_module(name).VALUE + 1

    assert sc.parallelize([0, 1], 2).map(use).collect() == [42, 42]


def test_session_outside_the_repo_runs_python_tasks(tmp_path):
    """Workers import the daemon from the package root the session puts on
    their PYTHONPATH, not from the driver's working directory."""
    script = tmp_path / "job.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from geminigraph_spark.session import get_spark\n"
        "spark = get_spark('outside-repo', cores=2)\n"
        "print('SUM', spark.sparkContext.parallelize(range(4), 2)"
        ".map(lambda x: x * x).sum())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    p = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "SUM 14" in p.stdout.splitlines()
