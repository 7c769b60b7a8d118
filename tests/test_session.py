"""Session factory: the shared scratch sweeper must never delete a live
Spark job's spark.local.dir (shuffle data loss), and Python workers fork
from gjspark.worker_daemon without losing zip invalidation."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from gjspark import session, worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# CPython >= 3.12 re-reads zips lazily; the daemon leaves zipimport alone.
EAGER_ZIP = not hasattr(zipimport.zipimporter, "_get_files")


class TestScratchSweep:
    def test_dead_pid_dir_is_reaped(self, tmp_path):
        dead = tmp_path / "sess-999999999-abc"
        dead.mkdir()
        (dead / "blockmgr" ).mkdir()
        session._sweep_stale_scratch(str(tmp_path))
        assert not dead.exists()

    def test_live_pid_dir_survives_regardless_of_age(self, tmp_path):
        live = tmp_path / f"sess-{os.getpid()}-abc"
        live.mkdir()
        # backdate mtime far past any age threshold — liveness, not age,
        # decides (dir mtime does not track changes deeper inside)
        os.utime(live, (0, 0))
        session._sweep_stale_scratch(str(tmp_path))
        assert live.exists()

    def test_non_session_dirs_untouched(self, tmp_path):
        other = tmp_path / "somebody-elses-dir"
        other.mkdir()
        os.utime(other, (0, 0))
        session._sweep_stale_scratch(str(tmp_path))
        assert other.exists()

    def test_malformed_names_skipped(self, tmp_path):
        weird = tmp_path / "sess-notapid-x"
        weird.mkdir()
        session._sweep_stale_scratch(str(tmp_path))
        assert weird.exists()

    def test_session_scratch_dir_unique_and_pid_tagged(self, tmp_path):
        a = session._session_scratch_dir(str(tmp_path))
        b = session._session_scratch_dir(str(tmp_path))
        assert a != b
        for p in (a, b):
            assert os.path.isdir(p)
            assert os.path.basename(p).startswith(f"sess-{os.getpid()}-")


def _write_zip(path, modules):
    """Write ``{name: source}`` as a fresh file (new inode) at ``path``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.mark.skipif(not EAGER_ZIP, reason="zipimport invalidates lazily")
def test_stamped_invalidation_reads_unchanged_zip_once(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd_pkgs.zip")
    _write_zip(archive, {"wd_zip_first": "NAME = 'first'\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or stock_read(p)
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_zip_first").NAME == "first"
        importlib.invalidate_caches()  # records this process's stamp
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(
            archive,
            {"wd_zip_first": "NAME = 'first'\n", "wd_zip_second": "NAME = 'second'\n"},
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wd_zip_second").NAME == "second"
    finally:
        sys.modules.pop("wd_zip_first", None)
        sys.modules.pop("wd_zip_second", None)


def test_workers_fork_from_gjspark_daemon_and_see_added_zips(spark, tmp_path):
    def probe(batches):
        import zipimport

        for b in batches:
            yield b.assign(m=zipimport.zipimporter.invalidate_caches.__module__)

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(probe, "id long, m string")
        .select("m")
        .distinct()
        .collect()
    )
    want = "gjspark.worker_daemon" if EAGER_ZIP else "zipimport"
    assert [r.m for r in rows] == [want]

    # The workers above are up; a zip shipped now must still import.
    archive = str(tmp_path / "wd_late_pkg.zip")
    _write_zip(archive, {"wd_late_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    def use(batches):
        import wd_late_mod

        for b in batches:
            yield b.assign(v=wd_late_mod.VALUE)

    got = spark.range(8, numPartitions=4).mapInPandas(use, "id long, v long").collect()
    assert sorted(r.v for r in got) == [42] * 8


@pytest.mark.slow
def test_spark_submit_py_files_from_foreign_cwd(tmp_path):
    """``spark-submit --py-files gjspark.zip`` from a directory without
    gjspark and with no PYTHONPATH: the daemon must still find the
    package before any task has shipped the zip."""
    from pyspark.find_spark_home import _find_spark_home

    pkg = str(tmp_path / "gjspark.zip")
    with zipfile.ZipFile(pkg, "w") as z:
        for root, _, files in os.walk(os.path.join(REPO, "gjspark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    script = tmp_path / "probe.py"
    script.write_text(
        "import pandas as pd\n"
        "from gjspark.session import get_spark\n"
        "from gjspark.operators.cells import with_cell_columns\n"
        "spark = get_spark('daemon-probe', master='local[2]')\n"
        "pts = spark.createDataFrame([(1.0, 2.0)], 'lat double, lon double')\n"
        "print('CELLS', with_cell_columns(pts, 'lat', 'lon').count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    r = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", pkg, str(script)],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "CELLS 1" in r.stdout
