"""The Python worker daemon (`vector_search_test_spark.worker`): a zip
archive's directory is read again only when the archive changed, in a
plain zipimporter and in Spark's Python workers, and the daemon starts
from any working directory."""

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd

from vector_search_test_spark import worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_read_again(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wz_a.py": "A = 1\n"})
    # undone after the test: install() patches zipimport process-wide
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    worker.install()

    imp = zipimport.zipimporter(str(archive))
    files = imp._files
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp._files is files

    _write_zip(archive, {"wz_a.py": "A = 1\n", "wz_b.py": "B = 2\n"})
    imp.invalidate_caches()
    spec = imp.find_spec("wz_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2


def test_workers_keep_an_added_archive_directory(spark, tmp_path):
    """A Python worker keeps one directory dict for an `addPyFile`
    archive: PySpark's import-cache invalidation at the start of every
    task (repeated here inside the task) no longer re-reads it, so every
    task a reused worker runs sees the same dict."""
    sc = spark.sparkContext
    archive = tmp_path / "daemon_probe.zip"
    _write_zip(archive, {"daemon_probe.py": "VALUE = 7\n"})
    sc.addPyFile(str(archive))

    def probe(batches):
        import daemon_probe

        imp = next(
            f for p, f in sys.path_importer_cache.items()
            if p.endswith("daemon_probe.zip")
        )
        before = id(imp._files)
        importlib.invalidate_caches()
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "before": [before],
             "after": [id(imp._files)], "value": [daemon_probe.VALUE]}
        )

    parts = 3 * sc.defaultParallelism
    got = (
        spark.range(parts * 4).repartition(parts)
        .mapInPandas(probe, "pid long, before long, after long, value long")
        .toPandas()
    )
    assert len(got) == parts and set(got.value) == {7}
    assert (got.before == got.after).all(), got
    assert got.groupby("pid").after.nunique().max() == 1, got
    assert spark.conf.get("spark.python.daemon.module") == worker.__name__


def test_package_kernel_runs_from_any_working_directory(tmp_path):
    """A session started outside the repository, with PYTHONPATH unset,
    still starts the daemon and runs a kernel that imports the package."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from vector_search_test_spark.operators.ivf import assign_cells
        from vector_search_test_spark.session import get_session

        spark = get_session("cwd-probe", cpus=2)
        df = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 1.2])],
            "vec_id long, embedding array<float>",
        )
        cells = assign_cells(df, [[0.0, 0.0], [1.0, 1.0]]).orderBy("vec_id")
        print("CELLS", [r.list_id for r in cells.collect()])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "CELLS [0, 1]" in out.stdout, out.stderr[-3000:]
