"""The Python-worker daemon (vectordb_agentic_rag_spark.worker_daemon):
zip archives are re-read only when they change, every task runs with the
patch, files shipped with ``addPyFile`` still import, and the daemon
starts whatever the driver's working directory is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from vectordb_agentic_rag_spark import worker_daemon
from vectordb_agentic_rag_spark.tables import REPO_ROOT

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ reads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_patch
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Invalidation skips an archive whose mtime and size are unchanged,
    and re-reads one that was rewritten, whose new module then imports."""
    archive = str(tmp_path / "mods.zip")
    first, second = (f"zmod_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(archive, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(first).X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_daemon.stat_validated(zipimport.zipimporter.invalidate_caches),
    )
    importlib.invalidate_caches()  # first sight: read once and stamp
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})  # new size
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module(second).Y == 2

    st = os.stat(archive)  # same size, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 3
    importlib.invalidate_caches()
    assert len(reads) == 3


@needs_patch
def test_python_task_runs_patched_invalidate(spark):
    flags = spark.sparkContext.parallelize([0, 1], 2).map(
        lambda _: getattr(zipimport.zipimporter.invalidate_caches, "stat_validated", False)
    ).collect()
    assert flags == [True, True]


def test_add_py_file_after_first_task_still_imports(spark, tmp_path):
    """What Spark's per-task invalidation exists for: a .py file and a
    .zip shipped after the workers started import in a later task."""
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
    py_mod, zip_mod = (f"shipped_{uuid.uuid4().hex}" for _ in range(2))
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / f"{zip_mod}.zip", {zip_mod: "VALUE = 'zip'\n"})
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def values(_):
        return [importlib.import_module(m).VALUE for m in (py_mod, zip_mod)]

    assert sc.parallelize([0, 1], 2).map(values).collect() == [["py", "zip"]] * 2


def test_session_started_from_another_directory_runs_python_tasks(tmp_path):
    """The daemon module is found through spark.executorEnv.PYTHONPATH,
    not the driver's working directory or environment."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from vectordb_agentic_rag_spark.session import get_spark
        spark = get_spark("cwd-test")
        print(spark.sparkContext.parallelize(range(4), 2).map(lambda x: x).collect())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 1, 2, 3]"
