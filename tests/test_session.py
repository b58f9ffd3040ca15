"""Session factory and Python worker entry point (session.py, worker.py).

``get_spark`` starts Python workers through ``pyspark_xgboost_spark.worker``,
which stops ``importlib.invalidate_caches()`` (called by every task's
``setup_spark_files``) from re-reading each zip archive on the path.
"""

from __future__ import annotations

import importlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

_PATCHED = sys.version_info < (3, 13)


def _zip_reads_of_second_invalidate() -> int:
    """Directory reads made by ``invalidate_caches()`` once every
    archive has been read since it last changed."""
    importlib.invalidate_caches()
    reads = 0
    read_directory = zipimport._read_directory

    def counting(path):
        nonlocal reads
        reads += 1
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return reads


@pytest.mark.skipif(not _PATCHED, reason="CPython 3.13+ invalidates zip caches without a read")
def test_worker_task_reads_no_zip_directory(spark):
    @F.pandas_udf("long")
    def zip_reads(ids: pd.Series) -> pd.Series:
        held = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return pd.Series([held * 1000 + _zip_reads_of_second_invalidate()] * len(ids))

    got = [r[0] for r in spark.range(0, 8, 1, 4).select(zip_reads("id")).collect()]
    # each task ran with pyspark imported from its zip, and re-read none of it
    assert all(v >= 1000 for v in got), got
    assert all(v % 1000 == 0 for v in got), got
    assert spark.conf.get("spark.python.worker.module") == "pyspark_xgboost_spark.worker"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_rewritten_zip_is_importable_after_invalidate(tmp_path):
    import pyspark_xgboost_spark.worker  # noqa: F401  (patches zipimport before 3.13)

    archive = tmp_path / "graft_mods.zip"
    _write_zip(archive, {"graft_zip_a": "A = 1\n"})
    inode = archive.stat().st_ino
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("graft_zip_a").A == 1
        if _PATCHED:
            assert _zip_reads_of_second_invalidate() == 0
        # rewritten in place (zipfile opens "wb"): same inode, new entry
        _write_zip(archive, {"graft_zip_a": "A = 1\n", "graft_zip_b": "B = 2\n"})
        assert archive.stat().st_ino == inode
        importlib.invalidate_caches()
        assert importlib.import_module("graft_zip_b").B == 2
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        for name in ("graft_zip_a", "graft_zip_b"):
            sys.modules.pop(name, None)


_NO_DAEMON_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {root!r})
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark_xgboost_spark.session import get_spark

    spark = get_spark("no-daemon", cpus=1, extra_confs={{"spark.python.use.daemon": "false"}})

    @F.pandas_udf("string")
    def argv(ids: pd.Series) -> pd.Series:
        return pd.Series([" ".join(sys.orig_argv[1:])] * len(ids))

    print("WORKER_ARGV", spark.range(2).select(argv("id")).first()[0])
    spark.stop()
    """
)


def test_no_daemon_worker_runs_udf():
    """With the daemon off, Spark runs ``python -m`` on the worker module
    itself; it must still serve a pandas UDF."""
    from pyspark_xgboost_spark.session import _PACKAGE_ROOT

    out = subprocess.run(
        [sys.executable, "-c", _NO_DAEMON_SCRIPT.format(root=_PACKAGE_ROOT)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "WORKER_ARGV -m pyspark_xgboost_spark.worker" in out.stdout, out.stdout[-2000:]
