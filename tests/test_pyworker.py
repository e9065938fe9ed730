"""The Python-worker start-up path: the stat-guarded
``zipimporter.invalidate_caches`` (``flink_emqx_connector_spark.pyworker``)
and the worker PYTHONPATH that ``session.get_spark`` sets.

(a) and (b) need neither Spark nor pyspark, so they also run on Python
≥ 3.13, where ``install`` is a no-op and the stock importer applies.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from flink_emqx_connector_spark import pyworker

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """An archive of ``{module: source}`` at the front of ``sys.path``; its
    importer and modules leave the process with the test."""
    archive = str(tmp_path / "mods.zip")
    names = []

    def make(modules):
        _write_zip(archive, modules)
        names.extend(modules)
        return archive

    pyworker.install()
    monkeypatch.syspath_prepend(archive)
    yield make
    sys.path_importer_cache.pop(archive, None)
    for name in names:
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    """(a) Once an importer has read its archive, further
    ``invalidate_caches()`` calls do not read it again while the archive
    is unchanged."""
    zip_on_path({"graft_zip_a": "X = 1\n"})
    assert importlib.import_module("graft_zip_a").X == 1
    importlib.invalidate_caches()  # the importer's first stamp

    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    """(b) A module added to an archive already on ``sys.path`` imports
    after ``invalidate_caches()``, as with the stock importer."""
    zip_on_path({"graft_zip_b1": "X = 1\n"})
    assert importlib.import_module("graft_zip_b1").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("graft_zip_b2")

    zip_on_path({"graft_zip_b1": "X = 1\n", "graft_zip_b2": "X = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("graft_zip_b2").X == 2


def test_spark_workers_run_the_fix(spark):
    """(c) A task's worker already has the engine's ``invalidate_caches``
    before the task imports anything of the engine (< 3.13), because it
    forks from the ``pyworker`` daemon."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "flink_emqx_connector_spark.pyworker"
    )

    def probe(_):
        import sys
        import zipimport

        before = zipimport.zipimporter.invalidate_caches
        from flink_emqx_connector_spark import pyworker as pw

        if sys.version_info < (3, 13):
            yield before is pw._invalidate_caches
        else:
            yield before is pw._stock_invalidate_caches

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [
        True
    ]


def test_workers_find_the_engine_from_a_foreign_cwd(tmp_path):
    """A driver started outside the checkout, with the package on its own
    ``sys.path`` only, runs engine UDFs: its workers get the package's
    directory merged with the caller's worker PYTHONPATH."""
    lib = tmp_path / "lib"
    lib.mkdir()
    (lib / "graft_foreign_helper.py").write_text("VALUE = 7\n")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from pyspark.sql import functions as F
        from flink_emqx_connector_spark.operators.dedup import simhash_udf
        from flink_emqx_connector_spark.session import get_spark

        spark = get_spark(
            "foreign-cwd", cpus=1, shuffle_partitions=1,
            extra_conf={{"spark.executorEnv.PYTHONPATH": {str(lib)!r}}},
        )
        helper = F.udf(lambda s: __import__("graft_foreign_helper").VALUE, "int")
        df = spark.createDataFrame([("a b c",)], "text string")
        row = df.select(simhash_udf()("text").alias("h"), helper("text").alias("v")).first()
        assert row.v == 7 and isinstance(row.h, int), row
        spark.stop()
        print("FOREIGN_CWD_OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "FOREIGN_CWD_OK" in run.stdout, run.stderr[-4000:]
