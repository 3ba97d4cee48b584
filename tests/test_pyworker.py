"""The local-session Python worker daemon (``makinage_spark._pyworker``) and
the ``get_spark`` confs that select it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from types import SimpleNamespace

import pandas as pd
import pytest

import makinage_spark
from makinage_spark import _pyworker, session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(makinage_spark.__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"mk_zip_a": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    monkeypatch.syspath_prepend(zpath)
    for name in ("mk_zip_a", "mk_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("mk_zip_a").X == 1
    importer = sys.path_importer_cache[zpath]
    assert isinstance(importer, zipimport.zipimporter)

    _pyworker.invalidate_if_changed(importer)  # first call: no stamp yet
    reads.clear()
    for _ in range(3):
        _pyworker.invalidate_if_changed(importer)
    assert reads == []

    _write_zip(zpath, {"mk_zip_a": "X = 1\n", "mk_zip_b": "Y = 2\n"})
    _pyworker.invalidate_if_changed(importer)
    assert reads == [zpath]
    assert importlib.import_module("mk_zip_b").Y == 2


def test_workers_run_the_patched_method_and_the_driver_does_not(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__qualname__]}
            )

    got = {r.m for r in spark.range(4, numPartitions=2).mapInPandas(probe, "m string").collect()}
    assert got == {_pyworker.invalidate_if_changed.__qualname__}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_driver_that_found_the_package_on_sys_path_runs_a_pandas_udf(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from makinage_spark import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_confs={{"spark.ui.enabled": "false"}})

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        rows = spark.range(3).mapInPandas(double, "id long").collect()
        print(sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.strip().splitlines()[-1] == "[0, 2, 4]"


class _Builder:
    def __init__(self):
        self.confs = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.confs[k] = v
        return self

    def getOrCreate(self):
        return self.confs


@pytest.fixture
def confs_of(monkeypatch):
    def run(**kwargs):
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        return session.get_spark(**kwargs)

    return run


def test_local_sessions_select_the_daemon_and_merge_pythonpath(confs_of):
    confs = confs_of(master="local[2]")
    assert confs["spark.python.daemon.module"] == "makinage_spark._pyworker"
    assert confs["spark.executorEnv.PYTHONPATH"] == REPO_ROOT

    confs = confs_of(
        master="local[2]",
        extra_confs={
            "spark.python.daemon.module": "pyspark.daemon",
            "spark.executorEnv.PYTHONPATH": "/srv/lib",
        },
    )
    assert confs["spark.python.daemon.module"] == "pyspark.daemon"
    assert confs["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/srv/lib", REPO_ROOT])


def test_non_local_masters_get_no_daemon_confs(confs_of):
    confs = confs_of(master="spark://host:7077", shuffle_partitions=8)
    assert confs == {**session.DEFAULT_CONFS, "spark.sql.shuffle.partitions": "8"}
