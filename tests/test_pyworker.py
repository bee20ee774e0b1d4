"""The worker hook (kgpipe/pyworker.py): inside a Spark Python worker the
per-task ``importlib.invalidate_caches()`` re-reads no unchanged zip
archive, and a changed archive is still picked up. Outside a worker
nothing is patched."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13's zipimporter re-reads nothing; install() is a no-op")

# Runs in a fresh interpreter, so the pytest process is never patched.
_SCRIPT = r"""
import importlib, sys, zipfile, zipimport

import pyspark.core.files as files

import kgpipe.pyworker as pw

archive = sys.argv[1]


def write(mods):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in mods.items():
            z.writestr(name + ".py", src)


hooks = list(sys.path_hooks)
pw.install()  # not a worker: nothing changes
assert sys.path_hooks == hooks, sys.path_hooks
assert zipimport.zipimporter in sys.path_hooks

write({"zmod_a": "X = 1\n"})
sys.path.insert(0, archive)
import zmod_a  # a stock zipimporter, cached before install()
assert type(sys.path_importer_cache[archive]) is zipimport.zipimporter
listing = zipimport._zip_directory_cache[archive]

files.SparkFiles._is_running_on_worker = True
pw.install()
assert pw.StatZipImporter in sys.path_hooks
assert zipimport.zipimporter not in sys.path_hooks
assert type(sys.path_importer_cache[archive]) is pw.StatZipImporter
assert zipimport._zip_directory_cache[archive] is listing  # rebuilt, not re-read

importlib.invalidate_caches()  # what every Spark task does
assert zipimport._zip_directory_cache[archive] is listing  # no re-read

write({"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
importlib.invalidate_caches()
assert zipimport._zip_directory_cache[archive] is not listing
import zmod_b
assert zmod_b.Y == 2 and zmod_a.X == 1
print("ok")
"""


def test_install_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=ROOT)
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "mods.zip")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr


def test_workers_keep_pyspark_zip_listing(spark):
    @F.pandas_udf("string")
    def zip_importers(ids: pd.Series) -> pd.Series:
        import importlib
        import os
        import sys
        import zipimport

        from kgpipe.pyworker import StatZipImporter

        mark = os.sep + "pyspark.zip"
        imps = [v for k, v in sys.path_importer_cache.items()
                if mark in k and isinstance(v, zipimport.zipimporter)]
        ours = all(type(v) is StatZipImporter for v in imps)
        before = {v.archive: zipimport._zip_directory_cache[v.archive]
                  for v in imps}
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache[a] is d
                   for a, d in before.items())
        report = f"{os.getpid()} {len(imps)} {ours} {kept}"
        return pd.Series([report] * len(ids))

    rows = (spark.range(0, 4, numPartitions=4)
            .select(zip_importers("id").alias("r")).distinct().collect())
    reports = [r.r.split() for r in rows]
    assert reports
    for pid, n, ours, kept in reports:
        assert int(n) > 0, reports  # workers import pyspark from pyspark.zip
        assert ours == "True" and kept == "True", reports
