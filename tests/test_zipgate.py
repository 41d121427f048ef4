"""The per-task zip re-read gate (textractssmlprocessor_spark/_zipgate.py):
``importlib.invalidate_caches()`` re-reads a zip archive on sys.path only
when the file changed, in the driver and in every Python worker that
imported the package."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from textractssmlprocessor_spark import _zipgate


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zipgate_mod_a": "A = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("zipgate_mod_a").A == 1
        importlib.invalidate_caches()  # first call: reads and stamps
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zipgate_mod_a": "A = 1\n", "zipgate_mod_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zipgate_mod_b").B == 2

        (tmp_path / "lib.zip").unlink()
        importlib.invalidate_caches()  # missing: the original path drops it
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("zipgate_mod_a", "zipgate_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _zipgate._stamps.pop(archive, None)


def test_install_is_idempotent():
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.gated
    _zipgate.install()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_workers_run_the_gated_method(spark):
    """A pandas UDF that imports the package, run twice over 8 partitions:
    every worker reports the gated method, and a worker that ran an
    earlier task of this test stamped all its zip archives in the setup
    of the next one (the gate ran there, not the original)."""

    @F.pandas_udf("string")
    def report(x: pd.Series) -> pd.Series:
        import os
        import sys
        import zipimport

        from textractssmlprocessor_spark import _zipgate as g

        prior = getattr(g, "_probe_ran_before", False)
        g._probe_ran_before = True
        zips = {
            f.archive for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        }
        gated = getattr(zipimport.zipimporter.invalidate_caches, "gated", False)
        stamped = zips <= set(g._stamps)
        return x.map(lambda _: f"{os.getpid()} {gated} {prior} {stamped}")

    df = spark.range(0, 8, numPartitions=8)
    reports = [
        r[0].split() for _ in range(2) for r in df.select(report("id")).collect()
    ]
    assert all(gated == "True" for _, gated, _, _ in reports)
    again = [stamped for _, _, prior, stamped in reports if prior == "True"]
    assert again and all(s == "True" for s in again)
