"""The package's Python-worker daemon (``stateflow_flink_spark.worker_daemon``).

Each task calls ``importlib.invalidate_caches()``; the daemon makes a
``zipimporter`` re-read its archive only when the archive changed on
disk, and ``session.configure`` makes it the daemon of every session it
builds.
"""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_archive_is_reread_only_after_it_changes(tmp_path, monkeypatch):
    from stateflow_flink_spark import worker_daemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"sfs_zip_a": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("sfs_zip_a") is not None

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importer.invalidate_caches()
    assert len(reads) <= 1

    _write_zip(archive, {"sfs_zip_a": "X = 1\n", "sfs_zip_b": "Y = 2\n"})
    before = len(reads)
    importer.invalidate_caches()
    assert len(reads) == before + 1
    spec = importer.find_spec("sfs_zip_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # An archive that cannot be stat'ed is re-read every time, as before.
    archive.unlink()
    before = len(reads)
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == before + 2
    assert importer.find_spec("sfs_zip_b") is None


def test_configured_session_workers_run_the_package_daemon(spark):
    @F.pandas_udf("string")
    def importer_home(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    homes = {
        r[0]
        for r in spark.range(4, numPartitions=2)
        .select(importer_home(F.col("id").cast("string")))
        .distinct()
        .collect()
    }
    assert homes == {"stateflow_flink_spark.worker_daemon"}
