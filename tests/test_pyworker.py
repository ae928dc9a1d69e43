"""The worker daemon's zip importers re-read an archive only when it
changed: an unchanged archive keeps its cached directory, a rewritten
one is re-read, so imports still see new code."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from anserini_spark import pyworker


def _write_zip(path, source):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("pyworker_probe_mod.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        import pyworker_probe_mod

        assert pyworker_probe_mod.VALUE == 1
        importlib.invalidate_caches()  # first sight of the archive: stamp it
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, "VALUE = 'rewritten'\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        del sys.modules["pyworker_probe_mod"]
        import pyworker_probe_mod

        assert pyworker_probe_mod.VALUE == "rewritten"
    finally:
        sys.modules.pop("pyworker_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _invalidate_caches_module(batches):
    import zipimport

    mod = zipimport.zipimporter.invalidate_caches.__module__
    for b in batches:
        yield pa.RecordBatch.from_pydict({"m": [mod] * b.num_rows})


def test_session_workers_run_under_the_daemon(spark):
    rows = spark.range(1).mapInArrow(_invalidate_caches_module,
                                     "m string").collect()
    assert [r["m"] for r in rows] == ["anserini_spark.pyworker"]
