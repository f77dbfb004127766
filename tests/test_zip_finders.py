"""The extract stage leaves no zipimporter in ``sys.path_importer_cache``,
so a reused worker's next ``importlib.invalidate_caches()`` re-reads no
archive directory, and imports from a zip still work afterwards."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from readembedability_spark.operators.extract import evict_zip_finders


def test_evict_zip_finders_stops_archive_rereads(tmp_path, monkeypatch):
    archive = tmp_path / "zfinder_pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zfinder_first.py", "VALUE = 1\n")
        z.writestr("zfinder_second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("zfinder_first").VALUE == 1
        finder = sys.path_importer_cache[str(archive)]
        assert isinstance(finder, zipimport.zipimporter)
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        # control: a cached zipimporter re-reads its archive (other zips
        # on this process's path may be re-read too)
        importlib.invalidate_caches()
        assert str(archive) in reads

        reads.clear()
        evict_zip_finders()
        assert not [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        assert reads == []
        # the finder comes back from zipimport's directory cache
        assert importlib.import_module("zfinder_second").VALUE == 2
        assert reads == []
    finally:
        for name in ("zfinder_first", "zfinder_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
