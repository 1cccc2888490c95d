"""The engine's Python worker daemon (samza_spark.worker_daemon): a zip
archive on sys.path is re-read by ``importlib.invalidate_caches()`` only when
the file changed, and a rewritten archive is still picked up."""

import importlib
import sys
import zipfile
import zipimport

from samza_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    try:
        import wd_probe_a

        assert wd_probe_a.X == 1
        worker_daemon.install()  # stamps the archive as the daemon does at start
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import wd_probe_b

        assert wd_probe_b.Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._stamps.pop(archive, None)
