"""The per-task worker hook (`arrowpin.prepare_task_worker`) without Spark:
after it runs, `importlib.invalidate_caches()` — which PySpark's worker
calls before every task — must not re-read any zip archive, and imports
from the zip and from plain directories must keep working."""

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

import pyarrow as pa

from foundry_es_spark.arrowpin import prepare_task_worker


def test_hook_drops_zip_finders_and_keeps_imports(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/a.py", "NAME = 'a'\n")
        zf.writestr("zpkg/b.py", "NAME = 'b'\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "zpkg_plain_c.py").write_text("NAME = 'c'\n")

    saved_path, saved_modules = list(sys.path), set(sys.modules)
    saved_cpu = pa.cpu_count()
    sys.path[:0] = [str(archive), str(plain)]
    importlib.invalidate_caches()
    try:
        import zpkg.a
        import zpkg_plain_c

        assert (zpkg.a.NAME, zpkg_plain_c.NAME) == ("a", "c")
        zip_finders = [
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
        assert str(archive) in zip_finders

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert reads, "the counter must see the re-reads the hook removes"

        reads.clear()
        prepare_task_worker()
        importlib.invalidate_caches()
        assert reads == []

        import zpkg.b

        assert zpkg.b.NAME == "b"
        assert reads == []  # the new finder reuses the cached directory
        assert isinstance(
            sys.path_importer_cache[str(plain)], importlib.machinery.FileFinder
        )
    finally:
        pa.set_cpu_count(saved_cpu)  # the test process is a driver: unpin
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for p in list(sys.path_importer_cache):
            if p.startswith(str(tmp_path)):
                del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(str(archive), None)
        importlib.invalidate_caches()
