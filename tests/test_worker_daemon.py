"""The PySpark daemon's zip-directory guard (unipdf_spark/worker_daemon.py)."""
from __future__ import annotations

import os
import zipfile
import zipimport

from unipdf_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_guard_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"mod_a.py": "A = 1\n", "pkg/__init__.py": "",
                         "pkg/inner.py": "I = 1\n"})

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # registered first so that undo restores the unguarded method
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    worker_daemon.install()

    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))
    assert top.find_spec("mod_a") is not None
    assert sub.find_spec("pkg.inner") is not None

    n = len(reads)
    top.invalidate_caches()  # first guarded call: no stamp recorded yet
    sub.invalidate_caches()
    assert len(reads) == n + 2
    n = len(reads)
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert len(reads) == n, "unchanged archive was re-read"

    _write_zip(archive, {"mod_a.py": "A = 1\n", "mod_b.py": "B = 2\n",
                         "pkg/__init__.py": "", "pkg/inner.py": "I = 1\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert top.find_spec("mod_b") is None  # stale directory until invalidated

    top.invalidate_caches()
    assert len(reads) == n + 1
    assert top.find_spec("mod_b") is not None
    top.invalidate_caches()
    assert len(reads) == n + 1
    sub.invalidate_caches()  # each importer re-reads the changed archive once
    assert len(reads) == n + 2
    assert sub.find_spec("pkg.inner") is not None


def test_session_workers_run_the_guard(spark):
    """get_spark wires spark.python.daemon.module, so a mapInPandas task
    runs with the guarded invalidate_caches installed."""
    import pandas as pd

    def probe(batches):
        import zipimport as zi

        for _ in batches:
            pass
        fn = zi.zipimporter.invalidate_caches
        yield pd.DataFrame({"file": [fn.__code__.co_filename]})

    rows = spark.range(0, 8, numPartitions=2).mapInPandas(
        probe, "file string").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.samefile(r["file"], worker_daemon.__file__)
