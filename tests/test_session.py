"""Python-worker start-up: the zip directory re-read guard of session.py.

PySpark's worker runs ``importlib.invalidate_caches()`` before every task;
on Python < 3.13 each zipimporter then re-parses its whole archive. The
guard re-reads an archive only when the file changed, and is installed at
package import inside workers only.
"""

import importlib
import sys
import zipfile
import zipimport

from cuvs_lucene_spark import session


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    arc = tmp_path / "mods.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zguard_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(arc))
    try:
        assert importlib.import_module("zguard_a").X == 1
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            if archive == str(arc):
                reads.append(archive)
            return real(archive)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches",
            session._invalidate_if_archive_changed,
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1  # the unchanged archive is read once
        with zipfile.ZipFile(arc, "a") as z:
            z.writestr("zguard_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert len(reads) == 2  # the rewritten archive is read again
        assert importlib.import_module("zguard_b").Y == 2
    finally:
        sys.modules.pop("zguard_a", None)
        sys.modules.pop("zguard_b", None)


def test_guard_installed_in_workers_not_driver(spark, tiny_index):
    from cuvs_lucene_spark.query import search

    assert search(spark, tiny_index, "world school", k=5).collect()

    def probe(batches):
        import zipimport

        import pandas as pd

        import cuvs_lucene_spark  # noqa: F401 — as unpickling a kernel does

        for _ in batches:
            pass
        f = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"fn": [f"{f.__module__}.{f.__qualname__}"]})

    got = {
        r["fn"]
        for r in spark.range(4, numPartitions=2)
        .mapInPandas(probe, "fn string")
        .collect()
    }
    if sys.version_info < (3, 13):
        assert got == {"cuvs_lucene_spark.session._invalidate_if_archive_changed"}
    else:
        assert got == {"zipimport.zipimporter.invalidate_caches"}
    assert zipimport.zipimporter.invalidate_caches is session._STDLIB_ZIP_INVALIDATE
