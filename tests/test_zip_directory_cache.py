"""Importing the package keeps unchanged zip archives' directories cached
across ``importlib.invalidate_caches()`` — the call PySpark's worker makes
at the start of every task (CPython < 3.13 re-reads every archive once
per zip importer there)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from contextlib import contextmanager

import word_sense_disambiguation_spark  # noqa: F401  (installs the hook)


@contextmanager
def _counting_reads():
    """Yield a list that collects every archive whose central directory
    ``zipimport`` reads inside the block."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    zipimport._read_directory = counted
    try:
        yield reads
    finally:
        zipimport._read_directory = read


def test_unchanged_archive_is_not_reread_and_a_changed_one_is(tmp_path):
    archive = str(tmp_path / "zc_lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_top/__init__.py", "")
        z.writestr("zc_top/inner/__init__.py", "VALUE = 1\n")
    sys.path.insert(0, archive)
    try:
        import zc_top.inner

        assert zc_top.inner.VALUE == 1
        top = sys.path_importer_cache[archive]
        sub = sys.path_importer_cache[zc_top.__path__[0]]
        assert isinstance(top, zipimport.zipimporter)
        assert isinstance(sub, zipimport.zipimporter) and sub.prefix
        importlib.invalidate_caches()
        with _counting_reads() as reads:
            importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zc_added.py", "VALUE = 2\n")
            z.writestr("zc_top/added.py", "VALUE = 3\n")
        with _counting_reads() as reads:
            importlib.invalidate_caches()
        assert reads == [archive]  # one read, shared by both importers
        assert top._files is sub._files
        import zc_added
        import zc_top.added

        assert (zc_added.VALUE, zc_top.added.VALUE) == (2, 3)
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] in ("zc_top", "zc_added")]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_task_rereads_no_unchanged_archive(spark):
    """Inside a Python task, after the package is imported, the worker's
    per-task ``invalidate_caches()`` reads no zip directory (16 reads per
    task without the hook on CPython 3.11 with a zipped PySpark)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import word_sense_disambiguation_spark  # noqa: F401

        reads = []
        read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "reads": [len(reads)]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "importers long, reads long")
        .collect()
    )
    assert rows[0].importers > 0  # the worker imports PySpark from its zip
    assert rows[0].reads == 0
