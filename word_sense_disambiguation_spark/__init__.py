"""PySpark-native entity-resolution / word-sense-disambiguation engine.

A from-scratch Spark re-expression of the semantics of the reference
``sign/word-sense-disambiguation`` service (see SURVEY.md): pages become
mentions, each mention gets a sense (the columnar Lesk + cosine path or
the prompted 128-way path), and a three-stage record-linkage pipeline
resolves the mentions to entities —

1. **blocking**   — normalized (surface, POS) keys, pruned to the pairs the
   scorer can match,
2. **scoring**    — vectorized pairwise scoring of each block's pairs:
   sense agreement, Jaro-Winkler and context cosine (blocking and scoring
   are one keyed pass, ``operators.blocking.er_scored_edges``),
3. **clustering** — connected components per block (no edge crosses a
   block), canonical entity id = minimum member, labelled in the same
   keyed pass and projected by ``operators.blocking.er_clusters``,

with the assignments (``plans.pipeline.sense_assignments``), the scored
edges and the clusters each committed by
``plans.checkpoint.run_er_pipeline`` so a killed run resumes, and
``streaming.ingest`` attaching new crawl increments to a frozen cluster
snapshot. The corpus-analysis operators
(text statistics, quantiles, temporal joins, CDC, Z-order layout, media
headers) serve the driver-contract queries, not the pipeline.

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` on the hot
path, Arrow-batched pandas UDFs only where Spark has no native operator.
"""

import sys

__version__ = "0.4.0"


def _share_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
    CPython 3.13 each zip importer then re-reads its whole archive: a
    worker holds 16 of them (``pyspark.zip`` and its sub-packages, py4j,
    the spark-core jar), about 26.7k directory entries per task even when
    the worker is reused. Here the first importer of an archive to be
    invalidated stats it (inode, size, mtime_ns); only a stat that differs
    from the one taken before its last read re-reads it, once, and every
    importer of the archive points at that one directory. A same-size
    in-place rewrite within one mtime tick goes unseen. Workers import
    the package when they unpickle its first function and are reused
    across tasks and jobs, so the hook lives for the worker's lifetime.
    CPython >= 3.13 already invalidates lazily; nothing is installed there.
    """
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    # archive -> (stat taken before the last read, the directory it read)
    stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except (OSError, ValueError):
            stamp = None
        seen_stamp, seen_files = stamps.get(self.archive, (None, None))
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == seen_stamp and files is seen_files:
            self._files = files
            return
        reread(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = (stamp, files)

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp what is already cached by reading it once more: a stat taken
    # now, without a read, could postdate a change the cached directory
    # misses. One read per archive here instead of one per importer and task.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if sys.version_info < (3, 13):
    _share_unchanged_zip_directories()
