"""textindex_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch Spark engine with the query and data-processing
capabilities of the reference full-text indexer (thscharler/textindex,
surveyed in SURVEY.md), re-architected for the DataFrame/Catalyst
execution model: Common-Crawl-style page tables in, compressed
posting-list tables out, BM25 block-max top-k at query time.
"""
import sys

__version__ = "0.1.0"


def _install_zip_reread_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task. On CPython < 3.12 each zipimporter then re-reads its
    whole archive directory eagerly, and the 14–16 importers that
    ``pyspark.zip`` leaves in ``sys.path_importer_cache`` (one per
    package prefix) cost 144–176 ms per task that way. This guard
    keys each archive's cached directory on its ``(st_mtime_ns,
    st_size)``: an unchanged archive keeps the directory already in
    ``zipimport._zip_directory_cache``, a rewritten one is re-read.
    Every Python worker that unpickles an engine function imports
    this package, so the guard is in place from its next task on.
    CPython 3.12+ invalidates lazily (gh-103200) and is left alone."""
    if sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_reread_guard", False):
        return
    read_sig: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_sig.get(self.archive) == sig:
            self._files = files
            return
        # stat BEFORE the read: an archive rewritten during it gets a
        # new signature and is read again on the next call
        reread(self)
        if sig is not None:
            read_sig[self.archive] = sig

    invalidate_caches._reread_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zip_reread_guard()
