"""geographiclib_go_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch, Spark-first analytics engine whose geodesic kernels
reimplement Karney's algorithms (direct/inverse geodesic problems,
geodesic lines, polygon area, gnomonic projection) as vectorized numpy
batch functions exposed to Spark through Arrow ``pandas_udf``s — no
per-row Python anywhere in the hot path.

Reference semantics: pymaxion/geographiclib-go at /root/reference
(kernel contract documented in SURVEY.md; file:line citations in each
module's docstring). The relational/dataflow layer (cell index, spatial
joins, kNN, tiling, dedup, similarity search) is engine-added and
expressed as declarative DataFrame plans so Catalyst handles pushdown,
pruning and join selection.
"""

import sys

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's (mtime, size, inode) changed.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` at
    the start of every task; on CPython 3.11 each cached zipimporter
    then re-parses its whole archive directory (~16 importers over the
    3.5 MB pyspark.zip), which costs more CPU than a small task's UDF.
    A new, renamed-over or missing archive reloads as before.  One
    rewritten in place to the same size within one mtime tick keeps
    its old directory: so the package installs this only in a forked
    PySpark worker (below), where the archives are Spark's own."""
    import functools
    import os
    import zipimport

    reload = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reload)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_directory_sig", None):
            reload(self)
            self._directory_sig = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# every engine UDF unpickles through this package, so each reused
# worker (forked by pyspark.daemon, which imports pyspark.worker)
# installs the guard on its first engine task
if "pyspark.worker" in sys.modules:
    _keep_unchanged_zip_directories()
