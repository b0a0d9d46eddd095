"""The engine's Python worker daemon (``spark.python.daemon.module``).

Spark launches it as ``python -m nerpii_spark.daemon`` and it forks the
Python workers, so everything done here before the fork is inherited by
every worker. Importing it as a package module imports the engine first.
Two things are set up before it hands over to ``pyspark.daemon``:

- On CPython < 3.13 ``zipimporter.invalidate_caches`` re-reads its
  archive's central directory on every call, and pyspark calls
  ``importlib.invalidate_caches()`` at the start of every task
  (``worker_util.setup_spark_files``). The workers import pyspark from
  ``pyspark.zip`` through a dozen package importers, so each task paid
  140-230 ms CPU re-reading it. The guard re-reads only when the
  archive's (mtime, size) changed since that importer last read it, so
  a rewritten archive is still picked up. 3.13 made the method lazy and
  is left as it is.
- ``gc.freeze()`` moves the imported engine to the permanent generation:
  the ``gc.collect()`` the daemon runs after each task no longer walks
  it, and no longer dirties its copy-on-write pages in every worker.
"""

import gc
import importlib
import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install():
    """Replace ``zipimporter.invalidate_caches`` with the stat-guarded
    one on CPython < 3.13."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read it vouches for
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the importers every fork inherits
    gc.freeze()
    daemon.manager()
