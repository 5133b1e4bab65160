"""Python worker daemon whose workers skip re-reading unchanged zips.

Cost: at the start of every Python task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
Since Python 3.10 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's central directory.
Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(1328 entries in Spark 4.1), with one importer per loaded pyspark
subpackage at ~6 ms a re-parse: 200-300 ms per task before any data
moves, which the JVM reports as time to initialize Python workers.

Fix: an importer re-reads its archive only when the file's
``(st_ino, st_size, st_mtime_ns)`` differ from its own last read.
Skipping is safe because the directory is a function of the file's
bytes: an archive that is new or rewritten is still read, and files
shipped with ``addPyFile`` land in the SparkFiles directory, whose
``FileFinder`` is unaffected.

``session.get_spark`` sets this module as ``spark.python.daemon.module``;
workers fork from the daemon, so they all inherit the wrapper.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that skips an archive whose
    stat stamp is unchanged since this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    # stat before reading: a rewrite racing the read re-reads next time
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
