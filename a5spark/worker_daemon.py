"""Python worker daemon for a5spark sessions: pyspark.daemon plus a guard on
zipimport's directory re-read.

Each Python task starts with `importlib.invalidate_caches()` (pyspark's
setup_spark_files), and on Python 3.10+ that makes every zipimporter re-read
its archive's whole central directory: ~16 importers over pyspark.zip,
py4j-*.zip (in some installs also the spark-core jar), 110-155 ms per task. The guard re-reads an archive only when its
(inode, size, mtime) changed, so an archive rewritten in place still imports
its new members. Installed in the daemon, it is inherited by every forked
worker. Selected by get_spark through spark.python.daemon.module.
"""

import importlib
import os
import runpy
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_seen = {}  # archive path -> (stat signature, directory dict)


def _guarded_invalidate_caches(self):
    # stat before the read: a rewrite in between leaves an old signature
    # beside the new directory, so the next call reads again
    try:
        st = os.stat(self.archive)
    except OSError:
        _seen.pop(self.archive, None)
        return _read(self)
    sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    cached = _seen.get(self.archive)
    if cached is not None and cached[0] == sig:
        self._files = zipimport._zip_directory_cache[self.archive] = cached[1]
        return
    _read(self)
    _seen[self.archive] = (sig, self._files)


def install():
    """Replace zipimporter.invalidate_caches with the stat-guarded version."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches


if __name__ == "__main__":
    # install the package's copy, not __main__'s, so workers can check it
    from a5spark import worker_daemon

    worker_daemon.install()
    importlib.invalidate_caches()  # one read per archive, before the forks
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
