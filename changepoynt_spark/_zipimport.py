"""Re-read a zip archive's directory only when the archive changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task.  Before Python 3.12 (gh-103200 made it lazy) that makes every
``zipimporter`` re-parse its archive's whole directory: a reused worker holds
one importer per ``pyspark.zip`` subpackage, so each task re-read the
~1,300-entry directory 16 times (~80% of a trivial task's worker time).
Here an importer re-reads only when its archive's (inode, size, mtime) moved
since the last read; otherwise it re-points at the shared directory cache.
"""
import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _stamps = {}
    _read = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        _read(self)  # stat first: a write racing the read forces a re-read
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
