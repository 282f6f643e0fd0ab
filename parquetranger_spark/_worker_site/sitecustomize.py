"""Start-up hook for PySpark's Python workers: zipimport stops re-reading
an unchanged archive on every ``importlib.invalidate_caches()``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task.
On CPython 3.10-3.12 each cached ``zipimporter`` then re-reads its whole
archive directory (``pyspark.zip`` has over a thousand entries, and there is
one importer per imported package directory), which costs more CPU than a
small task's own work. CPython 3.13 made the method only drop the cache.

Here the method re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken just before this process last read it;
otherwise the importer is rebound to the shared directory cache. The
archives read before this hook ran are read once more now, so that each
one carries a stamp. Other interpreter versions are left alone.
"""

import sys

if (3, 10) <= sys.version_info[:2] <= (3, 12):
    import os
    import zipimport

    _reread = zipimport.zipimporter.invalidate_caches
    _stamps = {}

    def _stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        _reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for _importer in list(sys.path_importer_cache.values()):
        if isinstance(_importer, zipimport.zipimporter):
            _importer.invalidate_caches()
