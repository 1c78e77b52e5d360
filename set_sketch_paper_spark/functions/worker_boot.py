"""Per-task import cost of Python workers on CPython < 3.12.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of every
task.  Before 3.12, ``zipimport.zipimporter.invalidate_caches`` re-parses its
archive's whole directory in pure Python, once per importer (CPython
gh-103200).  pyspark is imported from ``pyspark.zip`` (~1,300 entries) through
one importer per subpackage path, so every task paid ~16 directory parses,
~0.3 core-seconds, whatever its row count.  The replacement re-reads an
archive only when its (inode, size, mtime) changed since the last read, so a
changed, removed or unreadable zip is handled exactly as before.

Importing the package installs it: every engine UDF refers to package
modules, so a reused worker installs it when it unpickles its first UDF.
"""

import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _read = zipimport.zipimporter.invalidate_caches
    # archive path -> (stat key, directory); process-wide like zipimport's
    # own _zip_directory_cache, which it shadows
    _last_read: dict = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path if the archive changed."""
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        last = _last_read.get(self.archive)
        if last is not None and last[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = last[1]
            return
        _read(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _last_read[self.archive] = (key, self._files)
        else:
            _last_read.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
