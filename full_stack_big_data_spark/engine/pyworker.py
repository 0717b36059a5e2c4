"""Python worker daemon for the sessions ``get_spark`` builds.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python 3.11 that makes every ``zipimporter`` on the worker
path re-read its archive's whole directory: ``pyspark.zip`` once per
sub-package imported from it, the py4j zip and the ~5.4k-entry spark-core
jar: 0.26 s per task on a 4-vCPU host, whatever its row count. Here an
archive is re-read only when its (inode, size, ``mtime_ns``) changed
since its last read, so an archive rewritten in place still serves its
new members. The daemon installs the rule before it forks, so every
worker inherits it.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> fingerprint taken just before its last read; one entry
# per archive, like zipimport's own process-wide directory cache.
_read_at: dict[str, tuple[int, ...]] = {}


def _fingerprint(archive: str) -> tuple[int, ...]:
    try:
        st = os.stat(archive)
    except OSError:
        return ()
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since its last read."""
    fp = _fingerprint(self.archive)
    if _read_at.get(self.archive) != fp:
        # Recorded before the read: a rewrite racing it shows up next time.
        _read_at[self.archive] = fp
        _reread(self)
    else:
        # Another importer of this archive already re-read it.
        self._files = zipimport._zip_directory_cache.get(self.archive, {})


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager
    importlib.invalidate_caches()  # one read of each archive, before the forks
    manager()
