"""Skip ``zipimporter`` directory re-reads for archives that have not changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10–3.12 that makes each zip importer re-parse its
whole archive directory (``zipimport._read_directory``): ``pyspark.zip``
holds ~1,300 entries, the Spark core jar on a worker's path ~5,400, and a
worker holds one importer per package directory it has imported from, so
the re-reads are most of a short task's fixed cost. CPython 3.13 made the
invalidation lazy. Here an archive whose ``(st_mtime_ns, st_size)`` equal
those taken before its last read is not read again, and a changed archive
is read as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → (signature taken before the read, directory it read)
_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent, and a no-op where
    the interpreter invalidates lazily (3.13+) or not at all (before 3.10)."""
    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if (original is None or sys.version_info >= (3, 13)
            or getattr(original, "_tsrollup", False)):
        return

    def invalidate_caches(self):
        sig = _signature(self.archive)
        seen = _read.get(self.archive)
        if sig is None or seen is None or seen[0] != sig:
            original(self)
            if self.archive in zipimport._zip_directory_cache:
                _read[self.archive] = (sig, self._files)
            else:  # unreadable: try again next time
                _read.pop(self.archive, None)
        elif self._files is not seen[1]:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]

    invalidate_caches._tsrollup = True
    cls.invalidate_caches = invalidate_caches
