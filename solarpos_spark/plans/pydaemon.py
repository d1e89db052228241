"""PySpark's worker daemon, minus the per-task re-read of unchanged archives.

Every Python task starts with ``importlib.invalidate_caches()``; before
CPython 3.12 that makes every ``zipimporter`` re-parse its archive's whole
central directory (the Spark core jar, ``pyspark.zip``, py4j; why it
matters: ``plans/session.py``). ``install`` re-reads an archive only when
its (inode, mtime, size) stamp moved since the last read, so a changed or
newly shipped archive is still picked up. ``build_session`` runs this
module as Spark's daemon; the workers it forks inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_READ = zipimport.zipimporter.invalidate_caches  # CPython's eager re-read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    # stamp before reading: a write during the read re-reads next time
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _READ(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; CPython 3.12+ re-reads lazily."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # patch from the named module, not this ``__main__`` copy of it
    from solarpos_spark.plans.pydaemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
