"""Keep zipimporters from re-reading an unchanged archive's directory.

PySpark's worker calls `importlib.invalidate_caches()` before every task
(`pyspark.worker_util.setup_spark_files`). Where the stdlib's
`zipimporter.invalidate_caches` re-reads the archive eagerly (CPython 3.11),
that makes every zipimporter on `sys.path` -- one for `pyspark.zip` and one
per subpackage imported from it, plus any `--py-files` archive -- re-parse
the whole central directory in pure Python, once per task. On a 4-core host
that cost about 0.2 CPU-s per task against a 0.06 s audio kernel.

`install()` wraps the method: an archive whose (st_mtime_ns, st_size) is the
one seen at its last read reuses `zipimport._zip_directory_cache`; a
changed, new or missing archive goes through the original method. Where
the stdlib method is already lazy, nothing is patched.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_at: dict[str, tuple[int, int]] = {}


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _reads_eagerly(method) -> bool:
    code = getattr(method, "__code__", None)
    return code is not None and "_read_directory" in code.co_names


def install() -> bool:
    """Patch `zipimport.zipimporter.invalidate_caches`; True if patched.
    Idempotent."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_bento_guard", False) or not _reads_eagerly(original):
        return False

    def invalidate_caches(self) -> None:
        sig = _signature(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and cached is not None and _read_at.get(self.archive) == sig:
            self._files = cached
            return
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # signature behind, so the next call reads again
        original(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = sig
        else:
            _read_at.pop(self.archive, None)

    invalidate_caches._bento_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
