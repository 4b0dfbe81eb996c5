"""Python worker daemon: `pyspark.daemon` with a stat-checked zipimport.

PySpark's worker calls `importlib.invalidate_caches()` before every task
(`worker_util.setup_spark_files`). Before CPython 3.12, each zipimporter
then re-parses its archive's whole directory, and about 16 of them sit
over `pyspark.zip` (1328 entries): ~0.7 s of CPU per task. Here an
importer re-reads an archive only when its size or mtime changed.
`session.get_spark` starts workers through this module.
"""

import os
import zipimport


def install_stat_checked_zipimport() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive only when
    its (size, mtime) changed since the last read. A no-op where
    zipimport already reloads lazily (CPython >= 3.12)."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}  # archive → stat at its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_size, st.st_mtime_ns)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    install_stat_checked_zipimport()
    manager()
