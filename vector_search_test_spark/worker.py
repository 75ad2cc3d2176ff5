"""PySpark's Python worker daemon, reading each zip archive's directory
only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory. A worker holds about 16 of them, over
``pyspark.zip``, the py4j zip and the spark-core jar, so each Python task
paid 0.1-0.4 s before a kernel of a few milliseconds started.

This module runs PySpark's own daemon (``pyspark.daemon.manager``) with
zipimport's directory read keyed on the archive's
``(st_mtime_ns, st_size)``: an archive is read the first time, and again
whenever that stamp changes, never otherwise. A new or rewritten archive
(``SparkContext.addPyFile``) is therefore read exactly as before. The
daemon reads every archive once before it forks, so its workers inherit
the directories and the stamps.

``session.get_session`` names this module in
``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_directory = zipimport._read_directory

# archive path -> (stamp taken before the read, the directory it read);
# process-wide, as zipimport's own directory cache is
_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_changed(archive: str) -> dict:
    """zipimport's directory read, answered from the last read while the
    archive's stamp is unchanged. The stamp is taken before reading, so
    an archive rewritten during a read is read again next time."""
    stamp = _stamp(archive)
    last = _read.get(archive)
    if stamp is not None and last is not None and last[0] == stamp:
        return last[1]
    files = _read_directory(archive)
    _read[archive] = (stamp, files)
    return files


def install() -> None:
    """Route every zipimporter's directory read (at construction and in
    ``invalidate_caches``) through `_read_changed`."""
    zipimport._read_directory = _read_changed


def main() -> None:
    install()
    from pyspark import daemon  # imports the worker's modules

    importlib.invalidate_caches()  # read each archive once, before forking
    daemon.manager()


if __name__ == "__main__":
    main()
