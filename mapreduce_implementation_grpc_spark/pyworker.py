"""Python worker daemon: ``pyspark.daemon`` on the installed pyspark.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the ``spark-core`` jar at the front of ``sys.path``. Under
CPython 3.11 that costs each task about 0.3 CPU-s:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` once per task, and each of the worker's
  zipimporters (one per package imported from an archive, 16 in all)
  re-reads its archive's directory, about 26,700 entries per call;
- the zip holds no ``.pyc``, so every module a task imports lazily is
  compiled from source.

When an installed pyspark and py4j carry the same ``version.py`` text as
those archives, this module drops the archives (found from the jar's
place on the path, not from the environment) from ``sys.path`` and
``sys.path_importer_cache`` before it imports ``pyspark.daemon``, so the
daemon and the workers it forks import the installed, byte-compiled copy.
Otherwise it changes nothing. ``session.get_spark`` names it as
``spark.python.daemon.module``; Spark runs it as
``python -m mapreduce_implementation_grpc_spark.pyworker [worker module]``.

This module imports nothing from pyspark before the path is chosen, and
the package's ``__init__`` imports nothing at all.
"""

from __future__ import annotations

import os
import sys
import zipfile

# the files whose text must match between Spark's archives and the
# installed packages; both packages must be installed
VERSION_FILES = ("pyspark/version.py", "py4j/version.py")


def spark_archives(path: list[str]) -> list[str]:
    """The archives Spark prepends to a worker's path: the ``spark-core``
    jar (``<spark home>/jars/spark-core_*.jar``) and every file in its
    ``<spark home>/python/lib``. None without that jar on ``path``; a
    user's ``--py-files`` archive lives elsewhere and is never one."""
    jars = [e for e in path if os.path.basename(e).startswith("spark-core_")
            and e.endswith(".jar") and os.path.isfile(e)]
    libs = {os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(j))), "python", "lib")
            for j in jars}
    return [e for e in path if e in jars or (
        os.path.isfile(e) and os.path.dirname(os.path.realpath(e)) in libs)]


def _installed_text(entries: list[str], rel: str) -> str | None:
    """Text of ``rel`` in the first directory on ``entries`` that holds
    its package, or None if no directory holds it."""
    package = rel.split("/")[0]
    for entry in entries:
        if os.path.isfile(os.path.join(entry, package, "__init__.py")):
            try:
                with open(os.path.join(entry, *rel.split("/")), encoding="utf-8") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _archived_text(archive: str, rel: str) -> str | None:
    """Text of ``rel`` inside ``archive``, or None if it has no such file."""
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(rel).decode("utf-8")
    except (KeyError, OSError, zipfile.BadZipFile):
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the installed pyspark and
    py4j match them, else ``path`` unchanged."""
    dropped = spark_archives(path)
    if not dropped:
        return path
    kept = [e for e in path if e not in dropped]
    for rel in VERSION_FILES:
        installed = _installed_text(kept, rel)
        if installed is None:
            return path
        for archive in dropped:
            archived = _archived_text(archive, rel)
            if archived is not None and archived != installed:
                return path
    return kept


def use_installed_pyspark() -> None:
    """Apply ``worker_path`` to this process's ``sys.path`` and forget
    the dropped archives' importers."""
    kept = worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        for key in [k for k in sys.path_importer_cache
                    if k == entry or k.startswith(entry + os.sep)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept


if __name__ == "__main__":
    use_installed_pyspark()
    from pyspark import daemon

    daemon.manager()
