"""Python worker daemon that keeps Spark's own archives off the import path.

Spark starts every Python worker with three archives at the head of its
``PYTHONPATH`` (``PythonUtils.sparkPythonPath``): ``pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar. Every task then calls
``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``), and on
CPython <= 3.12 each cached ``zipimporter`` re-reads its archive's whole
directory: 16 importers over ~6.7k entries, a median of 242 ms per task on a
4-core host (SCALE_NOTES.md, "per-task archive tax"). CPython 3.13 made that
re-read lazy.

This module removes the archives from ``sys.path`` and
``sys.path_importer_cache`` before pyspark is first imported, then runs
pyspark's own daemon. Workers import the installed pyspark and py4j instead,
the ones the driver runs. The path is left exactly as Spark built it when
either package cannot be found without the archives, or when the installed
pyspark's version differs from the archived one.

``session.get_spark`` selects this module through ``spark.python.daemon.module``.
Run as ``python -m mini_flink_spark.pyworker <worker module>``, as Spark does.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from fnmatch import fnmatch
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch(name, pattern) for pattern in SPARK_ARCHIVES)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _same_pyspark(archives: list[str], installed_dir: str) -> bool:
    """True unless both versions are readable and differ."""
    zips = [a for a in archives if os.path.basename(a) == "pyspark.zip"]
    if not zips:
        return True
    try:
        with zipfile.ZipFile(zips[0]) as z:
            archived = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(installed_dir, "version.py")) as f:
            installed = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return True
    return archived is None or installed is None or archived == installed


def strip_spark_archives(path: list[str] | None = None,
                         cache: dict | None = None) -> list[str]:
    """Drop Spark's archives from ``path`` and their importers from ``cache``.

    Defaults to ``sys.path`` and ``sys.path_importer_cache``. Returns the
    entries removed; an empty list means ``path`` was left unchanged.
    """
    path = sys.path if path is None else path
    cache = sys.path_importer_cache if cache is None else cache
    archives = [e for e in path if is_spark_archive(e)]
    if not archives:
        return []
    kept = [e for e in path if e not in archives]
    specs = [PathFinder.find_spec(name, kept) for name in ("pyspark", "py4j")]
    if None in specs or not _same_pyspark(archives, specs[0].submodule_search_locations[0]):
        return []
    path[:] = kept
    # A zipimporter is cached per archive and per package directory inside it
    # ("pyspark.zip/pyspark/sql", ...); every one re-reads the whole archive.
    for key in [k for k in cache if any(k == a or k.startswith(a + os.sep) for a in archives)]:
        del cache[key]
    return archives


def main() -> None:
    strip_spark_archives()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
