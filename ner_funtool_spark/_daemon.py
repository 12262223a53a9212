"""Python daemon of the sessions that ``get_spark`` builds.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and its ``spark-core`` jar first on ``PYTHONPATH``.
The zip holds sources and no bytecode, so every new daemon compiles
pyspark (importing ``pyspark.daemon`` took 1.16-1.19 s from the zip and
0.20-0.21 s from an installed, byte-compiled copy on a 4-core host), and
before Python 3.13 every forked worker re-reads the three archives'
directories at each task (``importlib.invalidate_caches()`` in
``worker.py``).

Run as ``python -m ner_funtool_spark._daemon <worker module>``, this
module first checks whether an installed pyspark and py4j elsewhere on
``sys.path`` are the same release as Spark's archives: each package's
``version.py`` byte-equal to the zip member, and every ``.py`` member the
pip distribution ships present with the member's size (``stat`` only).
If both match, it takes the archives off ``sys.path`` and out of
``sys.path_importer_cache``; on any mismatch, or with no installed copy,
it changes nothing.  Either way it then runs ``pyspark.daemon`` as
``__main__``, with ``sys.argv[1:]`` as Spark passed them, so forked
workers inherit the installed, byte-compiled modules and, after a match,
no Spark zip importer.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

# directories of test and benchmark code that Spark's zip holds and the
# pip distribution leaves out
_NOT_SHIPPED = frozenset({"tests", "benchmark"})


def _archive_package(entry: str) -> str | None:
    """The package a Spark archive on ``sys.path`` holds: ``pyspark`` or
    ``py4j`` for the zips, ``""`` for the core jar (no ``.py`` file),
    None for any other entry."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    if name.startswith("spark-core_") and name.endswith(".jar"):
        return ""
    return None


def _same_release(archive: str, package: str, root: str) -> bool:
    """Whether the copy of ``package`` installed under ``root`` is the
    release ``archive`` holds."""
    try:
        with zipfile.ZipFile(archive) as z:
            with open(os.path.join(root, package, "version.py"), "rb") as f:
                if f.read() != z.read(f"{package}/version.py"):
                    return False
            for info in z.infolist():
                parts = info.filename.split("/")
                if info.filename.endswith(".py") and _NOT_SHIPPED.isdisjoint(parts):
                    if os.stat(os.path.join(root, *parts)).st_size != info.file_size:
                        return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True


def use_installed_pyspark(path: list[str], importer_cache: dict) -> bool:
    """Drop Spark's archives from ``path`` and ``importer_cache`` when
    the installed pyspark and py4j match them; returns whether it did."""
    archives = {e: pkg for e in path if (pkg := _archive_package(e)) is not None}
    rest = [entry for entry in path if entry not in archives]
    zips = {pkg: entry for entry, pkg in archives.items() if pkg}
    if set(zips) != {"pyspark", "py4j"}:
        return False
    for package, archive in zips.items():
        spec = PathFinder.find_spec(package, rest)
        if spec is None or spec.origin is None:  # not installed, or a namespace
            return False
        root = os.path.dirname(os.path.dirname(spec.origin))
        if not _same_release(archive, package, root):
            return False
    path[:] = rest
    for key in [k for k in importer_cache
                if any(k == a or k.startswith(a + os.sep) for a in archives)]:
        del importer_cache[key]
    return True


def main() -> None:
    use_installed_pyspark(sys.path, sys.path_importer_cache)
    # leave the package unimported, as the stock daemon does, so a worker
    # imports it, and installs the zip hook (_worker.py), inside its task
    for name in [m for m in sys.modules if m.partition(".")[0] == "ner_funtool_spark"]:
        del sys.modules[name]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
