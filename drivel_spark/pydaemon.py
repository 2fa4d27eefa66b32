"""Spark's Python worker daemon, run on a pyspark found outside the
JVM's archives.

``config.build_session`` points ``spark.python.daemon.module`` here for
``local[...]`` masters.  The JVM starts the daemon with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar at the front of ``PYTHONPATH``, so every worker imports
pyspark from zip archives.  At the start of every task the worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util
.setup_spark_files``), and on Python 3.11 (the version measured) that
makes each cached ``zipimporter`` re-read its archive's central
directory: 0.1 to 0.2 s per task, most of it the jar's ~5,000 entries.

When a ``pyspark`` and a ``py4j`` of the same versions can be imported
without those archives (the pip-installed pyspark the driver runs), this
module drops the archives from ``sys.path`` and
``sys.path_importer_cache`` and then runs ``pyspark.daemon``.  The
forked workers import that pyspark from a directory, and the per-task
cache invalidation has no archive to re-read.  Otherwise it runs
``pyspark.daemon`` unchanged.  Nothing but the standard library is
imported before pyspark: the daemon's memory counts against every job.
"""

import os
import re
import sys
from importlib.machinery import PathFinder

# the archives the JVM puts on the daemon's PYTHONPATH
# (PythonUtils.sparkPythonPath): pyspark.zip, py4j-<version>-src.zip and
# the jar that holds PythonUtils, which carries no Python at all
_JVM_ARCHIVE = re.compile(r"^(pyspark\.zip|py4j-.*-src\.zip|.*\.jar)$")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _version(package: str, path: list) -> str | None:
    """``package.__version__`` as ``import`` over ``path`` would find
    it, read from its ``version.py`` without importing the package."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    vspec = PathFinder.find_spec(f"{package}.version", spec.submodule_search_locations)
    if vspec is None:
        return None
    found = _VERSION.search(vspec.loader.get_data(vspec.origin).decode())
    return found and found.group(1)


def jvm_archives(path: list, pythonpath: str) -> list:
    """The JVM's archives on ``pythonpath`` that ``path`` can drop:
    all of them when ``pyspark`` and ``py4j`` resolve to the same
    versions without them, none otherwise."""
    archives = [
        p for p in pythonpath.split(os.pathsep)
        if p in path and _JVM_ARCHIVE.match(os.path.basename(p)) and os.path.isfile(p)
    ]
    kept = [p for p in path if p not in archives]
    for package in ("pyspark", "py4j"):
        found = _version(package, path)
        if found is None or _version(package, kept) != found:
            return []
    return archives


def main() -> None:
    drop = jvm_archives(sys.path, os.environ.get("PYTHONPATH", ""))
    sys.path[:] = [p for p in sys.path if p not in drop]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in drop):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
