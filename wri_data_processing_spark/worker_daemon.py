"""Python worker daemon: ``pyspark.daemon`` on the driver's installed pyspark.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Spark starts it once per executor Python environment, with Spark's own
archives at the front of ``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the ``spark-core`` jar. Before any worker is forked,
:func:`main` takes those archives off ``sys.path`` and out of
``sys.path_importer_cache`` when the same versions of ``pyspark`` and
``py4j`` are installed as directories behind them, then runs
``pyspark.daemon`` unchanged. Otherwise it leaves ``sys.path`` alone and the
stock daemon runs on the archives.

Nothing here imports ``pyspark``: the decision is made before it is loaded.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import runpy
import sys
from collections.abc import Callable, Sequence

# The packages Spark's archives provide to a worker.
PACKAGES = ("pyspark", "py4j")

_VERSION = re.compile(rb"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")

# (version, installed as a directory) of a package as ``path`` resolves it.
Resolver = Callable[[str, Sequence[str]], tuple[str, bool] | None]


def spark_archives(path: Sequence[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that are Spark's own archives: the zips in
    ``$SPARK_HOME/python/lib`` and the jars in ``$SPARK_HOME/jars``. Paths are
    compared after resolving symlinks, because Spark names the jar by its real
    location. Without ``SPARK_HOME`` nothing is Spark's."""
    if not spark_home:
        return []
    home = os.path.realpath(spark_home)
    dirs = {".zip": os.path.join(home, "python", "lib"), ".jar": os.path.join(home, "jars")}
    return [
        p
        for p in path
        if (d := dirs.get(os.path.splitext(p)[1])) and os.path.realpath(os.path.dirname(p)) == d
    ]


def resolve_package(name: str, path: Sequence[str]) -> tuple[str, bool] | None:
    """``(__version__, is a directory install)`` of the package ``name`` that
    an import over ``path`` finds, read from its ``version.py``; ``None`` when
    it finds none or no version."""
    spec = importlib.machinery.PathFinder.find_spec(name, list(path))
    if spec is None or spec.origin is None:
        return None
    try:
        source = spec.loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None
    match = _VERSION.search(source)
    return (match.group(1).decode(), os.path.isfile(spec.origin)) if match else None


def worker_path(
    path: Sequence[str], spark_home: str | None, resolve: Resolver = resolve_package
) -> list[str]:
    """``path`` without Spark's archives when every package in
    :data:`PACKAGES` then resolves to a directory install of the version the
    archives hold; otherwise ``path`` unchanged."""
    archives = spark_archives(path, spark_home)
    if not archives:
        return list(path)
    kept = [p for p in path if p not in archives]
    for name in PACKAGES:
        before, after = resolve(name, path), resolve(name, kept)
        if before is None or after is None or not after[1] or after[0] != before[0]:
            return list(path)
    return kept


def main() -> None:
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = tuple(p for p in sys.path if p not in kept)
    sys.path[:] = kept
    # Importers created for the archives (and their subpackages) before the
    # cut would otherwise be re-read by every task's invalidate_caches().
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
