"""Python worker daemon that loads PySpark from its installed package.

Spark starts the daemon with three archives first on ``sys.path``
(``PythonUtils.sparkPythonPath``): ``pyspark.zip``, ``py4j-*-src.zip`` and
the ``spark-core`` jar. PySpark then imports from the zip, with one
``zipimporter`` per sub-package, and the ``importlib.invalidate_caches()``
that every task runs (``pyspark/worker_util.py``, ``setup_spark_files``)
makes each of them re-read its whole archive directory in pure Python —
on CPython 3.11 most of a task's fixed cost. Where the same PySpark is
installed as a package, those archives add nothing: this module drops
them and hands over to ``pyspark.daemon.manager()``, whose worker-module
argument (``sys.argv[1]``) still applies. ``session.get_spark`` selects it
through the static ``spark.python.daemon.module`` on local masters.

Run as ``python -m spark_s3_shuffle_spark.worker_daemon [worker module]``.
The package ``__init__`` imports nothing, so PySpark is not loaded from
the zip before the path is pruned.
"""

from __future__ import annotations

import filecmp
import importlib.machinery
import os
import sys
import zipfile


def _has_python(jar: str) -> bool:
    try:
        with zipfile.ZipFile(jar) as zf:
            return any(n.endswith((".py", ".pyc")) for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # unreadable: not ours to judge, keep it


def _redundant_archives(path: list[str]) -> set[str]:
    """The entries of ``path`` that an installed PySpark makes redundant:
    each ``.zip`` whose same-named twin under ``<pyspark>/python/lib/`` is
    byte-identical, and each ``.jar`` with no Python in it. Empty when no
    ``pyspark`` package is found outside archives. (The pip ``pyspark``
    requires ``py4j``, so py4j stays importable without its zip.)"""
    spec = importlib.machinery.PathFinder.find_spec(
        "pyspark", [p for p in path if not p.endswith((".zip", ".jar"))]
    )
    if spec is None or not spec.submodule_search_locations:
        return set()
    lib = os.path.join(next(iter(spec.submodule_search_locations)), "python", "lib")
    drop = set()
    for entry in path:
        if entry.endswith(".zip"):
            twin = os.path.join(lib, os.path.basename(entry))
            if (os.path.isfile(entry) and os.path.isfile(twin)
                    and filecmp.cmp(entry, twin, shallow=False)):
                drop.add(entry)
        elif entry.endswith(".jar") and not _has_python(entry):
            drop.add(entry)
    return drop


def prune(path: list[str], importer_cache: dict) -> None:
    """Remove the redundant archives from ``path`` in place, and every
    ``importer_cache`` key that is one of them or lies inside one."""
    drop = _redundant_archives(path)
    path[:] = [p for p in path if p not in drop]
    for key in [k for k in importer_cache
                if k in drop or any(k.startswith(d + os.sep) for d in drop)]:
        del importer_cache[key]


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
