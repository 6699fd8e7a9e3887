"""Spark's Python daemon, started so that it and every worker it forks
import bytecode-cached pyspark and py4j.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and
``py4j-*-src.zip`` first on a Python worker's path. The zips hold sources
only, so every new daemon compiles pyspark: importing ``pyspark.worker``
and the Arrow serializers takes about 1 s from the zip against 0.3 s from
an installed copy with its ``__pycache__``. ``get_spark`` names this
module as ``spark.python.daemon.module``. When the interpreter has an
installed pyspark and py4j of the zips' versions (each package's
``version.py``), it drops the zips from ``sys.path``; otherwise it
changes nothing. Then it runs ``pyspark.daemon`` as Spark would have.

Spark starts it as ``python -m html_sanitizer_spark._daemon``, so the
package's ``__init__`` runs first: it must not import pyspark.
"""

import os
import re
import runpy
import sys
from importlib.machinery import PathFinder

# the archives Spark ships, by the package each one holds
_ZIPS = {"pyspark": re.compile(r"pyspark\.zip"),
         "py4j": re.compile(r"py4j-.*-src\.zip")}
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""",
                      re.MULTILINE)


def _version(package: str, path: list):
    """The ``__version__`` in the ``version.py`` of the ``package`` that
    ``path`` would import (a directory's or, through zipimport, a zip's),
    read without importing it; None if there is none."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        source = spec.loader.get_data(os.path.join(
            spec.submodule_search_locations[0], "version.py"))
    except (OSError, AttributeError):  # no such file; a namespace package
        return None
    m = _VERSION.search(source.decode())
    return m and m.group(1)


def drop_spark_zips(path: list) -> None:
    """Remove Spark's pyspark and py4j zips from ``path`` in place if the
    rest of ``path`` has an installed pyspark and py4j of the zips'
    versions; otherwise leave ``path`` as it is."""
    zips = {p: pkg for p in path for pkg, name in _ZIPS.items()
            if name.fullmatch(os.path.basename(p))}
    rest = [p for p in path if p not in zips]
    installed = {pkg: _version(pkg, rest) for pkg in _ZIPS}
    if zips and None not in installed.values() and all(
            _version(pkg, [p]) == installed[pkg] for p, pkg in zips.items()):
        path[:] = rest


if __name__ == "__main__":
    drop_spark_zips(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
