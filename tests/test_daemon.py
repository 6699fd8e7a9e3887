"""The worker daemon shim (``html_sanitizer_spark._daemon``): it drops
Spark's sourceless pyspark and py4j zips from the path only when an
installed pyspark and py4j of the same versions can take their place, and
the package it lives in imports no pyspark before it has run."""

from __future__ import annotations

import importlib.metadata
import os
import subprocess
import sys
import zipfile

import pytest

from html_sanitizer_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_import_stays_pyspark_free():
    """``python -m html_sanitizer_spark._daemon`` imports the package
    before the shim runs: a pyspark imported then would come from the
    zips the shim is about to drop."""
    code = ("import runpy, sys\n"
            "import html_sanitizer_spark\n"
            "runpy.run_module('html_sanitizer_spark._daemon')\n"
            "assert 'pyspark' not in sys.modules, 'pyspark imported'\n")
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]


def _spark_lib(tmp_path, pyspark="4.1.2", py4j="0.10.9.9"):
    """A Spark ``python/lib`` with the two source zips."""
    lib = tmp_path / "lib"
    lib.mkdir()
    zips = [str(lib / "pyspark.zip"), str(lib / f"py4j-{py4j}-src.zip")]
    for archive, pkg, version in zip(zips, ("pyspark", "py4j"),
                                     (pyspark, py4j)):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr(f"{pkg}/__init__.py", "")
            zf.writestr(f"{pkg}/version.py",
                        f"__version__: str = '{version}'\n")
    return zips


def _site(tmp_path, **versions):
    """A site-packages with the given packages installed."""
    site = tmp_path / "site"
    for pkg, version in versions.items():
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f'__version__ = "{version}"\n')
    return str(site)


def test_matching_install_replaces_the_zips(tmp_path):
    zips = _spark_lib(tmp_path)
    site = _site(tmp_path, pyspark="4.1.2", py4j="0.10.9.9")
    path = [*zips, "/jars/spark-core.jar", site]
    _daemon.drop_spark_zips(path)
    assert path == ["/jars/spark-core.jar", site]


@pytest.mark.parametrize("installed", [
    {"pyspark": "4.1.1", "py4j": "0.10.9.9"},
    {"pyspark": "4.1.2", "py4j": "0.10.9.8"},
    {"pyspark": "4.1.2"},
    {"py4j": "0.10.9.9"},
], ids=["pyspark-mismatch", "py4j-mismatch", "no-py4j", "no-pyspark"])
def test_no_matching_install_leaves_the_path(tmp_path, installed):
    zips = _spark_lib(tmp_path)
    path = [*zips, _site(tmp_path, **installed)]
    before = list(path)
    _daemon.drop_spark_zips(path)
    assert path == before


def test_workers_load_the_installed_pyspark(spark):
    """The suite's session starts its workers through the shim: where the
    installed pyspark is the JVM's version, they import it, not the
    sourceless zip."""
    try:
        installed = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        pytest.skip("no installed pyspark")
    if installed != spark.version:
        pytest.skip(f"installed pyspark {installed} != Spark {spark.version}")

    def origin(batches):
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__]})

    files = {r["file"] for r in spark.range(2, numPartitions=2)
             .mapInArrow(origin, "file string").collect()}
    assert files and not any(".zip" in f for f in files), files
