"""Python worker daemon that imports the installed pyspark.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``
(and the py4j zip) at the front of ``sys.path``. Sources in a zip are
compiled at every start: importing the daemon and worker from the zip takes
about a second, against about 0.2 s from the installed, byte-compiled
package. ``session.get_spark`` sets ``spark.python.daemon.module`` to this
module when it launches the JVM itself; the JVM runs
``python -m preprocessor_spark._daemon``.

When the installed distribution has the zip's exact version, the zip
entries move to the end of ``sys.path``; otherwise the zip stays in front.
Then ``pyspark.daemon`` runs as ``__main__``, as Spark would run it.

Importing this module must not import pyspark: the version check has to
run before the first pyspark import decides where pyspark comes from.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import runpy
import sys
import zipfile

_VERSION = re.compile(r"""__version__(?::\s*str)?\s*=\s*["']([^"']+)["']""")


def _installed(dist: str) -> str | None:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return None


def zip_version(entry: str) -> tuple[str, str] | None:
    """(distribution, version) of a Spark-shipped zip on ``sys.path``:
    ``pyspark.zip`` by its ``pyspark/version.py``, ``py4j-<v>-src.zip`` by
    its name. None for any other entry, or a zip that cannot be read."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        try:
            with zipfile.ZipFile(entry) as z:
                m = _VERSION.search(z.read("pyspark/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            return None
        return ("pyspark", m.group(1)) if m else None
    m = re.fullmatch(r"py4j-(.+)-src\.zip", name)
    return ("py4j", m.group(1)) if m else None


def worker_path(path: list[str], installed=_installed) -> list[str]:
    """``path`` with the Spark zips moved to its end, when the installed
    pyspark has the version of the pyspark zip on it; unchanged otherwise.
    The py4j zip moves only when the installed py4j matches it too."""
    zips = {e: zip_version(e) for e in path}
    pyspark_zip = [v for v in zips.values() if v and v[0] == "pyspark"]
    if not pyspark_zip or installed("pyspark") != pyspark_zip[0][1]:
        return list(path)
    moved = [e for e, v in zips.items() if v and installed(v[0]) == v[1]]
    return [e for e in path if e not in moved] + moved


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
