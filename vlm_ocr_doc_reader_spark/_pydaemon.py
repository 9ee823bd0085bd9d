"""Python worker daemon for local sessions: pyspark imported compiled.

Spark starts its worker daemon with ``SPARK_HOME/python/lib/pyspark.zip``
and the py4j zip ahead of site-packages on ``sys.path``.  The zip holds no
bytecode and zipimport writes none, so every new SparkContext compiles
pyspark from source before its first Python task can run
(``import pyspark.daemon`` took 0.86-1.0 s from the zip against 0.16 s
from the installed, compiled pyspark 4.1.2 on a 4-core x86 VM).  This
module moves the two zips behind the installed packages, but only when
both installed versions equal the zipped ones, then runs
``pyspark.daemon``'s manager; forked workers inherit the compiled modules.
In every other case ``sys.path`` stays as Spark set it.

It lives at the package top level, not under ``sources/``, because nothing
may import pyspark before the path is chosen.  ``sources/session.py`` sets
it as ``spark.python.daemon.module`` for local masters.
"""

from __future__ import annotations

import os
import re
import sys
import zipimport

_PACKAGES = ("pyspark", "py4j")
_VERSION_RE = re.compile(r"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")


def _version(entry: str, package: str) -> str | None:
    """``package``'s version as one ``sys.path`` entry (a directory or an
    archive) provides it, without importing it; None when it is absent."""
    rel = f"{package}/version.py"
    try:
        if os.path.isdir(entry or "."):
            with open(os.path.join(entry or ".", rel), "rb") as f:
                data = f.read()
        else:
            data = zipimport.zipimporter(entry).get_data(rel)
    except (OSError, zipimport.ZipImportError):
        return None
    m = _VERSION_RE.search(data.decode("utf-8", "replace"))
    return m.group(1) if m else None


def _first(path: list[str], package: str) -> tuple[str, str] | None:
    """(entry, version) of the first ``path`` entry providing ``package``."""
    for entry in path:
        version = _version(entry, package)
        if version is not None:
            return entry, version
    return None


def compiled_first(path: list[str]) -> list[str]:
    """``path`` with the archives that provide pyspark and py4j moved just
    behind the directories that hold the installed packages, when each
    installed version equals the archived one; otherwise ``path``
    unchanged."""
    dirs = [p for p in path if os.path.isdir(p or ".")]
    archives, installed = [], []
    for package in _PACKAGES:
        found, local = _first(path, package), _first(dirs, package)
        if found is None or local is None or found[0] in dirs \
                or found[1] != local[1]:
            return path
        archives.append(found[0])
        installed.append(local[0])
    rest = [p for p in path if p not in archives]
    at = max(rest.index(p) for p in installed) + 1
    moved = [p for p in path if p in archives]
    return rest[:at] + moved + rest[at:]


if __name__ == "__main__":
    sys.path[:] = compiled_first(sys.path)
    # workers resolve this package from their own sys.path, as they do
    # under Spark's default daemon
    sys.modules.pop(__spec__.parent, None)
    from pyspark.daemon import manager
    manager()
