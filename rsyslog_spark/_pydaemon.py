"""Python worker daemon that imports the installed pyspark.

Spark starts its Python worker daemon with ``pyspark.zip``, the py4j zip
and the spark-core jar at the head of ``sys.path``. Every task's
``worker_util.setup_spark_files`` then calls
``importlib.invalidate_caches()``, and each ``zipimporter`` in
``sys.path_importer_cache`` re-reads its archive's directory: 16 of them
per task, about 0.2 CPU-s.

This module runs before ``pyspark.daemon`` and imports nothing from
pyspark first. It drops the archives under ``$SPARK_HOME`` from
``sys.path`` and their importers from ``sys.path_importer_cache``, but
only when the rest of the path provides every package those archives
hold (pyspark, py4j) at the same ``__version__``. Otherwise the stock
path stays. Workers fork from the daemon, so they inherit the path.

:func:`rsyslog_spark.session.get_spark` sets it as
``spark.python.daemon.module`` when this package is a plain directory.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def spark_archives(path: list[str], spark_home: str) -> list[str]:
    """The zip and jar files on ``path`` that lie under ``spark_home``."""
    home = os.path.join(os.path.realpath(spark_home), "")
    return [
        p for p in path
        if p.endswith((".zip", ".jar")) and os.path.isfile(p)
        and os.path.realpath(p).startswith(home)
    ]


def _installed_version(pkg: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or not spec.origin:
        return None
    vfile = os.path.join(os.path.dirname(spec.origin), "version.py")
    if not os.path.isfile(vfile):
        return None
    with open(vfile) as fh:
        return _version(fh.read())


def redundant(archive: str, rest: list[str]) -> bool:
    """Whether ``rest`` provides each top-level package in ``archive``
    at the archive's own ``__version__`` (an archive with no package,
    like the spark-core jar, is redundant)."""
    try:
        with zipfile.ZipFile(archive) as z:
            names = set(z.namelist())
            pkgs = {n.split("/")[0] for n in names
                    if n.count("/") == 1 and n.endswith("/__init__.py")}
            want = {p: _version(z.read(f"{p}/version.py").decode())
                    if f"{p}/version.py" in names else None for p in pkgs}
        return all(v is not None and _installed_version(p, rest) == v
                   for p, v in want.items())
    except (OSError, zipfile.BadZipFile, UnicodeDecodeError):
        return False


def drop_spark_archives() -> None:
    """Drop the Spark archives from ``sys.path`` and
    ``sys.path_importer_cache`` if every one of them is redundant."""
    home = os.environ.get("SPARK_HOME")
    archives = spark_archives(sys.path, home) if home else []
    rest = [p for p in sys.path if p not in archives]
    if not archives or not all(redundant(a, rest) for a in archives):
        return
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
