"""Python worker daemon that loads the installed, byte-compiled pyspark.

Spark starts its worker daemon as ``python -m <module>`` with
``$SPARK_HOME/python/lib/pyspark.zip`` first on the path. The zip holds
sources only, and workers run with ``PYTHONDONTWRITEBYTECODE``, so every
fresh daemon compiles pyspark (~1 s of the first Python stage). When the
installed pyspark package declares the same ``__version__`` as the zip, this
daemon moves the zip entry behind the installed copy, then runs
``pyspark.daemon.manager()``; the workers it forks inherit the compiled
modules. On a version mismatch, a missing installed copy, no zip or a read
error the path is left as it is.

This module must import no pyspark before the path change (and so must the
``sbse`` package, which ``-m`` imports first). ``sbse.session.get_spark``
selects it via ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""^__version__\b[^=\n]*=\s*['"]([^'"]+)['"]""", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def worker_path(path: list[str]) -> tuple[list[str], dict[str, str | None]]:
    """The import path a worker should use, and what it was decided from:
    ``{"zip": zip version, "installed": installed version, "source":
    "installed" | "zip"}``, where ``source`` is where pyspark then loads."""
    zi = next((i for i, p in enumerate(path)
               if os.path.basename(p) == "pyspark.zip"), None)
    info = {"zip": None, "installed": None,
            "source": "zip" if zi is not None else "installed"}
    if zi is None:
        return path, info
    ii = next((i for i in range(zi + 1, len(path)) if os.path.isfile(
        os.path.join(path[i], "pyspark", "version.py"))), None)
    if ii is None:
        return path, info
    try:
        with zipfile.ZipFile(path[zi]) as zf:
            info["zip"] = _version(zf.read("pyspark/version.py").decode())
        with open(os.path.join(path[ii], "pyspark", "version.py")) as f:
            info["installed"] = _version(f.read())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return path, info
    if info["zip"] is None or info["zip"] != info["installed"]:
        return path, info
    info["source"] = "installed"
    return path[:zi] + path[zi + 1:ii + 1] + [path[zi]] + path[ii + 1:], info


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path)[0]
    from pyspark.daemon import manager

    manager()
