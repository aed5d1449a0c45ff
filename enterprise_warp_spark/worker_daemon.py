"""Python worker daemon of the sessions `session.get_spark` creates.

Spark starts its Python workers through a daemon, `python -m <module>
pyspark.worker`, and puts its own archives at the head of the workers'
`sys.path`: `pyspark.zip`, the py4j source zip and the spark-core jar.
Workers then import pyspark from a zip, which has no bytecode cache, and
pyspark calls `importlib.invalidate_caches()` once per task
(`worker_util.setup_spark_files`). On Python 3.11 that call re-reads the
directory of every cached zipimporter: 0.2-0.35 s per task at local[4].

When the same pyspark (a byte-equal `version.py`) and py4j also import from
a directory on the rest of the path, as with a pip-installed pyspark, run
as `__main__` this module takes Spark's archives off `sys.path` and out of
`sys.path_importer_cache` before anything imports pyspark, then runs
Spark's own daemon. Otherwise it leaves the path as Spark built it. Other
entries (the standard library's zip, user `--py-files`) are never touched.

Importing this module does nothing but define its functions.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatch(name, pattern) for pattern in SPARK_ARCHIVES)


def _package_dir(name: str, path: list[str]) -> str | None:
    """The directory `name` imports from on `path`; None when it is not
    found or would import from an archive."""
    spec = PathFinder.find_spec(name, path)
    locations = list(spec.submodule_search_locations or ()) if spec else []
    return locations[0] if locations and os.path.isdir(locations[0]) else None


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives when the installed pyspark and py4j
    can stand in for them, else `path` unchanged (as a new list)."""
    bundled = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if not is_spark_archive(p)]
    pyspark_dir = _package_dir("pyspark", rest) if bundled else None
    if pyspark_dir is None or _package_dir("py4j", rest) is None:
        return list(path)
    try:
        with zipfile.ZipFile(bundled[0]) as zf:
            bundled_version = zf.read("pyspark/version.py")
        with open(os.path.join(pyspark_dir, "version.py"), "rb") as fh:
            installed_version = fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return rest if bundled_version == installed_version else list(path)


def main() -> None:
    kept = worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
