"""The Python worker daemon of get_spark sessions (worker_daemon.py).

Workers import the installed pyspark instead of the copy in Spark's zip
archives, and the package import that starts the daemon loads no pyspark.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from enterprise_warp_spark.worker_daemon import is_spark_archive, worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b'__version__: str = "4.1.2"\n'


def _pkg_dir(root, name: str, files: dict[str, bytes]) -> None:
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_bytes(b"")
    for f, body in files.items():
        (d / f).write_bytes(body)


def _zip(path, files: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    return str(path)


def _layout(tmp_path, installed_version=VERSION, installed=("pyspark", "py4j")):
    """A worker sys.path as Spark builds it: cwd, Spark's three archives,
    a user --py-files zip, the stdlib zip, then site-packages."""
    site = tmp_path / "site"
    site.mkdir()
    if "pyspark" in installed:
        _pkg_dir(site, "pyspark", {"version.py": installed_version})
    if "py4j" in installed:
        _pkg_dir(site, "py4j", {})
    lib = tmp_path / "spark" / "python" / "lib"
    spark_zip = _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"",
                                           "pyspark/version.py": VERSION})
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    core_jar = _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
                    {"META-INF/MANIFEST.MF": b""})
    user_zip = _zip(tmp_path / "files" / "deps.zip", {"deps/__init__.py": b""})
    stdlib_zip = str(tmp_path / "lib" / "python311.zip")  # absent, as usual
    cwd = str(tmp_path / "work")
    path = [cwd, spark_zip, py4j_zip, core_jar, user_zip, stdlib_zip, str(site)]
    return path, [cwd, user_zip, stdlib_zip, str(site)]


def test_archives_go_when_matching_installed_copies_import(tmp_path):
    path, without_archives = _layout(tmp_path)
    assert worker_path(path) == without_archives


@pytest.mark.parametrize("case", ["version_differs", "no_installed_pyspark",
                                  "no_installed_py4j"])
def test_path_is_kept_as_spark_built_it(tmp_path, case):
    if case == "version_differs":
        path, _ = _layout(tmp_path, installed_version=b'__version__ = "4.0.0"\n')
    elif case == "no_installed_pyspark":
        path, _ = _layout(tmp_path, installed=("py4j",))
    else:
        path, _ = _layout(tmp_path, installed=("pyspark",))
    assert worker_path(path) == path


def test_pyspark_shadowed_by_a_user_zip_keeps_the_path(tmp_path):
    path, _ = _layout(tmp_path)
    shadow = _zip(tmp_path / "files" / "bundle.zip",
                  {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    path.insert(1, shadow)
    assert worker_path(path) == path


def test_only_spark_archives_are_recognised():
    assert is_spark_archive("spark/python/lib/pyspark.zip")
    assert is_spark_archive("spark/python/lib/py4j-0.10.9.9-src.zip")
    assert is_spark_archive("spark/jars/spark-core_2.13-4.1.2.jar")
    for other in ("lib/python311.zip", "work/deps.zip",
                  "spark/jars/spark-sql_2.13-4.1.2.jar", "site-packages/pyspark"):
        assert not is_spark_archive(other)


def test_package_import_loads_no_pyspark():
    r = subprocess.run(
        [sys.executable, "-c",
         "import sys, enterprise_warp_spark; "
         "print(sorted(m for m in sys.modules if m.startswith('pyspark')))"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert r.stdout.strip() == "[]"


def test_session_workers_import_the_drivers_pyspark(spark):
    import pyspark

    def worker_imports(_):  # nested, so it pickles by value
        import zipimport

        import pyspark

        yield pyspark.__file__, sorted(
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and is_spark_archive(f.archive)
        )

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == \
        "enterprise_warp_spark.worker_daemon"
    rows = sc.parallelize(range(2), 2).mapPartitions(worker_imports).collect()
    assert rows == [(pyspark.__file__, [])] * 2
