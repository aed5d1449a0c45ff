"""Show where the Python workers of a `get_spark` session import pyspark from.

    python scripts/probe_worker_setup.py [--tasks 4] [--spark-daemon]

Runs one Python task per partition and prints, for each task: the worker
pid, the file `pyspark` and `py4j` were imported from, the Spark archives
(`pyspark.zip`, `py4j-*-src.zip`, the spark-core jar) still on `sys.path`,
the number of zipimporters in `sys.path_importer_cache`, and the time one
`importlib.invalidate_caches()` takes, the call pyspark makes once per task
(`worker_util.setup_spark_files`). The driver's pyspark file is printed
first for comparison. Where pyspark is not installed as a directory that
workers can import, the archives stay on the path and the task lines show
it (see `enterprise_warp_spark/worker_daemon.py`). `--spark-daemon` runs
the same probe with Spark's default daemon, for comparison.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def probe(_):
    import importlib
    import time
    import zipimport

    import py4j
    import pyspark

    from enterprise_warp_spark.worker_daemon import is_spark_archive

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield (os.getpid(), pyspark.__file__, py4j.__file__,
           [p for p in sys.path if is_spark_archive(p)], zips, ms)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tasks", type=int, default=4,
                    help="Python tasks to run, one per partition")
    ap.add_argument("--spark-daemon", action="store_true",
                    help="start workers through Spark's default pyspark.daemon")
    opts = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # workers import the package (the daemon module and this probe) too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import pyspark

    from enterprise_warp_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if opts.spark_daemon:
        conf["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("probe-worker-setup", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(f"driver pyspark: {pyspark.__file__}")
        print(f"daemon module:  {spark.conf.get('spark.python.daemon.module', 'pyspark.daemon')}")
        rows = (spark.sparkContext.parallelize(range(opts.tasks), opts.tasks)
                .mapPartitions(probe).collect())
        for pid, ps, p4, archives, zips, ms in rows:
            print(f"task pid={pid} pyspark={ps} py4j={p4} "
                  f"archives_on_path={archives or 'none'} zipimporters={zips} "
                  f"invalidate_caches={ms:.1f} ms")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
