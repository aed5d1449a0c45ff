"""Time the results CLI commands and show their Spark shape.

    python scripts/probe_results_shape.py [--reps 2] [--seed 5003]
                                          [--commands ifl,corner,plots,os]

Writes seeded inputs with `perfbench.inputs.make_results_inputs` (the
perfbench pta results run dirs) and `make_infer_inputs` under a temporary
directory, then opens a `get_spark` session at the width SPARK_GRAFT_CPUS
sets and runs one untimed inference op, as perfbench's pta set-up does.
Each command then runs once cold (its first run in the session) and --reps
times warm:

  ifl     -i 1 -f 1 -l 1             (perfbench's first results op)
  corner  -c 1 -n <corner pulsar>    (perfbench's second results op)
  plots   -H 1 -a 1
  os      -o 1 -N 50 -g hd

Each run prints one JSON line on stdout (the CLI's own output goes to
stderr): wall seconds, Spark jobs and the sha256 of every file it wrote
(a parquet directory gets the rows and sha256 of its rows, normalised as
in `tests/oracle.py`, since part-file names change from run to run). Run
it on two checkouts to compare them.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _snapshot(base: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fns in os.walk(base):
        for fn in fns:
            p = os.path.join(dp, fn)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _written(base: str, before: dict) -> dict[str, object]:
    """-> {relative path: sha256} of the files changed since `before`;
    parquet part files are folded into {directory: [rows, sha256]}."""
    import pandas as pd

    from perfbench.workloads import frame_digest

    out, parquet_dirs = {}, set()
    for p, stamp in sorted(_snapshot(base).items()):
        if before.get(p) == stamp:
            continue
        name = os.path.basename(p)
        if name.endswith(".parquet"):
            parquet_dirs.add(os.path.dirname(p))
        elif not name.startswith((".", "_")):
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = hashlib.sha256(fh.read()).hexdigest()
    for d in sorted(parquet_dirs):
        out[os.path.relpath(d, base)] = list(frame_digest(pd.read_parquet(d)))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reps", type=int, default=2, help="warm runs per command")
    ap.add_argument("--seed", type=int, default=5003, help="input seed")
    ap.add_argument("--commands", default="ifl,corner,plots,os",
                    help="comma-separated subset of ifl, corner, plots, os")
    opts = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # the GP kernel imports the package on the workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from enterprise_warp_spark import results, run_paramfile
    from enterprise_warp_spark.plans import parse_paramfile
    from enterprise_warp_spark.session import get_spark
    from perfbench import inputs
    from tests.test_infer_golden import spark_shape

    spark = get_spark("probe-results-shape",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        infer, warm, _ = inputs.make_infer_inputs(os.path.join(work, "infer"),
                                                  opts.seed)
        prfile, _, by_slot = inputs.make_results_inputs(
            os.path.join(work, "results"), opts.seed)
        base = run_paramfile.output_base_dir(parse_paramfile(prfile), prfile)
        corner = by_slot[inputs.RESULTS_CORNER_SLOT]
        commands = {
            "ifl": ["-i", "1", "-f", "1", "-l", "1"],
            "corner": ["-c", "1", "-n", corner],
            "plots": ["-H", "1", "-a", "1"],
            "os": ["-o", "1", "-N", "50", "-g", "hd"],
        }
        try:
            with contextlib.redirect_stdout(sys.stderr):
                run_paramfile.main(["--prfile", infer, "--num", str(warm)],
                                   spark=spark)
            for label in opts.commands.split(","):
                argv = ["--result", prfile] + commands[label]
                for rep in range(opts.reps + 1):
                    before = _snapshot(base)

                    def timed(argv=argv):
                        t0 = time.perf_counter()
                        with contextlib.redirect_stdout(sys.stderr):
                            results.main(argv, spark=spark)
                        return time.perf_counter() - t0

                    wall, jobs, _, _ = spark_shape(
                        spark, f"probe-{label}-{rep}", timed)
                    print(json.dumps({
                        "command": label, "run": "cold" if rep == 0 else "warm",
                        "width": spark.sparkContext.defaultParallelism,
                        "wall_s": round(wall, 3), "jobs": jobs,
                        "files": _written(base, before),
                    }, sort_keys=True), flush=True)
        finally:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
