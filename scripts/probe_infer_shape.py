"""Time one single-pulsar and one array inference op and show their Spark shape.

    python scripts/probe_infer_shape.py [--psrs 16] [--toas 1500] [--reps 3]
                                        [--coalesce on|off] [--seed 4001]

Writes seeded inputs with `perfbench.inputs.make_infer_inputs` under a
temporary directory: the perfbench pulsar set for the single-pulsar op
(`run_paramfile --num <warm-up pulsar>`), and --psrs pulsars of --toas TOAs
and two backends each for the array op (`--num 0 --drop 1`, so --psrs - 1
pulsars are scored). Both ops run once untimed in a `get_spark` session at
the width SPARK_GRAFT_CPUS sets, then --reps times each, interleaved. Each
timed run prints one JSON line: wall seconds, Spark jobs, Python tasks,
kernel-stage tasks (the stage that runs the GP kernel) and the sha256 of
the chain it wrote. `--coalesce off` switches off adaptive partition
coalescing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--psrs", type=int, default=16,
                    help="pulsars in the array op's data directory")
    ap.add_argument("--toas", type=int, default=1500,
                    help="TOAs per pulsar of the array op")
    ap.add_argument("--reps", type=int, default=3, help="timed runs per op")
    ap.add_argument("--coalesce", choices=("on", "off"), default="on",
                    help="adaptive partition coalescing")
    ap.add_argument("--seed", type=int, default=4001, help="input seed")
    opts = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # the GP kernel imports the package on the workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from enterprise_warp_spark import run_paramfile
    from enterprise_warp_spark.session import get_spark
    from perfbench.inputs import make_infer_inputs
    from tests.test_infer_golden import spark_shape

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.coalescePartitions.enabled":
                str(opts.coalesce == "on").lower()}
    spark = get_spark("probe-infer-shape", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as work:
        single, warm, _ = make_infer_inputs(os.path.join(work, "single"),
                                            opts.seed)
        array, _, _ = make_infer_inputs(os.path.join(work, "array"),
                                        opts.seed, ((opts.toas, 2),) * opts.psrs)
        ops = {
            "single": ["--prfile", single, "--num", str(warm)],
            f"array_{opts.psrs}x{opts.toas}":
                ["--prfile", array, "--num", "0", "--drop", "1"],
        }
        try:
            for argv in ops.values():
                run_paramfile.main(argv, spark=spark)
            for rep in range(opts.reps):
                for label, argv in ops.items():
                    def timed(argv=argv):
                        t0 = time.perf_counter()
                        out = run_paramfile.main(argv, spark=spark)
                        return out, time.perf_counter() - t0

                    (out, wall), jobs, py_tasks, kernel_tasks = spark_shape(
                        spark, f"probe-{label}-{rep}", timed
                    )
                    path = os.path.join(out["output_dir"], "chain_1.txt")
                    with open(path, "rb") as fh:
                        sha = hashlib.sha256(fh.read()).hexdigest()
                    print(json.dumps({
                        "op": label, "rep": rep, "width":
                            spark.sparkContext.defaultParallelism,
                        "coalesce": opts.coalesce, "wall_s": round(wall, 3),
                        "jobs": jobs, "python_tasks": py_tasks,
                        "kernel_tasks": kernel_tasks, "chain_sha256": sha,
                    }), flush=True)
        finally:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
