#!/usr/bin/env python
"""Analogue of the reference's examples/bilby_example.py: run the same
paramfile-configured inference but land the posterior as a BILBY-style
``<label>_result.json`` (the S6b source format) instead of PTMCMC
chain_1.txt files — then run the results pipeline over it to show every
analytics stage is source-agnostic (load_run_dirs dispatches per run dir).

    python examples/bilby_example.py --prfile example_params/demo_model.dat --num 0
"""

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
sys.path.insert(0, _ROOT)
sys.path.insert(0, _HERE)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in [os.environ.get("PYTHONPATH", "")] if p]
)

import custom_models  # noqa: F401,E402 — registers the example plugin signals
import numpy as np  # noqa: E402


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-p", "--prfile", required=True)
    ap.add_argument("-n", "--num", type=int, default=0)
    opts = ap.parse_args(argv)
    own = spark is None
    if own:
        from enterprise_warp_spark.session import get_spark

        spark = get_spark("bilby-example")
    try:
        return _run(spark, opts)
    finally:
        if own:
            spark.stop()


def _run(spark, opts):
    from enterprise_warp_spark.analytics.results_pipeline import (
        run_results_pipeline,
    )
    from enterprise_warp_spark.run_paramfile import run_from_paramfile

    out = run_from_paramfile(spark, opts.prfile, num=opts.num,
                             wipe_old_output=1)
    run_dir = out["output_dir"]
    # convert the written PTMCMC-style chain into a bilby result document
    chain = np.atleast_2d(np.loadtxt(os.path.join(run_dir, "chain_1.txt")))
    pars = out["pars"]
    content = {p: chain[:, i].tolist() for i, p in enumerate(pars)}
    content["log_likelihood"] = chain[:, len(pars) + 1].tolist()  # lnlike
    content["log_prior"] = (
        chain[:, len(pars)] - chain[:, len(pars) + 1]
    ).tolist()  # lnpost - lnlike
    bilby_all = os.path.dirname(run_dir) + "_bilby"
    bilby_base = os.path.join(bilby_all, os.path.basename(run_dir))
    os.makedirs(bilby_base, exist_ok=True)
    doc = {
        "label": "dynesty",
        "sampler": "dynesty",
        "parameter_labels": pars,
        "search_parameter_keys": pars,
        "posterior": {"__dataframe__": True, "content": content},
    }
    result_path = os.path.join(bilby_base, "dynesty_result.json")
    with open(result_path, "w") as fh:
        json.dump(doc, fh)
    print(f"bilby-style result written: {result_path}")

    # the SAME analytics pipeline runs over the bilby source (S6b dispatch)
    res = run_results_pipeline(spark, bilby_all)
    levels = res["credible_levels"].orderBy("par").collect()
    for r in levels:
        print(f"{r['par']}: median={r['p50']:.4f} "
              f"68% CI [{r['p16']:.4f}, {r['p84']:.4f}]")
    return {"result_path": result_path, "levels": levels}


if __name__ == "__main__":
    main()
