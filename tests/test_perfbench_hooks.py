"""The benchmark's traced mode wraps the package functions listed in
perfbench/spans.py::LAYER_FUNCTIONS by module attribute. A refactor that
renames or moves one of them breaks `--trace 1`; this catches it first."""

import importlib


def test_every_layer_function_resolves():
    from perfbench.spans import LAYER_FUNCTIONS

    missing = []
    for mod_name, attr, _span in LAYER_FUNCTIONS:
        fn = getattr(importlib.import_module(mod_name), attr, None)
        if not callable(fn):
            missing.append(f"{mod_name}.{attr}")
    assert not missing, missing
