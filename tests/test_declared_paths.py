"""Every package module sits on a declared path, or is named here with why.

The declared paths are the catalog (`queries.py`), the two CLIs
(`results.py`, `run_paramfile.py`), the package `__init__`, the examples,
`bench.py` and the perfbench workloads. The walk follows every `import` and
`from ... import` statement in those files and in each package module they
reach, function-level imports included, since kernels and optional branches
import lazily. A module the walk does not reach is code no user path runs.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "enterprise_warp_spark"

ROOTS = [
    f"{PACKAGE}/queries.py",
    f"{PACKAGE}/results.py",
    f"{PACKAGE}/run_paramfile.py",
    f"{PACKAGE}/__init__.py",
    *sorted(glob.glob("examples/*.py", root_dir=ROOT)),
    "bench.py",
    *sorted(glob.glob("perfbench/*.py", root_dir=ROOT)),
]

# Unreached modules that stay, each with the reason.
KEPT_UNREACHED = {
    # `physical_basis` is the input model that tests/test_ephemeris.py
    # injects and recovers through the BayesEphem component of
    # `gp_loglik_per_pulsar`, which the CLI path does run.
    f"{PACKAGE}.functions.solar_system": "BayesEphem input model",
    # Deletion candidates still pending (ROADMAP item 3): each goes
    # together with its tests in a later change.
    f"{PACKAGE}.functions.fourier": "pending deletion",
    f"{PACKAGE}.profiling": "pending deletion",
    f"{PACKAGE}.sources.archive": "pending deletion",
    f"{PACKAGE}.sources.globscan": "pending deletion",
}


def _package_modules() -> dict[str, str]:
    """dotted module name -> file path, for every module of the package."""
    out = {}
    for path in glob.glob(f"{PACKAGE}/**/*.py", root_dir=ROOT, recursive=True):
        parts = path[:-3].split(os.sep)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = os.path.join(ROOT, path)
    return out


def _imported(tree: ast.AST, module: str, is_pkg: bool) -> set[str]:
    """Dotted names a module's import statements may load: each imported
    module, and `pkg.name` for every `from pkg import name`."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    modules = _package_modules()
    by_path = {path: name for name, path in modules.items()}
    seen: set[str] = set()
    todo = [os.path.join(ROOT, r) for r in ROOTS]
    while todo:
        path = todo.pop()
        name = by_path.get(path, "")
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for imp in _imported(tree, name, path.endswith("__init__.py")):
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(modules[mod])
    return seen


def test_only_the_recorded_modules_are_unreached():
    unreached = set(_package_modules()) - reached_modules()
    assert unreached == set(KEPT_UNREACHED)
