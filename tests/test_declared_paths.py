"""Every package module and every top-level function or class sits on a
declared path, or is named here with why.

The declared paths are the catalog (`queries.py`) with its entry module
(`__spark_entry__.py`), the two CLIs (`results.py`, `run_paramfile.py`), the
package `__init__`, the examples, `bench.py` and the perfbench workloads.
The module walk follows every `import` and `from ... import` statement in
those files and in each package module they reach, function-level imports
included, since kernels and optional branches import lazily. A module the
walk does not reach is code no user path runs.

The function walk is finer. It starts from the same files and the
module-level statements of each package module they import, and follows the
names each reached statement or def uses: `Name`s, attributes, import
aliases and the string constants that are a whole identifier or dotted path
(registries and span tables that name functions by string; prose in a string
names nothing). A reached def's own imports reach modules in turn.
Decorated defs (registry entries) and dunder names count as reached wherever
their module is. Names resolve by spelling alone, so a def is reached when
any reached code uses its name: the walk can keep dead code, never flag live
code. Docstrings are prose and name nothing.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "enterprise_warp_spark"

ROOTS = [
    f"{PACKAGE}/queries.py",
    f"{PACKAGE}/results.py",
    f"{PACKAGE}/run_paramfile.py",
    f"{PACKAGE}/__init__.py",
    "__spark_entry__.py",
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


_NAME_PATH = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants in a parsed file."""
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, *_DEF))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def _uses(node: ast.AST, docstrings: set[int], names: set[str],
          aliases: dict[str, set[str]]) -> None:
    """Add the names a statement or def uses; `import f as g` records g -> f."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias) and sub.asname:
            aliases.setdefault(sub.asname, set()).add(sub.name.split(".")[-1])
        elif (isinstance(sub, ast.Constant) and isinstance(sub.value, str)
              and id(sub) not in docstrings and _NAME_PATH.fullmatch(sub.value)):
            names.update(sub.value.split("."))


def _def_key(module: str, name: str) -> str:
    return f"{module.removeprefix(PACKAGE + '.')}:{name}"


def _walk_defs() -> tuple[dict[str, ast.AST], set[str]]:
    """Every top-level def of the package ("module:name" -> node, the module
    relative to the package) and the set of reached ones."""
    modules = _package_modules()
    by_path = {path: name for name, path in modules.items()}
    parsed, defs = {}, {}
    for mod, path in modules.items():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        parsed[mod] = (tree, _docstrings(tree), path.endswith("__init__.py"))
        for node in tree.body:
            if isinstance(node, _DEF):
                defs[_def_key(mod, node.name)] = (mod, node)

    names: set[str] = set()
    aliases: dict[str, set[str]] = {}
    reached_mods: set[str] = set()
    reached: set[str] = set()
    todo: list[str] = []

    def visit(node, mod, docstrings, is_pkg):
        _uses(node, docstrings, names, aliases)
        for imp in _imported(node, mod, is_pkg):
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                sub = ".".join(parts[:i])
                if sub in modules and sub not in reached_mods:
                    reached_mods.add(sub)
                    todo.append(sub)

    for root in ROOTS:
        path = os.path.join(ROOT, root)
        if path in by_path:
            reached_mods.add(by_path[path])
            todo.append(by_path[path])
        else:
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            visit(tree, "", _docstrings(tree), False)
    while todo:
        while todo:
            item = todo.pop()
            if item in modules:  # a module newly reached: its top level runs
                tree, docstrings, is_pkg = parsed[item]
                for node in tree.body:
                    if not isinstance(node, _DEF):
                        visit(node, item, docstrings, is_pkg)
                    elif node.decorator_list or (
                        node.name.startswith("__") and node.name.endswith("__")
                    ):
                        todo.append(_def_key(item, node.name))
            elif item not in reached:
                reached.add(item)
                mod, node = defs[item]
                visit(node, mod, *parsed[mod][1:])
        used = set(names)
        for alias, targets in aliases.items():
            if alias in names:
                used |= targets
        todo = [
            key for key, (mod, node) in defs.items()
            if key not in reached and mod in reached_mods and node.name in used
        ]
    return {k: node for k, (_, node) in defs.items()}, reached


# Unreached top-level defs that stay, keyed "module:name" relative to the
# package, each with the reason. Defs of a module in KEPT_UNREACHED are
# covered by that entry.
_REFERENCE = "reference the tests compare against"
_ENCODER = "test-fixture encoder: builds inputs for a reached decoder"
_PENDING = "pending deletion"
KEPT_UNREACHED_DEFS: dict[str, str] = {
    # Oracles: dense or per-byte implementations the fast paths are
    # checked against, and the Python BPE codec the Spark encoder must match.
    **dict.fromkeys((
        "likelihood.gp:dense_lnlike_reference",
        "likelihood.gp:dense_lnlike_tm_marginalized",
        "likelihood.gwb:dense_gwb_reference",
        "operators.sketches:frequent_values_exact",
        "pipeline.cdc:gear_hashes",
        "pipeline.tokenizer:decode_ids",
        "pipeline.tokenizer:encode_text",
    ), _REFERENCE),
    # The PNM encoder: the tests build the reached PPM/PGM decoder's inputs
    # with it.
    **dict.fromkeys((
        "pipeline.codecs:encode_ppm",
    ), _ENCODER),
    # The general2 loop: the reference-reading tests in
    # tests/test_general2_pipeline.py run it, and ROADMAP item 6 builds its
    # hermetic twin on the general2 fixture.
    **dict.fromkeys((
        "likelihood.inference:run_adaptive_from_general2",
        "sources.tempo2:format_fields",
        "sources.tempo2:general2_rows",
        "sources.tempo2:general2_to_df",
        "sources.tempo2:parse_general2_output",
        "sources.tempo2:read_general2",
        "sources.tempo2:residuals_from_general2",
        "sources.tempo2:run_tempo2_prediction",
    ), _PENDING),
    # Left for later batches (ROADMAP item 3): the audio side of the codec
    # and multimodal tree with the aiff/adpcm decoders it alone imports, the
    # unigram trainer, small helpers whose tests read reference data, and
    # the defs that only words in prose strings kept reached before string
    # constants had to be whole names.
    **dict.fromkeys((
        "analytics.chains:burn_in",
        "functions.ephemeris:attach_basis_table",
        "functions.ephemeris:ingest_basis_table",
        "functions.ephemeris:synthetic_basis",
        "functions.psd:broken_powerlaw_psd",
        "functions.psd:free_spectrum_psd",
        "functions.psd:lorentzian_psd",
        "functions.timingmodel:fit_residuals",
        "likelihood.gp:gp_loglik_reduced",
        "likelihood.sampling:posterior_quantiles",
        "operators.sketches:count_min_by",
        "pipeline.adpcm:_encode_code",
        "pipeline.adpcm:_step_decode",
        "pipeline.adpcm:decode_ima_blocks",
        "pipeline.adpcm:encode_ima_wav",
        "pipeline.aiff:_pcm_to_float",
        "pipeline.aiff:_read_float80",
        "pipeline.aiff:_write_float80",
        "pipeline.aiff:decode_aiff",
        "pipeline.aiff:decode_au",
        "pipeline.aiff:encode_aiff",
        "pipeline.aiff:encode_au",
        "pipeline.classify:train_quality_classifier",
        "pipeline.codecs:_alaw_table",
        "pipeline.codecs:_ulaw_table",
        "pipeline.codecs:audio_features",
        "pipeline.codecs:decode_audio",
        "pipeline.codecs:decode_wav",
        "pipeline.codecs:encode_g711",
        "pipeline.codecs:encode_wav",
        "pipeline.decontaminate:_doc_grams",
        "pipeline.decontaminate:decontaminate",
        "pipeline.decontaminate:ngram_contamination",
        "pipeline.lm:train_unigram_lm",
        "pipeline.lm:unseen_logp",
        "pipeline.multimodal:audio_fingerprints",
        "pipeline.multimodal:audio_near_dup_pairs",
        "pipeline.search:build_index",
        "pipeline.suffix:exact_duplicate_spans_sharded",
        "pipeline.suffix:strip_exact_duplicate_spans_sharded",
        "pipeline.text:compression_ratio",
        "pipeline.text:mojibake_score",
        "pipeline.text:normalize_text",
        "pipeline.text:token_counts",
        "pipeline.tokenizer:load_tokenizer",
        "pipeline.tokenizer:pretokens",
        "pipeline.tokenizer:save_tokenizer",
        "pipeline.unigram:_forward_backward",
        "pipeline.unigram:candidate_pieces",
        "pipeline.unigram:train_unigram",
        "plans.registry:priors_for_model",
        "sources.noisefiles:white_noise_constants",
        "sources.par:read_par",
        "tables:load_snapshot",
    ), _PENDING),
}


def test_only_the_recorded_defs_are_unreached():
    defs, reached = _walk_defs()
    kept_modules = {m.removeprefix(PACKAGE + ".") for m in KEPT_UNREACHED}
    unreached = {
        key for key in defs
        if key not in reached and key.split(":")[0] not in kept_modules
    }

    def size(key):  # unreached defs carry no decorators
        return defs[key].end_lineno - defs[key].lineno + 1

    new = sorted(unreached - set(KEPT_UNREACHED_DEFS))
    stale = sorted(set(KEPT_UNREACHED_DEFS) - unreached)
    assert not new and not stale, (
        f"{len(new)} unreached defs ({sum(map(size, new))} lines) no entry "
        "of KEPT_UNREACHED_DEFS names:\n"
        + "".join(f"  {key}  {size(key)} lines\n" for key in new)
        + "KEPT_UNREACHED_DEFS entries that are reached or gone:\n"
        + "".join(f"  {key}\n" for key in stale)
    )
    assert all(KEPT_UNREACHED_DEFS.values())
