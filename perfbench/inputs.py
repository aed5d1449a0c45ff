"""Seed-generated inputs for the PTA workload.

The seed changes names, sky positions, observing epochs, noise draws and the
op order. It never changes the amount of work: every seed gets the same
multiset of TOA counts, backend counts and chain lengths, so run-to-run
spread across seeds measures the system, not the inputs.

Files follow the `examples/make_example_data.py` layout: `<psr>.par` and
`<psr>.tim` pairs in one data directory, a noise-model JSON and a paramfile.
"""

from __future__ import annotations

import json
import os

import numpy as np

BACKEND_BANDS = (("PKS_20CM", 1400.0), ("PKS_10CM", 3100.0), ("PKS_50CM", 700.0))

# pta_infer: (TOAs, backends) per pulsar. Slot 0 is the warm-up op; the rest
# are the timed ops, log-spaced over 100-2000 TOAs.
INFER_SLOTS = ((300, 2), (100, 1), (210, 2), (450, 3), (950, 1), (2000, 2))
INFER_NSAMP = 400  # the documented demo model's nsamp

# pta_results: (TOAs, backends, chain rows) per pulsar, short and long
# chains. The corner op always plots slot 1.
RESULTS_SLOTS = (
    (100, 2, 600), (150, 1, 2400), (120, 3, 1200), (200, 2, 4800),
)
RESULTS_CORNER_SLOT = 1

NOISE_MODEL = {
    "model_name": "demo_1",
    "universal": {"white_noise": "by_backend", "spin_noise": "powerlaw"},
    "common_signals": {},
}


def _psr_names(rng: np.random.Generator, n: int) -> list[str]:
    names: set[str] = set()
    while len(names) < n:
        ra = int(rng.integers(0, 24 * 60))
        dec = int(rng.integers(-89 * 60, 89 * 60))
        sign = "+" if dec >= 0 else "-"
        names.add(f"J{ra // 60:02d}{ra % 60:02d}{sign}{abs(dec) // 60:02d}"
                  f"{abs(dec) % 60:02d}")
    return sorted(names)


def _write_par(path: str, name: str, rng: np.random.Generator) -> None:
    ra_h, ra_m = int(name[1:3]), int(name[3:5])
    dec_d, dec_m = name[5:8], int(name[8:10])
    lines = [
        f"PSRJ\t{name}",
        f"RAJ\t{ra_h:02d}:{ra_m:02d}:{rng.uniform(0, 59):06.3f}\t1",
        f"DECJ\t{dec_d}:{dec_m:02d}:{rng.uniform(0, 59):06.3f}\t1",
        f"F0\t{rng.uniform(100.0, 700.0):.10f}\t1",
        f"F1\t{-rng.uniform(1e-16, 1e-14):.6e}\t1",
        "PEPOCH\t56000",
        f"DM\t{rng.uniform(5.0, 80.0):.4f}\t1",
        "UNITS\tTCB",
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _write_tim(path: str, name: str, n_toas: int, n_backends: int,
               rng: np.random.Generator) -> None:
    mjd = np.sort(rng.uniform(53000.0, 56650.0, n_toas))
    rows = ["FORMAT 1"]
    for i in range(n_toas):
        be, freq = BACKEND_BANDS[i % n_backends]
        rows.append(
            f" {name}_obs_{i:05d} {freq + rng.uniform(-64, 64):.8f} "
            f"{mjd[i]:.13f} {rng.uniform(0.5, 3.0):.5f} pks "
            f"-fe {be.split('_')[1]} -be PKS -group {be}"
        )
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + "\n")


def _write_tree(dest: str, slots, nsamp: int, rng: np.random.Generator):
    """-> (paramfile, names in slot order). Data and model files go under
    dest; run output lands in dest/out/."""
    data = os.path.join(dest, "data")
    os.makedirs(data, exist_ok=True)
    names = list(_psr_names(rng, len(slots)))
    rng.shuffle(names)  # slot -> name is seeded; files sort by name
    for name, slot in zip(names, slots):
        _write_par(os.path.join(data, f"{name}.par"), name, rng)
        _write_tim(os.path.join(data, f"{name}.tim"), name, slot[0], slot[1], rng)
    model = os.path.join(dest, "noise_model.json")
    with open(model, "w") as fh:
        json.dump(NOISE_MODEL, fh, indent=4)
    prfile = os.path.join(dest, "params.dat")
    with open(prfile, "w") as fh:
        fh.write(
            "paramfile_label: bench\n"
            f"datadir: {data}/\n"
            "out: out/\n"
            "overwrite: True\n"
            "array_analysis: False\n"
            "sampler: dynesty\n"
            f"nsamp: {nsamp}\n"
            "{0}\n"
            f"noise_model_file: {model}\n"
        )
    return prfile, names


def make_infer_inputs(dest: str, seed: int, slots=INFER_SLOTS):
    """-> (paramfile, [--num of the warm-up op], [--num of each timed op] in
    seeded order)."""
    rng = np.random.default_rng([seed, 1])
    prfile, names = _write_tree(dest, slots, INFER_NSAMP, rng)
    num = {name: i for i, name in enumerate(sorted(names))}
    timed = [num[n] for n in names[1:]]
    rng.shuffle(timed)
    return prfile, num[names[0]], timed


def _write_chain(run_dir: str, psr: str, backends: list[str], rows: int,
                 rng: np.random.Generator) -> None:
    os.makedirs(run_dir, exist_ok=True)
    pars, cols = [], []
    for be in backends:
        pars.append(f"{psr}_{be}_efac")
        cols.append(np.clip(rng.normal(1.0, 0.08, rows), 0.5, 2.0))
    for be in backends:
        pars.append(f"{psr}_{be}_log10_equad")
        cols.append(rng.uniform(-8.5, -6.5, rows))
    pars += [f"{psr}_red_noise_log10_A", f"{psr}_red_noise_gamma"]
    cols.append(np.clip(rng.normal(-14.5, 0.4, rows), -20.0, -11.0))
    cols.append(np.clip(rng.normal(3.5, 0.8, rows), 0.0, 7.0))
    lnl = rng.normal(500.0, 3.0, rows)
    mat = np.column_stack(cols + [lnl, lnl, np.ones(rows), np.ones(rows)])
    np.savetxt(os.path.join(run_dir, "chain_1.txt"), mat)
    with open(os.path.join(run_dir, "pars.txt"), "w") as fh:
        fh.write("\n".join(pars) + "\n")


def make_results_inputs(dest: str, seed: int, slots=RESULTS_SLOTS):
    """Write .par/.tim pairs, a paramfile and one reference-layout run dir
    (`<num>_<psr>/chain_1.txt`, `pars.txt`) per pulsar straight from the
    seed; no inference runs. -> (paramfile, pulsar names in --num order,
    pulsar names in slot order)."""
    rng = np.random.default_rng([seed, 2])
    prfile, names = _write_tree(dest, slots, 256, rng)
    out_base = os.path.join(dest, "out", "demo_1_bench")  # output_base_dir
    ordered = sorted(names)
    for name, slot in zip(names, slots):
        num = ordered.index(name)
        bks = sorted(b for b, _ in BACKEND_BANDS[: slot[1]])
        _write_chain(os.path.join(out_base, f"{num}_{name}"), name, bks,
                     slot[2], rng)
    return prfile, ordered, names
