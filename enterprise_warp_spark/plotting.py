"""K7 — plot sinks: PNG artifacts for the results CLI.

Reference: results.py:618-658 (_make_corner_plot), :660-680
(_make_histograms), :683-700 (_make_chain_plot), :850-920 (plot_os_orf),
:922-1010 (plot_noisemarg_os). The reference renders with
matplotlib/corner/ChainConsumer; none of those are available here, so the
sink is split the way a 100 TB engine must split it anyway:

  1. Spark computes the BINNED aggregate (1D/2D histogram counts, thinned
     traces, ntile cross-correlation bins) — the only stage that touches
     the sample table, all shuffle-on-group-key, output bounded by
     bins x pars (never by sample count).
  2. The driver rasterizes that small aggregate with numpy and writes the
     PNG through the repo's own encoder (pipeline/codecs.py encode_png) —
     O(pixels), no third-party plotting dependency, fully deterministic
     (tests decode the bytes back with decode_png and check bar geometry
     against the Spark counts).

Deviations from the reference renderer, by necessity: fixed deterministic
bin counts instead of astropy's data-driven 'knuth'/'blocks' rules
(plot_noisemarg_os), a 5x7 bitmap font instead of TeX labels, and dashed
curves drawn as alternating segments. Layout (tile grid, per-model corner
split, symmetric ORF y-limits, axvline styles) follows the reference.
"""

from __future__ import annotations

import os

import numpy as np

# ---------------------------------------------------------------------------
# rasterizer
# ---------------------------------------------------------------------------

WHITE = (255, 255, 255)
BLACK = (0, 0, 0)
BLUE = (70, 110, 180)  # histogram bars
GRAY = (120, 120, 120)
RED = (214, 39, 40)  # matplotlib C3 — hd
GREEN = (44, 160, 44)  # C2 — dipole
C0 = (31, 119, 180)  # C0 — monopole
ORF_COLORS = {"hd": RED, "dipole": GREEN, "monopole": C0}

# 5x7 bitmap font (rows of 5-bit ints, MSB = leftmost pixel). Lowercase is
# rendered with the uppercase glyph; unknown characters render as a box.
_FONT = {
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x19, 0x15, 0x13, 0x11, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "_": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x1F),
    "-": (0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00),
    "+": (0x00, 0x04, 0x04, 0x1F, 0x04, 0x04, 0x00),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ",": (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    ":": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
    "(": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02),
    ")": (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08),
    "/": (0x01, 0x01, 0x02, 0x04, 0x08, 0x10, 0x10),
    "=": (0x00, 0x00, 0x1F, 0x00, 0x1F, 0x00, 0x00),
    " ": (0x00,) * 7,
}
_BOX = (0x1F, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1F)


class Canvas:
    """White RGB canvas with integer-pixel drawing primitives."""

    def __init__(self, width: int, height: int):
        self.w, self.h = int(width), int(height)
        self.img = np.full((self.h, self.w, 3), 255, dtype=np.uint8)

    # -- primitives ---------------------------------------------------------
    def fill_rect(self, x0, y0, x1, y1, color):
        x0, x1 = sorted((int(x0), int(x1)))
        y0, y1 = sorted((int(y0), int(y1)))
        x0, y0 = max(x0, 0), max(y0, 0)
        x1, y1 = min(x1, self.w - 1), min(y1, self.h - 1)
        if x1 >= x0 and y1 >= y0:
            self.img[y0 : y1 + 1, x0 : x1 + 1] = color

    def line(self, x0, y0, x1, y1, color):
        n = int(max(abs(x1 - x0), abs(y1 - y0))) + 1
        xs = np.rint(np.linspace(x0, x1, n)).astype(int)
        ys = np.rint(np.linspace(y0, y1, n)).astype(int)
        ok = (xs >= 0) & (xs < self.w) & (ys >= 0) & (ys < self.h)
        self.img[ys[ok], xs[ok]] = color

    def polyline(self, xs, ys, color, dashed: bool = False):
        for k in range(len(xs) - 1):
            if dashed and k % 2:
                continue
            self.line(xs[k], ys[k], xs[k + 1], ys[k + 1], color)

    def text(self, x, y, s, color=BLACK):
        """5x7 glyphs at (x, y) = top-left; 6 px advance."""
        cx = int(x)
        for ch in str(s):
            rows = _FONT.get(ch.upper(), _BOX)
            for ry, bits in enumerate(rows):
                for rx in range(5):
                    if bits & (1 << (4 - rx)):
                        px, py = cx + rx, int(y) + ry
                        if 0 <= px < self.w and 0 <= py < self.h:
                            self.img[py, px] = color
            cx += 6

    def frame(self, x0, y0, x1, y1, color=BLACK):
        self.line(x0, y0, x1, y0, color)
        self.line(x0, y1, x1, y1, color)
        self.line(x0, y0, x0, y1, color)
        self.line(x1, y0, x1, y1, color)

    def save(self, path: str) -> str:
        from enterprise_warp_spark.pipeline.codecs import encode_png

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(encode_png(self.img))
        return path


def tile_grid(n_pars: int) -> tuple[int, int]:
    """Reference tiling (results.py:663-665): x_tiles = floor(sqrt(P)) rows,
    y_tiles = ceil(P / x_tiles) columns."""
    x_tiles = max(int(np.floor(n_pars**0.5)), 1)
    y_tiles = int(np.ceil(n_pars / x_tiles))
    return x_tiles, y_tiles


# deterministic subplot geometry shared by renderer and tests
SUB_W, SUB_H = 260, 190
MARGIN_L, MARGIN_R, MARGIN_T, MARGIN_B = 34, 8, 14, 26


def bar_geometry(plot_w: int, plot_h: int, counts) -> list[tuple[int, int, int]]:
    """(x_off_lo, x_off_hi, bar_px_height) per bin inside a plot area —
    shared by render and tests so geometry is pinned, not eyeballed."""
    counts = np.asarray(counts, dtype=float)
    m = counts.max() if counts.size and counts.max() > 0 else 1.0
    nb = len(counts)
    out = []
    for k in range(nb):
        xl = int(np.floor(k * plot_w / nb))
        xr = max(int(np.floor((k + 1) * plot_w / nb)) - 1, xl)
        hpx = int(np.rint(counts[k] / m * (plot_h - 1)))
        out.append((xl, xr, hpx))
    return out


def _draw_hist_panel(cv: Canvas, ox: int, oy: int, counts, label: str,
                     color=BLUE, truth_frac: float | None = None):
    """One histogram subplot with top-left origin (ox, oy)."""
    px0, py0 = ox + MARGIN_L, oy + MARGIN_T
    px1, py1 = ox + SUB_W - MARGIN_R, oy + SUB_H - MARGIN_B
    # bars live strictly INSIDE the frame so the frame never overwrites
    # bar pixels — the test asserts exact bar heights
    pw, ph = px1 - px0 - 1, py1 - py0 - 1
    for xl, xr, hpx in bar_geometry(pw, ph, counts):
        if hpx > 0:
            cv.fill_rect(px0 + 1 + xl, py1 - hpx, px0 + 1 + xr, py1 - 1, color)
    if truth_frac is not None and 0.0 <= truth_frac <= 1.0:
        tx = px0 + 1 + int(np.rint(truth_frac * (pw - 1)))
        cv.line(tx, py0 + 1, tx, py1 - 1, RED)
    cv.frame(px0, py0, px1, py1)
    cv.text(ox + MARGIN_L, oy + 2, label[: (SUB_W - MARGIN_L) // 6])


def _draw_trace_panel(cv: Canvas, ox: int, oy: int, values, label: str):
    px0, py0 = ox + MARGIN_L, oy + MARGIN_T
    px1, py1 = ox + SUB_W - MARGIN_R, oy + SUB_H - MARGIN_B
    v = np.asarray(values, dtype=float)
    lo, hi = float(v.min()), float(v.max())
    span = (hi - lo) or 1.0
    xs = px0 + np.rint(np.linspace(0, px1 - px0 - 1, len(v))).astype(int)
    ys = py1 - 1 - np.rint((v - lo) / span * (py1 - py0 - 2)).astype(int)
    cv.polyline(xs, ys, BLUE)
    cv.frame(px0, py0, px1, py1)
    cv.text(ox + MARGIN_L, oy + 2, label[: (SUB_W - MARGIN_L) // 6])


# ---------------------------------------------------------------------------
# Spark-side feeding aggregations (distributed; outputs bounded by bins)
# ---------------------------------------------------------------------------


def pair_histograms_2d(chains_long, pars: list[str], bins: int = 30,
                       model: float | None = None,
                       bounds: dict[str, tuple[float, float]] | None = None):
    """2D histogram counts for every parameter pair in ONE shuffle:
    pivot long->wide on (run_id, step), bucketize each parameter against
    its (lo, hi) range, explode the P(P-1)/2 pair structs per row, and
    count by (pair, bx, by). `bounds`, each parameter's (min, max) over
    the rows counted (par_stats' lo, hi), saves the job that collects them.

    At cluster scale this is the corner-plot contract: O(n * P^2) explode
    rows, one hash aggregation keyed by pair x bins^2 (bounded output).
    ``model`` filters rounded nmodel first (reference model_mask,
    results.py:622-627).

    P is bounded loudly: the explode factor is P(P-1)/2 per sample row and
    a corner plot beyond ~40 parameters is unreadable anyway — slice the
    parameter list (-p) instead of paying a 100x row blow-up."""
    from pyspark.sql import functions as F

    if len(pars) > 40:
        raise ValueError(
            f"corner over {len(pars)} parameters explodes "
            f"{len(pars) * (len(pars) - 1) // 2} pairs per sample row; "
            "select <= 40 parameters (the -p filter)"
        )

    wide = (
        chains_long.groupBy("run_id", "step")
        .pivot("par", pars)
        .agg(F.first("value"))
    )
    if model is not None and "nmodel" in pars:
        wide = wide.filter(F.round(F.col("`nmodel`")) == float(model))
    if bounds is None:
        cols = [F.col(f"`{p}`") for p in pars]
        bounds = dict(zip(pars, wide.agg(
            *[F.array(F.min(c), F.max(c)) for c in cols]).first()))
    edges = {p: (float(bounds[p][0]), float(bounds[p][1])) for p in pars}
    bucket_cols = []
    for i, p in enumerate(pars):
        lo, hi = edges[p]
        c = F.col(f"`{p}`")
        if hi == lo:
            b = F.lit(0).cast("int")
        else:
            b = F.least(
                F.floor((c - F.lit(lo)) / F.lit((hi - lo) / bins)),
                F.lit(bins - 1),
            ).cast("int")
        bucket_cols.append(b.alias(f"b_{i}"))
    bucketed = wide.select("run_id", *bucket_cols)
    pair_structs = [
        F.struct(
            F.lit(f"{pars[i]}|{pars[j]}").alias("pair"),
            F.col(f"b_{i}").alias("bx"),
            F.col(f"b_{j}").alias("by"),
        )
        for i in range(len(pars))
        for j in range(i + 1, len(pars))
    ]
    if not pair_structs:
        return None, edges
    counts = (
        bucketed.select(
            "run_id", F.explode(F.array(*pair_structs)).alias("s")
        )
        .select("run_id", "s.pair", "s.bx", "s.by")
        .groupBy("run_id", "pair", "bx", "by")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts, edges


def thinned_traces(chains_long, max_points: int = 200):
    """Reference thinning (results.py:686-693): one stride per run so every
    parameter keeps <= max_points samples; stride filter runs distributed,
    only the thinned points are collected."""
    from pyspark.sql import functions as F

    n = chains_long.groupBy("run_id").agg(
        (F.max("step") + 1).alias("n_steps")
    )
    stride = n.select(
        "run_id",
        F.greatest(F.floor(F.col("n_steps") / max_points), F.lit(1)).alias(
            "stride"
        ),
    )
    return (
        chains_long.join(F.broadcast(stride), "run_id")
        .filter(F.col("step") % F.col("stride") == 0)
        .select("run_id", "par", "step", "value")
    )


# ---------------------------------------------------------------------------
# PNG plot sinks (driver-side over collected BINNED aggregates)
# ---------------------------------------------------------------------------


def _single_run(rows, what: str):
    """The per-run plot functions must not silently merge runs: each run
    has its own bin edges, so cross-run count merging would be wrong."""
    runs = {r["run_id"] for r in rows}
    if len(runs) > 1:
        raise ValueError(
            f"{what} renders ONE run per figure; got {sorted(runs)} — "
            "filter chains_long to a single run_id first"
        )


def make_histogram_grid(chains_long, out_path: str, bins: int = 50) -> str:
    """_make_histograms (results.py:660-680): tiled per-parameter
    histograms; Spark bins, the driver rasterizes bins x P cells."""
    from enterprise_warp_spark.operators.binning import grouped_histogram

    rows = grouped_histogram(
        chains_long, ["run_id", "par"], "value", bins=bins
    ).collect()
    _single_run(rows, "make_histogram_grid")
    by_par: dict[str, np.ndarray] = {}
    for r in rows:
        arr = by_par.setdefault(r["par"], np.zeros(bins))
        arr[int(r["bucket"])] += r["cnt"]
    pars = sorted(by_par)
    xt, yt = tile_grid(len(pars))
    cv = Canvas(yt * SUB_W, xt * SUB_H)
    for k, p in enumerate(pars):
        ox, oy = (k % yt) * SUB_W, (k // yt) * SUB_H
        _draw_hist_panel(cv, ox, oy, by_par[p], p)
    return cv.save(out_path)


def make_chain_trace_grid(chains_long, out_path: str,
                          max_points: int = 200) -> str:
    """_make_chain_plot (results.py:683-700): thinned sample traces."""
    rows = thinned_traces(chains_long, max_points).collect()
    _single_run(rows, "make_chain_trace_grid")
    by_par: dict[str, list] = {}
    for r in rows:
        by_par.setdefault(r["par"], []).append((r["step"], r["value"]))
    pars = sorted(by_par)
    xt, yt = tile_grid(len(pars))
    cv = Canvas(yt * SUB_W, xt * SUB_H)
    for k, p in enumerate(pars):
        ox, oy = (k % yt) * SUB_W, (k // yt) * SUB_H
        vals = [v for _, v in sorted(by_par[p])]
        _draw_trace_panel(cv, ox, oy, vals, p)
    return cv.save(out_path)


def make_corner_plot(chains_long, pars: list[str], out_path: str,
                     bins: int = 30, model: float | None = None,
                     truths: dict[str, float] | None = None,
                     bounds: dict | None = None) -> str | None:
    """_make_corner_plot (results.py:618-658): P x P lower-triangle corner —
    1D histograms on the diagonal, 2D count heatmaps below, optional truth
    lines. All counting is the one-shuffle pair_histograms_2d plan
    (`bounds` as there)."""
    from pyspark.sql import functions as F

    counts, edges = pair_histograms_2d(chains_long, pars, bins, model, bounds)
    rows = counts.collect() if counts is not None else []
    _single_run(rows, "make_corner_plot")
    # diagonal 1D hists from the same bucket edges so panels line up
    h2d: dict[str, np.ndarray] = {}
    h1d: dict[str, np.ndarray] = {p: np.zeros(bins) for p in pars}
    for r in rows:
        h2d.setdefault(r["pair"], np.zeros((bins, bins)))[
            int(r["bx"]), int(r["by"])
        ] += r["cnt"]
    # diagonal marginals from any joint that contains the parameter —
    # every sample lands exactly once per pair, so the axis-sum IS the
    # 1D histogram on the same bucket edges
    seen: set[str] = set()
    for pair, m in sorted(h2d.items()):
        a, b = pair.split("|")
        if a not in seen:
            h1d[a] = m.sum(axis=1)
            seen.add(a)
        if b not in seen:
            h1d[b] = m.sum(axis=0)
            seen.add(b)
    if len(pars) == 1:
        # single parameter: fall back to a grouped 1D histogram
        from enterprise_warp_spark.operators.binning import grouped_histogram

        for r in grouped_histogram(
            chains_long.filter(F.col("par") == pars[0]),
            ["par"], "value", bins=bins,
        ).collect():
            h1d[pars[0]][int(r["bucket"])] += r["cnt"]
    cell, gap = 130, 4
    p_count = len(pars)
    size = p_count * (cell + gap) + gap + 40
    cv = Canvas(size, size)
    for i, p in enumerate(pars):  # rows
        for j in range(i + 1):  # cols, lower triangle
            ox = gap + 36 + j * (cell + gap)
            oy = gap + i * (cell + gap)
            if i == j:
                for xl, xr, hpx in bar_geometry(cell - 2, cell - 2, h1d[p]):
                    if hpx > 0:
                        cv.fill_rect(ox + 1 + xl, oy + cell - 1 - hpx,
                                     ox + 1 + xr, oy + cell - 2, BLUE)
                if truths and p in truths:
                    lo, hi = edges[p]
                    if hi > lo:
                        frac = (truths[p] - lo) / (hi - lo)
                        if 0.0 <= frac <= 1.0:
                            tx = ox + 1 + int(np.rint(frac * (cell - 3)))
                            cv.line(tx, oy + 1, tx, oy + cell - 2, RED)
            else:
                key = f"{pars[j]}|{pars[i]}"
                m2 = h2d.get(key)
                if m2 is not None and m2.max() > 0:
                    shade = 255 - np.rint(m2 / m2.max() * 220).astype(int)
                    px = cell - 2
                    for bx in range(bins):
                        xl = int(np.floor(bx * px / bins))
                        xr = max(int(np.floor((bx + 1) * px / bins)) - 1, xl)
                        for by in range(bins):
                            if m2[bx, by] == 0:
                                continue
                            yl = int(np.floor(by * px / bins))
                            yr = max(int(np.floor((by + 1) * px / bins)) - 1, yl)
                            g = int(shade[bx, by])
                            cv.fill_rect(ox + 1 + xl, oy + cell - 2 - yr,
                                         ox + 1 + xr, oy + cell - 2 - yl,
                                         (g, g, g))
            cv.frame(ox, oy, ox + cell - 1, oy + cell - 1)
        cv.text(2, gap + i * (cell + gap) + cell // 2 - 3, p[:5])
        cv.text(gap + 36 + i * (cell + gap), size - 38, p[: cell // 6])
    return cv.save(out_path)


def _orf_curves_np(zeta: np.ndarray) -> dict[str, np.ndarray]:
    """numpy twins of functions/orf.py column forms (results.py:138-152)."""
    x = np.maximum((1.0 - np.cos(zeta)) / 2.0, 1e-15)
    return {
        "hd": 1.5 * x * np.log(x) - 0.25 * x + 0.5,
        "monopole": np.ones_like(zeta),
        "dipole": np.cos(zeta),
    }


def make_os_orf_plot(os_results: dict, out_path: str) -> str:
    """plot_os_orf (results.py:850-920): binned cross-correlation errorbars
    (first ORF's binning) + each ORF's curve scaled by its a2_hat, symmetric
    y-limits. ``os_results`` is run_optimal_statistic's {orf: {'os','binned'}}
    dict of DataFrames; only the <=8-row binned aggregates are collected."""
    orfs = list(os_results)
    first = os_results[orfs[0]]
    binned = first["binned"].collect()
    a2 = {o: float(os_results[o]["os"].first()["a2_hat"]) for o in orfs}
    W, H = 650, 400
    L, R, T, B = 60, 15, 12, 40
    cv = Canvas(W, H)
    # null weighted stats (a bin whose sigmas were all zero) render at 0
    xi = np.array([r["xi_mean"] for r in binned], dtype=float)
    rho = np.array([r["wavg"] or 0.0 for r in binned], dtype=float)
    sig = np.array([r["werr"] or 0.0 for r in binned], dtype=float)
    xerr = np.array([
        (r["xi_std"] if r["xi_std"] is not None else 0.0) for r in binned
    ])
    zeta = np.linspace(0.001, np.pi, 200)
    curves = _orf_curves_np(zeta)
    m = max(
        float(np.max(np.abs(rho) + sig)) if len(rho) else 0.0,
        max(float(np.max(np.abs(a2[o] * curves[o]))) for o in orfs if o in curves),
    ) or 1.0

    def X(v):
        return L + np.rint(np.asarray(v) / np.pi * (W - L - R - 1)).astype(int)

    def Y(v):
        return T + np.rint((m - np.asarray(v)) / (2 * m) * (H - T - B - 1)).astype(int)

    cv.line(L, int(Y(0.0)), W - R, int(Y(0.0)), (200, 200, 200))
    for o in orfs:
        if o in curves:
            cv.polyline(X(zeta), Y(a2[o] * curves[o]), ORF_COLORS.get(o, GRAY),
                        dashed=True)
    for k in range(len(xi)):
        x, y = int(X(xi[k])), int(Y(rho[k]))
        cv.line(x, int(Y(rho[k] - sig[k])), x, int(Y(rho[k] + sig[k])), BLACK)
        cv.line(x - 4, int(Y(rho[k] - sig[k])), x + 4, int(Y(rho[k] - sig[k])), BLACK)
        cv.line(x - 4, int(Y(rho[k] + sig[k])), x + 4, int(Y(rho[k] + sig[k])), BLACK)
        if xerr[k] > 0:
            cv.line(int(X(xi[k] - xerr[k])), y, int(X(xi[k] + xerr[k])), y, BLACK)
        cv.fill_rect(x - 2, y - 2, x + 2, y + 2, BLACK)
    cv.frame(L, T, W - R, H - B)
    cv.text(W // 2 - 30, H - 14, "ZETA (RAD)")
    cv.text(4, T, "A2*ORF")
    return cv.save(out_path)


def make_noisemarg_os_plots(os_results: dict, snr_path: str,
                            a2_path: str, bins: int = 30) -> list[str]:
    """plot_noisemarg_os (results.py:922-1010): step histograms of the
    noise-marginalised OS draws — SNR panel and A^2 panel, with dashed
    (marginalised mean) and dash-dot (fixed-noise OS) vlines per ORF.
    Binning runs IN SPARK (grouped_histogram over the per-draw frame);
    deterministic fixed bins replace astropy's knuth/blocks rules."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.binning import grouped_histogram

    panels = {"snr": [], "a2": []}
    vlines = {"snr": [], "a2": []}
    for orf, r in os_results.items():
        marg = r.get("marginalised")
        if marg is None:
            continue
        per = marg.select(
            F.lit(orf).alias("orf"),
            (F.col("a2_hat") / F.col("sig_os")).alias("snr"),
            F.col("a2_hat").alias("a2"),
        ).persist()
        row = r["os"].first()  # hoisted: one OS evaluation per ORF
        for key in ("snr", "a2"):
            hist = grouped_histogram(per, ["orf"], key, bins=bins).collect()
            mean = per.agg(F.avg(key)).first()[0]
            panels[key].append((orf, hist))
            fixed = (row["a2_hat"] / row["sig_os"]) if key == "snr" else row["a2_hat"]
            vlines[key].append((orf, float(mean), float(fixed)))
        per.unpersist()
    out = []
    for key, path in (("snr", snr_path), ("a2", a2_path)):
        if not panels[key]:
            continue
        W, H = 650, 400
        L, R, T, B = 60, 15, 12, 40
        cv = Canvas(W, H)
        lo = min(float(h[0]["lo"]) for _, h in panels[key] if h)
        hi = max(float(h[0]["hi"]) for _, h in panels[key] if h)
        span = (hi - lo) or 1.0
        maxn = max(max(r["cnt"] for r in h) for _, h in panels[key] if h) or 1

        def X(v):
            return L + int(np.rint((v - lo) / span * (W - L - R - 1)))

        def Y(n):
            return T + int(np.rint((1.0 - n / maxn) * (H - T - B - 1)))

        for orf, hist in panels[key]:
            color = ORF_COLORS.get(orf, GRAY)
            counts = np.zeros(bins)
            e_lo, e_hi = float(hist[0]["lo"]), float(hist[0]["hi"])
            for r in hist:
                counts[int(r["bucket"])] = r["cnt"]
            width = (e_hi - e_lo) / bins if e_hi > e_lo else span / bins
            prev_y = Y(0)
            for k in range(bins):
                x0, x1 = X(e_lo + k * width), X(e_lo + (k + 1) * width)
                y = Y(counts[k])
                cv.line(x0, prev_y, x0, y, color)  # step up/down
                cv.line(x0, y, x1, y, color)
                prev_y = y
            cv.line(X(e_hi), prev_y, X(e_hi), Y(0), color)
        for orf, mean, fixed in vlines[key]:
            color = ORF_COLORS.get(orf, GRAY)
            xm, xf = X(mean), X(fixed)
            for yy in range(T, H - B, 6):  # dashed
                cv.line(xm, yy, xm, min(yy + 3, H - B), color)
            for yy in range(T, H - B, 8):  # dash-dot
                cv.line(xf, yy, xf, min(yy + 4, H - B), color)
                if yy + 6 < H - B:
                    cv.line(xf, yy + 6, xf, yy + 6, color)
        cv.frame(L, T, W - R, H - B)
        cv.text(W // 2 - 15, H - 14, key.upper())
        cv.text(4, T, "DENSITY")
        out.append(cv.save(path))
    return out
