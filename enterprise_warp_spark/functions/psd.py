"""F1–F4 — power spectral density models as column expressions.

Reference forms:
  powerlaw        A^2/(12 pi^2) fyr^-3 (f/fyr)^-gamma * df
                  (libstempo_warp.py:6-8; used enterprise_models.py:212-420)
  broken powerlaw ((f+fc)/fyr)^-gamma, fc<0 => fc:=10^fc
                  (enterprise_models.py:593-603 powerlaw_bpl)
  free spectrum   10^(2*log10_rho_k) per frequency (enterprise_models.py:421-426)
  lorentzian      P/(1+(f/fc)^2)^(alpha/2) (libstempo_warp.py:17-18)

The frequencies are the k/Tspan grid (k = 1..nfreqs) the GP kernel builds
its Fourier basis on; these exprs evaluate JVM-side per (frequency, sample)
row.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

FYR = 1.0 / (365.25 * 86400.0)  # 1/yr in Hz


def powerlaw_psd(f: Column, log10_A: Column, gamma: Column, df: Column) -> Column:
    a2 = F.pow(F.lit(10.0), 2.0 * log10_A)
    norm = 1.0 / (12.0 * math.pi**2) * FYR ** (-3.0)
    return a2 * norm * F.pow(f / F.lit(FYR), -gamma) * df


def broken_powerlaw_psd(
    f: Column, log10_A: Column, gamma: Column, fc: Column, df: Column
) -> Column:
    fc = F.when(fc < 0, F.pow(F.lit(10.0), fc)).otherwise(fc)
    a2 = F.pow(F.lit(10.0), 2.0 * log10_A)
    norm = 1.0 / (12.0 * math.pi**2) * FYR ** (-3.0)
    return a2 * norm * F.pow((f + fc) / F.lit(FYR), -gamma) * df


def free_spectrum_psd(log10_rho_k: Column) -> Column:
    return F.pow(F.lit(10.0), 2.0 * log10_rho_k)


def lorentzian_psd(f: Column, p: Column, fc: Column, alpha: Column) -> Column:
    return p / F.pow(1.0 + F.pow(f / fc, 2.0), alpha / 2.0)
