"""Deterministic column math — the reference's numerical 'scalar functions'
(SURVEY.md §2.6), expressed as Catalyst expressions so they stay inside
whole-stage codegen (no Python in the hot path)."""

from enterprise_warp_spark.functions.orf import dipole_orf, hd_orf, monopole_orf  # noqa: F401
from enterprise_warp_spark.functions.psd import (  # noqa: F401
    broken_powerlaw_psd,
    free_spectrum_psd,
    lorentzian_psd,
    powerlaw_psd,
)
