"""F8/F9 — overlap reduction functions over pulsar-pair angles.

Reference: Hellings–Downs without auto-correlation term
(enterprise_models.py:605-612 ``hd_orf_noauto``); curve forms for
HD / monopole / dipole at results.py:138-152.

All pure column expressions over a pulsar-pair table (the J6 pair join in
analytics/optimal_statistic.py): whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hd_orf(zeta: Column) -> Column:
    """Hellings–Downs: x=(1-cos zeta)/2; 1.5*x*ln(x) - 0.25*x + 0.5.

    x is clamped to 1e-15 so coincident sky positions (zeta=0) give the
    analytic off-diagonal limit 0.5 (x*ln(x) -> 0) instead of a silent null
    from ln(0)."""
    x = F.greatest((1.0 - F.cos(zeta)) / 2.0, F.lit(1e-15))
    return 1.5 * x * F.log(x) - 0.25 * x + 0.5


def monopole_orf(zeta: Column) -> Column:  # results.py:146-148
    return F.lit(1.0) + 0.0 * zeta


def dipole_orf(zeta: Column) -> Column:  # results.py:150-152
    return F.cos(zeta)


