"""Relational operator library (SURVEY.md §2.2–2.5).

Each function is a thin declarative DataFrame builder: it adds no custom
execution, so Catalyst keeps predicate pushdown, column pruning and join
selection. Functions cite the reference behavior they reproduce
(`/root/reference/enterprise_warp/...`).
"""

from enterprise_warp_spark.operators.relational import (  # noqa: F401
    burnin_filter,
    census,
    credible_levels,
    log_bayes_factors,
    model_counts,
    thin,
    tspan,
)
from enterprise_warp_spark.operators.binning import (  # noqa: F401
    histogram_mode,
    ntile_bins,
)
from enterprise_warp_spark.operators.weighted import weighted_mean  # noqa: F401
