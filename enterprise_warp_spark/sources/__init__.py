"""Reference-format sources (SURVEY §2.1): .tim TOA tables, .par timing-model
parameters, PAL2 noise-file JSON, whitespace chain matrices.

All implemented as spark.read.text + expression parsing (no Python row
loops), so the scans scale and Catalyst prunes/pushes down as usual.
"""

from enterprise_warp_spark.sources.tim import read_tim  # noqa: F401
from enterprise_warp_spark.sources.par import read_par  # noqa: F401
from enterprise_warp_spark.sources.noisefiles import read_noise_files  # noqa: F401
