#!/usr/bin/env python3
"""Record the DuckDB oracle digest of every catalog entry the benchmark runs.

    python3 perfbench/record_digests.py

Runs each entry's oracle SQL in DuckDB over the benchmark's own copy of the
tables and writes (rows, sha256 of the oracle-normalised frame) per entry to
catalog_digests.json. The catalog workload compares each collected Spark
result against these. Rerun only when the tables or an entry's oracle change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> int:
    import duckdb

    from enterprise_warp_spark.queries import REGISTRY
    from perfbench.workloads import (
        CATALOG_DATA,
        CATALOG_DIGESTS,
        CATALOG_TIMED,
        CATALOG_WARMUP,
        frame_digest,
    )

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{CATALOG_DATA}/{t}.parquet'")
    digests = {}
    for name in (CATALOG_WARMUP,) + tuple(CATALOG_TIMED):
        if name in REGISTRY:
            digests[name] = list(frame_digest(con.sql(REGISTRY[name].oracle).df()))
    con.close()
    with open(CATALOG_DIGESTS, "w") as fh:
        json.dump({"duckdb": duckdb.__version__, "data": "data/sf0.001",
                   "digests": digests}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(digests)} digests -> {CATALOG_DIGESTS}")
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT
    sys.exit(main())
