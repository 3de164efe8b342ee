"""Full-registry oracle sweep: every registered query vs its DuckDB
oracle, value-hash compared after the driver's canonicalization
(tests/parity.py), in one warm ``get_spark`` session. Scale defaults to
sf0.1 (10× the fixture); ``SPARK_GRAFT_SF_DIR`` picks another. Exit
nonzero on any mismatch.

    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 python3 tools/full_sweep.py"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from dariadb_spark.registry import REGISTRY  # noqa: E402
from dariadb_spark.session import get_spark  # noqa: E402
from tests.parity import compare  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dariadb-full-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem"
              " events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    t0 = time.perf_counter()
    bad, n = [], 0
    for name, spec in REGISTRY.items():
        n += 1
        try:
            res = compare(name, spec.fn(spark, sf_dir), con, spec.oracle)
            if not res.ok:
                bad.append((name, res.problems[:2]))
        except Exception as exc:  # noqa: BLE001 — sweep must report, not die
            bad.append((name, [f"error: {exc}"[:200]]))
        if n % 25 == 0:
            print(f"  …{n}/{len(REGISTRY)}", file=sys.stderr)
    wall = time.perf_counter() - t0
    print(json.dumps({
        "metric": "full_registry_sweep",
        "sf_dir": sf_dir,
        "n": len(REGISTRY),
        "hash_match": len(REGISTRY) - len(bad),
        "mismatches": bad,
        "wall_sec": round(wall, 1),
    }))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
