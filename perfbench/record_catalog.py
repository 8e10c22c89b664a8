"""Record the catalog workload's expected results.

    python3 perfbench/record_catalog.py

Runs the 18 catalog queries on the committed input tables and writes
each one's row count and rounded-value digest to
``expected_catalog.json``, which every ``catalog`` run checks against.
Re-record only when a query's intended output changes.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work")
    run.prepare(work)
    os.chdir(work)
    import workloads
    from postgresml_spark.session import get_spark

    spark = get_spark("perfbench-record")
    try:
        data = workloads.stage_catalog_data(work)
        got = workloads.catalog_results(spark, data, workloads.CATALOG)
    finally:
        run.stop(spark)
    with open(workloads.CATALOG_EXPECTED, "w", encoding="utf-8") as fh:
        json.dump({q: list(v) for q, v in got.items()}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
