"""Regenerate ``expected.json``: the output digests the benchmark checks.

Each registry query the benchmark runs is computed once by its DuckDB
oracle (``queries.ORACLES``) and once in Spark, over the benchmark's
fixed input tables. The oracle digests are written, with the
fingerprint of those tables, only when Spark agrees with every one of
them; on a mismatch the script exits 1 and leaves ``expected.json``
as it was. Running the oracles in every
benchmark run would cost more than the runs themselves, so ``run.py``
compares against these digests instead.

    python3 perfbench/make_expected.py

Run it from the repository root after changing the tables in
``inputs.py`` or the list of operations in ``workloads.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    from elevate_data_pipeline_spark.queries import ORACLES, QUERIES
    from elevate_data_pipeline_spark.session import get_spark

    oracle_util = check.load_oracle_util()
    work = os.path.join(ROOT, ".perfbench-work", "expected")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    fingerprint = inputs.write_tables(data)
    con = oracle_util.duckdb_con(data)
    digests = {}
    for name in workloads.registry_names():
        t0 = time.perf_counter()
        digests[name] = check.duckdb_digest(con, ORACLES[name])
        print(f"{name}: {digests[name]['rows']} rows, oracle "
              f"{time.perf_counter() - t0:.2f}s", file=sys.stderr)

    bad = []
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench-expected")
    try:
        for name, want in digests.items():
            df = QUERIES[name](spark, data)
            got = check.digest(df.columns, df.collect())
            if got != want:
                bad.append(name)
                print(f"MISMATCH {name}: spark {got} oracle {want}", file=sys.stderr)
    finally:
        spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("expected.json left unchanged", file=sys.stderr)
        return 1

    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"tables_sha256": fingerprint, "digests": digests}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
