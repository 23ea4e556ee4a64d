"""Optimization measurement: per-query build-time vs execute-time split,
Exchange/ArrowEval node counts, and output row counts.

Usage: python scripts/opt_measure.py [out.json] [name_filter...]

Methodology mirrors bench.py (same session factory, same warm laps, same
median-of-3 timing) but splits DataFrame *construction* (driver-side py4j +
analysis cost, including any eager size-gate actions) from *execution*
(``.collect()`` on the just-built frame). Each of the 3 samples builds a
fresh frame and times the two phases of the SAME sample, so
``total_s = build_s + exec_s`` holds by construction and ``exec_s`` is pure
collect time (ADVICE r12: the old version re-built inside the exec timer,
double-counting build).

Plan node counts are anchored on the formatted-explain detail headers
(``(n) NodeName``), so each node is counted once, and shuffle exchanges
are split from broadcast/reused exchanges (ADVICE r12: ``plan.count`` on
the raw text counted tree line + detail block and conflated the three
Exchange kinds).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elevate_data_pipeline_spark.session import get_spark  # noqa: E402
from elevate_data_pipeline_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")

_NODE_RE = re.compile(r"^\(\d+\) (\w+)", re.M)


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_counts(plan: str) -> dict:
    nodes = _NODE_RE.findall(plan)
    c = lambda *names: sum(1 for n in nodes if n in names)  # noqa: E731
    return {
        "exchanges": c("Exchange"),
        "bcast_exchanges": c("BroadcastExchange"),
        "reused_exchanges": c("ReusedExchange"),
        "aqe_reads": c("AQEShuffleRead"),
        "py_nodes": c(
            "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas",
        ),
        "sort_merge_joins": c("SortMergeJoin"),
        "bcast_joins": c("BroadcastHashJoin"),
        "shuffled_hash_joins": c("ShuffledHashJoin"),
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/opt_measure.json"
    filters = sys.argv[2:]
    names = sorted(QUERIES)
    if filters:
        names = [n for n in names if any(f in n for f in filters)]

    spark = get_spark("opt-measure")
    # Same steady-state warmup discipline as bench.py.
    for name in names:
        try:
            QUERIES[name](spark, WARM_DIR).collect()
        except Exception as exc:
            raise RuntimeError(f"warm-up query {name!r} failed on {WARM_DIR}") from exc
    from pyspark.sql import functions as F

    for fname in sorted(os.listdir(SF_DIR)):
        if fname.endswith(".parquet"):
            t = spark.read.parquet(os.path.join(SF_DIR, fname))
            t.select([F.count(c) for c in t.columns]).collect()

    results = {}
    for name in names:
        try:
            plan = None
            nrows = None
            samples = []  # (build_s, exec_s) per fresh frame
            for _ in range(3):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, SF_DIR)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                samples.append((t1 - t0, t2 - t1))
                if nrows is None:
                    nrows = len(rows)
                    plan = plan_text(df)
                del rows
            samples.sort(key=lambda s: s[0] + s[1])
            build_s, exec_s = samples[1]
            results[name] = {
                "build_s": round(build_s, 3),
                "exec_s": round(exec_s, 3),
                "total_s": round(build_s + exec_s, 3),
                "rows_out": nrows,
                **plan_counts(plan),
            }
        except Exception as e:  # keep sweeping
            results[name] = {"err": repr(e)[:200]}
        sys.stderr.write(
            f"{name}: {results[name].get('total_s', 'ERR')}\n"
        )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    tot = sum(r.get("exec_s", 0) for r in results.values())
    bld = sum(r.get("build_s", 0) for r in results.values())
    print(json.dumps({"n": len(results), "exec_total": round(tot, 2),
                      "build_total": round(bld, 2), "out": out_path}))


if __name__ == "__main__":
    main()
