"""Full driver-gate simulation: run EVERY registry query on a vanilla
SparkSession at sf0.01 and compare against its DuckDB oracle with the
driver's canonicalization (order-insensitive, columns sorted by name).

Usage:  python scripts/gate_sim.py [sf_dir] [name_filter...]
        python scripts/gate_sim.py [sf_dir] --exact name [name...]
        python scripts/gate_sim.py [sf_dir] --cold-solo [name_filter...]

Prints one line per query (ok/FAIL/ERR) and a summary; exit code 1 on any
failure. This is the strongest local predictor of CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def cold_solo(sf_dir: str, only: list[str], exact: bool = False) -> int:
    """One FRESH python+JVM process per query — the worst case a driver
    gate can present (the query pays session startup, Hadoop/parquet
    first-touch, and every codegen compile alone). Prints per-query
    in-process time (the gate_sim line) plus total subprocess wall, and
    a summary line; nothing is written to disk."""
    import re
    import subprocess

    import __spark_entry__ as entry

    if exact:
        names = [n for n in sorted(entry.queries()) if n in only]
    else:
        names = [
            n for n in sorted(entry.queries())
            if not only or any(f in n for f in only)
        ]
    qtimes = []
    n_bad = 0
    for name in names:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, "--exact", name],
            capture_output=True, text=True,
        )
        wall = time.time() - t0
        m = re.search(
            rf"^{re.escape(name)}\s+([0-9.]+)s\s+(\S.*)$", proc.stdout, re.M
        )
        qtime, status = (float(m.group(1)), m.group(2).strip()) if m else (
            wall, f"NOLINE rc={proc.returncode}"
        )
        ok = proc.returncode == 0 and status.startswith("ok")
        n_bad += 0 if ok else 1
        qtimes.append(qtime)
        print(f"{name:40s} {qtime:6.2f}s query  {wall:6.2f}s wall  "
              f"{'ok' if ok else f'BAD {status[:80]}'}", flush=True)

    qs = sorted(qtimes)
    print(f"\n{len(qs)} queries; query-time max {qs[-1]:.2f}s, "
          f"p50 {qs[len(qs) // 2]:.2f}s; {n_bad} failures")
    return 1 if n_bad else 0


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument(
        # NOTE: literal default in the help string — parse_intermixed_args
        # temporarily sets positional defaults to SUPPRESS, so a
        # %(default)s placeholder here raises KeyError when -h fires
        # mid-parse (CPython bpo; reproduced on 3.11).
        "sf_dir", nargs="?", default="/root/testdata/sf0.01",
        help="testdata directory (default: /root/testdata/sf0.01)",
    )
    p.add_argument(
        "names", nargs="*",
        help="substring filters; with --exact, exact query names",
    )
    p.add_argument(
        "--exact", action="store_true",
        help="treat names as exact registry keys instead of substrings",
    )
    p.add_argument(
        "--cold-solo", action="store_true",
        help="one fresh python+JVM subprocess per query; prints the "
        "per-query times and a summary",
    )
    return p


def main() -> int:
    # intermixed: positionals may follow flags (`sf_dir --exact name ...`)
    args = _build_parser().parse_intermixed_args()
    sf_dir, only = args.sf_dir, args.names
    if args.cold_solo:
        return cold_solo(sf_dir, only, exact=args.exact)

    from pyspark.sql import SparkSession

    from oracle_util import compare, duckdb_con

    # Vanilla session: NO engine confs — exactly what the driver hands us.
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("gate-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb_con(sf_dir)

    if args.exact:
        names = [n for n in sorted(qs) if n in only]
    else:
        names = [n for n in sorted(qs) if not only or any(f in n for f in only)]
    n_ok = n_fail = n_err = 0
    failures: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                compare(df, con, oracles[name], float_tol=0.0)
                status = "ok"
            else:
                assert df.count() >= 0
                status = "ok(rows-only)"
            n_ok += 1
        except AssertionError as e:
            status = f"FAIL {str(e)[:200]}"
            n_fail += 1
            failures.append(name)
        except Exception:
            status = f"ERR {traceback.format_exc(limit=3).splitlines()[-1][:200]}"
            n_err += 1
            failures.append(name)
        print(f"{name:40s} {time.time() - t0:6.2f}s  {status}", flush=True)

    print(f"\n{n_ok} ok / {n_fail} fail / {n_err} err of {len(names)}")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
