"""Local-vs-distributed correctness of the driver-local tiers on corpora
larger than the committed testdata (see docs/LOCAL_TIERS.md).

The committed testdata tops out at 5,000 documents (sf0.1), so the
20k-150k-document behaviour of the tiered operators is never exercised by
the suite. ``gen`` writes synthetic corpora with the generator
distribution of the testdata documents (31-word vocab: 30 uniform words
plus a rare 'dup', doc length uniform 10..100 words, 20 sources,
en-weighted lang). ``verify`` runs each tiered query both ways (gate
forced huge = local tier, gate forced -1 = distributed chain): a DuckDB
oracle compare where the output is collectable, and Spark ``exceptAll``
bit-equality of local against distributed where it is not.

Usage:
  python scripts/tier_crossover.py gen               # write corpora to /tmp
  python scripts/tier_crossover.py verify [family]   # oracle + bit-equality
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

BASE = "/tmp/tier_crossover"

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.40, 0.15, 0.15, 0.15, 0.15]

DOC_SIZES = [20_000, 50_000, 150_000]  # the corpora verify reads

# family -> (gate module path, gate attr)
GATES = {
    "pipelines": ("elevate_data_pipeline_spark.pipelines", "_PIPELINE_LOCAL_MAX_ROWS"),
    "spans": ("elevate_data_pipeline_spark.operators.dedup", "_SPANS_LOCAL_MAX_ROWS"),
    "suffix": ("elevate_data_pipeline_spark.operators.suffix", "_SA_LOCAL_MAX_ROWS"),
    "bloom": ("elevate_data_pipeline_spark.operators.decontam", "_BLOOM_LOCAL_MAX_ROWS"),
    "snm": ("elevate_data_pipeline_spark.operators.dedup", "_SNM_LOCAL_MAX_ROWS"),
}


def docs_dir(n: int) -> str:
    return os.path.join(BASE, f"docs_{n}")


def gen() -> None:
    """Deterministic corpora, one parquet dir per size (the footer gate
    counts rows per directory)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(BASE, exist_ok=True)
    nmax = max(DOC_SIZES)
    rng = np.random.default_rng(4242)
    lens = rng.integers(10, 101, size=nmax)
    # 30 uniform words + rare 'dup' (~0.1% of tokens, as in testdata)
    texts = []
    for L in lens:
        idx = rng.integers(0, 30, size=L)
        words = [VOCAB[i] for i in idx]
        if rng.random() < 0.05:
            words[int(rng.integers(0, L))] = "dup"
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=nmax, p=LANG_W)
    srcs = [f"src{int(i)}" for i in rng.integers(0, 20, size=nmax)]
    for n in DOC_SIZES:
        d = docs_dir(n)
        if os.path.isdir(d) and os.listdir(d):
            continue
        os.makedirs(d, exist_ok=True)
        tbl = pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts[:n],
            "lang": langs[:n].tolist(),
            "source": srcs[:n],
            "n_chars": pa.array([len(t) for t in texts[:n]], pa.int64()),
        })
        pq.write_table(tbl, os.path.join(d, "documents.parquet"))
        print("wrote", d, n)


def _gate(mod_path: str, attr: str, value: int):
    import importlib

    mod = importlib.import_module(mod_path)
    old = getattr(mod, attr)
    setattr(mod, attr, value)
    return mod, attr, old


def verify(only: list[str] | None = None) -> int:
    """Correctness on the LARGEST corpus per family: DuckDB oracle for
    collectable outputs, Spark exceptAll bit-equality local-vs-dist
    for the rest."""
    from elevate_data_pipeline_spark.session import get_spark
    from oracle_util import compare, duckdb_con

    import __spark_entry__ as entry

    spark = get_spark("tier-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []

    # oracle-compare: modest outputs (one row per doc / per pair window)
    oracle_checks = [
        ("bloom", "decontam_bloom", docs_dir(150_000)),
        # the block-dedup oracle is superlinear in DuckDB (32 s @ 20k,
        # ~30 min @ 150k) — oracle at 50k, exceptAll bit-equality at 150k
        ("pipelines", "pretraining_corpus", docs_dir(50_000)),
        ("snm", "dedup_sorted_neighborhood", docs_dir(20_000)),
    ]
    if only:
        oracle_checks = [c for c in oracle_checks if c[0] in only]
    # duckdb_con registers every testdata table — symlink the ones the
    # corpus dirs don't carry from sf0.01
    for _, _, sf_dir in oracle_checks:
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            dst = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(f"/root/testdata/sf0.01/{t}.parquet", dst)

    for fam, qname, sf_dir in oracle_checks:
        mod_path, attr = GATES[fam]
        for tier, gate_val in (("local", 1 << 40), ("distributed", -1)):
            mod, a, old = _gate(mod_path, attr, gate_val)
            try:
                con = duckdb_con(sf_dir)
                compare(qs[qname](spark, sf_dir), con, oracles[qname])
                print(f"oracle {qname} [{tier}] @ {sf_dir}: ok", flush=True)
            except Exception as exc:
                failures.append(f"{qname}[{tier}]: {exc}")
                print(f"oracle {qname} [{tier}]: FAIL {exc}", flush=True)
            finally:
                setattr(mod, a, old)

    # bit-equality local vs distributed for the big-output tiers
    eq_checks = [
        ("suffix", "dedup_suffix_array", docs_dir(150_000)),
        ("spans", "dedup_substring_spans", docs_dir(150_000)),
        ("pipelines", "pretraining_corpus", docs_dir(150_000)),
    ]
    if only:
        eq_checks = [c for c in eq_checks if c[0] in only]
    for fam, qname, sf_dir in eq_checks:
        mod_path, attr = GATES[fam]
        mod, a, old = _gate(mod_path, attr, 1 << 40)
        try:
            loc = qs[qname](spark, sf_dir)
        finally:
            setattr(mod, a, old)
        mod, a, old = _gate(mod_path, attr, -1)
        try:
            dist = qs[qname](spark, sf_dir)
            d1 = loc.exceptAll(dist).count()
            d2 = dist.exceptAll(loc).count()
            ok = d1 == 0 and d2 == 0
            print(f"bit-equality {qname} @ {sf_dir}: "
                  f"{'ok' if ok else f'DIFF {d1}/{d2}'}", flush=True)
            if not ok:
                failures.append(f"{qname}: exceptAll {d1}/{d2}")
        finally:
            setattr(mod, a, old)
    print(f"\nverify: {len(failures)} failures")
    return 1 if failures else 0


def main() -> int:
    cmd = sys.argv[1] if len(sys.argv) > 1 else None
    if cmd in ("-h", "--help"):
        print(__doc__.strip())
        return 0
    if cmd == "gen":
        gen()
        return 0
    if cmd == "verify":
        return verify(sys.argv[2:] or None)
    print(__doc__.strip(), file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
