"""Repo-wide physical-plan audit: walk EVERY registry query's physical
plan (driver-side only — nothing executes) and flag the constructs that
do not survive a 100 TB scale-up:

- ``CartesianProduct``            — all-pairs blowup;
- ``Exchange SinglePartition``    — a global funnel. Allowed only when
                                    BOTH (a) the exchange's immediate
                                    child is a provably bounded feeder
                                    (see below) and (b) the query is
                                    registered in ``WAIVERS`` with its
                                    justification;
- ``BatchEvalPython``             — row-at-a-time Python UDF in the plan
                                    (Arrow ``ArrowEvalPython``/``MapInPandas``
                                    /``FlatMapGroupsInPandas`` are fine).

Plans are scanned in ``explain("simple")`` mode: node arguments print
inline there (``Exchange SinglePartition, ENSURE_REQUIREMENTS, ...``),
whereas in ``formatted`` mode the node name and ``Arguments:
SinglePartition`` land on separate lines and a node-name regex can never
match (the round-5 audit's defect — it reported 185 clean while 37
queries carried single-partition exchanges).

Bounded-feeder classification (structural, checked per exchange): the
line immediately below an ``Exchange SinglePartition`` is its only
child. Two shapes are provably bounded regardless of input size:

- **global-scalar**: ``HashAggregate(keys=[], functions=[partial_...``
  — Spark's canonical two-phase global aggregate. The map-side partial
  aggregate emits exactly ONE row per upstream task, so the exchange
  carries ≤ num_partitions rows however large the input is. (Also
  accepted: ``SortAggregate``/``ObjectHashAggregate`` with ``keys=[]``.)
- **pid-offsets**: ``HashAggregate(keys=[_pid...]`` — the scale-safe
  rank rewrite's per-partition-offset frame (``operators/rank.py``):
  one row per partition id, ≤ spark.sql.shuffle.partitions rows.

A single-partition exchange whose child matches neither shape is an
UNBOUNDED finding and cannot be waived — the waiver dict only covers
exchanges whose bound the audit has verified structurally. Exit code 1
on any finding; ``tests/test_plan_audit.py`` runs this sweep in-process
so CI pins the whole registry's plan hygiene.

Usage: python scripts/plan_audit.py [sf_dir] > docs/PLAN_AUDIT.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query name -> justification for its bounded single-partition
# exchange(s). A waiver is honored ONLY if the audit also verifies the
# exchange's feeder is structurally bounded (global-scalar or
# pid-offsets, above); an unbounded feeder is a finding even if listed
# here. Grouped by feeder family:
_SCALAR = "global-scalar feeder: map-side partial aggregate, ≤1 row/task crosses"
_PID = "pid-offsets feeder: one row per partition id (rank rewrite, operators/rank.py)"
WAIVERS: dict[str, str] = {
    # -- global scalar statistics that parameterize the main pipeline --
    "basket_part_pairs": f"{_SCALAR}; count(distinct orderkey) basket total feeding lift denominators",
    "basket_triangles": f"{_SCALAR}; degree-moment scalar + final triangle-count row",
    "bpe_fertility": f"{_SCALAR}; corpus token/char totals (single summary row)",
    "corpus_vocab": f"{_SCALAR}; total-token count scalar feeding coverage fractions",
    "spec_compat_param_scan": f"{_SCALAR}; deliberate compat-mode query — the reference's per-ID loop (5 bounded ids, one global count agg each); the scale path is compile_pipeline, A/B-proven equal",
    "customer_rfm": f"{_SCALAR}; max(o_orderdate) recency anchor, broadcast back",
    "events_drift_buckets": f"{_SCALAR}; sum over ≤n_buckets histogram rows → PSI denominators",
    "events_drift_score": f"{_SCALAR}; sum over ≤n_buckets histogram rows → PSI denominators",
    "events_heavy_hitters": f"{_SCALAR}; total event count scalar → support threshold",
    "events_interpolate_hourly": f"{_SCALAR}; min/max(ts) bounds for the hourly grid",
    "events_resample_hourly": f"{_SCALAR}; min/max(ts) bounds for the hourly grid",
    "events_state_asof": f"{_SCALAR}; min/max(ts) midpoint anchor scalar",
    "events_trend_slope": f"{_SCALAR}; min(hour) origin scalar for the regression x-axis",
    "mixture_epoch_plan": f"{_SCALAR}; sum over ≤n_sources per-source rows → mixture normalizer",
    "mixture_weights": f"{_SCALAR}; sum over ≤n_sources per-source rows → mixture normalizer",
    "profile_lineitem": f"{_SCALAR}; final single-row column-profile summary",
    "q11_important_parts": f"{_SCALAR}; sum(part_value) threshold scalar (TPC-H Q11 subquery)",
    "q14_promo_effect": f"{_SCALAR}; single-row promo-revenue ratio result",
    "q15_top_supplier": f"{_SCALAR}; max(total_revenue) scalar (TPC-H Q15 subquery)",
    "q16_no_order_suppliers": f"{_SCALAR}; final supplier-count row",
    "q17_small_quantity_revenue": f"{_SCALAR}; single-row avg-yearly-revenue result",
    "q19_bracket_revenue": f"{_SCALAR}; single-row bracket-revenue result",
    "q22_idle_rich_customers": f"{_SCALAR}; avg(c_acctbal) threshold scalar (TPC-H Q22 subquery)",
    "q6_forecast_revenue": f"{_SCALAR}; single-row forecast-revenue result",
    "sketch_cms_join_size": f"{_SCALAR}; min over d=4 CMS row estimates + exact-count twin row",
    "sketch_mg_heavy_hitters": f"{_SCALAR}; total row count scalar → n*k > total support cut",
    "text_bm25_topk": f"{_SCALAR}; corpus N & avgdl scalars for the BM25 idf/length norm",
    "text_dsir_score": f"{_SCALAR}; language prior-count scalars for the DSIR importance ratio",
    "text_rarity": f"{_SCALAR}; total token count scalar → corpus frequencies",
    "text_tfidf_topterms": f"{_SCALAR}; corpus N scalar for the idf term",
    "unigram_vocab": f"{_SCALAR}; final-vocab total scalar (the cnt/T probability denominator over ≤ chars+V rows)",
    "validate_lineitem": f"{_SCALAR}; single-row rule-violation summary",
    # -- gates-off only: distributed chains of the locally-tiered ops --
    "decontam_bloom": f"{_SCALAR}; single-row bloom word-bitmap "
    "(map_from_entries over ≤ m_bits/64 = 4096 word rows, sketch.bloom_bitmap)",
    "dedup_suffix_array": f"{_PID}; per-pid group stats (≤32 rows/round) + "
    "row-number offsets in the doubling dense rank (suffix._dense_rank)",
    "dedup_repeated_phrases": f"{_PID}; same suffix-array dense-rank frames "
    "(two suffix_array subtrees in the rank-adjacency self-join)",
    "events_type_pagerank": f"{_SCALAR}; n_vertices count scalar per "
    "iteration (dangling-mass redistribution denominator)",
    "events_type_pagerank_conserving": f"{_SCALAR}; n_vertices count + "
    "rank-mass sum scalars per iteration (conservation renormalizer)",
    # -- rank-rewrite per-partition offset frames (≤32 rows) --
    "compaction_plan": f"{_PID}; global cumsum offsets for bin packing",
    "curation_shuffle": f"{_PID}; global row_number offsets for the deterministic shuffle",
    "pretraining_corpus": f"{_PID}; global row_number offsets in the final shard stage",
    # -- both families in one plan --
    "curation_pps_sample": f"{_PID} + {_SCALAR}; cumsum offsets + total-size scalar for the Madow lattice",
    "curation_systematic_sample": f"{_PID} + {_SCALAR}; cumsum offsets + total-size scalar for the stride",
    "customer_abc_pareto": f"{_PID} + {_SCALAR}; revenue-cumsum offsets + grand-total scalar",
    "customer_balance_deciles": f"{_PID} + {_SCALAR}; count offsets + total-count scalar for decile cuts",
    "events_value_buckets": f"{_PID} + {_SCALAR}; count offsets + total-count scalar for bucket cuts",
    "text_perplexity_filter": f"{_PID} + {_SCALAR}; count offsets + total-count scalar for the head/middle/tail tercile cuts (exact_ntile)",
}

# The 8 driver-local fast tiers (docs/LOCAL_TIERS.md). At audit scale
# their gates make the tiered queries compile to a trivial
# local relation, so the gates-ON sweep never sees their distributed
# chains — the 100 TB path. The gates-OFF sweep forces every gate to -1
# so those chains are planned and scanned too (round-6 VERDICT task #1).
_TIER_GATES: list[tuple[str, str]] = [
    ("elevate_data_pipeline_spark.operators.cluster", "_LLOYD_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.decontam", "_BLOOM_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.dedup", "_SPANS_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.dedup", "_SNM_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.graph", "_PAGERANK_LOCAL_MAX_EDGES"),
    ("elevate_data_pipeline_spark.operators.similarity", "_PQ_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.suffix", "_SA_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.pipelines", "_PIPELINE_LOCAL_MAX_ROWS"),
]


@contextlib.contextmanager
def tier_gates_off():
    """Force every driver-local tier gate to -1 so the tiered operators
    build their distributed chains regardless of input size."""
    import importlib

    saved = []
    try:
        for mod_name, attr in _TIER_GATES:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, -1)
        yield
    finally:
        for mod, attr, val in saved:
            setattr(mod, attr, val)


_RX_SINGLE = re.compile(r"Exchange SinglePartition")
_RX_CARTESIAN = re.compile(r"CartesianProduct")
_RX_PYUDF = re.compile(r"BatchEvalPython")
# bounded feeder shapes for the line immediately under the exchange
_RX_SCALAR_FEED = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\], functions=\[partial_"
)
# SortAggregate prints key= (singular) and is what Spark picks for
# struct-typed min/max (e.g. the fused per-pid stats in suffix._dense_rank)
_RX_PID_FEED = re.compile(r"(Hash|Sort|ObjectHash)Aggregate\(keys?=\[_pid")


def classify_single_partition(plan_lines: list[str], idx: int) -> str:
    """Classify the feeder of the SinglePartition exchange at line idx.

    In Spark's tree string the line immediately below a node is its
    first (here: only) child. Returns 'global-scalar', 'pid-offsets',
    or 'UNBOUNDED'.
    """
    child = plan_lines[idx + 1] if idx + 1 < len(plan_lines) else ""
    if _RX_SCALAR_FEED.search(child):
        return "global-scalar"
    if _RX_PID_FEED.search(child):
        return "pid-offsets"
    return "UNBOUNDED"


def audit_query(name: str, df) -> tuple[list[str], list[tuple[str, str]]]:
    """Return (waived descriptions, findings) for one query's plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    lines = plan.splitlines()

    waived: list[str] = []
    findings: list[tuple[str, str]] = []
    if _RX_CARTESIAN.search(plan):
        findings.append((name, "CartesianProduct"))
    if _RX_PYUDF.search(plan):
        findings.append((name, "BatchEvalPython"))
    sp_idx = [i for i, ln in enumerate(lines) if _RX_SINGLE.search(ln)]
    if sp_idx:
        kinds = [classify_single_partition(lines, i) for i in sp_idx]
        unbounded = [k for k in kinds if k == "UNBOUNDED"]
        why = WAIVERS.get(name)
        if unbounded:
            findings.append(
                (name, f"Exchange SinglePartition with UNBOUNDED feeder ×{len(unbounded)}")
            )
        elif why:
            waived.append(
                f"waived: Exchange SinglePartition ×{len(sp_idx)} [{'+'.join(sorted(set(kinds)))}] ({why})"
            )
        else:
            findings.append(
                (name, f"Exchange SinglePartition (bounded {'+'.join(sorted(set(kinds)))} but NOT waived)")
            )
    return waived, findings


def run_audit(spark, sf_dir: str, gates_off: bool = False):
    """Sweep the whole registry; returns (report_lines, findings).

    With ``gates_off`` every driver-local tier gate is forced to -1 so
    the tiered operators plan their DISTRIBUTED chains (the 100 TB
    path) instead of the trivial local relation the gate yields at
    audit scale.
    """
    from elevate_data_pipeline_spark.queries import QUERIES
    from elevate_data_pipeline_spark import pipelines
    from elevate_data_pipeline_spark.operators import rank

    # localCheckpoint pins truncate explain output and would hide the very
    # constructs this audit looks for — disable them so the FULL logical
    # shape of every query is visible to the scan
    old_pin_stages, old_pin_parts = pipelines.PIN_STAGES, rank.PIN_PARTITIONS
    pipelines.PIN_STAGES = False
    rank.PIN_PARTITIONS = False

    findings: list[tuple[str, str]] = []
    n_waived = 0
    clean = 0
    if gates_off:
        lines = [
            "## Gates-off sweep — distributed chains of the locally-tiered operators",
            "",
            "Same scan, with every driver-local tier gate forced to -1",
            f"({len(_TIER_GATES)} gates, docs/LOCAL_TIERS.md). At audit scale the",
            "tiers would otherwise compile the tiered queries to a trivial",
            "local relation, leaving their distributed chains — the 100 TB",
            "path — invisible to the anti-pattern scan.",
            "",
            "| Query | Result |",
            "|---|---|",
        ]
    else:
        lines = [
            "# Plan audit — scale anti-pattern sweep over the whole registry",
            "",
            "Generated by `scripts/plan_audit.py`: every registry query's",
            "physical plan (driver-side `explain('simple')`, nothing executed)",
            "scanned for `CartesianProduct`, `Exchange SinglePartition`, and",
            "row-at-a-time `BatchEvalPython`. A single-partition exchange is",
            "waived only when BOTH (a) the audit structurally verifies its",
            "feeder is bounded — a `keys=[]` partial aggregate (≤1 row/task)",
            "or a `keys=[_pid]` offsets frame (≤1 row/partition id) — and",
            "(b) the query carries a documented waiver in `WAIVERS`. Anything",
            "else fails the audit (exit 1 — `tests/test_plan_audit.py` runs",
            "BOTH sweeps in-process, so CI pins the registry's plan hygiene).",
            "",
            "## Gates-on sweep — plans as shipped",
            "",
            "| Query | Result |",
            "|---|---|",
        ]

    gate_cm = tier_gates_off() if gates_off else contextlib.nullcontext()
    try:
        with gate_cm:
            for name in sorted(QUERIES):
                try:
                    df = QUERIES[name](spark, sf_dir)
                    waived, found = audit_query(name, df)
                except Exception as exc:  # planning itself failed
                    findings.append((name, f"EXPLAIN ERROR: {exc}"))
                    lines.append(f"| `{name}` | EXPLAIN ERROR |")
                    continue
                findings.extend(found)
                n_waived += len(waived)
                cell = [f"**FINDING: {what}**" for _, what in found] + waived
                if not cell:
                    clean += 1
                    lines.append(f"| `{name}` | clean |")
                else:
                    lines.append(f"| `{name}` | {'; '.join(cell)} |")
    finally:
        pipelines.PIN_STAGES = old_pin_stages
        rank.PIN_PARTITIONS = old_pin_parts

    from elevate_data_pipeline_spark.queries import QUERIES as _Q

    label = "gates-off" if gates_off else "gates-on"
    lines += [
        "",
        f"**{label}: {clean} clean / {n_waived} waived / {len(findings)} findings** "
        f"of {len(_Q)} queries.",
    ]
    return lines, findings


def main() -> int:
    if any(a in ("-h", "--help") for a in sys.argv[1:]):
        print(__doc__.strip())
        print("\nUsage: python scripts/plan_audit.py [sf_dir]"
              "  (default: /root/testdata/sf0.001)")
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from elevate_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    lines, findings = run_audit(spark, sf_dir)
    lines_off, findings_off = run_audit(spark, sf_dir, gates_off=True)
    print("\n".join(lines))
    print()
    print("\n".join(lines_off))
    for name, what in findings + findings_off:
        print(f"FINDING {name}: {what}", file=sys.stderr)
    return 1 if findings or findings_off else 0


if __name__ == "__main__":
    raise SystemExit(main())
