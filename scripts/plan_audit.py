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
exchanges whose bound the audit has verified structurally.

The same sweep also counts, per query, what makes its plan scale:
shuffle and broadcast exchanges, each join strategy, Python nodes, scans
with pushed filters (all read from ``explain("formatted")``, whose
``(n) NodeName`` detail headers name each node once), and the Spark
actions the builder runs while it builds the frame (``count_build``).
A lost broadcast, a lost pushdown, a new shuffle or a builder that
starts running jobs each moves one of these counts. The counts of both
sweeps are committed in ``docs/plan_counts.json``, one line per query,
with the scale they were taken at; ``tests/test_plan_audit.py`` runs
both sweeps in-process and fails on any finding and on any count that
differs from the committed one.

Usage: python scripts/plan_audit.py [sf_dir]   (default: the sf0.001
test data). Rewrites ``docs/plan_counts.json``; exit code 1 on any
finding.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import json
import os
import re
import sys

from pyspark.sql.classic.dataframe import DataFrame

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

# The 9 driver-local fast tiers (docs/LOCAL_TIERS.md). At audit scale
# their gates make the tiered queries compile to a trivial
# local relation, so the gates-ON sweep never sees their distributed
# chains — the 100 TB path. The gates-OFF sweep forces every gate to -1
# so those chains are planned and scanned too (round-6 VERDICT task #1).
_TIER_GATES: list[tuple[str, str]] = [
    ("elevate_data_pipeline_spark.operators.cluster", "_LLOYD_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.decontam", "_BLOOM_LOCAL_MAX_ROWS"),
    ("elevate_data_pipeline_spark.operators.dedup", "_NGRAM_LOCAL_MAX_ROWS"),
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


def plan_text(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit_query(name: str, df) -> tuple[list[str], list[tuple[str, str]]]:
    """Return (waived descriptions, findings) for one query's plan."""
    plan = plan_text(df, "simple")
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


# formatted-explain detail headers: "(12) BroadcastHashJoin", one per node
_NODE_RE = re.compile(r"^\(\d+\) (\w+)", re.M)
# a scan's detail block line, when at least one filter reached the source
_RX_PUSHED = re.compile(r"^PushedFilters: \[[^\]]", re.M)


def plan_counts(plan: str) -> dict[str, int]:
    """Node counts of one ``explain("formatted")`` plan."""
    nodes = _NODE_RE.findall(plan)
    c = lambda *names: sum(1 for n in nodes if n in names)  # noqa: E731
    return {
        "exchanges": c("Exchange"),
        "bcast_exchanges": c("BroadcastExchange"),
        "py_nodes": c(
            "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas",
        ),
        "sort_merge_joins": c("SortMergeJoin"),
        "bcast_joins": c("BroadcastHashJoin"),
        "shuffled_hash_joins": c("ShuffledHashJoin"),
        "pushed_scans": len(_RX_PUSHED.findall(plan)),
    }


_GROUPS = itertools.count()


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def count_build(spark, build):
    """Call ``build()`` under a job group of its own; return the frame it
    built and its counts: ``plan_counts`` of its formatted plan, and
    ``build_actions``, the Spark actions ``build()`` ran. ``py_nodes``
    also counts the Python nodes of every frame ``build()`` passed to
    ``localCheckpoint``: the built frame's plan shows only a scan of the
    checkpoint, yet those Python stages run each time the query does.

    An action is a SQL execution that ran at least one job, or a job run
    outside any SQL execution (a plain RDD action, or the stages
    ``DataFrame.rdd`` runs). Jobs are not counted one by one: adaptive
    execution submits one job per query stage, and how many stages one
    execution materializes depends on the order its running stages
    finish (``dedup_suffix_array``'s gates-off build ran 23 or 25 jobs
    in four executions, run to run)."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    newest = sql.executionsList(max(0, sql.executionsCount() - 1), 1)
    last = max((e.executionId() for e in _scala_iter(newest)), default=-1)
    group = f"plan-audit-{next(_GROUPS)}"
    pinned = []
    local_checkpoint = DataFrame.localCheckpoint

    def spy(frame, *args, **kwargs):
        pinned.append(frame)
        return local_checkpoint(frame, *args, **kwargs)

    sc.setJobGroup(group, group)
    DataFrame.localCheckpoint = spy
    try:
        df = build()
    finally:
        DataFrame.localCheckpoint = local_checkpoint
        sc.setLocalProperty("spark.jobGroup.id", None)
    # both status stores are fed by the asynchronous listener bus; drain
    # it so a job that just ended is not missed
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    bare, actions = set(jobs), 0
    end = sql.executionsCount()
    while bare and end > 0:  # newest executions first, down to ``last``
        start = max(0, end - 32)
        chunk = [e for e in _scala_iter(sql.executionsList(start, end - start))
                 if e.executionId() > last]
        for e in chunk:
            ran = set(_scala_iter(e.jobs().keys())) & jobs
            actions += bool(ran)
            bare -= ran
        if len(chunk) < end - start:
            break
        end = start
    counts = plan_counts(plan_text(df, "formatted"))
    # a checkpointed frame has usually run by now, and the plan of a run
    # adaptive query lists its final and its initial plan: count a
    # fresh plan of the same query
    counts["py_nodes"] += sum(
        plan_counts(plan_text(f.select("*"), "formatted"))["py_nodes"]
        for f in pinned
    )
    counts["build_actions"] = actions + len(bare)
    return df, counts


def run_audit(spark, sf_dir: str, gates_off: bool = False):
    """Sweep the whole registry; returns ({query: counts}, findings).

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

    counts: dict[str, dict[str, int]] = {}
    findings: list[tuple[str, str]] = []
    gate_cm = tier_gates_off() if gates_off else contextlib.nullcontext()
    try:
        with gate_cm:
            for name in sorted(QUERIES):
                try:
                    df, counts[name] = count_build(
                        spark, lambda: QUERIES[name](spark, sf_dir)
                    )
                    _, found = audit_query(name, df)
                except Exception as exc:  # planning itself failed
                    findings.append((name, f"EXPLAIN ERROR: {exc}"))
                    continue
                findings.extend(found)
    finally:
        pipelines.PIN_STAGES = old_pin_stages
        rank.PIN_PARTITIONS = old_pin_parts
    return counts, findings


COUNTS_PATH = os.path.join(ROOT, "docs", "plan_counts.json")


def dump_counts(scale: str, sweeps: dict[str, dict[str, dict[str, int]]]) -> str:
    """The committed counts file: its scale, then one line per query."""
    names = sorted(sweeps["gates_on"])
    rows = [
        f"  {json.dumps(n)}: "
        + json.dumps({sweep: sweeps[sweep][n] for sweep in ("gates_on", "gates_off")})
        for n in names
    ]
    return (
        f'{{"scale": {json.dumps(scale)},\n "queries": {{\n'
        + ",\n".join(rows)
        + "\n}}\n"
    )


def load_counts() -> tuple[str, dict]:
    """(scale, {query: {sweep: counts}}) as committed."""
    with open(COUNTS_PATH, encoding="utf-8") as f:
        doc = json.load(f)
    return doc["scale"], doc["queries"]


def count_diffs(committed: dict, live: dict[str, dict[str, int]], sweep: str) -> list[str]:
    """One line per query and count of ``sweep`` that moved."""
    out = []
    for name in sorted(set(committed) | set(live)):
        if name not in live:
            out.append(f"{name}: committed but not counted by this sweep")
            continue
        if name not in committed:
            out.append(f"{name}: not in the committed counts")
            continue
        old = committed[name][sweep]
        for key in sorted(set(old) | set(live[name])):
            if old.get(key) != live[name].get(key):
                out.append(
                    f"{name} {sweep} {key}: committed {old.get(key)}, "
                    f"live {live[name].get(key)}"
                )
    return out


def main() -> int:
    if any(a in ("-h", "--help") for a in sys.argv[1:]):
        print(__doc__.strip())
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from elevate_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    counts, findings = run_audit(spark, sf_dir)
    counts_off, findings_off = run_audit(spark, sf_dir, gates_off=True)
    scale = os.path.basename(os.path.normpath(sf_dir))
    with open(COUNTS_PATH, "w", encoding="utf-8") as f:
        f.write(dump_counts(scale, {"gates_on": counts, "gates_off": counts_off}))
    for name, what in findings:
        print(f"FINDING {name}: {what}", file=sys.stderr)
    for name, what in findings_off:
        print(f"FINDING (gates off) {name}: {what}", file=sys.stderr)
    return 1 if findings or findings_off else 0


if __name__ == "__main__":
    raise SystemExit(main())
