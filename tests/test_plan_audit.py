"""Wire the registry-wide plan audit into CI (round-6 VERDICT task #1).

The round-5 audit's `Exchange SinglePartition` regex could never match
explain("formatted") output, so its "0 findings" was vacuous and nothing
ran it from the suite. These tests (a) run the corrected sweep over
EVERY registry query in-process and fail on any unwaived/unbounded
single-partition exchange, CartesianProduct, or row-at-a-time Python
UDF, and on any per-query plan count (exchanges, join strategies, Python
nodes, pushed scans, build-time Spark actions) that differs from
``docs/plan_counts.json``, and (b) unit-test the classifier and the
counter so each check provably fires on plans that should trip it.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import plan_audit  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan_lines(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue().splitlines()


def test_regex_fires_on_global_scalar_aggregate(spark):
    """A plain global aggregate must be detected as a bounded single-
    partition exchange — proves the simple-mode scan sees the node the
    formatted-mode scan missed."""
    df = spark.range(100).agg(F.sum("id").alias("s"))
    lines = _plan_lines(df)
    idx = [i for i, ln in enumerate(lines) if plan_audit._RX_SINGLE.search(ln)]
    assert idx, "Exchange SinglePartition not found in simple-mode plan"
    assert plan_audit.classify_single_partition(lines, idx[0]) == "global-scalar"


def test_unbounded_single_partition_is_a_finding(spark):
    """A global sort/window funnel (no partial-agg feeder) must be
    UNBOUNDED, and audit_query must flag it even if a waiver existed."""
    from pyspark.sql import Window

    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    lines = _plan_lines(df)
    idx = [i for i, ln in enumerate(lines) if plan_audit._RX_SINGLE.search(ln)]
    assert idx, "expected a single-partition exchange under the global window"
    assert plan_audit.classify_single_partition(lines, idx[0]) == "UNBOUNDED"
    waived, findings = plan_audit.audit_query("_synthetic_global_window", df)
    assert not waived
    assert findings and "UNBOUNDED" in findings[0][1]


def test_bounded_but_unwaived_is_a_finding(spark):
    """A bounded feeder without a WAIVERS entry still fails — the waiver
    list is the documentation the audit enforces."""
    df = spark.range(100).agg(F.count("*").alias("n"))
    waived, findings = plan_audit.audit_query("_synthetic_not_in_waivers", df)
    assert not waived
    assert findings and "NOT waived" in findings[0][1]


def test_cartesian_product_is_a_finding(spark):
    # hint forces CartesianProductExec; a bare crossJoin of tiny ranges
    # would plan as BroadcastNestedLoopJoin and not exercise the check
    a = spark.range(10).hint("shuffle_replicate_nl").alias("a")
    b = spark.range(10).alias("b")
    df = a.crossJoin(b)
    _, findings = plan_audit.audit_query("_synthetic_cross", df)
    assert any("CartesianProduct" in w for _, w in findings)


def _assert_counts_committed(counts, sweep):
    """Live per-query plan counts equal the committed ones, compared only
    at the scale they were committed at: some builders run a number of
    actions that depends on the data."""
    scale, committed = plan_audit.load_counts()
    if os.path.basename(os.path.normpath(SF_DIR)) != scale:
        pytest.skip(f"plan counts are committed at {scale}; this sweep ran on {SF_DIR}")
    moved = plan_audit.count_diffs(committed, counts, sweep)
    assert not moved, (
        "plan counts moved (regenerate with `python scripts/plan_audit.py` "
        "if the change is intended):\n" + "\n".join(moved)
    )


@pytest.mark.slow
def test_full_registry_audit_clean(spark):
    """The committed claim: every registry query is either clean or
    carries a structurally-verified bounded waiver, and keeps its
    committed plan counts. Fails on any new unwaived single-partition
    stage, cartesian product, Python UDF, planning error, or moved
    count."""
    counts, findings = plan_audit.run_audit(spark, SF_DIR)
    assert findings == [], "plan audit findings:\n" + "\n".join(
        f"{n}: {w}" for n, w in findings
    )
    from elevate_data_pipeline_spark.queries import QUERIES

    assert set(counts) == set(QUERIES)
    _assert_counts_committed(counts, "gates_on")


@pytest.mark.slow
def test_full_registry_audit_clean_gates_off(spark):
    """Same sweep with every driver-local tier gate forced to -1 so the
    DISTRIBUTED chains of the 8 locally-tiered operators (the 100 TB
    path — invisible to the gates-on sweep at audit scale, round-6
    VERDICT task #1) pass the CartesianProduct / SinglePartition /
    BatchEvalPython scan and keep their committed counts too."""
    counts, findings = plan_audit.run_audit(spark, SF_DIR, gates_off=True)
    assert findings == [], "gates-off plan audit findings:\n" + "\n".join(
        f"{n}: {w}" for n, w in findings
    )
    _assert_counts_committed(counts, "gates_off")


def _counts(spark, build):
    return plan_audit.count_build(spark, build)[1]


def test_counter_join_strategies(spark):
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(100).withColumnRenamed("id", "k")
    c = _counts(spark, lambda: a.hint("merge").join(b, "k"))
    assert (c["sort_merge_joins"], c["bcast_joins"], c["exchanges"]) == (1, 0, 2)
    c = _counts(spark, lambda: a.join(F.broadcast(b), "k"))
    assert (c["sort_merge_joins"], c["bcast_joins"], c["bcast_exchanges"]) == (0, 1, 1)


def test_counter_python_node(spark):
    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    c = _counts(spark, lambda: spark.range(10).select(plus_one("id")))
    assert c["py_nodes"] == 1


def test_counter_python_node_behind_checkpoint(spark):
    """A Python stage the builder checkpoints still counts: the built
    frame's plan shows only the checkpoint scan."""

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def build(eager):
        pinned = spark.range(10).select(plus_one("id").alias("v"))
        return pinned.localCheckpoint(eager=eager).filter("v > 3")

    # an eager checkpoint has run: its plan must still count once
    assert _counts(spark, lambda: build(True))["py_nodes"] == 1
    assert _counts(spark, lambda: build(False))["py_nodes"] == 1


def test_counter_pushed_scan(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(path)
    assert _counts(spark, lambda: spark.read.parquet(path))["pushed_scans"] == 0
    c = _counts(spark, lambda: spark.read.parquet(path).filter(F.col("id") > 5))
    assert c["pushed_scans"] == 1


def test_counter_build_actions(spark):
    """A builder that runs an action while building counts it once, however
    many jobs adaptive execution splits it into; a plain RDD action counts
    too."""

    def build():
        n = spark.range(10).count()  # two jobs: the shuffle stage and the result
        return spark.range(n)

    assert _counts(spark, build)["build_actions"] == 1
    assert _counts(spark, lambda: spark.range(10))["build_actions"] == 0

    def build_rdd():
        n = spark.sparkContext.parallelize(range(4), 2).count()
        return spark.range(n)

    assert _counts(spark, build_rdd)["build_actions"] == 1


def test_count_diffs_name_query_and_count():
    committed = {"q": {"gates_on": {"exchanges": 2, "build_actions": 0}}}
    assert plan_audit.count_diffs(
        committed, {"q": {"exchanges": 2, "build_actions": 0}}, "gates_on"
    ) == []
    assert plan_audit.count_diffs(
        committed, {"q": {"exchanges": 3, "build_actions": 0}, "r": {}}, "gates_on"
    ) == [
        "q gates_on exchanges: committed 2, live 3",
        "r: not in the committed counts",
    ]


def test_tier_gates_off_covers_every_gate():
    """The forced-off gate list must stay in sync with the gates that
    actually exist in the package — a new tier whose gate is missing
    here would silently escape the gates-off sweep."""
    import importlib
    import pkgutil

    import elevate_data_pipeline_spark as pkg

    found = set()
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if m.name.endswith("__main__"):
            continue
        mod = importlib.import_module(m.name)
        for attr in vars(mod):
            if "_LOCAL_MAX_" in attr and attr.startswith("_") and attr.isupper():
                found.add((m.name, attr))
    assert found == set(plan_audit._TIER_GATES), (
        f"missing from _TIER_GATES: {sorted(found - set(plan_audit._TIER_GATES))}; "
        f"stale: {sorted(set(plan_audit._TIER_GATES) - found)}"
    )


def test_package_env_knobs_allowlist():
    """The package reads exactly three SPARK_GRAFT_* environment knobs.
    A new one is a second code path behind a switch; it has to be added
    here on purpose, with the measurement that justifies it."""
    import re

    import elevate_data_pipeline_spark as pkg

    rx = re.compile(r"SPARK_GRAFT_([A-Z0-9_]+)")
    found = set()
    for root, _dirs, files in os.walk(pkg.__path__[0]):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    found.update(rx.findall(f.read()))
    assert found == {"CPUS", "DRIVER_MEM", "VP8_FOREIGN"}, sorted(found)


def test_package_builds_driver_frames_only_through_local_frame():
    """``createDataFrame`` appears in the package only inside
    ``sources.local.local_frame``. A list of tuples handed straight to
    ``createDataFrame`` becomes a pickled Python RDD whose every scan
    starts a Python worker; ``local_frame`` gives Spark an Arrow local
    relation the JVM reads itself."""
    import re

    import elevate_data_pipeline_spark as pkg

    rx = re.compile(r"\.createDataFrame\(")
    calls = {}
    for root, _dirs, files in os.walk(pkg.__path__[0]):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    n = len(rx.findall(f.read()))
                if n:
                    calls[os.path.relpath(path, pkg.__path__[0])] = n
    assert calls == {os.path.join("sources", "local.py"): 1}, calls


def test_registry_python_row_stages_go_through_map_rows():
    """Registry queries write a per-row Python stage as
    ``operators.util.map_rows``. Only two stages keep their own
    ``mapInPandas``, because their inputs (a per-host aggregate, the
    output of five joins) must not be spread: asking an adaptive plan
    for its partition count runs its shuffle. The package has no second
    spreading helper."""
    import ast
    import glob

    import elevate_data_pipeline_spark as pkg

    root = pkg.__path__[0]
    own = set()
    for path in glob.glob(os.path.join(root, "queries*.py")):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) and ".mapInPandas(" in (
                ast.get_source_segment(src, node)
            ):
                own.add(node.name)
    assert own == {"crawl_politeness_budget", "crawl_frontier_redirects"}, sorted(own)
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            assert "cpu_parallelize" not in f.read(), path


def test_pid_feed_regex_accepts_sort_aggregate():
    """SortAggregate prints key= (singular); Spark picks it for
    struct-typed min/max — the suffix._dense_rank stats feeder."""
    assert plan_audit._RX_PID_FEED.search(
        "+- SortAggregate(key=[_pid#396], functions=[min(struct(...))])"
    )
    assert plan_audit._RX_PID_FEED.search(
        "+- HashAggregate(keys=[_pid#502], functions=[count(1)])"
    )
    assert not plan_audit._RX_PID_FEED.search(
        "+- SortAggregate(key=[user_id#3], functions=[min(x)])"
    )


def test_waivers_reference_only_registry_queries():
    from elevate_data_pipeline_spark.queries import QUERIES

    unknown = set(plan_audit.WAIVERS) - set(QUERIES)
    assert not unknown, f"WAIVERS entries for unknown queries: {sorted(unknown)}"
