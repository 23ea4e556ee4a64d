"""Spec parser + compiler tests: every reference operator family
(S/P/J/A/U per SURVEY.md §2) on the TPC-H-ish testdata."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from elevate_data_pipeline_spark.spec import parse_spec
from elevate_data_pipeline_spark.spec.model import SpecError
from elevate_data_pipeline_spark.plans import compile_pipeline, run_per_id


def mentor_style_spec(with_mapping: bool = False, with_output: bool = False):
    """A mentor-report-shaped spec over customer/orders: for each customer
    in BUILDING segment, count orders and sum totalprice."""
    input_schema = [
        {
            "name": "cust_report",
            "fetchId": {
                "query": "SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'",
                "id": "c_custkey",
            },
            "tasks": [
                {
                    "single_process": {
                        "input": "order_count",
                        "query": "SELECT o_custkey, o_orderkey FROM orders",
                        "correlate_on": "o_custkey",
                        "agg": "count",
                        "agg_on": "o_orderkey",
                        "join_on": "c_custkey",
                        "join_type": "left",
                        "rename": "total_orders",
                    }
                },
                {
                    "single_process": {
                        "input": "order_value",
                        "query": "SELECT o_custkey, o_totalprice FROM orders",
                        "correlate_on": "o_custkey",
                        "agg": "sum",
                        "agg_on": "o_totalprice",
                        "join_on": "c_custkey",
                        "join_type": "left",
                        "rename": "total_value",
                    }
                },
            ],
        }
    ]
    mapping = (
        {"half_value": {"aggregation": {"agg_type": "average", "column_name": ["total_value", "total_orders"]}}}
        if with_mapping
        else {}
    )
    output = (
        {
            "c_custkey": {"Input_data_type": "LongType", "rename": "customer_id"},
            "total_orders": {"Input_data_type": "LongType", "rename": "n_orders"},
        }
        if with_output
        else {}
    )
    return parse_spec(json.dumps(input_schema), json.dumps(mapping), json.dumps(output))


def test_parse_roundtrip():
    spec = mentor_style_spec(with_mapping=True, with_output=True)
    assert len(spec.scripts) == 1
    assert spec.scripts[0].fetch_id.id == "c_custkey"
    assert len(spec.scripts[0].tasks) == 2
    assert spec.data_mapping["half_value"].agg_type == "average"
    assert spec.output_schema["c_custkey"].rename == "customer_id"


def test_agg_allowlist_rejected():
    with pytest.raises(SpecError):
        parse_spec(
            json.dumps(
                [
                    {
                        "fetchId": {"query": "SELECT 1 AS k", "id": "k"},
                        "tasks": [
                            {
                                "single_process": {
                                    "input": "x",
                                    "query": "SELECT 1 AS k",
                                    "agg": "java_method",
                                    "agg_on": "k",
                                }
                            }
                        ],
                    }
                ]
            )
        )


def test_decorrelated_counts_match_manual(catalog):
    spec = mentor_style_spec()
    (df,) = compile_pipeline(catalog, spec)
    rows = {r["c_custkey"]: (r["total_orders"], r["total_value"]) for r in df.collect()}

    cust = catalog.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = catalog.table("orders")
    manual = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0)).alias("v"),
        )
    )
    expected = {r["c_custkey"]: (r["n"], r["v"]) for r in manual.collect()}
    assert set(rows) == set(expected)
    for k, (n, v) in expected.items():
        assert rows[k][0] == n, k
        assert abs(float(rows[k][1]) - float(v)) < 1e-6, k


def test_default_row_for_empty_ids(catalog):
    """S4: customers with zero orders appear with count 0 (not dropped)."""
    spec = mentor_style_spec()
    (df,) = compile_pipeline(catalog, spec)
    n_build = catalog.table("customer").filter(F.col("c_mktsegment") == "BUILDING").count()
    assert df.count() == n_build
    assert df.filter(F.col("total_orders") == 0).count() >= 0  # schema reachable


def test_data_mapping_average(catalog):
    spec = mentor_style_spec(with_mapping=True)
    (df,) = compile_pipeline(catalog, spec)
    import decimal

    r = df.filter(F.col("total_orders") > 0).first()
    # Spark F.round is HALF_UP over the double's shortest decimal repr
    # (BigDecimal.valueOf) — Decimal(repr(x)) replicates that in Python
    expected = float(
        decimal.Decimal(repr((r["total_value"] + r["total_orders"]) / 2)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
    )
    assert abs(r["half_value"] - expected) < 1e-9


def test_output_mapping_rename_and_project(catalog):
    spec = mentor_style_spec(with_output=True)
    (df,) = compile_pipeline(catalog, spec)
    assert df.columns == ["customer_id", "n_orders"]


def test_output_mapping_type_gate_strict(catalog):
    input_schema = [
        {
            "fetchId": {"query": "SELECT c_custkey FROM customer LIMIT 5", "id": "c_custkey"},
            "tasks": [],
        }
    ]
    output = {"c_custkey": {"Input_data_type": "StringType", "rename": "x"}}
    spec = parse_spec(json.dumps(input_schema), None, json.dumps(output))
    with pytest.raises(SpecError):
        for df in compile_pipeline(catalog, spec, strict=True):
            df.collect()
    # lenient: reference behavior — kept but not renamed
    (df,) = compile_pipeline(catalog, spec, strict=False)
    assert df.columns == ["c_custkey"]


def test_array_flatten_output(catalog, spark):
    """ArrayType(StringType,true) -> concat_ws(", ") (reference P6/array path)."""
    df = spark.createDataFrame([(1, ["a", "b"]), (2, ["c"])], "id int, tags array<string>")
    df.createOrReplaceTempView("tag_table")
    input_schema = [
        {
            "tasks": [
                {
                    "single_process": {
                        "input": "t",
                        "query": "SELECT * FROM tag_table",
                        "join_on": "none",
                        "join_type": "none",
                    }
                }
            ]
        }
    ]
    output = {
        "id": {"Input_data_type": "IntegerType", "rename": "id"},
        "tags": {"Input_data_type": "ArrayType(StringType,true)", "rename": "tags_csv"},
    }
    spec = parse_spec(json.dumps(input_schema), None, json.dumps(output))
    (out,) = compile_pipeline(catalog, spec)
    got = {r["id"]: r["tags_csv"] for r in out.collect()}
    assert got == {1: "a, b", 2: "c"}


def test_join_or_replace_dispatch(catalog):
    """J3: a task with join_on=join_type="none" replaces the accumulator."""
    input_schema = [
        {
            "fetchId": {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"},
            "tasks": [
                {
                    "single_process": {
                        "input": "replacement",
                        "query": "SELECT r_regionkey, r_name FROM region",
                        "join_on": "none",
                        "join_type": "none",
                    }
                }
            ],
        }
    ]
    spec = parse_spec(json.dumps(input_schema))
    (df,) = compile_pipeline(catalog, spec)
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 5


def test_nested_fetch_rollup(catalog):
    """J5/A2/U1: per-customer rollup of lineitem quantities via orders."""
    input_schema = [
        {
            "fetchId": {
                "query": "SELECT c_custkey FROM customer WHERE c_custkey <= 20",
                "id": "c_custkey",
            },
            "tasks": [
                {
                    "fetchID_with_InputID": {
                        "query": "SELECT o_custkey, o_orderkey FROM orders",
                        "id": "o_orderkey",
                        "correlate_on": "o_custkey",
                        "join_on": "c_custkey",
                        "join_type": "left",
                    },
                    "child": [
                        {
                            "multiple_process": {
                                "input": "qty",
                                "query": "SELECT l_orderkey, l_quantity FROM lineitem",
                                "correlate_on": "l_orderkey",
                                "agg": "sum",
                                "agg_on": "l_quantity",
                                "rename": "total_qty",
                            }
                        }
                    ],
                }
            ],
        }
    ]
    spec = parse_spec(json.dumps(input_schema))
    (df,) = compile_pipeline(catalog, spec)
    got = {r["c_custkey"]: r["total_qty"] for r in df.collect()}

    li = catalog.table("lineitem")
    orders = catalog.table("orders")
    expected_df = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    expected = {r["o_custkey"]: r["q"] for r in expected_df.collect() if r["o_custkey"] <= 20}
    for k in got:
        exp = expected.get(k, 0)
        assert abs(float(got[k]) - float(exp)) < 1e-6, k


def test_duplicate_ids_replicate_rows(catalog, spark):
    """Reference loop parity: each occurrence of an ID appends a row-set."""
    spark.sql(
        "SELECT c_custkey FROM (SELECT 1 AS c_custkey UNION ALL SELECT 1 UNION ALL SELECT 2)"
    ).createOrReplaceTempView("dup_ids")
    input_schema = [
        {
            "fetchId": {"query": "SELECT c_custkey FROM dup_ids", "id": "c_custkey"},
            "tasks": [
                {
                    "single_process": {
                        "input": "oc",
                        "query": "SELECT o_custkey, o_orderkey FROM orders",
                        "correlate_on": "o_custkey",
                        "agg": "count",
                        "agg_on": "o_orderkey",
                        "join_on": "c_custkey",
                        "join_type": "left",
                        "rename": "n",
                    }
                }
            ],
        }
    ]
    spec = parse_spec(json.dumps(input_schema))
    (df,) = compile_pipeline(catalog, spec)
    counts = df.groupBy("c_custkey").count().collect()
    got = {r["c_custkey"]: r["count"] for r in counts}
    assert got == {1: 2, 2: 1}


@pytest.mark.slow
def test_per_id_compat_equals_decorrelated(catalog):
    """SURVEY.md §5.4 property: loop mode ≡ join mode (on a small ID set)."""
    input_schema = [
        {
            "fetchId": {
                "query": "SELECT c_custkey FROM customer WHERE c_custkey <= 12",
                "id": "c_custkey",
            },
            "tasks": [
                {
                    "single_process": {
                        "input": "oc",
                        "query": "SELECT o_custkey, o_orderkey FROM orders",
                        "correlate_on": "o_custkey",
                        "agg": "count",
                        "agg_on": "o_orderkey",
                        "join_on": "c_custkey",
                        "join_type": "left",
                        "rename": "n_orders",
                    }
                }
            ],
        }
    ]
    spec = parse_spec(json.dumps(input_schema))
    (dec,) = compile_pipeline(catalog, spec)
    (loop,) = run_per_id(catalog, spec)
    d = {r["c_custkey"]: r["n_orders"] for r in dec.collect()}
    l = {r["c_custkey"]: r["n_orders"] for r in loop.collect()}
    assert d == l


def test_multi_agg_fused_single_scan(catalog, spark):
    """The aggs extension must produce ONE scan of the task source and
    match the equivalent two-task fold row-for-row."""
    import json
    from elevate_data_pipeline_spark.spec import parse_spec
    from elevate_data_pipeline_spark.plans import compile_pipeline

    fetch = {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"}
    fused = [{
        "fetchId": fetch,
        "tasks": [{"single_process": {
            "input": "stats",
            "query": "SELECT o_custkey, o_orderkey FROM orders",
            "correlate_on": "o_custkey",
            "aggs": [
                {"agg": "count", "agg_on": "o_orderkey", "rename": "n"},
                {"agg": "max", "agg_on": "o_orderkey", "rename": "mx"},
            ],
            "join_on": "c_custkey", "join_type": "left",
        }}],
    }]
    split = [{
        "fetchId": fetch,
        "tasks": [
            {"single_process": {
                "input": "t1", "query": "SELECT o_custkey, o_orderkey FROM orders",
                "correlate_on": "o_custkey", "agg": "count", "agg_on": "o_orderkey",
                "join_on": "c_custkey", "join_type": "left", "rename": "n",
            }},
            {"single_process": {
                "input": "t2", "query": "SELECT o_custkey, o_orderkey FROM orders",
                "correlate_on": "o_custkey", "agg": "max", "agg_on": "o_orderkey",
                "join_on": "c_custkey", "join_type": "left", "rename": "mx",
                "default_on_empty": False,
            }},
        ],
    }]
    (df_fused,) = compile_pipeline(catalog, parse_spec(json.dumps(fused)))
    (df_split,) = compile_pipeline(catalog, parse_spec(json.dumps(split)))

    # count scans via the formatted explain text
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df_fused.explain("formatted")
    n_orders_scans = buf.getvalue().count("orders.parquet]")
    assert n_orders_scans == 1

    a = {tuple(r) for r in df_fused.collect()}
    b = {tuple(r) for r in df_split.collect()}
    assert a == b


def test_load_spec_from_config_table(catalog, spark):
    """S3 config-table scan + A5 first(): spec row selected by
    script_type, three JSON docs parsed, pipeline runs."""
    import json
    from elevate_data_pipeline_spark.spec import load_spec_from_config
    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec.model import SpecError

    input_schema = json.dumps([{
        "tasks": [{"single_process": {
            "input": "counts",
            "query": "SELECT o_orderstatus, o_orderkey FROM orders",
            "agg": "count", "agg_on": "o_orderkey", "groupby": "o_orderstatus",
            "rename": "n", "join_on": "none", "join_type": "none",
        }}],
    }])
    config = spark.createDataFrame(
        [("order_counts", input_schema, None, None),
         ("other", "[]", None, None)],
        "script_type string, input_data_schema string, data_mapping string, output_data_schema string",
    )
    spec = load_spec_from_config(config, "order_counts")
    (df,) = compile_pipeline(catalog, spec)
    assert df.count() > 0
    assert set(df.columns) == {"o_orderstatus", "n"}

    import pytest
    with pytest.raises(SpecError):
        load_spec_from_config(config, "missing_type")


def test_multi_script_pipeline(catalog):
    """One spec, two scripts -> two independent frames."""
    import json
    from elevate_data_pipeline_spark.spec import parse_spec
    from elevate_data_pipeline_spark.plans import compile_pipeline

    spec = parse_spec(json.dumps([
        {"name": "a", "tasks": [{"single_process": {
            "input": "t", "query": "SELECT o_orderstatus, o_orderkey FROM orders",
            "agg": "count", "agg_on": "o_orderkey", "groupby": "o_orderstatus",
            "rename": "n", "join_on": "none", "join_type": "none"}}]},
        {"name": "b", "tasks": [{"single_process": {
            "input": "t", "query": "SELECT c_mktsegment, c_custkey FROM customer",
            "agg": "count", "agg_on": "c_custkey", "groupby": "c_mktsegment",
            "rename": "n", "join_on": "none", "join_type": "none"}}]},
    ]))
    frames = compile_pipeline(catalog, spec)
    assert len(frames) == 2
    assert frames[0].columns == ["o_orderstatus", "n"]
    assert frames[1].columns == ["c_mktsegment", "n"]
    assert frames[0].count() > 0 and frames[1].count() > 0


def test_template_id_query_compat(catalog):
    """S2 ${id} template substitution (compat loop) must equal the
    set-level correlate_on plan."""
    import json
    from elevate_data_pipeline_spark.spec import parse_spec
    from elevate_data_pipeline_spark.plans import compile_pipeline, run_per_id

    fetch = {"query": "SELECT c_custkey FROM customer WHERE c_custkey <= 8", "id": "c_custkey"}
    templated = parse_spec(json.dumps([{
        "fetchId": fetch,
        "tasks": [{"single_process": {
            "input": "t",
            "query": "SELECT o_orderkey FROM orders WHERE o_custkey = ${id}",
            "agg": "count", "agg_on": "o_orderkey",
            "join_on": "c_custkey", "join_type": "left", "rename": "n",
        }}],
    }]))
    set_level = parse_spec(json.dumps([{
        "fetchId": fetch,
        "tasks": [{"single_process": {
            "input": "t",
            "query": "SELECT o_custkey, o_orderkey FROM orders",
            "correlate_on": "o_custkey",
            "agg": "count", "agg_on": "o_orderkey",
            "join_on": "c_custkey", "join_type": "left", "rename": "n",
        }}],
    }]))
    (loop,) = run_per_id(catalog, templated)
    (decorr,) = compile_pipeline(catalog, set_level)
    a = sorted([(r.c_custkey, r.n) for r in loop.collect()])
    b = sorted([(r.c_custkey, r.n) for r in decorr.collect()])
    assert a == b


def test_legacy_join_order_flips_outer_direction(catalog, spark):
    """SURVEY.md §2.8.2: F0/GS fold puts the NEW frame on the left, which
    flips outer-join direction vs the F2 default."""
    import json
    from elevate_data_pipeline_spark.spec import parse_spec
    from elevate_data_pipeline_spark.plans.compiler import compile_script

    spark.createDataFrame([(1, "a"), (2, "b")], "k long, l string") \
        .createOrReplaceTempView("left_t")
    spark.createDataFrame([(2, "x"), (3, "y")], "k long, r string") \
        .createOrReplaceTempView("right_t")
    spec = parse_spec(json.dumps([{
        "tasks": [
            {"single_process": {"input": "a", "query": "SELECT * FROM left_t",
                                "join_on": "none", "join_type": "none"}},
            {"single_process": {"input": "b", "query": "SELECT * FROM right_t",
                                "join_on": "k", "join_type": "left"}},
        ],
    }]))
    f2 = compile_script(catalog, spec.scripts[0])
    f0 = compile_script(catalog, spec.scripts[0], legacy_join_order=True)
    assert sorted(r.k for r in f2.collect()) == [1, 2]  # acc left: keeps left_t keys
    assert sorted(r.k for r in f0.collect()) == [2, 3]  # frame left: keeps right_t keys


def test_where_extension_filters_before_agg(spark, catalog):
    import json

    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec import parse_spec

    spec = parse_spec(
        json.dumps(
            [
                {
                    "tasks": [
                        {
                            "single_process": {
                                "input": "c",
                                "query": "SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders",
                                "where": "o_totalprice > 100000",
                                "agg": "count",
                                "agg_on": "o_orderkey",
                                "groupby": "o_orderstatus",
                                "rename": "n",
                                "join_on": "none",
                                "join_type": "none",
                            }
                        }
                    ]
                }
            ]
        ),
        None,
        None,
    )
    (df,) = compile_pipeline(catalog, spec)
    got = {r.o_orderstatus: r.n for r in df.collect()}
    want = {
        r.o_orderstatus: r.n
        for r in catalog.table("orders")
        .filter("o_totalprice > 100000")
        .groupBy("o_orderstatus")
        .agg(F.count("o_orderkey").alias("n"))
        .collect()
    }
    assert got == want and sum(got.values()) > 0
    # the P5 na.fill(0) layer legally blocks parquet pushdown (filtering
    # below the fill would change null semantics), so the optimum is the
    # Filter sitting directly above the scan — pin that shape
    import contextlib, io, re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    filt = re.search(r"\((\d+)\) Filter", plan)
    scan = re.search(r"\((\d+)\) Scan parquet", plan)
    assert filt and scan and "100000" in plan
    # the filter sits between the scan and the aggregate (ids are
    # post-order: scan < filter < agg), i.e. rows drop before shuffling
    aggs = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert int(scan.group(1)) < int(filt.group(1)) < min(aggs)


def test_having_extension_post_aggregate(spark, catalog):
    import json

    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec import parse_spec

    spec = parse_spec(
        json.dumps(
            [
                {
                    "tasks": [
                        {
                            "single_process": {
                                "input": "c",
                                "query": "SELECT o_orderstatus, o_orderkey FROM orders",
                                "agg": "count",
                                "agg_on": "o_orderkey",
                                "groupby": "o_orderstatus",
                                "rename": "n",
                                "having": "n > 50",
                                "join_on": "none",
                                "join_type": "none",
                            }
                        }
                    ]
                }
            ]
        ),
        None,
        None,
    )
    (df,) = compile_pipeline(catalog, spec)
    got = {r.o_orderstatus: r.n for r in df.collect()}
    want = {
        r.o_orderstatus: r.n
        for r in catalog.table("orders")
        .groupBy("o_orderstatus")
        .agg(F.count("o_orderkey").alias("n"))
        .filter("n > 50")
        .collect()
    }
    assert got == want and all(n > 50 for n in got.values()) and got


def test_order_limit_extension_topn(spark, catalog):
    import json

    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec import parse_spec

    spec = parse_spec(
        json.dumps(
            [
                {
                    "tasks": [
                        {
                            "single_process": {
                                "input": "c",
                                "query": "SELECT o_orderpriority, o_orderkey FROM orders",
                                "agg": "count",
                                "agg_on": "o_orderkey",
                                "groupby": "o_orderpriority",
                                "rename": "n",
                                "order_by": ["n desc", "o_orderpriority"],
                                "limit": 3,
                                "join_on": "none",
                                "join_type": "none",
                            }
                        }
                    ]
                }
            ]
        ),
        None,
        None,
    )
    (df,) = compile_pipeline(catalog, spec)
    got = [(r.o_orderpriority, r.n) for r in df.collect()]
    want = [
        (r.o_orderpriority, r.n)
        for r in catalog.table("orders")
        .groupBy("o_orderpriority")
        .agg(F.count("o_orderkey").alias("n"))
        .orderBy(F.col("n").desc(), F.col("o_orderpriority"))
        .limit(3)
        .collect()
    ]
    assert got == want and len(got) == 3
    # order_by + limit must plan TakeOrderedAndProject (per-partition
    # top-N + single merge), never a global Sort + Limit materialization
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan


def test_order_limit_validation():
    import json

    from elevate_data_pipeline_spark.spec import parse_spec

    def single(**extra):
        base = {
            "input": "c",
            "query": "SELECT o_orderkey FROM orders",
            "join_on": "none",
            "join_type": "none",
        }
        base.update(extra)
        return json.dumps([{"tasks": [{"single_process": base}]}])

    with pytest.raises(SpecError):  # malformed direction
        parse_spec(single(order_by=["n sideways"]), None, None)
    with pytest.raises(SpecError):  # expression injection rejected
        parse_spec(single(order_by=["n; drop"]), None, None)
    with pytest.raises(SpecError):  # non-positive limit
        parse_spec(single(limit=0), None, None)
    with pytest.raises(SpecError):  # correlated top-N is a window concern
        parse_spec(
            single(order_by=["n"], limit=2, correlate_on="o_custkey"),
            None,
            None,
        )
    # bare limit without order_by is legal (LIMIT-sample semantics)
    parse_spec(single(limit=5), None, None)


def test_window_block_rolling_and_topn(spark, catalog):
    """Spec-language window extension: rolling sum + rank + top-N in one
    declarative block compile to one Window chain, matching a
    hand-written DataFrame equivalent row for row."""
    import json

    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec import parse_spec
    from pyspark.sql.window import Window

    spec = parse_spec(
        json.dumps(
            [
                {
                    "tasks": [
                        {
                            "single_process": {
                                "input": "w",
                                "query": (
                                    "SELECT o_custkey, o_orderkey, o_totalprice "
                                    "FROM orders WHERE o_custkey < 20"
                                ),
                                "window": {
                                    "partition_by": ["o_custkey"],
                                    "order_by": ["o_orderkey"],
                                    "select": [
                                        {"fn": "row_number", "as": "rn"},
                                        {
                                            "fn": "sum",
                                            "col": "o_totalprice",
                                            "as": "run_sum",
                                            "rows_preceding": 2,
                                        },
                                        {
                                            "fn": "lead",
                                            "col": "o_orderkey",
                                            "as": "next_key",
                                            "offset": 1,
                                        },
                                    ],
                                    "top_n": 4,
                                },
                                "join_on": "none",
                                "join_type": "none",
                            }
                        }
                    ]
                }
            ]
        ),
        None,
        None,
    )
    (df,) = compile_pipeline(catalog, spec)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    want_df = (
        catalog.table("orders")
        .filter("o_custkey < 20")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "run_sum",
            F.sum("o_totalprice").over(w.rowsBetween(-2, Window.currentRow)),
        )
        .withColumn("next_key", F.lead("o_orderkey", 1).over(w))
        .filter(F.col("rn") <= 4)
    )
    key = lambda r: (r.o_custkey, r.o_orderkey)
    assert sorted(df.collect(), key=key) == sorted(want_df.collect(), key=key)


def test_window_block_validation():
    import json

    from elevate_data_pipeline_spark.spec import parse_spec

    def single(window):
        base = {
            "input": "w",
            "query": "SELECT o_orderkey FROM orders",
            "join_on": "none",
            "join_type": "none",
            "window": window,
        }
        return json.dumps([{"tasks": [{"single_process": base}]}])

    with pytest.raises(SpecError):  # no partition key
        parse_spec(single({"partition_by": [], "top_n": 3,
                           "order_by": ["o_orderkey"]}), None, None)
    with pytest.raises(SpecError):  # ranking without order_by
        parse_spec(single({"partition_by": ["o_custkey"],
                           "select": [{"fn": "row_number", "as": "rn"}]}),
                   None, None)
    with pytest.raises(SpecError):  # fn not in allowlist
        parse_spec(single({"partition_by": ["o_custkey"],
                           "order_by": ["o_orderkey"],
                           "select": [{"fn": "expr", "as": "x",
                                       "col": "o_orderkey"}]}), None, None)
    with pytest.raises(SpecError):  # injection in partition key
        parse_spec(single({"partition_by": ["o_custkey; drop"],
                           "order_by": ["o_orderkey"], "top_n": 1}),
                   None, None)
    with pytest.raises(SpecError):  # empty block
        parse_spec(single({"partition_by": ["o_custkey"]}), None, None)
    with pytest.raises(SpecError):  # lag needs a column
        parse_spec(single({"partition_by": ["o_custkey"],
                           "order_by": ["o_orderkey"],
                           "select": [{"fn": "lag", "as": "x"}]}), None, None)
    with pytest.raises(SpecError):  # typo'd window key must fail, not drop
        parse_spec(single({"partition_by": ["o_custkey"],
                           "order_by": ["o_orderkey"], "topn": 3}), None, None)
    with pytest.raises(SpecError):  # typo'd fn key must fail, not drop
        parse_spec(single({"partition_by": ["o_custkey"],
                           "order_by": ["o_orderkey"],
                           "select": [{"fn": "lag", "as": "x",
                                       "column": "o_orderkey"}]}), None, None)


def test_template_id_injection_guarded(catalog, spark):
    """SURVEY.md §2.8.5: the reference splices ${id} values into SQL raw;
    the compat loop validates them — a value that could escape the
    literal context refuses instead of executing."""
    import pytest

    from elevate_data_pipeline_spark.plans.compat import _safe_id
    from elevate_data_pipeline_spark.spec.model import SpecError

    assert _safe_id(42) == "42"
    assert _safe_id("BUILDING") == "BUILDING"
    for evil in ("1 OR 1=1", "x'; DROP TABLE orders; --", "a b", ""):
        with pytest.raises(SpecError, match="unsafe|unsupported"):
            _safe_id(evil)


def test_join_type_passthrough_inner_and_semi(catalog, spark):
    """The compiler hands join_type straight to Spark, so the full join
    family works from specs: inner drops fetch-ids with no orders,
    left_semi keeps only matching ids WITHOUT attaching columns."""
    import json

    from elevate_data_pipeline_spark.plans import compile_pipeline
    from elevate_data_pipeline_spark.spec import parse_spec

    def spec_for(join_type):
        return json.dumps(
            [
                {
                    "name": "r",
                    "fetchId": {
                        "query": "SELECT c_custkey FROM customer",
                        "id": "c_custkey",
                    },
                    "tasks": [
                        {
                            "single_process": {
                                "input": "t",
                                "query": "SELECT o_custkey, o_orderkey FROM orders",
                                "correlate_on": "o_custkey",
                                "agg": "count",
                                "agg_on": "o_orderkey",
                                "join_on": "c_custkey",
                                "join_type": join_type,
                                "rename": "n_orders",
                            }
                        }
                    ],
                }
            ]
        )

    customers = catalog.table("customer").count()
    with_orders = (
        catalog.table("orders").select("o_custkey").distinct().count()
    )

    (inner,) = compile_pipeline(catalog, parse_spec(spec_for("inner"), None, None))
    assert inner.count() == with_orders <= customers

    (semi,) = compile_pipeline(
        catalog, parse_spec(spec_for("left_semi"), None, None)
    )
    # S4 defaults give every fetch id a frame row, so semi keeps all ids
    # — but it must attach NO columns (the lazy-default shortcut may not
    # swallow semi/anti into a column-attaching left join)
    assert semi.count() == customers
    assert semi.columns == ["c_custkey"]


EXAMPLES = sorted(
    glob.glob(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "examples", "*.json"))
)


@pytest.mark.parametrize("legacy", [False, True], ids=["f2_order", "legacy_order"])
@pytest.mark.parametrize("path", EXAMPLES, ids=os.path.basename)
def test_compile_launches_no_spark_jobs(spark, catalog, path, legacy):
    """Compiling only builds a plan: no Spark job may run until the
    caller acts on the returned frames. Both fold orders are covered;
    the legacy order is the one that runs real fold joins."""
    with open(path) as f:
        doc = json.load(f)
    spec = parse_spec(
        doc.get("input_data_schema", []),
        doc.get("data_mapping"),
        doc.get("output_data_schema"),
    )
    sc = spark.sparkContext
    group = f"compile-{os.path.basename(path)}-{legacy}"
    sc.setJobGroup(group, group)
    try:
        frames = compile_pipeline(catalog, spec, legacy_join_order=legacy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert frames
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
