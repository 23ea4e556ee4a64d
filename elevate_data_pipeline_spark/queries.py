"""Query registry — the engine's headline queries with DuckDB oracles.

Every entry pairs a Spark implementation (``QUERIES[name]``, callable
``(spark, sf_dir) -> DataFrame``) with an equivalent ANSI-SQL string
(``ORACLES[name]``) that DuckDB runs on the same parquet tables. The
driver hash-compares the two at sf0.01 (row-count + schema +
order-insensitive value hash), so results must be *bitwise* identical:

- sums over doubles are decimal-cast before aggregation (exact decimal
  arithmetic on both engines, independent of partition/summation order),
  then cast back to double for a clean output schema;
- products (revenue = price * (1-discount) * (1+tax)) cast each FACTOR
  to decimal before multiplying — casting the double *product* rounds at
  the precision edge where Spark (HALF_UP) and DuckDB disagree by 1 ulp;
  the factors are 2dp values whose double representation casts
  unambiguously;
- ratios are derived from those exact decimals with a single IEEE double
  division (deterministic on both engines);
- ``F.round`` (Java HALF_UP over shortest-repr) is never compared against
  DuckDB ``round`` except where the value is exactly representable.

Reference parity: the ``spec_*`` entries run through the spec engine
(spec JSON -> plans.compiler) and cover the reference operator inventory
SURVEY.md §2 — fetchId decorrelation (J4), join fold (J1/J2), dispatch
(J3), nested rollup (J5/A2/U1), dynamic aggregates (A1), default rows
(S4), data mapping (A3), output mapping (P1/P2/P6).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.util import epoch_us
from .sources.catalog import Catalog
from .sources.local import local_frame
from .spec import parse_spec
from .plans import compile_pipeline, run_per_id

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def wrap(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def _spec_df(spark: SparkSession, sf_dir: str, input_schema, mapping=None, output=None) -> DataFrame:
    spec = parse_spec(
        json.dumps(input_schema),
        json.dumps(mapping) if mapping else None,
        json.dumps(output) if output else None,
    )
    (df,) = compile_pipeline(Catalog(spark, sf_dir), spec)
    return df


# --------------------------------------------------------------------------
# Reference surface via the spec engine (SURVEY.md §2)
# --------------------------------------------------------------------------


@query(
    "spec_fetchid_order_count",
    """
    SELECT c.c_custkey AS c_custkey, count(o.o_orderkey) AS total_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey
    """,
)
def spec_fetchid_order_count(spark, sf_dir):
    """J4 decorrelated fetchId + A1 count + S4 default row + J1/J2 fold."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {
                    "query": "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
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
                    }
                ],
            }
        ],
    ).withColumn("total_orders", F.col("total_orders").cast("long"))


@query(
    "spec_compat_param_scan",
    """
    SELECT r.r_regionkey AS r_regionkey,
           CAST(count(n.n_nationkey) AS BIGINT) AS n_nations
    FROM region r LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_regionkey
    """,
)
def spec_compat_param_scan(spark, sf_dir):
    """S2 under the DRIVER GATE: the reference's per-ID compat loop
    with ``${id}`` template substitution (mentoringFunction2.scala:158;
    injection-guarded per SURVEY.md §2.8.5) run as a registry query —
    the fetchId list is the 5-row region table, so the deliberate
    O(|ids|) driver loop is bounded by construction (5 jobs), each
    per-ID frame is the templated scan + count + S4 default row, and
    the union replays the decorrelated plan's answer exactly. This is
    compat/A-B tooling surfaced for correctness coverage, NEVER the
    scale path — ``compile_pipeline`` is (see plans/compat.py)."""
    spec = parse_spec(
        json.dumps([{
            "fetchId": {
                "query": "SELECT r_regionkey FROM region",
                "id": "r_regionkey",
            },
            "tasks": [{
                "single_process": {
                    "input": "t",
                    "query": (
                        "SELECT n_nationkey FROM nation"
                        " WHERE n_regionkey = ${id}"
                    ),
                    "agg": "count", "agg_on": "n_nationkey",
                    "join_on": "r_regionkey", "join_type": "left",
                    "rename": "n_nations",
                }
            }],
        }]),
        None,
        None,
    )
    (df,) = run_per_id(Catalog(spark, sf_dir), spec)
    return df.withColumn("n_nations", F.col("n_nations").cast("long"))


@query(
    "spec_join_fold",
    """
    WITH n AS (SELECT o_custkey, count(o_orderkey) AS n_orders FROM orders GROUP BY o_custkey),
         v AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_value
               FROM orders GROUP BY o_custkey)
    SELECT c.c_custkey AS c_custkey,
           coalesce(n.n_orders, 0) AS n_orders,
           CAST(coalesce(v.total_value, 0) AS DOUBLE) AS total_value
    FROM customer c
    LEFT JOIN n ON n.o_custkey = c.c_custkey
    LEFT JOIN v ON v.o_custkey = c.c_custkey
    """,
)
def spec_join_fold(spark, sf_dir):
    """J2 multi-task fold: two correlated aggregates joined on the ID."""
    df = _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"},
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
                            "rename": "n_orders",
                        }
                    },
                    {
                        "single_process": {
                            "input": "order_value",
                            "query": "SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice FROM orders",
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
        ],
    )
    return df.select(
        "c_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_value").cast("double").alias("total_value"),
    )


@query(
    "spec_nested_rollup",
    """
    WITH per_order AS (
      SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
    ), per_cust AS (
      SELECT o.o_custkey, sum(p.total_qty) AS total_qty
      FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey AS c_custkey,
           CAST(coalesce(p.total_qty, 0) AS DOUBLE) AS total_qty
    FROM customer c LEFT JOIN per_cust p ON p.o_custkey = c.c_custkey
    """,
)
def spec_nested_rollup(spark, sf_dir):
    """J5 fetchID_with_InputID + A2 rollup + U1 union, as two-level join."""
    df = _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"},
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
                                    "query": "SELECT l_orderkey, CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity FROM lineitem",
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
        ],
    )
    return df.select("c_custkey", F.col("total_qty").cast("double").alias("total_qty"))


@query(
    "spec_dynamic_agg_count",
    """
    SELECT l_returnflag AS l_returnflag, count(l_orderkey) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def spec_dynamic_agg_count(spark, sf_dir):
    """A1 dynamic aggregate name from the spec: count."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "counts",
                            "query": "SELECT l_returnflag, l_orderkey FROM lineitem",
                            "agg": "count",
                            "agg_on": "l_orderkey",
                            "groupby": "l_returnflag",
                            "rename": "n_items",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
    )


@query(
    "spec_dynamic_agg_sum",
    """
    SELECT l_returnflag AS l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def spec_dynamic_agg_sum(spark, sf_dir):
    """A1 dynamic aggregate name from the spec: sum (decimal-exact)."""
    df = _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "sums",
                            "query": "SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity FROM lineitem",
                            "agg": "sum",
                            "agg_on": "l_quantity",
                            "groupby": "l_returnflag",
                            "rename": "sum_qty",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
    )
    return df.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@query(
    "spec_config_table_run",
    """
    SELECT o_orderstatus AS o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           count(o_orderkey) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def spec_config_table_run(spark, sf_dir):
    """S3 + A5 under the DRIVER GATE: the spec arrives the way the
    reference receives it — as a CONFIG-TABLE row (script_type + the
    three JSON documents; task/mentoringExecution2.scala:19,28 selects
    the row, :34-36 pulls the documents with ``.first()``, the A5
    scalar extraction). The config frame here is in-memory (any
    DataFrame works: parquet/JDBC identical), carries a decoy row to
    prove the script_type filter selects, and the loaded spec compiles
    through the normal decorrelated path. The config read is one
    1-row ``.first()`` — bounded by definition; the compiled query is
    the usual scan+agg shape."""
    from .spec.config import load_spec_from_config

    spec_json = json.dumps([{
        "tasks": [
            {
                "single_process": {
                    "input": "v",
                    "query": (
                        "SELECT o_orderstatus, CAST(o_totalprice AS"
                        " DECIMAL(18,2)) AS o_totalprice, o_orderkey"
                        " FROM orders"
                    ),
                    "aggs": [
                        {"agg": "sum", "agg_on": "o_totalprice",
                         "rename": "total_value"},
                        {"agg": "count", "agg_on": "o_orderkey",
                         "rename": "n_orders"},
                    ],
                    "groupby": "o_orderstatus",
                    "join_on": "none",
                    "join_type": "none",
                }
            }
        ]
    }])
    config = local_frame(
        spark,
        [
            ("decoy", "[]", None, None),
            ("mentoring", spec_json, None, None),
        ],
        "script_type string, input_data_schema string,"
        " data_mapping string, output_data_schema string",
    )
    spec = load_spec_from_config(config, "mentoring")
    (df,) = compile_pipeline(Catalog(spark, sf_dir), spec)
    return df.withColumn("total_value", F.col("total_value").cast("double"))


@query(
    "spec_where_filter",
    """
    SELECT l_returnflag AS l_returnflag, count(l_orderkey) AS n_items
    FROM lineitem WHERE l_quantity > 25 AND l_discount < 0.05
    GROUP BY l_returnflag
    """,
)
def spec_where_filter(spark, sf_dir):
    """Engine-extension ``where``: a declarative predicate between the
    scan and the aggregate (the reference can only filter by editing the
    task's SQL string). The P5 fill(0) layer legally blocks parquet
    pushdown, so the filter evaluates directly above the scan — the
    earliest semantics-preserving position."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "counts",
                            "query": "SELECT l_returnflag, l_orderkey, l_quantity, l_discount FROM lineitem",
                            "where": "l_quantity > 25 AND l_discount < 0.05",
                            "agg": "count",
                            "agg_on": "l_orderkey",
                            "groupby": "l_returnflag",
                            "rename": "n_items",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
    )


@query(
    "spec_topn_priorities",
    """
    SELECT o_orderpriority AS o_orderpriority, count(o_orderkey) AS n
    FROM orders GROUP BY o_orderpriority
    ORDER BY n DESC, o_orderpriority LIMIT 3
    """,
)
def spec_topn_priorities(spark, sf_dir):
    """Engine-extension ``order_by``/``limit``: declarative top-N over an
    uncorrelated aggregate. Spark plans TakeOrderedAndProject — each
    partition keeps its local top-3 and one merge finishes, so the sort
    never materializes globally (the tie-break on the group key keeps the
    cut deterministic)."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "top_priorities",
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
        ],
    )


@query(
    "spec_window_topn",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn, prev_price FROM (
      SELECT c.c_mktsegment AS c_mktsegment, o.o_orderkey AS o_orderkey,
             o.o_totalprice AS o_totalprice,
             CAST(row_number() OVER w AS INT) AS rn,
             lag(o.o_totalprice, 1) OVER w AS prev_price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WINDOW w AS (PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey)
    ) WHERE rn <= 3
    """,
)
def spec_window_topn(spark, sf_dir):
    """Engine-extension ``window`` block in the SPEC LANGUAGE: "top 3
    orders per market segment, with the previous order's price" —
    declarative partition_by / order_by / ranking + lag columns / top_n,
    the per-partition ask the reference's task language cannot express
    (its tasks are scan + one aggregate). One hash exchange on the
    partition key serves the ranking, the lag, and the top-N filter;
    Spark executes the row_number predicate with WindowGroupLimit
    (per-partition group limit, no global sort)."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "window_topn",
                            "query": (
                                "SELECT c_mktsegment, o_orderkey, o_totalprice "
                                "FROM orders JOIN customer "
                                "ON c_custkey = o_custkey"
                            ),
                            "window": {
                                "partition_by": ["c_mktsegment"],
                                "order_by": ["o_totalprice desc", "o_orderkey"],
                                "select": [
                                    {"fn": "row_number", "as": "rn"},
                                    {
                                        "fn": "lag",
                                        "col": "o_totalprice",
                                        "as": "prev_price",
                                        "offset": 1,
                                    },
                                ],
                                "top_n": 3,
                            },
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
    )


@query(
    "spec_having_filter",
    """
    SELECT l_returnflag AS l_returnflag, count(l_orderkey) AS n_items
    FROM lineitem GROUP BY l_returnflag
    HAVING count(l_orderkey) > 100
    """,
)
def spec_having_filter(spark, sf_dir):
    """Engine-extension ``having``: post-aggregate predicate over the
    renamed aggregate outputs. With S4 default rows, a correlated ID
    failing the predicate coalesces back to the default — absent and
    filtered are the same observable state."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "counts",
                            "query": "SELECT l_returnflag, l_orderkey FROM lineitem",
                            "agg": "count",
                            "agg_on": "l_orderkey",
                            "groupby": "l_returnflag",
                            "rename": "n_items",
                            "having": "n_items > 100",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
    )


@query(
    "spec_dynamic_agg_minmax",
    """
    SELECT l_returnflag AS l_returnflag, min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def spec_dynamic_agg_minmax(spark, sf_dir):
    """A1 min + max folded by J2 (two tasks joined on the group key)."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "mins",
                            "query": "SELECT l_returnflag, l_extendedprice FROM lineitem",
                            "agg": "min",
                            "agg_on": "l_extendedprice",
                            "groupby": "l_returnflag",
                            "rename": "min_price",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    },
                    {
                        "single_process": {
                            "input": "maxs",
                            "query": "SELECT l_returnflag, l_extendedprice FROM lineitem",
                            "agg": "max",
                            "agg_on": "l_extendedprice",
                            "groupby": "l_returnflag",
                            "rename": "max_price",
                            "join_on": "l_returnflag",
                            "join_type": "inner",
                        }
                    },
                ]
            }
        ],
    )


@query(
    "spec_data_mapping_average",
    """
    WITH a AS (SELECT o_custkey, count(o_orderkey) AS n_orders FROM orders GROUP BY o_custkey),
         b AS (SELECT o_custkey, count(o_orderkey) AS n_open FROM orders
               WHERE o_orderstatus = 'O' GROUP BY o_custkey)
    SELECT c.c_custkey AS c_custkey,
           coalesce(a.n_orders, 0) AS n_orders,
           coalesce(b.n_open, 0) AS n_open,
           (coalesce(a.n_orders, 0) + coalesce(b.n_open, 0)) / 2.0 AS avg_activity
    FROM customer c
    LEFT JOIN a ON a.o_custkey = c.c_custkey
    LEFT JOIN b ON b.o_custkey = c.c_custkey
    """,
)
def spec_data_mapping_average(spark, sf_dir):
    """A3 data_mapping row-wise average (integer inputs => exact halves,
    so rounding is the identity on both engines)."""
    df = _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"},
                "tasks": [
                    {
                        "single_process": {
                            "input": "all_orders",
                            "query": "SELECT o_custkey, o_orderkey FROM orders",
                            "correlate_on": "o_custkey",
                            "agg": "count",
                            "agg_on": "o_orderkey",
                            "join_on": "c_custkey",
                            "join_type": "left",
                            "rename": "n_orders",
                        }
                    },
                    {
                        "single_process": {
                            "input": "open_orders",
                            "query": "SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'O'",
                            "correlate_on": "o_custkey",
                            "agg": "count",
                            "agg_on": "o_orderkey",
                            "join_on": "c_custkey",
                            "join_type": "left",
                            "rename": "n_open",
                        }
                    },
                ],
            }
        ],
        mapping={
            "avg_activity": {
                "aggregation": {"agg_type": "average", "column_name": ["n_orders", "n_open"]}
            }
        },
    )
    return df.select(
        "c_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_open").cast("long").alias("n_open"),
        "avg_activity",
    )


@query(
    "spec_output_mapping",
    """
    SELECT c_custkey AS customer_id,
           concat(c_name, ', ', c_mktsegment) AS tags_csv
    FROM customer
    """,
)
def spec_output_mapping(spark, sf_dir):
    """P1/P2/P6 output mapping: projection, type gate, array->csv flatten,
    rename (reference outputMappingProcess)."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "tasks": [
                    {
                        "single_process": {
                            "input": "custs",
                            "query": "SELECT c_custkey, array(c_name, c_mktsegment) AS tags FROM customer",
                            "join_on": "none",
                            "join_type": "none",
                        }
                    }
                ]
            }
        ],
        output={
            "c_custkey": {"Input_data_type": "LongType", "rename": "customer_id"},
            "tags": {"Input_data_type": "ArrayType(StringType,true)", "rename": "tags_csv"},
        },
    )


@query(
    "union_fold",
    """
    SELECT o_orderpriority AS o_orderpriority, count(o_orderkey) AS n
    FROM (
      SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderkey, NULL AS o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    ) GROUP BY o_orderpriority
    """,
)
def union_fold(spark, sf_dir):
    """U1 fixed: unionByName(allowMissingColumns) instead of the
    reference's positional unionAll (mentoringFunction1.scala:364)."""
    cat = Catalog(spark, sf_dir)
    orders = cat.table("orders")
    f1 = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderpriority")
    f2 = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    u = f1.unionByName(f2, allowMissingColumns=True)
    return u.groupBy("o_orderpriority").agg(F.count("o_orderkey").alias("n"))


# --------------------------------------------------------------------------
# TPC-H-style headline queries (bench + correctness)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag AS l_returnflag, l_linestatus AS l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    li = Catalog(spark, sf_dir).table("lineitem")
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(4,2)")
    dec_tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = dec2("l_extendedprice") * (F.lit(1) - dec_disc)
    charge = dec2("l_extendedprice") * (F.lit(1) - dec_disc) * (F.lit(1) + dec_tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec2("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec2("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec2("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = cat.table("orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    l = cat.table("lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    # join FIRST here: the customer-segment + date predicates drop ~80% of
    # orders, so pre-aggregating lineitem would sum rows the join discards
    # (measured 1.7x slower than join-first; contrast q18, where the
    # aggregate feeds a HAVING cut and pushdown wins)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    c, o, l = cat.table("customer"), cat.table("orders"), cat.table("lineitem")
    s, n, r = cat.table("supplier"), cat.table("nation"), cat.table("region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    li = Catalog(spark, sf_dir).table("lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(4,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority AS o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1993-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1993-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """Left-semi join (EXISTS decorrelation — Catalyst plans it as
    LeftSemi without materializing the subquery)."""
    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1993-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1993-10-01").cast("timestamp"))
    )
    late = cat.table("lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q16_no_order_suppliers",
    """
    SELECT count(*) AS n_idle_suppliers
    FROM supplier s
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
                      AND l.l_shipdate >= TIMESTAMP '1998-06-01 00:00:00')
    """,
)
def q16_no_order_suppliers(spark, sf_dir):
    """Left-anti join (NOT EXISTS)."""
    cat = Catalog(spark, sf_dir)
    s = cat.table("supplier")
    recent = cat.table("lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp")
    )
    return (
        s.join(recent, s.s_suppkey == recent.l_suppkey, "left_anti")
        .agg(F.count("*").alias("n_idle_suppliers"))
    )


@query(
    "q18_large_orders",
    """
    SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 300
    """,
)
def q18_large_orders(spark, sf_dir):
    """Aggregate + HAVING (post-aggregation filter). The aggregate runs
    BELOW the join (o_orderkey determines the group), and the HAVING cut
    runs before the join too — only qualifying orders are joined."""
    cat = Catalog(spark, sf_dir)
    o, l = cat.table("orders"), cat.table("lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_q"))
        .filter(F.col("_q") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey", "o_custkey", F.col("_q").cast("double").alias("total_qty")
        )
    )


@query(
    "topk_orders_per_segment",
    """
    SELECT c_mktsegment AS c_mktsegment, o_orderkey AS o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(rn AS INT) AS rank
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ) WHERE rn <= 5
    """,
)
def topk_orders_per_segment(spark, sf_dir):
    """Per-group top-k. The market-segment key has FIVE values, so a
    ``row_number() OVER (PARTITION BY segment)`` window would drag 20%
    of all orders through one task; operators/rank.grouped_row_number
    range-partitions over (segment, -price, key) instead, spreading each
    segment across partitions with broadcast per-(partition, segment)
    offsets."""
    from .operators.rank import grouped_row_number

    cat = Catalog(spark, sf_dir)
    o, c = cat.table("orders"), cat.table("customer")
    joined = (
        o.join(c, c.c_custkey == o.o_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("_negp", -F.col("o_totalprice"))
    )
    ranked = grouped_row_number(
        joined, "c_mktsegment", ["_negp", "o_orderkey"], out_col="rank"
    )
    return (
        ranked.filter(F.col("rank") <= 5)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


@query(
    "events_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
           event_type AS event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark, sf_dir):
    """Batch twin of the streaming hourly rollup — calls the SAME
    ``streaming.hourly_rollup`` plan the stream runs (withWatermark is a
    no-op on batch frames), so a regression in that shared code surfaces
    in the driver's DuckDB gate, not only in pytest."""
    from .streaming import hourly_rollup

    ev = Catalog(spark, sf_dir).table("events")
    return hourly_rollup(ev)


@query(
    "spec_correlated_groupby",
    """
    SELECT c.c_custkey AS c_custkey, o.o_orderstatus AS o_orderstatus,
           count(o.o_orderkey) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
    GROUP BY c.c_custkey, o.o_orderstatus
    """,
)
def spec_correlated_groupby(spark, sf_dir):
    """Correlated task WITH a groupby: the per-ID frame has one row per
    (id, group) — the fold join fans the accumulator out accordingly
    (reference A1 with groupby, mentoringFunction0.scala:120-124)."""
    return _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {
                    "query": "SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'",
                    "id": "c_custkey",
                },
                "tasks": [
                    {
                        "single_process": {
                            "input": "status_counts",
                            "query": "SELECT o_custkey, o_orderstatus, o_orderkey FROM orders",
                            "correlate_on": "o_custkey",
                            "agg": "count",
                            "agg_on": "o_orderkey",
                            "groupby": "o_orderstatus",
                            "join_on": "c_custkey",
                            "join_type": "inner",
                            "rename": "n_orders",
                        }
                    }
                ],
            }
        ],
    )


@query(
    "spec_multi_agg_fused",
    """
    WITH a AS (
      SELECT o_custkey, count(o_orderkey) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             max(o_orderpriority) AS max_priority
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey AS c_custkey,
           coalesce(a.n_orders, 0) AS n_orders,
           CAST(coalesce(a.total_value, 0) AS DOUBLE) AS total_value,
           a.max_priority AS max_priority
    FROM customer c LEFT JOIN a ON a.o_custkey = c.c_custkey
    """,
)
def spec_multi_agg_fused(spark, sf_dir):
    """Engine extension: N aggregates over ONE scan via the task's
    ``aggs`` list — the fused form of spec_join_fold (which needs one
    scan + shuffle of orders per aggregate, reference J2 semantics)."""
    df = _spec_df(
        spark,
        sf_dir,
        [
            {
                "fetchId": {"query": "SELECT c_custkey FROM customer", "id": "c_custkey"},
                "tasks": [
                    {
                        "single_process": {
                            "input": "order_stats",
                            "query": "SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, o_orderpriority FROM orders",
                            "correlate_on": "o_custkey",
                            "aggs": [
                                {"agg": "count", "agg_on": "o_orderkey", "rename": "n_orders"},
                                {"agg": "sum", "agg_on": "o_totalprice", "rename": "total_value"},
                                {"agg": "max", "agg_on": "o_orderpriority", "rename": "max_priority"},
                            ],
                            "join_on": "c_custkey",
                            "join_type": "left",
                        }
                    }
                ],
            }
        ],
    )
    return df.select(
        "c_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("total_value").cast("double").alias("total_value"),
        "max_priority",
    )


@query(
    "events_json_props",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def events_json_props(spark, sf_dir):
    """Semi-structured props: JSON path extraction feeding an aggregate
    (JVM-side get_json_object — no UDF)."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


@query(
    "events_value_percentiles",
    """
    SELECT event_type AS event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type
    """,
)
def events_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark percentile ==
    DuckDB quantile_cont: both linear-interpolate on the sorted set)."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )


@query(
    "events_rollup",
    """
    SELECT event_type AS event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
           count(*) AS n
    FROM events
    GROUP BY ROLLUP (event_type, CAST(date_trunc('day', ts) AS TIMESTAMP))
    """,
)
def events_rollup(spark, sf_dir):
    """Hierarchical grouping sets (type, day) -> (type) -> () via ROLLUP."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.select(
            "event_type", F.date_trunc("day", "ts").alias("day_ts")
        )
        .rollup("event_type", "day_ts")
        .agg(F.count("*").alias("n"))
    )


@query(
    "orders_priority_sets",
    """
    SELECT o_orderstatus AS o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
             AS priorities,
           count(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def orders_priority_sets(spark, sf_dir):
    """Distinct-set aggregation: sorted collect_set + count(distinct).

    The set is serialized to a comma-joined string (not array<string>):
    the driver's pandas canonicalizer hashes scalar cells only.
    """
    o = Catalog(spark, sf_dir).table("orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query(
    "orders_running_total",
    """
    SELECT o_custkey AS o_custkey, o_orderkey AS o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey < 100
    """,
)
def orders_running_total(spark, sf_dir):
    """Cumulative window aggregate per customer in order-date order."""
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@query(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS brk
      FROM events
    ), s AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id AS user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sess
    """,
)
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min), islands-and-gaps window plan;
    the streaming module runs the same semantics via
    applyInPandasWithState (streaming/events.py)."""
    from .streaming import sessionize_batch

    ev = Catalog(spark, sf_dir).table("events")
    return sessionize_batch(ev, gap_minutes=30)


@query(
    "stream_sessionize_native",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS brk
      FROM events
    ), s AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id AS user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sess
    """,
)
def stream_sessionize_native(spark, sf_dir):
    """Batch twin of the built-in ``session_window`` streaming path —
    the exact code ``sessionize_native`` runs under readStream. Oracle:
    islands-and-gaps with the half-open window bound
    (``session_end = last event + gap``, the built-in's semantics)."""
    from .streaming.events import sessionize_native

    ev = Catalog(spark, sf_dir).table("events")
    return sessionize_native(ev, gap_minutes=30)


@query(
    "stream_dedup_twin",
    """
    SELECT DISTINCT user_id AS user_id, event_type AS event_type
    FROM events
    """,
)
def stream_dedup_twin(spark, sf_dir):
    """Batch twin of ``dedup_stream`` (dropDuplicatesWithinWatermark on
    a stream, plain dropDuplicates on batch). Projected to the key
    columns so the kept-row choice is deterministic and hashable."""
    from .streaming import dedup_stream

    ev = Catalog(spark, sf_dir).table("events")
    return dedup_stream(ev, keys=["user_id", "event_type"]).select(
        "user_id", "event_type"
    )


@query(
    "stream_state_twin",
    """
    SELECT user_id, event_type, last_value, last_event_id, n_events
    FROM (
      SELECT user_id, event_type, value AS last_value,
             event_id AS last_event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_state_twin(spark, sf_dir):
    """Batch twin of the streaming CDC materialized view
    (``streaming.latest_state``): latest (value, event_id) per
    (user_id, event_type) via one max-struct aggregate — the exact code
    the stream runs as a stateful aggregation in update mode
    (test_latest_state_stream_equals_batch proves stream == batch)."""
    from .streaming import latest_state

    return latest_state(Catalog(spark, sf_dir).table("events"))


@query(
    "stream_quota_twin",
    """
    SELECT user_id, event_id, value, rank_in_key
    FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rank_in_key
      FROM events
    ) WHERE rank_in_key <= 5
    """,
)
def stream_quota_twin(spark, sf_dir):
    """Batch twin of the streaming per-key quota
    (``streaming.quota_per_key``): first 5 events per user by
    (ts, event_id). The stream enforces the same quota with one int64 of
    GroupState per key (test_quota_stream_equals_batch proves stream ==
    batch over time-ordered ingest files)."""
    from .streaming import quota_per_key

    return quota_per_key(Catalog(spark, sf_dir).table("events"), n=5)


def _stream_hll_oracle() -> str:
    from .operators.sketch import (
        _hll_alpha_const,
        _hll_lc_table,
        hll_hash_sql,
        hll_rho_sql,
    )

    p, m = 6, 64
    wbits = 32 - p
    lc = ", ".join(str(x) for x in _hll_lc_table(p))
    return f"""
    WITH h0 AS (
      SELECT date_trunc('hour', ts) AS hour_ts,
             ({hll_hash_sql("user_id")}) AS h
      FROM events
    ), reg AS (
      SELECT hour_ts, h // {1 << wbits} AS bkt,
             max({hll_rho_sql(f"h % {1 << wbits}", wbits)}) AS m
      FROM h0 GROUP BY hour_ts, bkt
    ), fold AS (
      SELECT hour_ts, count(*) AS present,
             sum((1::BIGINT << (33 - m))) AS sumpow
      FROM reg GROUP BY hour_ts
    ), est AS (
      SELECT hour_ts, CAST({m} - present AS BIGINT) AS zero_regs,
             CAST(floor({_hll_alpha_const(p)!r}
                  / CAST(sumpow + ({m} - present) * (1::BIGINT << 33)
                         AS DOUBLE)) AS BIGINT) AS raw
      FROM fold
    ), ex AS (
      SELECT date_trunc('hour', ts) AS hour_ts,
             count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY hour_ts
    )
    SELECT e.hour_ts AS hour_ts,
           CAST(CASE WHEN e.raw <= {int(2.5 * m)} AND e.zero_regs > 0
                THEN ([{lc}])[e.zero_regs] ELSE e.raw END AS BIGINT)
             AS est_users,
           x.exact_users AS exact_users, e.zero_regs AS zero_regs
    FROM est e JOIN ex x USING (hour_ts)
    """


@query("stream_hll_twin", _stream_hll_oracle())
def stream_hll_twin(spark, sf_dir):
    """Batch twin of the streaming bounded-state distinct sketch
    (``streaming.hourly_distinct_hll``): distinct users per tumbling
    hour from 64 portable-HLL registers — the stream keeps 64 register
    maxima per window instead of every user id, and
    test_hourly_hll_stream_equals_batch proves the stream emits the
    bit-identical register frame. This query folds the registers into
    the small-range-corrected estimate (baked integer ln-table, no
    libm) next to the exact count; every column replays exactly in the
    DuckDB oracle."""
    from .operators.sketch import _hll_alpha_const, _hll_lc_table
    from .streaming import hourly_distinct_hll

    p, m = 6, 64
    regs = hourly_distinct_hll(Catalog(spark, sf_dir).table("events"), p=p)
    fold = regs.groupBy("hour_ts").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(F.expr("shiftleft(1L, 33 - m)")).alias("sumpow"),
    )
    v = (F.lit(m) - F.col("present")).cast("long")
    harmonic = (F.col("sumpow") + v * (1 << 33)).cast("double")
    raw = F.floor(F.lit(_hll_alpha_const(p)) / harmonic).cast("long")
    lc_arr = F.array(*[F.lit(x).cast("long") for x in _hll_lc_table(p)])
    best = F.when(
        (raw <= int(2.5 * m)) & (v > 0), F.element_at(lc_arr, v.cast("int"))
    ).otherwise(raw)
    est = fold.select("hour_ts", best.alias("est_users"), v.alias("zero_regs"))
    exact = (
        Catalog(spark, sf_dir)
        .table("events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "hour_ts").select(
        "hour_ts", "est_users", "exact_users", "zero_regs"
    )


@query(
    "events_cube",
    """
    SELECT event_type AS event_type,
           CAST(year(ts) AS INTEGER) AS yr,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(year(ts) AS INTEGER))
    """,
)
def events_cube(spark, sf_dir):
    """Full cross-dimensional grouping sets via CUBE: (type, year),
    (type), (year), () in one pass — Spark expands to a single
    shuffle with grouping-id, same as ROLLUP but 2^k sets."""
    ev = Catalog(spark, sf_dir).table("events")
    return (
        ev.select("event_type", F.year("ts").cast("int").alias("yr"), "value")
        .cube("event_type", "yr")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


def _years_custkeys_sql(year: int) -> str:
    return (
        f"SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '{year}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01'"
    )


@query(
    "set_retained_customers",
    f"SELECT o_custkey AS o_custkey FROM ({_years_custkeys_sql(1996)}) "
    f"INTERSECT {_years_custkeys_sql(1997)}",
)
def set_retained_customers(spark, sf_dir):
    """INTERSECT (distinct set semantics): customers ordering in both
    1996 and 1997. Spark plans it as an aggregate + left-semi join;
    the reference has no set ops beyond positional unionAll
    (SURVEY.md §2.5 U1)."""
    o = Catalog(spark, sf_dir).table("orders")

    def keys(year: int):
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return keys(1996).intersect(keys(1997))


@query(
    "set_churned_customers",
    f"SELECT o_custkey AS o_custkey FROM ({_years_custkeys_sql(1996)}) "
    f"EXCEPT {_years_custkeys_sql(1997)}",
)
def set_churned_customers(spark, sf_dir):
    """EXCEPT (distinct set semantics): 1996 customers gone by 1997 —
    planned as aggregate + left-anti join."""
    o = Catalog(spark, sf_dir).table("orders")

    def keys(year: int):
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        ).select("o_custkey")

    return keys(1996).subtract(keys(1997))


# register the LLM-pipeline query families (text / dedup / similarity /
# multimodal) into the same QUERIES/ORACLES registry
from . import queries_llm  # noqa: E402,F401  (import-time registration)
# extended TPC-H-style join/aggregate shapes (q7/q8/q10/q13/q14/q15/q17/q9/q22)
from . import queries_tpch  # noqa: E402,F401  (import-time registration)
# window-function family (frames, offsets, ntile buckets)
from . import queries_window  # noqa: E402,F401  (import-time registration)


@query(
    "events_grouping_sets",
    """
    SELECT event_type AS event_type, user_id AS user_id, count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id))
    """,
)
def events_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — two disjoint groupings in one pass
    (one shuffle with grouping-id, not two jobs unioned). Completes the
    ROLLUP/CUBE family with the hand-picked-sets form."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.groupingSets(
        [["event_type"], ["user_id"]], "event_type", "user_id"
    ).agg(F.count("*").alias("n"))


@query(
    "customer_rfm",
    """
    WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders)
    SELECT o_custkey AS c_custkey,
           CAST((epoch_us((SELECT dmax FROM mx)) - epoch_us(max(o_orderdate)))
                 // 86400000000 AS BIGINT) AS recency_days,
           CAST(count(o_orderkey) AS BIGINT) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
    """,
)
def customer_rfm(spark, sf_dir):
    """RFM feature engineering (recency / frequency / monetary per
    customer) — the classic tabular ML-prep aggregate. One shuffle on
    the customer key with map-side partials; the corpus-max date is a
    1-row broadcast. Recency is integer microsecond arithmetic (exact in
    any engine); monetary is a decimal-exact sum."""
    o = Catalog(spark, sf_dir).table("orders")
    dmax = o.agg(F.max("o_orderdate").alias("_dmax"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count("o_orderkey").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(dmax))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            (
                (
                    F.unix_micros(F.col("_dmax").cast("timestamp"))
                    - F.unix_micros(F.col("_last").cast("timestamp"))
                )
                / F.lit(86_400_000_000)
            ).cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )


@query(
    "events_user_features",
    """
    SELECT user_id AS user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us,
           CAST(count(*) AS DOUBLE)
             / greatest((epoch_us(max(ts)) - epoch_us(min(ts))) / 3600000000.0, 1.0)
             AS events_per_hour
    FROM events GROUP BY user_id
    """,
)
def events_user_features(spark, sf_dir):
    """Per-user behavioral features (activity volume, type diversity,
    active span, rate) — the feature-extraction aggregate feeding user
    models. One shuffle on user_id; the rate clamps the span to >= 1
    hour so single-event users stay finite, with identical IEEE
    arithmetic on both engines."""
    ev = Catalog(spark, sf_dir).table("events")
    span = epoch_us(F.max("ts")) - epoch_us(F.min("ts"))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        span.cast("long").alias("span_us"),
        (
            F.count(F.lit(1)).cast("double")
            / F.greatest(span / F.lit(3_600_000_000.0), F.lit(1.0))
        ).alias("events_per_hour"),
    )


@query(
    "events_funnel",
    """
    WITH v AS (SELECT user_id, min(ts) AS first_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS first_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.first_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS first_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.first_click
          GROUP BY e.user_id)
    SELECT v.user_id AS user_id, v.first_view AS first_view,
           c.first_click AS first_click, p.first_purchase AS first_purchase
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): each stage keeps the
    earliest event strictly AFTER the user's previous-stage time, so the
    output is one row per entered user with nullable stage timestamps —
    the standard product-analytics conversion table. Every join and
    groupBy keys on user_id, so Spark reuses one hash partitioning across
    all three stages (one logical shuffle, no re-exchange), which is what
    keeps the shape linear at a 100x event count."""
    ev = Catalog(spark, sf_dir).table("events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return v.join(c, "user_id", "left").join(p, "user_id", "left")


@query(
    "orders_retention_cohorts",
    """
    WITH fo AS (SELECT o_custkey,
                       CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS cohort
                FROM orders GROUP BY o_custkey)
    SELECT fo.cohort AS cohort_month,
           CAST((year(o.o_orderdate) - year(fo.cohort)) * 12
                + (month(o.o_orderdate) - month(fo.cohort)) AS BIGINT) AS month_offset,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
    GROUP BY 1, 2
    """,
)
def orders_retention_cohorts(spark, sf_dir):
    """Cohort retention triangle: customers bucketed by first-order
    month, counted per month offset since the cohort start — the classic
    retention analysis. The month offset is exact integer year/month
    arithmetic (no months_between doubles). The cohort frame and the
    re-join both key on o_custkey, so the first groupBy's partitioning is
    reused by the join; the final aggregate shuffles the (cohort, offset)
    pairs, which stay small (months x months) at any data scale."""
    o = Catalog(spark, sf_dir).table("orders")
    fo = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    offset = (
        (F.year("o_orderdate") - F.year("cohort")) * F.lit(12)
        + (F.month("o_orderdate") - F.month("cohort"))
    ).cast("long")
    return (
        o.join(fo, "o_custkey")
        .select(F.col("cohort").alias("cohort_month"), offset.alias("month_offset"), "o_custkey")
        .groupBy("cohort_month", "month_offset")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query(
    "events_rolling_dau",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    contrib AS (
      SELECT unnest(generate_series(day, day + INTERVAL 6 DAY,
                                    INTERVAL 1 DAY))::DATE AS day, user_id
      FROM du),
    roll AS (SELECT day, count(DISTINCT user_id) AS dau_7d
             FROM contrib GROUP BY day)
    SELECT dau.day AS day, CAST(dau.dau AS BIGINT) AS dau,
           CAST(roll.dau_7d AS BIGINT) AS dau_7d
    FROM dau JOIN roll USING (day)
    """,
)
def events_rolling_dau(spark, sf_dir):
    """Daily active users plus exact 7-day rolling distinct users.

    A windowed count(DISTINCT) can't be expressed as a window function,
    and the naive day-range self-join explodes on the RAW event table.
    Scale shape: reduce first — distinct (day, user) pairs (one shuffle,
    map-side combine collapses each user's repeat events) — then fan each
    pair out to the <=7 window-end days it contributes to and count
    distinct per end day. The x7 blowup happens on the REDUCED frame
    (days x users), not the 100 TB event log, and both aggregates
    shuffle on the same day/user keys. Inner-joining back to observed
    days drops phantom window ends past the data's edge.
    """
    ev = Catalog(spark, sf_dir).table("events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = du.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"), "user_id"
    )
    roll = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("dau_7d"))
    return dau.join(roll, "day")


from .operators.layout import zorder_key, zorder_sql  # noqa: E402


@query(
    "lineitem_zorder",
    f"""
    WITH z AS (SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx,
                      {zorder_sql(["l_partkey", "l_suppkey"], bits=8)} AS zval
               FROM lineitem)
    SELECT CAST(zval >> 10 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(min(px) AS BIGINT) AS min_part, CAST(max(px) AS BIGINT) AS max_part,
           CAST(min(sx) AS BIGINT) AS min_supp, CAST(max(sx) AS BIGINT) AS max_supp
    FROM z GROUP BY 1
    """,
)
def lineitem_zorder(spark, sf_dir):
    """Z-order (Morton) layout audit: interleave l_partkey/l_suppkey bits
    (operators/layout.zorder_key), bucket rows by the top z-bits, and
    report each bucket's min/max in BOTH dimensions — exactly the file
    statistics a Z-clustered write (layout.cluster_by_zorder:
    repartitionByRange(z) + sortWithinPartitions) would give a 100 TB
    table, where narrow per-file ranges in every dimension are what let
    the scan skip files for multi-column predicates. Pure int64 bit ops
    in whole-stage codegen; one groupBy shuffle on the bucket key."""
    li = Catalog(spark, sf_dir).table("lineitem")
    z = li.select(
        F.pmod(F.col("l_partkey"), F.lit(256)).alias("px"),
        F.pmod(F.col("l_suppkey"), F.lit(256)).alias("sx"),
        zorder_key("l_partkey", "l_suppkey", bits=8).alias("zval"),
    )
    return z.groupBy(F.shiftright("zval", 10).cast("long").alias("z_bucket")).agg(
        F.count("*").alias("cnt"),
        F.min("px").alias("min_part"),
        F.max("px").alias("max_part"),
        F.min("sx").alias("min_supp"),
        F.max("sx").alias("max_supp"),
    )


# --------------------------------------------------------------------------
# Snapshot diff, Pareto classification, robust anomaly flags
# --------------------------------------------------------------------------

from .operators.diff import snapshot_diff  # noqa: E402
from .operators.rank import global_cumsum  # noqa: E402


@query(
    "orders_snapshot_diff",
    """
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 7 != 0
    ),
    b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 5 != 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_orderstatus != b.o_orderstatus
                  OR a.o_totalprice != b.o_totalprice
                  OR a.o_orderpriority != b.o_orderpriority THEN 'changed'
           END AS status
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE (a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           OR a.o_orderstatus != b.o_orderstatus
           OR a.o_totalprice != b.o_totalprice
           OR a.o_orderpriority != b.o_orderpriority)
    """,
)
def orders_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot diff (operators/diff.snapshot_diff): two
    deterministic versions of ``orders`` (B drops ``%5`` keys, bumps the
    price on ``%11`` keys) reduced to (key, xxhash64(row)) and full-outer
    joined once on the key — added / removed / changed labels with one
    shuffle per side and every non-key column pruned before the join.
    The oracle compares column values directly (no xxhash64 in DuckDB);
    identical output short of a 2^-64 hash collision."""
    orders = Catalog(spark, sf_dir).table("orders")
    cmp_cols = ["o_orderstatus", "o_totalprice", "o_orderpriority"]
    snap_a = orders.filter(F.col("o_orderkey") % 7 != 0)
    snap_b = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(snap_a, snap_b, ["o_orderkey"], cmp_cols)


@query(
    "customer_abc_pareto",
    """
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_revenue,
             SUM(revenue) OVER () AS total
      FROM rev
    )
    SELECT o_custkey,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(cum_revenue AS DOUBLE) AS cum_revenue,
           CASE WHEN 2 * cum_revenue <= total THEN 'A'
                WHEN 5 * cum_revenue <= 4 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def customer_abc_pareto(spark, sf_dir):
    """ABC / Pareto revenue classification without a single-partition
    window: per-customer decimal-exact revenue, then the global running
    total via operators/rank.global_cumsum (range repartition +
    partition-local cumsum + broadcast per-partition offsets). Class
    boundaries (top 50% / 80% of revenue) are integer-times-decimal
    comparisons, so both engines decide ties identically. The grand
    total is a broadcast one-row frame, not a SUM() OVER () window."""
    orders = Catalog(spark, sf_dir).table("orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    cum = global_cumsum(
        rev.withColumn("_neg", -F.col("revenue")),
        ["_neg", "o_custkey"],
        "revenue",
        out_col="cum_revenue",
    ).drop("_neg")
    total = rev.agg(F.sum("revenue").alias("_total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.col("cum_revenue").cast("double").alias("cum_revenue"),
            F.when(2 * F.col("cum_revenue") <= F.col("_total"), F.lit("A"))
            .when(5 * F.col("cum_revenue") <= 4 * F.col("_total"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )


@query(
    "events_anomaly_mad",
    """
    WITH med AS (
      SELECT event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id AS event_id, e.event_type AS event_type,
           e.value AS value,
           abs(e.value - m.med) AS abs_dev
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE abs(e.value - m.med) > 5.0 * d.mad
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust per-type anomaly flags: median absolute deviation (MAD)
    outliers, |value - median| > 5*MAD. Two grouped exact medians (the
    group count is the event-type cardinality — small), each joined back
    broadcast so the event scan never reshuffles. At 100 TB swap the
    exact percentile for approx_percentile(0.5) — same plan shape,
    bounded sketch memory instead of a per-group sort buffer.

    ``percentile_disc`` (not the interpolating ``median``): the discrete
    percentile returns an actual data value, so the statistic is
    bit-identical across engines — an interpolating median of an
    even-sized group is a float formula that a 1-ulp engine difference
    can flip at the strict `> 5*MAD` boundary."""
    ev = Catalog(spark, sf_dir).table("events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("_med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "_adev", F.abs(F.col("value") - F.col("_med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _adev)").alias("_mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("_adev") > 5.0 * F.col("_mad"))
        .select("event_id", "event_type", "value", F.col("_adev").alias("abs_dev"))
    )


_DRIFT_SPLIT = "2024-01-16"
_DRIFT_BUCKET = 25.0


@query(
    "events_drift_buckets",
    f"""
    WITH g AS (
      SELECT CAST(floor(value / {_DRIFT_BUCKET}) AS BIGINT) AS bucket,
             CAST(CASE WHEN ts <  TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS BIGINT) AS r,
             CAST(CASE WHEN ts >= TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS BIGINT) AS c
      FROM events
    ),
    per AS (SELECT bucket, sum(r) AS n_ref, sum(c) AS n_cur FROM g GROUP BY bucket),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM per)
    SELECT bucket AS bucket, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(abs(CAST(n_ref AS DECIMAL(18,0)) * CAST(t_cur AS DECIMAL(18,0))
                  - CAST(n_cur AS DECIMAL(18,0)) * CAST(t_ref AS DECIMAL(18,0)))
                AS DECIMAL(38,0)) AS drift_num
    FROM per, tot
    """,
)
def events_drift_buckets(spark, sf_dir):
    """Distribution-drift monitor between two time snapshots: bucket the
    value column, count per bucket on each side of the split in ONE
    scan (conditional sums — no second pass, no self-join), and emit
    each bucket's exact drift numerator
    ``|n_ref*T_cur - n_cur*T_ref|``. All integer/decimal arithmetic —
    cross-multiplication instead of float shares, so no
    order-of-summation or libm (ln) divergence anywhere; DECIMAL(18,0)
    operands keep the product exact up to 1e18-row snapshots. The
    totals frame is one row, crossJoin-broadcast."""
    ev = Catalog(spark, sf_dir).table("events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    g = ev.select(
        F.floor(F.col("value") / _DRIFT_BUCKET).cast("long").alias("bucket"),
        (F.col("ts") < split).cast("long").alias("r"),
        (F.col("ts") >= split).cast("long").alias("c"),
    )
    # the bucket frame (~tens of rows) feeds both the totals agg and the
    # final join — pin it so the events scan runs ONCE, not per subtree
    per = g.groupBy("bucket").agg(
        F.sum("r").alias("n_ref"), F.sum("c").alias("n_cur")
    ).localCheckpoint(eager=True)
    tot = per.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.abs(d18("n_ref") * d18("t_cur") - d18("n_cur") * d18("t_ref"))
        .cast("decimal(38,0)")
        .alias("drift_num"),
    )


@query(
    "events_drift_score",
    f"""
    WITH g AS (
      SELECT CAST(floor(value / {_DRIFT_BUCKET}) AS BIGINT) AS bucket,
             CAST(CASE WHEN ts <  TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS BIGINT) AS r,
             CAST(CASE WHEN ts >= TIMESTAMP '{_DRIFT_SPLIT}' THEN 1 ELSE 0 END AS BIGINT) AS c
      FROM events
    ),
    per AS (SELECT bucket, sum(r) AS n_ref, sum(c) AS n_cur FROM g GROUP BY bucket),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM per)
    SELECT CAST(t_ref AS BIGINT) AS n_ref_total, CAST(t_cur AS BIGINT) AS n_cur_total,
           CAST(CAST(sum(abs(CAST(n_ref AS DECIMAL(18,0)) * CAST(t_cur AS DECIMAL(18,0))
                          - CAST(n_cur AS DECIMAL(18,0)) * CAST(t_ref AS DECIMAL(18,0))))
                     AS DOUBLE)
                / (2.0 * CAST(t_ref AS DOUBLE) * CAST(t_cur AS DOUBLE)) AS DOUBLE)
             AS tvd
    FROM per, tot GROUP BY t_ref, t_cur
    """,
)
def events_drift_score(spark, sf_dir):
    """Scalar drift verdict for the same split: total-variation distance
    ``TVD = sum|n_ref*T_cur - n_cur*T_ref| / (2*T_ref*T_cur)``. The
    numerator is an exact decimal sum (order-independent), and the ONLY
    float operation is the final division — correctly rounded IEEE, so
    both engines agree bit-for-bit (an ln-based PSI would hang the gate
    on libm rounding)."""
    ev = Catalog(spark, sf_dir).table("events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    g = ev.select(
        F.floor(F.col("value") / _DRIFT_BUCKET).cast("long").alias("bucket"),
        (F.col("ts") < split).cast("long").alias("r"),
        (F.col("ts") >= split).cast("long").alias("c"),
    )
    per = g.groupBy("bucket").agg(
        F.sum("r").alias("n_ref"), F.sum("c").alias("n_cur")
    ).localCheckpoint(eager=True)  # one events scan for both subtrees
    tot = per.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    num = F.abs(d18("n_ref") * d18("t_cur") - d18("n_cur") * d18("t_ref"))
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("t_ref", "t_cur")
        .agg(F.sum(num).alias("_num"))
        .select(
            F.col("t_ref").cast("long").alias("n_ref_total"),
            F.col("t_cur").cast("long").alias("n_cur_total"),
            (
                F.col("_num").cast("double")
                / (2.0 * F.col("t_ref").cast("double") * F.col("t_cur").cast("double"))
            ).alias("tvd"),
        )
    )


from .operators.graph import pagerank_fixed_point, pagerank_oracle_sql  # noqa: E402

_TRANSITION_EDGES_SQL = """
    SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS w
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    WHERE prev IS NOT NULL
    GROUP BY prev, event_type
"""


@query("events_type_pagerank", pagerank_oracle_sql(_TRANSITION_EDGES_SQL, n_iter=3))
def events_type_pagerank(spark, sf_dir):
    """PageRank over the event-type transition graph (which states users
    flow through): edges are per-user consecutive event-type pairs (lag
    over (ts, event_id)), weights their counts; 3 synchronous iterations
    of operators/graph.pagerank_fixed_point. All rank arithmetic is
    fixed-point int64 (1e12 = rank 1.0) so Spark and DuckDB agree bit
    for bit — no float drift across iteration order. The graph frame is
    localCheckpointed once; each iteration is a broadcast-sized join
    because the node set is the event-type vocabulary."""
    from pyspark.sql.window import Window

    ev = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank_fixed_point(edges, n_iter=3)


@query(
    "events_type_pagerank_conserving",
    pagerank_oracle_sql(_TRANSITION_EDGES_SQL, n_iter=3, redistribute_dangling=True),
)
def events_type_pagerank_conserving(spark, sf_dir):
    """Mass-conserving PageRank over the same transition graph: each
    iteration the damped rank of out-edge-less nodes is split evenly
    across all nodes (``((D*85) div 100) div n``, still truncating
    int64 — bit-reproducible). Downstream consumers that expect
    sum(rank) ~ 1 (mixture weights, sampling budgets) use this variant;
    the default drop-the-leak variant stays for exact parity with
    engines that do likewise."""
    from pyspark.sql.window import Window

    ev = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank_fixed_point(edges, n_iter=3, redistribute_dangling=True)


# --------------------------------------------------------------------------
# TPC-H plan shapes the registry did not yet cover (round 4): correlated
# min decorrelation (q2), scalar-subquery HAVING (q11), conditional
# aggregation classes (q12), nested-aggregate semi join (q20), and the
# double EXISTS / NOT EXISTS self-join (q21).  The driver tables carry no
# partsupp / l_shipmode / l_commitdate, so each query keeps the *plan
# shape* of its TPC-H counterpart over the columns that exist
# (lineitem stands in for partsupp as the part<->supplier relation, and
# "late" is l_shipdate > o_orderdate + 60 days).
# --------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS supply_cost
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT c.l_partkey, c.l_suppkey, c.supply_cost
      FROM cost c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT e.l_partkey AS p_partkey, e.l_suppkey AS s_suppkey,
           CAST(e.supply_cost AS DOUBLE) AS supply_cost
    FROM eu e
    JOIN (SELECT l_partkey, min(supply_cost) AS best
          FROM eu GROUP BY l_partkey) m
      ON m.l_partkey = e.l_partkey AND m.best = e.supply_cost
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H q2 shape (reference has no analogue; closest spec op is the
    correlated fetchId, `mentoringFunction2.scala:41-55`): the correlated
    `supply_cost = (SELECT min(..) .. WHERE partkey = p.partkey)`
    subquery decorrelated into a per-part min aggregate joined back on
    (partkey, cost) equality.  lineitem stands in for partsupp; cost is
    the exact decimal min so the equality join key is bit-stable on both
    engines.  Scale: two shuffles on l_partkey(+suppkey); the
    supplier->nation->region pruning chain is all broadcast (dims are
    tiny), and the min-cost join reuses the partkey partitioning of the
    eu frame, so AQE coalesces it shuffle-free."""
    cat = Catalog(spark, sf_dir)
    li, s, n, r = (cat.table(t) for t in ("lineitem", "supplier", "nation", "region"))
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("supply_cost"))
    )
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    eu = cost.join(F.broadcast(eu_supp), cost.l_suppkey == F.col("s_suppkey")).drop(
        "s_suppkey"
    )
    best = eu.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("supply_cost").alias("best")
    )
    return (
        eu.join(
            best,
            (eu.l_partkey == F.col("_pk")) & (eu.supply_cost == F.col("best")),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
    )


@query(
    "q11_important_parts",
    """
    WITH v AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS part_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM v
    WHERE part_value * 500 > (SELECT sum(part_value) FROM v)
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H q11 shape: per-group aggregate filtered against a global
    scalar subquery over the same aggregate.  The scalar (total value
    across NATION_7 suppliers) is a one-row frame cross-joined in — at
    cluster scale Spark plans the 1-row side as a broadcast, so the
    HAVING cut is map-side; the per-part frame shuffles once on
    l_partkey.  The threshold compare multiplies the exact decimal by
    500 instead of dividing the total (no float ratio, bit-stable)."""
    cat = Catalog(spark, sf_dir)
    li, s, n = (cat.table(t) for t in ("lineitem", "supplier", "nation"))
    nat_supp = (
        s.join(F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
               s.s_nationkey == n.n_nationkey)
        .select("s_suppkey")
    )
    v = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("part_value"))
    )
    total = v.agg(F.sum("part_value").alias("_total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 500 > F.col("_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("part_value").cast("double").alias("part_value"),
        )
    )


@query(
    "q12_late_shipment_priority",
    """
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def q12_late_shipment_priority(spark, sf_dir):
    """TPC-H q12 shape: join + conditional aggregation (sum of CASE) over
    a derived class column.  No l_shipmode / l_commitdate in the driver
    tables, so the class is shipping lateness (shipdate > orderdate+60d).
    Scale: one shuffle on l_orderkey for the join (orders is NOT
    broadcast-sized at 100 TB), then a two-group map-side partial agg —
    the groupBy key has cardinality 2 so the final exchange moves ~64
    rows."""
    cat = Catalog(spark, sf_dir)
    li, o = cat.table("lineitem"), cat.table("orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("LATE"),
            ).otherwise(F.lit("ONTIME")),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q20_dominant_suppliers",
    """
    WITH pq AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, sum(supp_qty) AS part_qty FROM pq GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey AS s_suppkey, s.s_name AS s_name
    FROM pq JOIN pt ON pt.l_partkey = pq.l_partkey
    JOIN supplier s ON s.s_suppkey = pq.l_suppkey
    WHERE pq.supp_qty * 5 > pt.part_qty
    ORDER BY s_suppkey
    """,
)
def q20_dominant_suppliers(spark, sf_dir):
    """TPC-H q20 shape: nested aggregate (per-(part,supplier) qty vs the
    per-part total, i.e. the `ps_availqty > 0.5 * (SELECT sum(..))`
    correlated cut) feeding a semi join against supplier.  Scale: the
    part_qty rollup REUSES the (l_partkey, l_suppkey) shuffle output
    (partial agg on a prefix of the same key — no second wide exchange of
    lineitem), the dominant cut is integer-free exact decimal (qty*5 > total, i.e. a >20% share
    — the driver's uniform part->supplier assignment means no supplier
    ever exceeds 50%), and the supplier lookup joins only the surviving ~|parts|
    rows.  distinct() collapses multi-part dominance before the join.

    The part-total is a window sum over the AGGREGATED frame rather than
    a self-join: a join formulation scans lineitem twice (the two pq
    subtrees prune different columns, so the exchanges are not
    bit-identical and ReusedExchange never fires — verified on the r4
    final adaptive plan).  The window partitions by l_partkey whose
    groups are suppliers-per-part (single digits, unskewed by
    construction), so it is NOT a per-group hotspot; it costs one
    agg-sized exchange instead of a second full lineitem scan."""
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    li, s = cat.table("lineitem"), cat.table("supplier")
    pq = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("supp_qty"))
    )
    part_qty = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    dominant = (
        pq.withColumn("part_qty", part_qty)
        .filter(F.col("supp_qty") * 5 > F.col("part_qty"))
        .select(F.col("l_suppkey").alias("_sk"))
        .distinct()
    )
    return (
        s.join(F.broadcast(dominant), s.s_suppkey == F.col("_sk"))
        .select("s_suppkey", "s_name")
    )


@query(
    "q21_sole_late_supplier",
    """
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey, l.l_suppkey
    ), per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
      FROM per_supp GROUP BY l_orderkey
    )
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM per_supp ps
    JOIN per_order po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.is_late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
)
def q21_sole_late_supplier(spark, sf_dir):
    """TPC-H q21 shape: the double-correlated EXISTS (another supplier on
    the order) AND NOT EXISTS (another LATE supplier on the order)
    self-join, rewritten as one grouped pass — per-(order, supplier)
    lateness flags, then per-order counts; `n_supp > 1 AND n_late = 1
    AND is_late` IS the exists/not-exists conjunction without the two
    extra self-joins of the literal SQL.  Scale: lineitem shuffles once
    on l_orderkey (join + both rollups share the partitioning — the
    per_order agg is a prefix rollup of per_supp's key, planned without
    a second lineitem-wide exchange), supplier joins the tiny survivor
    set broadcast-side."""
    cat = Catalog(spark, sf_dir)
    li, o, s = cat.table("lineitem"), cat.table("orders"), cat.table("supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_order = per_supp.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    waits = (
        per_supp.join(per_order, per_supp.l_orderkey == F.col("_ok"))
        .filter((F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        s.join(F.broadcast(waits), s.s_suppkey == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("numwait").alias("numwait"))
    )


@query(
    "basket_part_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT part_a AS part_a, part_b AS part_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_ab * n_orders AS DOUBLE) / CAST(ca.n_p * cb.n_p AS DOUBLE)
             AS lift
    FROM pairs
    JOIN pc ca ON ca.l_partkey = part_a
    JOIN pc cb ON cb.l_partkey = part_b
    CROSS JOIN n
    WHERE n_ab >= 3
    """,
)
def basket_part_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs bought together in >= 3
    orders, with lift = P(a,b)/(P(a)P(b)) as one IEEE division of exact
    integer products. The pair self-join keys on l_orderkey, so its cost
    is sum over orders of (items-per-order choose 2) — bounded by the
    per-order line cap (7 in TPC-H, never corpus-quadratic) — and the
    support cut runs before the per-part count joins, so only
    significant pairs reach them. One distinct shuffle + one
    orderkey-keyed join: the association-mining shape at any scale."""
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_p").alias("_na"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_p").alias("_nb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("_na") * F.col("_nb")).cast("double")
            ).alias("lift"),
        )
    )


@query(
    "basket_triangles",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS d
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS dg FROM
        (SELECT s AS node FROM e UNION ALL SELECT d FROM e)
      GROUP BY node
    ),
    tri AS (
      SELECT count(*) AS t
      FROM e ab JOIN e ac ON ab.s = ac.s AND ab.d < ac.d
      JOIN e bc ON bc.s = ab.d AND bc.d = ac.d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(dg) / 2 AS BIGINT) AS n_edges,
           CAST(sum(dg * (dg - 1)) / 2 AS BIGINT) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT t FROM tri) * 3 AS DOUBLE)
             / CAST(sum(dg * (dg - 1)) / 2 AS DOUBLE) AS gcc
    FROM deg
    """,
)
def basket_triangles(spark, sf_dir):
    """Exact triangle census of the part-co-occurrence graph (edges =
    part pairs bought together in >= 2 orders) via
    operators/graph.triangle_count: degree-ordered orientation charges
    every wedge to its lowest-degree vertex, bounding the join fan-out
    on power-law hubs (Schank's O(E^1.5) algorithm). The oracle counts
    the same triangles with id-canonical edges — orientation changes the
    work, never the count. gcc = 3*triangles/wedges as one IEEE division
    of exact integers."""
    from .operators.graph import triangle_count

    li = Catalog(spark, sf_dir).table("lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges)


def _lpa_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled synchronous weighted LPA over the supported co-purchase
    graph (>= 3 shared orders): one CTE per round, most-weight label
    with ties to the smallest — the replay of
    operators/graph.label_propagation."""
    ctes = [
        "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pe AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3)""",
        "und AS (SELECT pa AS a, pb AS b, w FROM pe "
        "UNION ALL SELECT pb, pa, w FROM pe)",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(f"""l{t} AS (
      SELECT a AS node, label FROM (
        SELECT u.a, l.label, sum(u.w) AS s,
               row_number() OVER (PARTITION BY u.a
                                  ORDER BY sum(u.w) DESC, l.label) AS rn
        FROM und u JOIN l{t - 1} l ON l.node = u.b
        GROUP BY u.a, l.label) WHERE rn = 1)""")
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node AS part, CAST(label AS BIGINT) AS community FROM l{n_iter}"
    )


@query("basket_communities", _lpa_oracle_sql(3))
def basket_communities(spark, sf_dir):
    """Community detection on the part co-purchase graph
    (operators/graph.label_propagation): parts bought together in >= 3
    orders form weighted edges; 3 synchronous LPA rounds assign each
    part the heaviest-incident-weight label (ties to the smallest id) —
    the near-linear community algorithm, made deterministic with fixed
    rounds and struct-max ties. Per round: one node-keyed join + one
    (node, label) aggregate, labels checkpointed — the same bounded
    iteration shape as PageRank, no windows, no driver state."""
    from .operators.graph import label_propagation

    li = Catalog(spark, sf_dir).table("lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 3)
    )
    return label_propagation(edges, n_iter=3).select(
        F.col("node").alias("part"), F.col("community").cast("long").alias("community")
    )


_NATION_REVENUE_SQL = """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS gross,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
"""


@query("sql_nation_revenue", _NATION_REVENUE_SQL)
def sql_nation_revenue(spark, sf_dir):
    """SQL-surface passthrough: the SAME ANSI text runs unchanged as the
    Spark query (via Catalog.sql over the registered views) and as the
    DuckDB oracle — the migration guarantee that a reference user's
    hand-written SQL needs no translation. Catalyst still plans it like
    the DataFrame queries: dims broadcast, one fact shuffle, decimal
    sums exact."""
    return Catalog(spark, sf_dir).sql(_NATION_REVENUE_SQL)


@query(
    "events_winsorized_stats",
    """
    WITH cuts AS (
      SELECT event_type,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS lo,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type AS event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value < c.lo OR e.value > c.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(sum(CAST(least(greatest(e.value, c.lo), c.hi)
                         AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             AS winsorized_mean,
           c.lo AS p05, c.hi AS p95
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type, c.lo, c.hi
    """,
)
def events_winsorized_stats(spark, sf_dir):
    """Robust per-type means: values clipped to the exact per-type
    [p5, p95] band (winsorization — the outlier treatment that keeps
    sample size, unlike trimming). The cuts are ``percentile_disc``
    (actual data values, bit-identical across engines — an interpolated
    percentile is a float formula a 1-ulp difference can flip); the
    clipped mean is an exact decimal sum over a bigint count with one
    final IEEE division.

    Scale shape: cuts are one grouped aggregate over the tiny type key,
    broadcast back; the winsorized rollup is a second single pass with
    map-side partials. At 100 TB swap percentile_disc for
    approx_percentile — same plan, sketch-bounded memory."""
    ev = Catalog(spark, sf_dir).table("events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).cast("long").alias("n_clipped"),
            (
                F.sum(clipped.cast("decimal(18,6)")).cast("double") / F.count("*")
            ).alias("winsorized_mean"),
        )
        .select(
            "event_type", "n", "n_clipped", "winsorized_mean",
            F.col("lo").alias("p05"), F.col("hi").alias("p95"),
        )
    )


_IVM_CUTOVER = "2024-01-16 00:00:00"


@query(
    "events_rollup_incremental",
    """
    SELECT date_trunc('hour', ts) AS hour_ts, event_type AS event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_rollup_incremental(spark, sf_dir):
    """Incremental view maintenance: the hourly rollup is computed as
    BASE (events before the _IVM_CUTOVER literal) merged with DELTA
    (events at or after it) — base and delta each aggregate independently, then a
    keyed full-outer merge sums the partials. The oracle aggregates the
    WHOLE table in one pass, so the hash match PROVES merge == full
    recompute: the algebraic property that lets a 100 TB rollup absorb a
    day's delta without touching history (count and decimal-sum are the
    mergeable partials; the same split works for any commutative
    monoid).

    Scale shape: in production the base side is the stored rollup
    (hours x types rows — no raw history scan at all); here it is
    derived from the same table to make the equivalence checkable. The
    merge joins on (hour, type) — rollup-sized, never event-sized."""
    ev = Catalog(spark, sf_dir).table("events")
    cut = F.lit(_IVM_CUTOVER).cast("timestamp")

    def rollup(df):
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_tv"),
        )

    base = rollup(ev.filter(F.col("ts") < cut))
    delta = rollup(ev.filter(F.col("ts") >= cut))
    merged = (
        base.withColumnRenamed("n", "_nb").withColumnRenamed("_tv", "_tvb")
        .join(
            delta.withColumnRenamed("n", "_nd").withColumnRenamed("_tv", "_tvd"),
            ["hour_ts", "event_type"],
            "full_outer",
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return merged.select(
        "hour_ts",
        "event_type",
        (F.coalesce("_nb", F.lit(0)) + F.coalesce("_nd", F.lit(0))).alias("n"),
        (F.coalesce(F.col("_tvb"), zero) + F.coalesce(F.col("_tvd"), zero))
        .cast("double")
        .alias("total_value"),
    )


# --------------------------------------------------------------------------
# Lakehouse MERGE, changelog state reconstruction, salted join, EWMA
# --------------------------------------------------------------------------

from .operators.diff import merge_upsert  # noqa: E402


@query(
    "orders_ivm_join_delta",
    """
    WITH ao AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 != 0),
    ad AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 7 = 0),
    bo AS (SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
           WHERE (l_orderkey + l_linenumber) % 5 != 0),
    bd AS (SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
           WHERE (l_orderkey + l_linenumber) % 5 = 0)
    SELECT ad.o_orderkey AS o_orderkey, ad.o_custkey AS o_custkey,
           bo.l_partkey AS l_partkey, bo.l_linenumber AS l_linenumber,
           'delta_a' AS ivm_term
    FROM ad JOIN bo ON bo.l_orderkey = ad.o_orderkey
    UNION ALL
    SELECT ao.o_orderkey, ao.o_custkey, bd.l_partkey, bd.l_linenumber, 'delta_b'
    FROM ao JOIN bd ON bd.l_orderkey = ao.o_orderkey
    UNION ALL
    SELECT ad.o_orderkey, ad.o_custkey, bd.l_partkey, bd.l_linenumber, 'both_delta'
    FROM ad JOIN bd ON bd.l_orderkey = ad.o_orderkey
    """,
)
def orders_ivm_join_delta(spark, sf_dir):
    """Incremental view maintenance of a materialized orders x lineitem
    join (operators/diff.incremental_join_delta): with both tables split
    into stored-old + newly-ingested-delta partitions, the view appends
    exactly dA*B + A*dB + dA*dB and never rescans the old join — cost
    scales with the change, not the corpus. Three key-partitioned joins
    (AQE broadcasts the delta sides), terms disjoint by construction,
    each row tagged with its producing term for audit."""
    from .operators.diff import incremental_join_delta

    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").select("o_orderkey", "o_custkey")
    li = cat.table("lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_linenumber"
    )
    a_old = o.filter(F.col("o_orderkey") % 7 != 0)
    a_delta = o.filter(F.col("o_orderkey") % 7 == 0)
    b_split = (F.col("o_orderkey") + F.col("l_linenumber")) % 5
    b_old = li.filter(b_split != 0)
    b_delta = li.filter(b_split == 0)
    return incremental_join_delta(a_old, a_delta, b_old, b_delta, on=["o_orderkey"])


@query(
    "orders_merge_upsert",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 != 0
    ),
    s AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                  THEN 'updated'
                WHEN t.o_orderkey IS NULL THEN 'inserted'
                ELSE 'kept' END AS action
    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
               AND s.o_totalprice > 300000.0)
    """,
)
def orders_merge_upsert(spark, sf_dir):
    """Lakehouse ``MERGE INTO`` materialized as one full-outer join
    (operators/diff.merge_upsert): target = orders minus ``%3`` keys,
    source = ``%2`` keys with a +10.00 price bump. Matched rows take the
    source price (update), source-only rows insert whole, matched rows
    above 300k delete. The +10.0 double sum is exact on both engines
    (2dp values, correctly-rounded IEEE add), so the oracle compares
    bitwise. One key shuffle per side; non-target source columns pruned."""
    orders = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    source = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    return merge_upsert(
        target,
        source,
        key_cols=["o_orderkey"],
        update_cols=["o_totalprice"],
        delete_condition=F.col("o_totalprice") > F.lit(300000.0),
    )


@query(
    "events_state_asof",
    """
    WITH bnd AS (
      SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    f AS (
      SELECT user_id, event_type, epoch_us(ts) AS e, event_id, value
      FROM events, bnd
      WHERE epoch_us(ts) <= bnd.lo + (bnd.hi - bnd.lo) // 2
    )
    SELECT user_id, event_type, last_value, last_event_id, n_before
    FROM (
      SELECT user_id, event_type, value AS last_value,
             event_id AS last_event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY e DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_before
      FROM f
    ) WHERE rn = 1
    """,
)
def events_state_asof(spark, sf_dir):
    """Point-in-time state reconstruction from a changelog: treat events
    as upserts keyed by (user_id, event_type) and materialize the state
    as of the midpoint timestamp — the "time travel" read a CDC consumer
    performs. No window at all on the Spark side: one groupBy with
    ``max(struct(e, event_id, value))`` picks the latest row per key
    (lexicographic struct max == ORDER BY e DESC, event_id DESC LIMIT 1,
    exact because event_id is unique), so the whole query is a single
    key-partitioned partial-aggregate shuffle — no per-key sort, scales
    to any number of keys. The midpoint bound is a broadcast one-row
    frame, not a driver collect."""
    ev = Catalog(spark, sf_dir).table("events").select(
        "user_id", "event_type", epoch_us("ts").alias("e"), "event_id", "value"
    )
    bnd = ev.agg(
        (F.min("e") + F.floor((F.max("e") - F.min("e")) / 2).cast("long")).alias("_t")
    )
    return (
        ev.crossJoin(F.broadcast(bnd))
        .filter(F.col("e") <= F.col("_t"))
        .groupBy("user_id", "event_type")
        .agg(
            F.max(F.struct("e", "event_id", "value")).alias("_m"),
            F.count("*").alias("n_before"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("_m.value").alias("last_value"),
            F.col("_m.event_id").alias("last_event_id"),
            "n_before",
        )
    )


@query(
    "skew_salted_join",
    """
    SELECT c.c_mktsegment AS c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def skew_salted_join(spark, sf_dir):
    """Salted fact-to-dim join: the fact side gets a deterministic salt
    ``pmod(xxhash64(event_id), 8)`` and the dim side is exploded 8x with
    ``sequence(0,7)``, so a hot key's rows spread over 8 reducers
    instead of one. Results are identical to the plain join (every
    (key, salt) pair still matches exactly one dim row); the follow-up
    aggregate is decimal-exact so the oracle compares bitwise. This is
    the manual form of AQE's skew-join split for when a dim is too big
    to broadcast but a handful of fact keys dominate; here it also
    disables broadcast on the salted dim to force the shuffle-join shape
    being demonstrated."""
    n_salts = 8
    ev = Catalog(spark, sf_dir).table("events").select(
        "user_id", "value", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).alias("_salt")
    )
    cust = (
        Catalog(spark, sf_dir).table("customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        .withColumn("_salt", F.col("_salt").cast("long"))
        .hint("shuffle_hash")
    )
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey) & (ev._salt == cust._salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "events_ewma",
    """
    SELECT user_id, event_type, event_id,
           (((value + 0.5 * COALESCE(l1, 0.0)) + 0.25 * COALESCE(l2, 0.0))
              + 0.125 * COALESCE(l3, 0.0))
           / (((1.0 + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END)
               + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END)
              + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END) AS ewma
    FROM (
      SELECT user_id, event_type, event_id, value,
             LAG(value, 1) OVER w AS l1,
             LAG(value, 2) OVER w AS l2,
             LAG(value, 3) OVER w AS l3
      FROM (SELECT user_id, event_type, event_id, value, epoch_us(ts) AS e
            FROM events)
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY e, event_id)
    )
    """,
)
def events_ewma(spark, sf_dir):
    """Per-(user, type) exponentially weighted moving average over the
    last 4 observations, alpha = 1/2. The weights are powers of two, so
    each product is an exact binary scaling; numerator and denominator
    are summed with the SAME left-to-right association in both engines
    (the expressions are parenthesized identically), and the final
    division is a single IEEE op — bitwise-equal doubles without any
    decimal detour. The window is partitioned per key (bounded frames,
    no global sort); at 100 TB this shuffles once on the key like any
    per-entity sessionization."""
    from pyspark.sql.window import Window

    ev = Catalog(spark, sf_dir).table("events").select(
        "user_id", "event_type", "event_id", "value", epoch_us("ts").alias("e")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("e", "event_id")
    lagged = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
    )
    num = (
        "((value + 0.5d * COALESCE(l1, 0.0d)) + 0.25d * COALESCE(l2, 0.0d))"
        " + 0.125d * COALESCE(l3, 0.0d)"
    )
    den = (
        "((1.0d + CASE WHEN l1 IS NULL THEN 0.0d ELSE 0.5d END)"
        " + CASE WHEN l2 IS NULL THEN 0.0d ELSE 0.25d END)"
        " + CASE WHEN l3 IS NULL THEN 0.0d ELSE 0.125d END"
    )
    return lagged.select(
        "user_id",
        "event_type",
        "event_id",
        F.expr(f"({num}) / ({den})").alias("ewma"),
    )
