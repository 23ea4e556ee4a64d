"""Spec -> DataFrame compiler (decorrelated, set-oriented).

The reference executes each script as a *driver-side loop*: fetch the ID
list with ``.collect()`` then re-run the whole task DAG once per ID
(mentoringFunction2.scala:41-55,84) — O(|ids| x tasks) scans. This
compiler emits ONE Spark job instead: every correlated task becomes a
``groupBy(id)`` aggregate over a single set-level scan, stitched to the
ID frame with joins. Catalyst then handles pushdown, pruning, and join
strategy; small per-task aggregates broadcast automatically under AQE.

Semantics preserved from the reference (SURVEY.md §2):
- J2 left-fold join accumulator, F2 order (acc on the left,
  mentoringFunction2.scala:115-143);
- J3 join-or-replace dispatch on ``join_on``/``join_type`` == "none"
  (mentoringFunction2.scala:124-135);
- S4 default row for IDs whose sub-query is empty, rewritten as
  left join + coalesce-to-0 (mentoringFunction2.scala:168-175);
- J4 correlated fetchId loop  -> equi-join + groupBy (decorrelation);
- J5 nested fetchID_with_InputID -> two-level join + rollup
  (mentoringFunction1.scala:201-274);
- U1 union fold — by NAME (unionByName), fixing the reference's
  positional unionAll hazard (mentoringFunction1.scala:364);
- A1 dynamic aggregate via ``F.expr(f"{agg}({col})")``
  (mentoringFunction0.scala:120-124), allowlist-validated;
- duplicate IDs in the fetchId result replicate output rows, exactly as
  the per-ID loop appends one row-set per occurrence.
"""

from __future__ import annotations

import functools
from typing import Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import Catalog
from ..functions.mapping import apply_data_mapping, apply_output_mapping
from ..spec.model import (
    FetchId,
    NestedFetch,
    PipelineSpec,
    Script,
    SingleProcess,
    SpecError,
)


def _join_keys(join_on: Union[str, list, None]) -> list[str]:
    if join_on is None or join_on == "none":
        return []
    return [join_on] if isinstance(join_on, str) else list(join_on)


def _is_replace(task: SingleProcess | NestedFetch) -> bool:
    """J3 branch 1: both markers "none" => frame replaces the accumulator."""
    return (task.join_type in (None, "none")) and (task.join_on in (None, "none"))


def _one_agg(fn: str, agg_on: str, name: str) -> F.Column:
    if fn == "count_distinct":
        expr = F.countDistinct(agg_on)
    elif fn == "sum_distinct":
        expr = F.sum_distinct(F.col(agg_on))
    else:
        # dynamic aggregate name, validated against the allowlist at parse
        expr = F.expr(f"{fn}({agg_on})")
    return expr.alias(name)


def _agg_column(task: SingleProcess) -> tuple[F.Column, str]:
    name = task.rename or f"{task.agg}_{task.agg_on}"
    return _one_agg(task.agg, task.agg_on, name), name


# aggregates whose empty-input default is 0 (additive); others stay NULL
_ADDITIVE = frozenset(
    {"count", "sum", "count_distinct", "sum_distinct", "approx_count_distinct"}
)


def _agg_columns(task: SingleProcess) -> tuple[list[F.Column], list[str], list[str]]:
    """All aggregate columns of a task — the single ``agg`` or the fused
    multi-agg ``aggs`` extension (one scan, N aggregates).

    Returns (columns, out_names, zero_names). ``zero_names`` are the
    outputs that default to 0 for empty-input IDs (S4): for the single
    ``agg`` that is always the output (reference literally fabricates
    ``{agg_on: 0}``, mentoringFunction2.scala:169-175, whatever the
    aggregate); for the ``aggs`` extension only additive aggregates
    zero-fill — min/max/first of nothing is NULL."""
    if task.aggs:
        names = [a.out_name for a in task.aggs]
        zeros = [a.out_name for a in task.aggs if a.agg in _ADDITIVE]
        return [_one_agg(a.agg, a.agg_on, a.out_name) for a in task.aggs], names, zeros
    col, name = _agg_column(task)
    return [col], [name], [name]


def _scan(catalog: Catalog, task: SingleProcess) -> DataFrame:
    """S1 scan + P5 fill + P4 optional cast + extension ``where``."""
    df = catalog.sql(task.query)
    df = df.na.fill(0)
    if task.agg_cast and task.agg_on:
        df = df.withColumn(task.agg_on, F.col(task.agg_on).cast(task.agg_cast))
    if getattr(task, "where", None):
        df = df.filter(F.expr(task.where))
    return df


def _compile_single(
    catalog: Catalog,
    task: SingleProcess,
    fetch: FetchId | None,
    ids_distinct: DataFrame | None,
) -> tuple[DataFrame, list[str] | None]:
    """Returns (frame, pending_default_cols).

    ``pending_default_cols`` marks a correlated aggregate whose S4
    default-row layer was NOT materialized: the fold step applies it as
    ``acc LEFT JOIN frame + coalesce(col, 0)`` instead. The two forms
    are equivalent because the eager layer's ID set (ids_distinct) is by
    construction exactly the accumulator's distinct IDs — joining it in
    with ANY spec join type keeps every acc row — but the lazy form
    avoids a second scan of the fetch table plus a distinct shuffle per
    correlated task.
    """
    df = _scan(catalog, task)

    having = getattr(task, "having", None)

    if task.correlate_on and fetch is not None:
        if task.correlate_on != fetch.id:
            df = df.withColumnRenamed(task.correlate_on, fetch.id)
        if task.agg or task.aggs:
            keys = [fetch.id] + ([task.groupby] if task.groupby else [])
            cols, _, zero_names = _agg_columns(task)
            df = df.groupBy(*keys).agg(*cols)
            if having:
                df = df.filter(F.expr(having))
            if getattr(task, "window", None):
                return _apply_window(df, task.window), None
            if task.default_on_empty and not task.groupby and ids_distinct is not None:
                return df, zero_names
        elif getattr(task, "window", None):
            df = _apply_window(df, task.window)
        return df, None

    # uncorrelated task: optional global/grouped aggregate
    if task.agg or task.aggs:
        cols, _, _ = _agg_columns(task)
        if task.groupby:
            df = df.groupBy(task.groupby).agg(*cols)
        else:
            df = df.agg(*cols)
        if having:
            df = df.filter(F.expr(having))
    if getattr(task, "window", None):
        df = _apply_window(df, task.window)
    return _order_limit(df, task), None


def _apply_window(df: DataFrame, w) -> DataFrame:
    """Spec-language window block (engine extension): ranking / lag-lead
    / rolling-aggregate columns plus per-partition top-N over one
    Window definition.

    Scale shape: ONE hash exchange on the partition keys serves every
    function and the top-N filter; top_n compiles to a row_number
    predicate, which Spark executes with WindowGroupLimit (per-partition
    group limit before the final window, no global sort, no skew beyond
    the partition key's own) — the same plan the hand-written
    ``topk_orders_per_segment`` registry query gets. The reference's
    spec language has no per-partition construct at all (task queries
    are scans + one aggregate, mentoringFunction2.scala:147-207); this
    is the "top 3 sessions per mentor" ask its users hand-roll in SQL."""
    from pyspark.sql.window import Window as W

    order_cols = []
    for entry in w.order_by:
        parts = entry.split()
        c = F.col(parts[0])
        order_cols.append(
            c.desc() if len(parts) > 1 and parts[1].lower() == "desc" else c.asc()
        )
    base = W.partitionBy(*w.partition_by)
    ordered = base.orderBy(*order_cols) if order_cols else base

    for fn in w.select:
        if fn.fn in ("row_number", "rank", "dense_rank", "percent_rank", "cume_dist"):
            col = getattr(F, fn.fn)().over(ordered)
        elif fn.fn in ("lag", "lead"):
            col = getattr(F, fn.fn)(fn.col, fn.offset).over(ordered)
        elif fn.rows_preceding is not None:
            frame = ordered.rowsBetween(-fn.rows_preceding, W.currentRow)
            col = F.expr(f"{fn.fn}({fn.col})").over(frame)
        else:  # partition-wide aggregate (no frame, no order needed)
            col = F.expr(f"{fn.fn}({fn.col})").over(base)
        df = df.withColumn(fn.out, col)

    if w.top_n is not None:
        rn = F.row_number().over(ordered)
        df = df.withColumn("_w_rn", rn).filter(
            F.col("_w_rn") <= w.top_n
        ).drop("_w_rn")
    return df


def _order_limit(df: DataFrame, task: SingleProcess) -> DataFrame:
    """Extension order_by/limit: with both present Spark plans
    TakeOrderedAndProject (per-partition top-N, one merge — no global
    sort materialization at any scale)."""
    order_by = getattr(task, "order_by", None)
    if order_by:
        cols = []
        for entry in order_by:
            parts = entry.split()
            c = F.col(parts[0])
            cols.append(c.desc() if len(parts) > 1 and parts[1].lower() == "desc" else c.asc())
        df = df.orderBy(*cols)
    limit = getattr(task, "limit", None)
    if limit:
        df = df.limit(limit)
    return df


def _compile_nested(
    catalog: Catalog,
    task: NestedFetch,
    fetch: FetchId | None,
    ids_distinct: DataFrame | None,
) -> tuple[DataFrame, list[str] | None]:
    """J5: bridge (outer id -> inner id) + per-inner-id children union (U1)
    + per-outer rollup (A2). Returns (frame, pending_default_col) like
    :func:`_compile_single`."""
    if not task.child:
        raise SpecError("fetchID_with_InputID requires at least one child")

    bridge = catalog.sql(task.query)
    outer = fetch.id if fetch is not None else task.correlate_on
    if task.correlate_on != outer:
        bridge = bridge.withColumnRenamed(task.correlate_on, outer)
    bridge = bridge.select(outer, task.id)

    value_name = task.child[0].rename or "value"
    frames: list[DataFrame] = []
    for child in task.child:
        c = _scan(catalog, child)
        inner = child.correlate_on or task.id
        if inner != task.id:
            c = c.withColumnRenamed(inner, task.id)
        if child.agg:
            col, name = _agg_column(child)
            keys = [task.id] + ([child.groupby] if child.groupby else [])
            c = c.groupBy(*keys).agg(col)
            if name != value_name:
                c = c.withColumnRenamed(name, value_name)
        frames.append(c.select(task.id, value_name))

    unioned = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
    rolled = (
        unioned.join(bridge, task.id)
        .groupBy(outer)
        .agg(F.sum(value_name).alias(value_name))
    )
    if ids_distinct is not None:
        return rolled, [value_name]
    return rolled, None


def compile_script(
    catalog: Catalog,
    script: Script,
    legacy_join_order: bool = False,
) -> DataFrame:
    """Compile one script's task DAG into a single DataFrame plan.

    ``legacy_join_order=True`` reproduces the F0/GS generations' fold
    (NEW frame on the left: ``df2.join(joinedDF, ...)``,
    mentoringFunction0.scala:126, generic_script.scala:176) instead of
    the F2 default (accumulator left, mentoringFunction2.scala:130) —
    the SURVEY.md §2.8.2 divergence, observable through outer-join
    direction and column order."""
    fetch = script.fetch_id
    acc: DataFrame | None = None
    ids_distinct: DataFrame | None = None

    if fetch is not None:
        ids = catalog.sql(fetch.query).select(fetch.id)
        ids_distinct = ids.distinct()
        # duplicate IDs in the fetch result replicate output rows (loop parity)
        acc = ids

    def _default0(df: DataFrame, col_names: list[str]) -> DataFrame:
        for c in col_names:
            df = df.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
        return df

    for task in script.tasks:
        if isinstance(task, NestedFetch):
            frame, pending = _compile_nested(catalog, task, fetch, ids_distinct)
        else:
            frame, pending = _compile_single(catalog, task, fetch, ids_distinct)

        if acc is None or _is_replace(task):
            if pending is not None:
                # standalone frame: materialize the S4 default layer eagerly
                frame = _default0(ids_distinct.join(frame, fetch.id, "left"), pending)
            acc = frame
            continue
        keys = _join_keys(task.join_on)
        how = task.join_type or "inner"
        if not keys:
            raise SpecError(
                f"task {getattr(task, 'input', '?')!r}: join_type={how!r} "
                "needs join_on"
            )
        # J2 fold, F2 side order: accumulator stays on the LEFT
        semi_anti = how.replace("_", "") in ("semi", "leftsemi", "anti", "leftanti")
        if (
            pending is not None
            and keys == [fetch.id]
            and not legacy_join_order
            and not semi_anti
        ):
            # lazy S4: the eager layer's ID set equals acc's, so every
            # COLUMN-ATTACHING join type degenerates to left-join +
            # coalesce-to-0. Semi/anti joins attach nothing, so they must
            # run for real against the eagerly-defaulted frame instead
            # (the else branch) or they would silently grow columns.
            acc = _default0(acc.join(frame, keys, "left"), pending)
        else:
            if pending is not None:
                frame = _default0(ids_distinct.join(frame, fetch.id, "left"), pending)
            if legacy_join_order:
                acc = frame.join(acc, keys, how)
            else:
                acc = acc.join(frame, keys, how)

    if acc is None:
        raise SpecError(f"script {script.name!r} produced no frame")
    return acc


def compile_pipeline(
    catalog: Catalog,
    spec: PipelineSpec,
    strict: bool = True,
    legacy_join_order: bool = False,
) -> list[DataFrame]:
    """Compile every script: task DAG -> data_mapping -> output mapping."""
    out = []
    for script in spec.scripts:
        df = compile_script(catalog, script, legacy_join_order=legacy_join_order)
        df = apply_data_mapping(df, spec.data_mapping)
        df = apply_output_mapping(df, spec.output_schema, strict=strict)
        out.append(df)
    return out
