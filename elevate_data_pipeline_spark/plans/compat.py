"""Per-ID loop compat mode — the reference's execution strategy, kept for
A/B semantics testing against the decorrelated compiler.

Reproduces mentoringFunction2.scala:41-55: collect the fetchId list on the
driver, then run the whole task DAG once per ID, unioning the per-ID
outputs. Supports the reference's ``${id}`` template substitution
(operator S2, mentoringFunction2.scala:158) as well as set-level queries
with ``correlate_on`` (filtered per ID).

This is deliberately the slow path — O(|ids| x tasks) jobs — and exists
only so property tests can assert ``run_per_id(spec) == compile_pipeline
(spec)`` on arbitrary ID lists (SURVEY.md §5.4). Never use it at scale.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import Catalog
from ..sources.local import local_frame
from ..functions.mapping import apply_data_mapping, apply_output_mapping
from ..plans.compiler import _agg_column, _agg_columns, _is_replace, _join_keys
from ..spec.model import NestedFetch, PipelineSpec, Script, SingleProcess, SpecError


# template values are DATA (fetch-query results); the reference splices
# them into SQL raw (mentoringFunction2.scala:158 — SURVEY.md §2.8.5's
# injection quirk). The compat loop keeps raw substitution for the value
# classes the reference actually feeds it (numeric ids, plain tokens) and
# refuses anything that could escape the literal context.
_SAFE_ID = re.compile(r"^[A-Za-z0-9_.\-]+$")


def _safe_id(value) -> str:
    if isinstance(value, bool):
        raise SpecError(f"unsupported ${{id}} value type: {value!r}")
    if isinstance(value, (int, float)):
        return str(value)
    s = str(value)
    if not _SAFE_ID.match(s):
        raise SpecError(
            f"unsafe ${{id}} template value {s!r}: only [A-Za-z0-9_.-]+ "
            "substitutes into spec SQL (injection guard, SURVEY.md §2.8.5)"
        )
    return s


def _task_frame_for_id(
    catalog: Catalog, task: SingleProcess, id_name: str, value, id_type: T.DataType
) -> DataFrame:
    """singleProcess for one ID (mentoringFunction2.scala:147-207).

    ``id_type`` is the fetch query's ID column type: the loop tags rows
    with ``lit(value)`` (P3), which must keep the source dtype so the
    per-ID union's schema matches the decorrelated plan."""
    if "${id}" in task.query:
        df = catalog.sql(task.query.replace("${id}", _safe_id(value)))
    else:
        df = catalog.sql(task.query)
        if task.correlate_on:
            df = df.filter(F.col(task.correlate_on) == F.lit(value))
    df = df.na.fill(0)
    if task.agg_cast and task.agg_on:
        df = df.withColumn(task.agg_on, F.col(task.agg_on).cast(task.agg_cast))

    if task.agg or task.aggs:
        cols, _, zero_names = _agg_columns(task)
        if task.groupby:
            df = df.groupBy(task.groupby).agg(*cols)
        else:
            # Global agg: an empty per-ID subset yields one row of
            # count=0 / NULLs; zero-filling the additive outputs IS the
            # reference's fabricated S4 default row
            # (mentoringFunction2.scala:168-175).
            df = df.agg(*cols)
            for n in zero_names:
                df = df.withColumn(n, F.coalesce(F.col(n), F.lit(0)))
    # P3: tag with the current loop ID
    return df.withColumn(id_name, F.lit(value).cast(id_type))


def _nested_frame_for_id(
    catalog: Catalog, task: NestedFetch, id_name: str, value, id_type: T.DataType
) -> DataFrame:
    """processAgg / multiProcess for one outer ID
    (mentoringFunction1.scala:201-274,328-376)."""
    bridge = catalog.sql(task.query).filter(
        F.col(task.correlate_on) == F.lit(value)
    )
    inner_ids = [r[0] for r in bridge.select(task.id).collect()]
    value_name = task.child[0].rename or "value"

    inner_type = bridge.schema[task.id].dataType
    frames: list[DataFrame] = []
    for inner in inner_ids:
        for child in task.child:
            frames.append(
                _task_frame_for_id(catalog, child, task.id, inner, inner_type).withColumnRenamed(
                    child.rename or f"{child.agg}_{child.agg_on}", value_name
                )
            )
    if not frames:
        schema = T.StructType(
            [
                T.StructField(id_name, id_type, False),
                T.StructField(value_name, T.LongType(), True),
            ]
        )
        return local_frame(catalog.spark, [(value, 0)], schema)
    # U1 union fold — by name here (the reference's positional unionAll is
    # the §2.8 hazard we do not replicate)
    unioned = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
    # A2 rollup: tag outer id, sum
    return (
        unioned.withColumn(id_name, F.lit(value).cast(id_type))
        .groupBy(id_name)
        .agg(F.sum(value_name).alias(value_name))
    )


def _run_script_per_id(catalog: Catalog, script: Script, spec: PipelineSpec, strict: bool) -> DataFrame:
    fetch = script.fetch_id
    if fetch is None:
        raise SpecError("per-ID mode requires a fetchId")
    ids_df = catalog.sql(fetch.query).select(fetch.id)
    id_type = ids_df.schema[fetch.id].dataType
    id_list = [r[0] for r in ids_df.collect()]

    per_id_frames: list[DataFrame] = []
    for value in id_list:  # F2 fixed loop: iterate ALL ids (F2:41; not the F0:39 bug)
        acc: DataFrame | None = None
        for task in script.tasks:
            if isinstance(task, NestedFetch):
                frame = _nested_frame_for_id(catalog, task, fetch.id, value, id_type)
            else:
                frame = _task_frame_for_id(catalog, task, fetch.id, value, id_type)
            if acc is None or _is_replace(task):
                acc = frame
                continue
            acc = acc.join(frame, _join_keys(task.join_on), task.join_type or "inner")
        if acc is None:
            continue
        acc = apply_data_mapping(acc, spec.data_mapping)
        acc = apply_output_mapping(acc, spec.output_schema, strict=strict)
        per_id_frames.append(acc)

    if not per_id_frames:
        raise SpecError("empty fetchId list")
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), per_id_frames
    )


def run_per_id(catalog: Catalog, spec: PipelineSpec, strict: bool = True) -> list[DataFrame]:
    """Execute every script in reference per-ID loop mode."""
    return [_run_script_per_id(catalog, s, spec, strict) for s in spec.scripts]
