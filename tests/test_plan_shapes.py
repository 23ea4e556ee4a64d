"""Physical-plan regressions for the newer registry queries: the scan
must receive the pushed/pruned predicates and the joins must broadcast —
the properties that keep these plans viable at 100 TB."""

from __future__ import annotations

import contextlib
import io
import re

from elevate_data_pipeline_spark.queries import QUERIES

from conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _simple_plan(df) -> str:
    """simple-mode tree: node arguments print inline (an `Exchange
    SinglePartition` literal exists HERE, never in formatted mode)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_q19_envelope_reaches_both_scans(spark):
    plan = _plan(QUERIES["q19_bracket_revenue"](spark, SF_DIR))
    # part side: brand IN (...) and size bounds pushed to the parquet scan
    assert "In(p_brand" in plan
    assert "LessThanOrEqual(p_size,15)" in plan
    # lineitem side: the quantity envelope pushed to the fact scan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "BroadcastHashJoin" in plan


def test_pivot_is_two_phase_no_prescan(spark):
    plan = _plan(QUERIES["events_pivot_types"](spark, SF_DIR))
    # pinned values -> no distinct-values pre-job; the pivot itself is
    # Spark's standard two-phase plan: partial (user,type) counts, then
    # the pivot fold on user_id — exactly two exchanges, both with
    # map-side partial aggregation
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_resample_grid_join_broadcasts(spark):
    plan = _plan(QUERIES["events_resample_hourly"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_heavy_hitters_total_broadcast(spark):
    plan = _plan(QUERIES["events_heavy_hitters"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the grouped count reads only the profiled column
    assert "ReadSchema: struct<user_id:bigint>" in plan


def test_curation_pipeline_filters_pushed(spark):
    from elevate_data_pipeline_spark import pipelines

    # checkpoint hides the scan the pin asserts on; the driver-local
    # replay tier hides the whole distributed plan — force both off
    pipelines.PIN_STAGES = False
    gate = pipelines._PIPELINE_LOCAL_MAX_ROWS
    pipelines._PIPELINE_LOCAL_MAX_ROWS = -1
    try:
        plan = _plan(QUERIES["curation_pipeline"](spark, SF_DIR))
    finally:
        pipelines.PIN_STAGES = True
        pipelines._PIPELINE_LOCAL_MAX_ROWS = gate
    # the language gate must reach the documents scan (quality is an
    # expression filter above it; lang is a plain column predicate)
    assert "EqualTo(lang,en)" in plan


def test_decontaminate_benchmark_broadcasts(spark):
    plan = _plan(QUERIES["corpus_decontaminate"](spark, SF_DIR))
    # the benchmark gram set is the small side and must broadcast; the
    # source split must be pushed to both document scans
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(source,src0)" in plan
    assert "Not(EqualTo(source,src0))" in plan


def test_deciles_no_single_partition_sort(spark):
    # PIN_PARTITIONS off: the production localCheckpoint truncates the
    # explain at the pinned frame; the pin is about what the plan DOES
    # before that point
    from elevate_data_pipeline_spark.operators import rank

    rank.PIN_PARTITIONS = False
    try:
        plan = _plan(QUERIES["customer_balance_deciles"](spark, SF_DIR))
    finally:
        rank.PIN_PARTITIONS = True
    # exact-ntile rewrite: the total order lives in a range repartition,
    # never a global (single-partition) window sort over customer rows
    assert "rangepartitioning(c_acctbal" in plan
    # the big-side window is keyed on _pid (row_number per partition)
    assert "partitionBy=[_pid" in plan or "[_pid#" in plan


def test_deciles_single_partition_exchanges_bounded(spark):
    """Simple-mode twin of the guard above (formatted mode never prints
    the `Exchange SinglePartition` literal): every single-partition
    exchange in the deciles plan is fed by a partial/keyed aggregate of
    at most one row per partition."""
    from elevate_data_pipeline_spark.operators import rank

    rank.PIN_PARTITIONS = False
    try:
        plan = _simple_plan(QUERIES["customer_balance_deciles"](spark, SF_DIR))
    finally:
        rank.PIN_PARTITIONS = True
    lines = plan.splitlines()
    hits = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert hits, "expected the bounded offsets/total exchanges in simple mode"
    for i in hits:
        child = lines[i + 1]
        assert ("keys=[_pid" in child) or ("keys=[], functions=[partial_" in child), child


def test_pii_scrub_is_pure_projection(spark):
    plan = _plan(QUERIES["text_pii_scrub"](spark, SF_DIR))
    # no shuffle beyond the spread() round-robin: no agg/join exchanges
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" not in plan


def test_repetition_is_single_arrow_pass(spark):
    plan = _plan(QUERIES["text_repetition"](spark, SF_DIR))
    # one Arrow-batched pass computes all three integer stats — no
    # explode, no aggregate, and no shuffle beyond the spread()
    # repartition that feeds the CPU-bound UDF
    assert "ArrowEvalPython" in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1


def test_funnel_stage_filters_pushed(spark):
    plan = _plan(QUERIES["events_funnel"](spark, SF_DIR))
    # each stage reads only its event type — the predicate must reach the
    # parquet scans, so a 100 TB event log scans 3 slices, not 3 fulls
    for t in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{t})" in plan
    # stage frames key on user_id only; no cartesian anywhere
    assert "CartesianProduct" not in plan


def test_retention_cohorts_shape(spark):
    plan = _plan(QUERIES["orders_retention_cohorts"](spark, SF_DIR))
    # cohort frame joins back by key (broadcast at this SF); the final
    # (cohort, offset) aggregate is two-phase (partial before exchange)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_vocab_broadcast(spark):
    plan = _plan(QUERIES["text_tfidf_topterms"](spark, SF_DIR))
    # the 1-row corpus count may broadcast, but the vocabulary (df) side
    # must NOT be a broadcast build at scale — it joins on the word key.
    # At test SF AQE may still broadcast it; assert instead the invariant
    # that survives any SF: the rank window partitions by doc_id (never a
    # global sort) and the tf aggregate is two-phase.
    assert "partial_count" in plan
    assert "row_number" in plan
    assert "partitionBy=[doc_id" in plan or "hashpartitioning(doc_id" in plan


def test_dsir_bucket_table_broadcasts(spark):
    plan = _plan(QUERIES["text_dsir_score"](spark, SF_DIR))
    # the B=1024-row weight table must broadcast onto the doc-gram stream
    assert "BroadcastHashJoin" in plan
    # bucket counts reduce with map-side partials
    assert "partial_count" in plan


def test_corpus_vocab_topk_no_global_sort(spark):
    plan = _plan(QUERIES["corpus_vocab"](spark, SF_DIR))
    # global top-K must be per-partition heaps (TakeOrderedAndProject),
    # never a full Sort+Exchange of the vocabulary
    assert "TakeOrderedAndProject" in plan
    # vocab aggregate is two-phase (map-side partial combine)
    assert "partial_count" in plan
    # scan prunes to the text column only
    assert re.search(r"ReadSchema:.*struct<text:string>", plan)


def test_substring_spans_no_cartesian(spark):
    from elevate_data_pipeline_spark.operators import dedup

    # force the driver-local replay off: this guard pins the DISTRIBUTED
    # plan's join/window shapes
    gate = dedup._SPANS_LOCAL_MAX_ROWS
    dedup._SPANS_LOCAL_MAX_ROWS = -1
    try:
        plan = _plan(QUERIES["dedup_substring_spans"](spark, SF_DIR))
    finally:
        dedup._SPANS_LOCAL_MAX_ROWS = gate
    assert "CartesianProduct" not in plan
    # gram-hash hit join keys on the hash; island merge windows per doc
    assert "hashpartitioning(_h" in plan or "hashpartitioning(_id" in plan
    assert "partial_count" in plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    plan = _plan(QUERIES["embedding_kmeans"](spark, SF_DIR))
    # every assign stage joins the k-row centroid frame via broadcast —
    # a shuffle join here would re-shuffle the corpus once per iteration
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_distributed_tier_two_phase_means(spark):
    # force the fully-declarative distributed chain (corpora above the
    # driver-local training gate): centroid means must be two-phase sums
    from elevate_data_pipeline_spark.operators import cluster

    gate = cluster._LLOYD_LOCAL_MAX_ROWS
    cluster._LLOYD_LOCAL_MAX_ROWS = 0
    try:
        plan = _plan(QUERIES["embedding_kmeans"](spark, SF_DIR))
    finally:
        cluster._LLOYD_LOCAL_MAX_ROWS = gate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_abc_pareto_no_single_partition_window(spark):
    from elevate_data_pipeline_spark.operators import rank

    rank.PIN_PARTITIONS = False
    try:
        plan = _plan(QUERIES["customer_abc_pareto"](spark, SF_DIR))
    finally:
        rank.PIN_PARTITIONS = True
    # the running total must come from the range-repartition + broadcast
    # offsets decomposition, not SUM() OVER () on one partition: every
    # Window in the plan partitions by _pid (a 32-row frame at most)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, spec
    assert "RangePartitioning" in plan or "rangepartitioning" in plan.lower()


def test_snapshot_diff_prunes_before_join(spark):
    plan = _plan(QUERIES["orders_snapshot_diff"](spark, SF_DIR))
    # both sides reduce to (key, xxhash64) before the shuffle: the join
    # must not carry the compared payload columns
    m = re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert m, "expected a shuffled equi-join on the key"
    # scans read only key + compared columns (no o_orderdate/o_custkey)
    assert "o_orderdate" not in plan
    assert "o_custkey" not in plan


def test_domain_cap_filter_inside_window_stage(spark):
    plan = _plan(QUERIES["curation_domain_cap"](spark, SF_DIR))
    # per-source top-N: rank filter applied right after the window (no
    # second shuffle), window partitioned by source — never unpartitioned
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in spec, spec


def test_hard_negatives_broadcast_queries(spark):
    plan = _plan(QUERIES["ann_hard_negatives"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan


def test_cc_clusters_no_component_window(spark):
    plan = _plan(QUERIES["dedup_cc_clusters"](spark, SF_DIR))
    # cluster_size comes from the map-sized join path
    # (label_components_with_size), NOT count() OVER (PARTITION BY
    # component) — a full-corpus reshuffle at 100 TB
    assert "windowspecdefinition" not in plan.lower()


def test_multimodal_decode_no_shuffle(spark):
    plan = _plan(QUERIES["multimodal_decode"](spark, SF_DIR))
    # decode is embarrassingly parallel: scan -> mapInPandas. The only
    # allowed Exchange is map_rows' round-robin fan-out (spread), which
    # spreads a too-few-splits scan across the cores (no-op at scale,
    # where the scan already yields >= core-count splits); never a hash
    # shuffle — there is no key to shuffle on.
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(k == "RoundRobinPartitioning" for k in exchanges), exchanges
    assert len(exchanges) <= 1
    # payload built from text only — the scan must not read other columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_drift_single_events_scan(spark):
    plan = _plan(QUERIES["events_drift_score"](spark, SF_DIR))
    # the bucket frame is pinned, so the events scan appears exactly once
    # (per-bucket counts come from ONE conditional-sum pass, and the
    # totals/join subtrees read the pinned rows, not the raw table)
    assert plan.count("Scan parquet") == 0  # checkpointed: no raw scan left
    assert "windowspecdefinition" not in plan.lower()


def test_pretraining_corpus_no_unpartitioned_window(spark):
    from elevate_data_pipeline_spark import pipelines
    from elevate_data_pipeline_spark.operators import rank

    # force the driver-local replay off: this guard pins the DISTRIBUTED
    # plan's window shapes
    rank.PIN_PARTITIONS = False
    gate = pipelines._PIPELINE_LOCAL_MAX_ROWS
    pipelines._PIPELINE_LOCAL_MAX_ROWS = -1
    try:
        plan = _plan(QUERIES["pretraining_corpus"](spark, SF_DIR))
    finally:
        rank.PIN_PARTITIONS = True
        pipelines._PIPELINE_LOCAL_MAX_ROWS = gate
    # the only windows: the per-_pid local rank and the 32-row offsets
    # frame of the shuffle/shard rank — never an unpartitioned window
    # over corpus rows
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, spec


def test_q2_dims_broadcast_and_region_pushed(spark):
    plan = _plan(QUERIES["q2_min_cost_supplier"](spark, SF_DIR))
    # region pruning reaches the region scan; supplier/nation/region all
    # join broadcast-side (dims stay tiny at any scale factor)
    assert "EqualTo(r_name,EUROPE)" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q11_scalar_is_broadcast_not_shuffle(spark):
    plan = _plan(QUERIES["q11_important_parts"](spark, SF_DIR))
    # nation filter pushed to the nation scan; the one-row total joins
    # via BroadcastNestedLoopJoin — the HAVING cut is map-side, never a
    # shuffled join against a 1-row frame
    assert "EqualTo(n_name,NATION_7)" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_q12_lineitem_scan_pruned(spark):
    plan = _plan(QUERIES["q12_late_shipment_priority"](spark, SF_DIR))
    # conditional-agg classes need only (l_orderkey, l_shipdate) from the
    # fact side — the parquet scan must not read the other 9 columns
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_orderkey",
        "l_shipdate",
    }, plan


def test_q20_single_lineitem_scan(spark):
    plan = _plan(QUERIES["q20_dominant_suppliers"](spark, SF_DIR))
    # the part-total is a window over the aggregated frame, not a
    # self-join: exactly one fact scan (the join formulation scanned
    # lineitem twice with non-reusable exchanges)
    fact_scans = re.findall(r"ReadSchema: struct<l_partkey", plan)
    assert len(fact_scans) == 1, plan


def test_q21_per_supp_exchange_reused(spark):
    df = QUERIES["q21_sole_late_supplier"](spark, SF_DIR)
    df.collect()  # AQE reuse is only visible in the final adaptive plan
    plan = _plan(df)
    # per_supp feeds both the per-order rollup and the final join — the
    # runtime must compute it once (ReusedExchange), not re-scan lineitem
    assert "ReusedExchange" in plan, plan


def test_merge_upsert_prunes_source_and_joins_once(spark):
    plan = _plan(QUERIES["orders_merge_upsert"](spark, SF_DIR))
    # both %-filters pushed into the respective parquet scans
    assert plan.count("Join type: FullOuter") == 1
    # one full-outer join on the key: no extra shuffles beyond its two
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_state_asof_single_agg_no_window(spark):
    plan = _plan(QUERIES["events_state_asof"](spark, SF_DIR))
    assert "Window" not in plan  # max(struct) aggregate, not row_number
    # bounds frame joins in as a broadcast, the agg is partial+final
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_skew_salted_join_is_shuffle_join(spark):
    plan = _plan(QUERIES["skew_salted_join"](spark, SF_DIR))
    # the point of the salt demo: a shuffle hash join spread over
    # (key, salt), NOT a broadcast of the exploded dim
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_ewma_window_is_key_partitioned(spark):
    plan = _plan(QUERIES["events_ewma"](spark, SF_DIR))
    # per-(user,type) lag window: partition keys present, so no
    # single-partition global sort
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan


def test_containment_postings_are_hashed_longs(spark):
    from elevate_data_pipeline_spark.operators import dedup

    dedup.PIN_GRAMS = False  # checkpoint hides the hashing projection
    try:
        plan = _plan(QUERIES["dedup_containment"](spark, SF_DIR))
    finally:
        dedup.PIN_GRAMS = True
    # shingles are xxhash64-ed before the posting explode: the candidate
    # join and intersect verification run on int64, not word strings
    assert "xxhash64" in plan


def _window_feeds_from(plan: str, marker: str) -> bool:
    """True if the first global Window node in a simple-mode plan has
    ``marker`` somewhere BELOW it (its input subtree) — i.e. the
    single-partition window runs over the bounded frame the marker
    identifies, not over the full corpus."""
    lines = plan.splitlines()
    win = next((i for i, ln in enumerate(lines) if "Window " in ln or ln.strip().startswith("Window")), None)
    assert win is not None, "expected a Window node:\n" + plan
    return any(marker in ln for ln in lines[win:])


def test_corpus_vocab_window_input_is_topk_limit(spark):
    """The coverage window in corpus_vocab is global (no partition key)
    — safe only because its input is the top-K limited vocab frame.
    Pin that: the Window must sit above a TakeOrderedAndProject, and
    the full token explode must NOT feed any window directly."""
    plan = _simple_plan(QUERIES["corpus_vocab"](spark, SF_DIR))
    assert _window_feeds_from(plan, "TakeOrderedAndProject")


def test_interpolate_hourly_window_input_is_grid(spark):
    """The forward-fill window in events_interpolate_hourly is global —
    bounded because it runs over the hourly GRID (one row per hour
    between min/max ts), not over raw events: the grid generator
    (sequence explode) must appear in the window's input subtree."""
    plan = _simple_plan(QUERIES["events_interpolate_hourly"](spark, SF_DIR))
    assert _window_feeds_from(plan, "sequence(")


def test_kmeans_distributed_init_window_is_k_limited(spark, monkeypatch):
    """The distributed Lloyd init ranks the k seed centroids with a
    global row_number window — bounded by the limit(k) frame beneath
    it. Force the local gate off and pin the GlobalLimit under the
    Window."""
    from elevate_data_pipeline_spark.operators import cluster

    monkeypatch.setattr(cluster, "_LLOYD_LOCAL_MAX_ROWS", -1)
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    plan = _simple_plan(cluster.kmeans(df, k=3, n_iter=1))
    assert _window_feeds_from(plan, "GlobalLimit 3") or _window_feeds_from(
        plan, "TakeOrderedAndProject(limit=3"
    )


def test_gopher_c4_filters_are_map_only(spark):
    """The published quality-rule filters must stay single-pass
    map-only plans: no shuffle beyond spread()'s deliberate round-robin
    parallelizer (a test-scale small-file fix, not query logic), no
    Python in the plan (all higher-order array expressions inside
    codegen), no aggregation/join nodes at all."""
    import re as _re

    for name in ("text_gopher_rules", "text_c4_filter"):
        plan = _simple_plan(QUERIES[name](spark, SF_DIR))
        kinds = _re.findall(r"Exchange (\w+)", plan)
        assert all(k == "RoundRobinPartitioning" for k in kinds), (name, kinds)
        assert "EvalPython" not in plan, name
        assert "Join" not in plan and "Aggregate" not in plan, name


def test_jsonl_roundtrip_is_map_only_jvm(spark):
    plan = _simple_plan(QUERIES["text_jsonl_roundtrip"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "from_json" in plan or "FromJson" in plan.replace(" ", "")


def test_frontier_pipeline_single_bounded_shuffle(spark):
    """The frontier flagship's only logic shuffle is the per-domain
    cap rank (hashpartitioning on domain); the gate chain itself is
    ONE Arrow map pass (map_rows' spread round-robin is the
    test-scale small-file parallelizer, not query logic)."""
    plan = _simple_plan(QUERIES["crawl_frontier_pipeline"](spark, SF_DIR))
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    logic = [k for k in exchanges if k != "RoundRobinPartitioning"]
    assert logic == ["hashpartitioning"], exchanges
    assert "SinglePartition" not in plan
    assert plan.count("MapInPandas") == 1


def test_perplexity_filter_single_partition_exchanges_bounded(spark):
    """exact_ntile keeps the tercile banding scale-safe: every
    SinglePartition exchange in the plan must feed from a structurally
    bounded child — a pid-keyed aggregate (one row per partition id)
    or a global-scalar aggregate (one row per task) — never the corpus
    frame. Mirrors scripts/plan_audit.py's classification."""
    plan = _simple_plan(QUERIES["text_perplexity_filter"](spark, SF_DIR))
    lines = plan.splitlines()
    n_sp = 0
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        n_sp += 1
        child = lines[i + 1]
        assert (
            "Aggregate(keys=[_pid" in child or "Aggregate(keys=[]" in child
        ), child
    assert n_sp >= 1  # the offsets/total feeders are expected
    assert "CartesianProduct" not in plan
