"""Benchmark runner — one JSON line with per-query wall times.

Runs every registry query, the headline set first, at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 testdata) on
``local[$SPARK_GRAFT_CPUS]``. ``bench_last.json`` gets the full record:
per-query medians, construction time, CPU steal and the per-query
layers read from the session's Spark event log.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from elevate_data_pipeline_spark.session import get_spark
from elevate_data_pipeline_spark.queries import QUERIES

# Headline set: spec-engine pipelines + TPC-H-style + events rollup.
# Extended as new operator families land (dedup / similarity / text).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q4_order_priority",
    "q18_large_orders",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q9_product_profit",
    "q22_idle_rich_customers",
    "orders_moving_avg",
    "events_user_gaps",
    "topk_orders_per_segment",
    "spec_fetchid_order_count",
    "spec_join_fold",
    "spec_nested_rollup",
    "spec_dynamic_agg_sum",
    "union_fold",
    "events_hourly",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_cosine_topk",
    "curation_pack_sequences",
    "skew_salted_agg",
    "events_asof_join",
    "events_range_join",
    "ann_lsh_topk",
    "text_winnowing",
    "q19_bracket_revenue",
    "events_cube",
    "set_retained_customers",
    "dedup_cc_clusters",
    "events_heavy_hitters",
    "events_pivot_types",
    "events_resample_hourly",
    "embedding_quantize_int8",
    "dedup_semantic_clusters",
    "curation_pipeline",
    "dedup_levenshtein",
    "text_repetition",
    "text_pii_scrub",
    "corpus_decontaminate",
    "customer_balance_deciles",
    "text_chunking",
    "mixture_weights",
    "dedup_incremental",
    "text_rarity",
    "events_scd2",
    "events_value_buckets",
    "text_tfidf_topterms",
    "text_dsir_score",
    "events_funnel",
    "orders_retention_cohorts",
    "customer_rfm",
    "events_user_features",
    "corpus_vocab",
    "dedup_substring_spans",
    "embedding_kmeans",
    "events_rolling_dau",
    "lineitem_zorder",
    "text_bigram_lm",
    "orders_snapshot_diff",
    "customer_abc_pareto",
    "events_anomaly_mad",
    "dedup_canonical_docs",
    "curation_domain_cap",
    "ann_hard_negatives",
    "events_type_pagerank",
    "compaction_plan",
    "text_quality_calibrated",
    "events_type_pagerank_conserving",
    "multimodal_decode",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_gif_decode",
    "stream_sessionize_native",
    "corpus_block_dedup",
    "curation_shuffle",
    "pretraining_corpus",
    "bpe_merges",
    "bpe_encode",
    "bpe_fertility",
    "events_drift_score",
    "curation_count_sample",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_late_shipment_priority",
    "q20_dominant_suppliers",
    "q21_sole_late_supplier",
    "text_bm25_topk",
    "text_inverted_postings",
    "decontam_semantic",
    "curation_systematic_sample",
    "corpus_diversity",
    "events_attribution",
    "events_interpolate_hourly",
    "events_trend_slope",
    "dedup_containment",
    "dedup_normalized",
    "multimodal_audio_features",
    "multimodal_video_decode",
    "mixture_epoch_plan",
    "basket_part_pairs",
    "sql_nation_revenue",
    "events_winsorized_stats",
    "events_rollup_incremental",
    "embedding_random_projection",
    "orders_merge_upsert",
    "orders_ivm_join_delta",
    "events_state_asof",
    "skew_salted_join",
    "events_ewma",
    "stream_state_twin",
    "stream_quota_twin",
    "basket_triangles",
    "basket_communities",
    "dedup_sorted_neighborhood",
    "embedding_pq_codes",
    "ann_pq_adc_topk",
    "ann_pq_recall",
    "ann_matryoshka_recall",
    "embedding_cluster_purity",
]


def shuffle_probe(spark) -> float:
    """Fixed shuffle-microbenchmark calibration probe: a deterministic
    range -> groupBy-agg -> join -> global-agg chain (one real shuffle
    + one broadcast join over 1.5M rows x 32 partitions), median of 3
    after its own warm lap. The value calibrates what THIS box's
    shuffle machinery costs right now: bench_last.json records it next
    to the medians, and perfbench's traced runs record it as
    ``host.probe_s``, so timings taken on different boxes can be told
    apart from a regression."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        a = spark.range(0, 1_500_000, 1, 32).select(
            (F.col("id") % 4096).alias("k"), (F.col("id") % 97).alias("v")
        )
        b = spark.range(0, 4096, 1, 8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        (
            a.groupBy("k").agg(F.sum("v").alias("s"))
            .join(b, "k")
            .agg(F.sum(F.col("s") + F.col("w")).alias("t"))
            .collect()
        )
        return time.perf_counter() - t0

    once()  # the probe's own codegen/JIT is not the signal
    return round(sorted(once() for _ in range(3))[1], 4)


def query_layers(log_dir: str, names: list[str], runs: int) -> dict[str, dict]:
    """Per query: the event log's counts and task metrics for the jobs of
    its job group, each as a per-run mean over its ``runs`` timed runs. A
    query whose runs launched no Spark job gets zeros. Jobs outside every
    group (the warm-up, the priming and the probe) count for no query."""
    from perfbench.layers import MB, read_event_log

    fields = (
        ("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
        ("task_run_s", "run_ms", 1e3), ("task_cpu_s", "cpu_ns", 1e9),
        ("shuffle_write_mb", "shuffle_write", MB),
        ("shuffle_read_mb", "shuffle_read", MB),
        ("spill_mb", "spill", MB), ("py_run_s", "py_run", 1e3),
    )
    groups = read_event_log(log_dir)["groups"]
    return {
        name: {field: round(groups[name][key] / scale / runs, 4)
               if name in groups else 0 for field, key, scale in fields}
        for name in names
    }


def main() -> None:
    from perfbench.layers import EVENT_LOG_CONF, MB

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # The session writes a plain-JSON event log into a directory of its
    # own under Spark's local dir; it is read once the session has
    # stopped, and removed whether or not the run got that far.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0] or None
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    log_dir = tempfile.mkdtemp(prefix="edp-bench-eventlog-", dir=local_dir)
    try:
        spark = get_spark("edp-bench", **EVENT_LOG_CONF,
                          **{"spark.eventLog.dir": log_dir})
        runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
        times, build, steal, probe_sec = time_registry(spark, sf_dir, runs)
        spark.stop()
        log_mb = sum(os.path.getsize(os.path.join(log_dir, f))
                     for f in os.listdir(log_dir)) / MB
        layers = query_layers(log_dir, list(times), runs)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    total = round(sum(times.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "build_s": build,
        "steal_pct": steal,
        "layers": layers,
        "event_log_mb": round(log_mb, 1),
        "sf": sf,
        "probe_sec": probe_sec,
    }
    # The full record (several per-query maps over the whole registry) is
    # far longer than a 2 000-char captured stdout tail, so it goes to
    # bench_last.json only. stdout gets ONE compact final line (< 1.5 KB
    # guaranteed: slowest-20 queries, trimmed further if ever needed) that
    # still satisfies the {"metric", "value", "unit", "queries", "sf"}
    # contract.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last.json"), "w") as f:
        f.write(json.dumps(full) + "\n")

    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1]))
    keep = 20
    while keep > 1:
        compact = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": dict(list(slowest.items())[:keep]),
            "sf": sf,
            "n_queries": len(times),
            "probe_sec": probe_sec,
            "full": "bench_last.json",
        }
        line = json.dumps(compact)
        if len(line) <= 1500:
            break
        keep -= 2
    sys.stdout.flush()
    print(line)


def time_registry(spark, sf_dir: str, runs: int):
    """Warm the session, prime the inputs, run the probe, then time
    ``runs`` runs of every registry query. Returns per-query medians,
    construction medians and steal, and the probe's seconds."""
    from perfbench.layers import cpu_ticks, steal_pct

    # Keep the captured stdout/stderr tail a clean signal. BENCH_r08's
    # tail carried one end-of-run "ERROR DAGScheduler: Failed to update
    # accumulator ... (Unknown class) / attempted to access non-existent
    # accumulator" burst: a late task-completion event posting to an
    # accumulator the ContextCleaner had already weak-ref-GC'd after
    # ~800 collects / ~300k accumulators. It is advisory by design —
    # DAGScheduler.updateAccumulators catches and logs, never fails the
    # job — and a real failure still surfaces as a collect() exception
    # (rc != 0). Targeted reproduction failed (full 199-query sweep and
    # a 20x streaming-twin stress both clean), so the burst is a rare
    # session-lifetime race, not attributable to any query. r9 scoped
    # the whole DAGScheduler logger to FATAL; that also hid any REAL
    # scheduler error, so scope narrower: a message-level RegexFilter
    # that denies only the advisory accumulator burst and passes every
    # other DAGScheduler diagnostic through untouched.
    try:
        jvm = spark.sparkContext._jvm
        result = jvm.org.apache.logging.log4j.core.Filter.Result
        flt = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            ".*(Failed to update accumulator"
            "|attempted to access non-existent accumulator).*",
            None, False, result.DENY, result.NEUTRAL,
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        ctx.getConfiguration().addFilter(flt)
        # The unpartitioned-window WARN ("No Partition Defined for Window
        # operation") fires on the audited bounded feeders only — every
        # Exchange SinglePartition window in the repo is a structurally
        # bounded global-scalar/pid-offsets feeder with a named waiver in
        # scripts/plan_audit.py WAIVERS (CI-enforced by
        # tests/test_plan_audit.py), so the warning is advisory here;
        # scope the window-exec package to ERROR for the bench session so
        # the captured tail stays readable for real signals.
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception as exc:  # logging backend absent/renamed: bench still runs
        print(f"bench: log4j filter not installed: {exc!r}", file=sys.stderr)
    # FULL registry coverage: the headline set first (stable ordering for
    # round-over-round comparison), then every remaining registry query —
    # no silent caps; a query's sf0.1 Spark-side cost is recorded here or
    # nowhere. (Driver-gate oracles are separate; this times Spark only.)
    names = [n for n in HEADLINE if n in QUERIES]
    names += sorted(n for n in QUERIES if n not in HEADLINE)

    # Steady-state methodology: run every headline query once at sf0.001
    # first. The plans are identical (same schemas + expression trees), so
    # this populates the whole-stage-codegen cache, JIT-compiles the hot
    # generated classes, and forks the Python UDF workers — one-time
    # session costs a long-lived cluster amortizes to zero. The timed
    # numbers below then measure per-query THROUGHPUT at sf0.1, which is
    # the quantity that extrapolates to the 100 TB target (a cold q1 pays
    # ~25 s of Janino/C2 compile on the first decimal-agg ever run in the
    # JVM; that cost does not scale with data and would be misleading to
    # attribute to any one query).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            QUERIES[name](spark, warm_dir).collect()
        except Exception as exc:
            raise RuntimeError(f"warm-up query {name!r} failed on {warm_dir}") from exc
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(32).select(_warm("id")).collect()

    # Untimed per-INPUT priming at the timed scale: the sf0.001 warm pass
    # compiles the plans but does not touch the sf0.1 parquet files, so
    # in a single-shot (driver) context the first timed query over each
    # not-yet-read input also paid first-touch page-cache and
    # scale-specific AQE costs — BENCH_r10 recorded q1 at 6.77 s against
    # a 0.94 s steady-state median purely from running first, and after
    # r11 primed only the first 8 run-order queries, BENCH_r11 still
    # inflated later first-touch queries (dedup_minhash_lsh 4.38 s vs a
    # 1.05 s committed median that solo-replayed at 1.57 s). Touch every
    # table's every column once (count(col) must read values to count
    # nulls, forcing a full-column scan into the page cache) so no timed
    # query is the first reader of its input at this scale.
    from pyspark.sql import functions as F

    for fname in sorted(os.listdir(sf_dir)):
        if not fname.endswith(".parquet"):
            continue
        try:
            t = spark.read.parquet(os.path.join(sf_dir, fname))
            t.select([F.count(c) for c in t.columns]).collect()
        except Exception as exc:
            raise RuntimeError(f"priming table {fname!r} failed in {sf_dir}") from exc
    # ...and still prime the first queries in run order at scale: the
    # input touch covers page cache, but the first timed query would
    # otherwise also pay its own scale-specific AQE re-plan cold.
    for name in names[:4]:
        try:
            QUERIES[name](spark, sf_dir).collect()
        except Exception as exc:
            raise RuntimeError(f"priming query {name!r} failed on {sf_dir}") from exc

    # Box-calibration probe (see shuffle_probe): recorded beside the
    # medians so hardware-generation drift can be told from a regression.
    probe_sec = shuffle_probe(spark)

    # Median of 3 timed runs per query: single-shot numbers at this scale
    # are noisy enough to flag phantom regressions (GC pauses, page cache,
    # AQE re-plans) — the r2 bench showed 5x swings on queries whose plans
    # had not changed. The median is robust to one bad run either way.
    # Each run also stamps the end of DataFrame construction (driver-side
    # py4j calls, analysis, and any action a builder runs) so build_s
    # splits the driver's share out of the wall time.
    # Each query's timed runs form one Spark job group, so the event log
    # attributes their jobs, stages and tasks to it; the steal is read
    # from /proc/stat around the same runs.
    times: dict[str, float] = {}
    build: dict[str, float] = {}
    steal: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        ticks = cpu_ticks()
        samples, builds = [], []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.collect()
            samples.append(time.perf_counter() - t0)
            builds.append(t1 - t0)
        times[name] = round(sorted(samples)[len(samples) // 2], 3)
        build[name] = round(sorted(builds)[len(builds) // 2], 3)
        steal[name] = round(steal_pct(ticks, cpu_ticks()), 2)
    return times, build, steal, probe_sec


if __name__ == "__main__":
    main()
