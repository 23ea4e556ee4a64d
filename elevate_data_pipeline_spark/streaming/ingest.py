"""foreachBatch sinks with compact cross-batch state: crawl-ingest
dedup (the streaming face of ``operators/dedup.minhash_lsh_match``) and
the distribution-drift monitor (the streaming face of the batch
``events_drift_*`` queries).

A document stream is deduplicated against the corpus kept SO FAR: each
micro-batch (1) drops docs whose MinHash bands match the persisted base
band index over the similarity threshold, (2) resolves near-dup pairs
WITHIN the batch (keep the smaller doc_id), and (3) appends the
survivors' docs and band rows to the state directory. This is the
standard web-crawl ingestion shape (new pages vs. an indexed corpus)
run as a ``foreachBatch`` sink.

Scale notes: the base side is stored as a precomputed band index —
(band, key, id, sig) — so each micro-batch pays only the probe side's
signature computation plus one band-key equi-join; at 100 TB the index
lives bucketed by (band, key) in a table format, making the per-batch
join shuffle-free on the base side (the same layout note as
dedup.minhash_lsh_match, operators/dedup.py). State appends are parquet
file appends, atomic per micro-batch via the streaming checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    _band_frame,
    _sig_agreement,
    _signature_frame,
    minhash_lsh_pairs,
)


def _probe_vs_base_matches(
    probe_bands: DataFrame, base_bands: DataFrame, est_threshold: float
) -> DataFrame:
    """Probe ids with >= 1 base match over the threshold (band-key
    equi-join + signature-agreement filter — dedup.minhash_lsh_match's
    core, lifted to take a precomputed base band frame)."""
    return (
        probe_bands.alias("a")
        .join(
            base_bands.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a._id").alias("probe_id"),
            F.col("b._id").alias("base_id"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .dropDuplicates(["probe_id", "base_id"])
        .withColumn("est", _sig_agreement())
        .filter(F.col("est") >= est_threshold)
        .select("probe_id")
        .distinct()
    )


def dedup_ingest_sink(
    stream_docs: DataFrame,
    state_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = 0.5,
):
    """Start a ``foreachBatch`` query that ingests a document stream with
    cross-batch near-dup suppression. Kept docs land in
    ``<state_dir>/docs``; their band index in ``<state_dir>/bands``.
    Returns the started StreamingQuery (availableNow trigger — drains
    what is present, then stops; re-run on the next crawl drop).
    """
    docs_path = os.path.join(state_dir, "docs")
    bands_path = os.path.join(state_dir, "bands")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # the batch is re-read by several jobs below — pin one copy
        batch = batch_df.localCheckpoint(eager=True)
        probe_bands = _band_frame(
            _signature_frame(batch, text_col, id_col)
        ).localCheckpoint(eager=True)

        drop = None
        try:
            base_bands = spark.read.parquet(bands_path)
        except Exception:  # first batch: no index yet
            base_bands = None
        if base_bands is not None:
            drop = _probe_vs_base_matches(probe_bands, base_bands, est_threshold)

        # within-batch near-dups: keep the smaller id of every pair
        intra = (
            minhash_lsh_pairs(batch, text_col=text_col, id_col=id_col,
                              est_threshold=est_threshold)
            .select(F.greatest("id_a", "id_b").alias("probe_id"))
            .distinct()
        )
        drop = intra if drop is None else drop.unionByName(intra).distinct()

        survivors = batch.join(
            drop, batch[id_col] == drop["probe_id"], "left_anti"
        ).localCheckpoint(eager=True)
        survivors.write.mode("append").parquet(docs_path)
        probe_bands.join(
            survivors.select(F.col(id_col).alias("_keep")),
            F.col("_id") == F.col("_keep"),
        ).drop("_keep").write.mode("append").parquet(bands_path)

    return (
        stream_docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drift_monitor_sink(
    stream_events,
    reference,
    state_dir: str,
    checkpoint: str,
    value_col: str = "value",
    bucket_width: float = 25.0,
):
    """Streaming distribution-drift monitor: the stream face of the
    batch ``events_drift_*`` queries.

    The REFERENCE distribution is frozen up front (one batch aggregation
    to a tens-of-rows bucket frame). Each micro-batch adds its bucket
    counts into a running parquet state table, then emits one drift row
    — the exact integer TVD numerator per bucket and the scalar TVD —
    appended to ``<state_dir>/scores`` with the batch id. All arithmetic
    matches the batch queries: integer cross-multiplication, one final
    IEEE division, so a drift alert replays identically offline.

    State is bucket-cardinality-sized (never event-sized); the per-batch
    cost is one conditional-sum pass over the micro-batch plus a
    tens-of-rows merge. Returns the started StreamingQuery.
    """
    from pyspark.sql import functions as F

    ref = (
        reference.select(
            F.floor(F.col(value_col) / bucket_width).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_ref"))
        .localCheckpoint(eager=True)
    )
    counts_path = state_dir + "/counts"
    scores_path = state_dir + "/scores"

    def step(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        new = (
            batch_df.select(
                F.floor(F.col(value_col) / bucket_width).cast("long").alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_cur"))
        )
        try:
            prev = spark.read.parquet(counts_path)
            merged = (
                prev.unionByName(new)
                .groupBy("bucket")
                .agg(F.sum("n_cur").alias("n_cur"))
            )
        except Exception:  # first batch
            merged = new
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(counts_path)

        joined = ref.join(merged, "bucket", "full").na.fill(
            0, ["n_ref", "n_cur"]
        )
        d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
        tot = joined.agg(
            F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
        )
        score = (
            joined.crossJoin(F.broadcast(tot))
            .agg(
                F.first("t_ref").alias("n_ref_total"),
                F.first("t_cur").alias("n_cur_total"),
                F.sum(
                    F.abs(d18("n_ref") * d18("t_cur") - d18("n_cur") * d18("t_ref"))
                ).alias("_num"),
            )
            .select(
                F.lit(batch_id).alias("batch_id"),
                F.col("n_ref_total").cast("long"),
                F.col("n_cur_total").cast("long"),
                (
                    F.col("_num").cast("double")
                    / (
                        2.0
                        * F.col("n_ref_total").cast("double")
                        * F.col("n_cur_total").cast("double")
                    )
                ).alias("tvd"),
            )
        )
        score.write.mode("append").parquet(scores_path)

    return (
        stream_events.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def topk_monitor_sink(
    stream_events,
    state_dir: str,
    checkpoint: str,
    key_col: str = "event_type",
    k: int = 5,
):
    """Streaming exact top-k monitor: maintains running per-key counts
    across micro-batches and emits the current top-k ranking after each
    batch — the stream face of the batch ``events_heavy_hitters`` query.

    Per batch: ONE map-side-combined aggregate over the micro-batch, a
    key-cardinality-sized merge into the parquet state table, and a
    TakeOrdered top-k (per-partition heaps) appended to
    ``<state_dir>/rankings`` with the batch id. Counts are exact int64
    — rankings replay identically offline from the same log — and
    state is |keys| rows, never event-sized. Ties break on the key
    string so the emitted ranking is deterministic.

    Returns the started StreamingQuery.
    """
    from pyspark.sql import functions as F

    counts_path = state_dir + "/counts"
    rankings_path = state_dir + "/rankings"

    def step(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        new = batch_df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
        try:
            prev = spark.read.parquet(counts_path)
            merged = (
                prev.unionByName(new).groupBy(key_col).agg(F.sum("n").alias("n"))
            )
        except Exception:  # first batch
            merged = new
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(counts_path)

        top = (
            merged.orderBy(F.desc("n"), F.asc(key_col))
            .limit(k)
            .select(
                F.lit(batch_id).alias("batch_id"),
                F.col(key_col),
                F.col("n").cast("long").alias("n"),
            )
        )
        top.write.mode("append").parquet(rankings_path)

    return (
        stream_events.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
