"""Round-6 ADVICE: the size-gated driver-local fast paths (Lloyd
k-means <=100k rows, PageRank <=1M edges, PQ train <=100k rows) mean the
regular suite only ever exercises the local replays — the distributed
chains they claim to be bit-identical to would otherwise be dead code at
CI scale. These tests force each gate OFF (monkeypatched to -1) and
assert the distributed result equals the local result row-for-row,
bit-for-bit, so a future edit to either side cannot silently diverge for
large corpora.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elevate_data_pipeline_spark.operators import cluster, graph, similarity


def _vectors(spark, n=40, dim=8):
    """Deterministic float32-ish embedding corpus, including half-ulp
    decimal-tie components (2.5e-12 …) that distinguish repr-based from
    exact-binary DECIMAL(28,12) quantization."""
    ties = [5e-13, 2.5e-12, 4.5e-12, 7.5e-12]
    rows = []
    for i in range(n):
        v = [((i * 31 + d * 7) % 19) / 4.0 - 2.0 for d in range(dim)]
        v[i % dim] += ties[i % len(ties)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _rows(df, cols=None):
    """Collected rows, sorted with nulls first in every column."""
    cols = cols or df.columns
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(cols).collect()),
        key=lambda row: [(v is not None, v) for v in row],
    )


def _tagged_documents(spark, tmp_path, rows):
    """A ``documents`` Catalog scan over ``(doc_id, text, source)`` rows,
    written to parquet under ``tmp_path``: the path-tagged frame the
    driver-local tiers read without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elevate_data_pipeline_spark.sources.catalog import Catalog

    ids, texts, sources = zip(*rows)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array(sources, pa.string()),
        }),
        tmp_path / "documents.parquet",
    )
    return Catalog(spark, str(tmp_path)).table("documents")


def test_quantize_matches_spark_decimal_cast(spark):
    """util.lloyd_local's per-component DECIMAL(28,12) quantization must
    match Spark's cast(double as decimal(28,12)) exactly — including on
    half-ulp ties where the exact binary expansion and the shortest repr
    round to DIFFERENT decimals under HALF_UP."""
    import decimal

    ctx = decimal.Context(prec=50)
    q12 = decimal.Decimal(1).scaleb(-12)

    def dec(x):  # mirror of util.lloyd_local's quantizer
        return decimal.Decimal(repr(x)).quantize(
            q12, rounding=decimal.ROUND_HALF_UP, context=ctx
        )

    vals = [5e-13, 2.5e-12, 4.5e-12, 7.5e-12, 8.5e-12, 1.25, -2.5e-12, 3.141592653589793]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.col("x").cast("decimal(28,12)").alias("d")
    )
    for r in df.collect():
        assert dec(r["x"]) == decimal.Decimal(r["d"]).quantize(q12), r["x"]


def test_kmeans_local_equals_distributed(spark, monkeypatch):
    df = _vectors(spark)
    local = cluster.kmeans(df, k=4, n_iter=2)
    got_local = _rows(local)
    monkeypatch.setattr(cluster, "_LLOYD_LOCAL_MAX_ROWS", -1)
    dist = cluster.kmeans(df, k=4, n_iter=2)
    got_dist = _rows(dist)
    assert got_local == got_dist


def test_pagerank_local_equals_distributed(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(i % 7, (i * 3 + 1) % 7, (i % 4) + 1) for i in range(30)]
        + [(7, 0, 2)],  # node 8 (id 7) never a dst from others; 0 high in-degree
        "src bigint, dst bigint, w bigint",
    )
    for redistribute in (False, True):
        local = graph.pagerank_fixed_point(edges, n_iter=3, redistribute_dangling=redistribute)
        got_local = _rows(local)
        monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", -1)
        dist = graph.pagerank_fixed_point(edges, n_iter=3, redistribute_dangling=redistribute)
        got_dist = _rows(dist)
        monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", 1_000_000)
        assert got_local == got_dist, f"redistribute={redistribute}"


def test_pagerank_zero_weight_source_matches_distributed(spark, monkeypatch):
    """A source whose weights sum to 0 divides by zero: the distributed
    chain yields NULL q -> contribution coalesced to 0. The local replay
    must not crash and must produce the identical ranks."""
    edges = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 2), (2, 0, 1), (3, 1, 0)],  # node 3: out_w == 0
        "src bigint, dst bigint, w bigint",
    )
    local = graph.pagerank_fixed_point(edges, n_iter=3)
    got_local = _rows(local)
    monkeypatch.setattr(graph, "_PAGERANK_LOCAL_MAX_EDGES", -1)
    dist = graph.pagerank_fixed_point(edges, n_iter=3)
    assert got_local == _rows(dist)


def test_pretraining_corpus_local_equals_distributed(spark, monkeypatch, catalog):
    """The driver-local pipeline replay (block dedup -> gates -> LSH
    components -> survivor rank) must equal the distributed chain
    bit-for-bit — including the IEEE-double quality scores."""
    from elevate_data_pipeline_spark import pipelines

    docs = catalog.table("documents")
    got_local = _rows(pipelines.pretraining_corpus(docs))
    assert len(got_local) > 0
    monkeypatch.setattr(pipelines, "_PIPELINE_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(pipelines.pretraining_corpus(docs))


def test_curate_corpus_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark import pipelines

    docs = catalog.table("documents")
    got_local = _rows(pipelines.curate_corpus(docs))
    assert len(got_local) > 0
    monkeypatch.setattr(pipelines, "_PIPELINE_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(pipelines.curate_corpus(docs))


def test_substring_spans_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    got_local = _rows(dedup.substring_dup_spans(docs))
    assert len(got_local) > 0
    monkeypatch.setattr(dedup, "_SPANS_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(dedup.substring_dup_spans(docs))


def test_bloom_decontaminate_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import decontam

    docs = catalog.table("documents")
    got_local = _rows(decontam.bloom_decontaminate(docs))
    # non-default depth: the local tier must honor depth too (it once
    # iterated all CMS_SALTS regardless, diverging from the distributed
    # tier's CMS_SALTS[:depth] — advisor finding)
    got_local_d2 = _rows(decontam.bloom_decontaminate(docs, depth=2))
    assert len(got_local) > 0
    monkeypatch.setattr(decontam, "_BLOOM_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(decontam.bloom_decontaminate(docs))
    assert got_local_d2 == _rows(decontam.bloom_decontaminate(docs, depth=2))


def test_snm_local_equals_distributed(spark, monkeypatch, catalog):
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    got_local = _rows(dedup.sorted_neighborhood_pairs(docs, window=5, n=3, threshold=0.5))
    assert len(got_local) > 0
    monkeypatch.setattr(dedup, "_SNM_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(
        dedup.sorted_neighborhood_pairs(docs, window=5, n=3, threshold=0.5)
    )


@pytest.mark.parametrize("threshold", [0.5, 0.6])
def test_ngram_jaccard_local_equals_distributed(spark, monkeypatch, catalog, threshold):
    """The per-block incidence product must equal the PPJoin chain
    pair-for-pair, with one chunk per block and with several."""
    from elevate_data_pipeline_spark.operators import dedup

    docs = catalog.table("documents")
    got_local = _rows(dedup.ngram_jaccard_pairs(docs, threshold=threshold))
    assert len(got_local) > 0
    monkeypatch.setattr(dedup, "_NGRAM_CHUNK_ROWS", 7)
    assert got_local == _rows(dedup.ngram_jaccard_pairs(docs, threshold=threshold))
    monkeypatch.setattr(dedup, "_NGRAM_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(dedup.ngram_jaccard_pairs(docs, threshold=threshold))


def test_ngram_jaccard_local_edge_rows(spark, monkeypatch, tmp_path):
    """Short, empty and null texts, a null block, one text in two blocks
    and a pair at exactly the threshold, both ways."""
    from elevate_data_pipeline_spark.operators import dedup

    docs = _tagged_documents(spark, tmp_path, [
        (1, "ab", "s1"),  # shorter than n: one partial gram
        (2, "ab", "s1"),
        (3, "", "s1"),  # empty: the partial gram ""
        (4, "", "s1"),
        (5, None, "s1"),  # a null text joins no pair
        (6, None, "s1"),
        (7, "abcdef", None),  # a null source is no block
        (8, "abcdef", None),
        (9, "abcdef", "s1"),  # the same text in two sources
        (10, "abcdef", "s2"),
        (11, "abcdex", "s2"),  # 3 of 5 grams shared with doc 10
    ])
    want = [(1, 2, 1.0), (3, 4, 1.0), (10, 11, 0.6)]
    assert _rows(dedup.ngram_jaccard_pairs(docs, threshold=0.6)) == want
    monkeypatch.setattr(dedup, "_NGRAM_LOCAL_MAX_ROWS", -1)
    assert _rows(dedup.ngram_jaccard_pairs(docs, threshold=0.6)) == want


def test_bloom_decontaminate_local_edge_rows(spark, monkeypatch, tmp_path):
    """Null texts, sources and ids, short texts, repeated grams, empty
    and non-ASCII words, and benchmark-only docs, both ways: the tier
    must drop and fold rows exactly as the distributed chain does."""
    from elevate_data_pipeline_spark.operators import decontam

    docs = _tagged_documents(spark, tmp_path, [
        (1, "the quick brown fox jumps over the lazy dog", "src0"),
        (2, "caf\u00e9 au lait is a fine drink \U0001f600", "src0"),
        (3, "only the benchmark holds this text", "src0"),  # src0 only
        (4, None, "src0"),  # a null benchmark text adds no gram
        (10, None, "src1"),  # a null text has no row
        (11, "the quick brown fox jumps over", None),  # a null source: no row
        (None, "the quick brown fox jumps over the", "src1"),  # two null
        (None, "jumps over the lazy dog and", "src2"),  # ids: one row
        (12, "too short to count", "src1"),  # under 5 words: no row
        (13, "a b c d e a b c d e", "src1"),  # a repeated gram counts once
        (14, "the quick  brown fox jumps over the", "src1"),  # empty word
        (15, "caf\u00e9 au lait is a fine drink \U0001f600 too", "src1"),
        (16, "quick brown fox jumps over the lazy ", "src2"),  # trailing ""
        (17, "is a fine drink today", "src1"),  # one id in two
        (17, "the lazy dog naps all day", "src2"),  # sources: one row
        (18, "", "src1"),
    ])
    cases = [{}, {"depth": 2}, {"m_bits": 61}]
    got = [_rows(decontam.bloom_decontaminate(docs, **kw)) for kw in cases]
    assert [r[0] for r in got[0]] == [None, 13, 14, 15, 16, 17]
    assert (got[0][0][1], got[0][0][3]) == (5, 4)  # null ids: 3 + 2 grams, 3 + 1 exact
    assert got[0][1][1] == 5  # doc 13: 6 positions, 5 distinct grams
    assert sum(r[4] for r in got[2]) > 0  # a tiny filter false-positives
    monkeypatch.setattr(decontam, "_BLOOM_LOCAL_MAX_ROWS", -1)
    assert got == [_rows(decontam.bloom_decontaminate(docs, **kw)) for kw in cases]


def test_snm_local_edge_rows(spark, monkeypatch, tmp_path):
    """Null texts (a null key sorting first, one null gram), a null id,
    short and empty texts, both ways."""
    from elevate_data_pipeline_spark.operators import dedup

    docs = _tagged_documents(spark, tmp_path, [
        (1, None, "s1"),
        (2, None, "s1"),
        (None, "abcdef", "s1"),
        (3, "abcdef", "s1"),
        (4, "ab", "s1"),
        (5, "ab", "s1"),
        (6, "", "s1"),
        (7, "", "s1"),
        (8, "Hello, World!", "s1"),
        (9, "hello world", "s1"),
    ])
    got = _rows(dedup.sorted_neighborhood_pairs(docs, window=3, threshold=0.5))
    assert (1, 2, 1.0) in got and (None, 3, 1.0) in got
    monkeypatch.setattr(dedup, "_SNM_LOCAL_MAX_ROWS", -1)
    assert got == _rows(dedup.sorted_neighborhood_pairs(docs, window=3, threshold=0.5))


def test_suffix_array_local_equals_distributed(spark, monkeypatch, catalog):
    """The numpy doubling replay must equal the distributed prefix-
    doubling chain rank-for-rank."""
    from elevate_data_pipeline_spark.operators import suffix

    docs = catalog.table("documents")
    got_local = _rows(suffix.suffix_array(docs))
    assert len(got_local) > 0
    monkeypatch.setattr(suffix, "_SA_LOCAL_MAX_ROWS", -1)
    assert got_local == _rows(suffix.suffix_array(docs))


def test_pq_index_local_equals_distributed(spark, monkeypatch):
    df = _vectors(spark, n=48, dim=8)
    cents_l, codes_l = similarity.pq_index(df, m=2, k=3, n_iter=1, dim=8)
    got_cents_l = _rows(cents_l, ["_s", "_cl", "_c"])
    got_codes_l = _rows(codes_l, ["_id", "_s", "_code"])
    monkeypatch.setattr(similarity, "_PQ_LOCAL_MAX_ROWS", -1)
    similarity._PQ_CACHE.clear()
    cents_d, codes_d = similarity.pq_index(df, m=2, k=3, n_iter=1, dim=8)
    assert got_cents_l == _rows(cents_d, ["_s", "_cl", "_c"])
    assert got_codes_l == _rows(codes_d, ["_id", "_s", "_code"])
    similarity._PQ_CACHE.clear()
