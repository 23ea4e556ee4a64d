"""Benchmark decontamination: n-gram overlap against a held-out set.

Before training, every serious LLM corpus is checked for contamination —
documents that contain verbatim n-grams from evaluation benchmarks. The
standard method (GPT-3 appendix C, PaLM §7) flags a training document by
the fraction of its word n-grams that appear anywhere in the benchmark
set. The reference has no comparable operator (SURVEY.md §2).

Shape at 100 TB: the benchmark gram set is tiny relative to the corpus
(benchmarks are MBs, corpora are TBs), so the join broadcasts; corpus
grams never materialize beyond the exploded stream feeding a partial
aggregate. If the benchmark side ever outgrows broadcast, the same plan
degrades gracefully to a shuffle join on the gram — hash the gram to a
64-bit key (``xxhash64``) to cut shuffle width; the count semantics are
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame


def _distinct_word_ngrams(
    df: DataFrame, n: int, id_cols: list[str], text_col: str
) -> DataFrame:
    """Explode each row into its DISTINCT word n-grams (space-joined).

    Rows with fewer than ``n`` words produce no grams and drop out —
    ``sequence(1, k)`` would generate a DESCENDING range for k < 1, so
    short rows are filtered before the sequence is built.
    """
    ws = F.split(F.col(text_col), " ")
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(split({text_col}, ' ')) - {n - 1}), "
            f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {n})))"
        )
    )
    return (
        df.filter(F.size(ws) >= n)
        .select(*id_cols, F.explode(grams).alias("gram"))
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination against ``benchmark``.

    Returns ``(id_col, n_grams, n_contaminated, contamination_frac)``
    where ``n_grams`` counts the document's distinct word n-grams and
    ``n_contaminated`` how many of them occur in ANY benchmark row.
    Documents with fewer than ``n`` words emit no row.
    """
    doc_grams = _distinct_word_ngrams(docs, n, [id_col], text_col)
    bench_grams = (
        _distinct_word_ngrams(benchmark, n, [], text_col)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_contaminated"),
        (F.count("_hit").cast("double") / F.count(F.lit(1))).alias(
            "contamination_frac"
        ),
    )


# Gate for the driver-local Bloom-decontamination tier (pattern of
# dedup._SPANS_LOCAL_MAX_ROWS). The tier is numpy array passes
# (_bloom_local): one polyhash and one set of Bloom positions per
# distinct gram, a boolean bitmap probe and per-doc bincounts. The gate
# was set AT the crossover measured for an older per-gram Python
# kernel, where the tie was noise in BOTH directions: on the synthetic
# crossover corpus distributed edged local by 4% at 5k docs (4.21 vs
# 4.40 s, docs/LOCAL_TIERS.md table), on the REAL testdata at the same
# 5k local edged distributed by 5% (2.96 vs 3.11 s, 5-run solo
# medians), and above it the distributed chain won 2.2x at 20k and 2.8x
# at 50k. The gate stays there: the array kernel is cheaper than the
# kernel that crossover was measured on, and moving the gate needs a
# crossover measurement of its own.
_BLOOM_LOCAL_MAX_ROWS = 5_000


def _poly_powers(k: int):
    """``POLY_BASE ** e % POLY_MOD`` for ``e`` in ``0..k``, by doubling
    (each product of two residues is below 2^60)."""
    import numpy as np

    from ..functions.text import POLY_BASE, POLY_MOD

    pw = np.ones(1, dtype=np.int64)
    while len(pw) <= k:
        pw = np.concatenate([pw, pw * (pw[-1] * POLY_BASE % POLY_MOD) % POLY_MOD])
    return pw


def _bloom_local(ids, texts, sources, bench_source, n, m_bits, depth) -> dict:
    """Driver-local replay of :func:`bloom_decontaminate`'s distributed
    chain as numpy array passes; returns its output columns by name.

    - Words: ``split(text, ' ')`` by Arrow (empty words kept, a null
      text has none); every distinct word gets an id, its length in
      code points and its polyhash, from one UTF-32 code-point array.
    - Grams: the ``n`` word ids at each start position of a text with
      at least ``n`` words, packed into one int64 key and ranked by 1-D
      ``np.unique``, give each distinct gram one id. Its polyhash is
      its words' hashes joined by spaces:
      ``h(a + b) = h(a) * BASE^len(b) + h(b)``.
    - Filter: the ``depth`` salted ``hll_hash`` positions of every
      benchmark gram set an ``m_bits`` bitmap; a gram hits when all of
      its positions are set. The exact set is a boolean array over ids.
    - Counts: distinct (doc, gram) pairs of the eval docs, then
      ``bincount`` per ``doc_id`` value (a null id is one group, as in
      ``groupBy``). Null sources are neither benchmark nor eval docs.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.text import POLY_BASE, POLY_MOD
    from .sketch import CMS_SALTS, _hll_hash_np

    words = pc.split_pattern(pa.array(texts, pa.string()), " ")
    n_words = pc.fill_null(pc.list_value_length(words), 0).to_numpy().astype(np.int64)
    enc = pc.list_flatten(words).dictionary_encode()
    wid = enc.indices.to_numpy().astype(np.int64)
    vocab = enc.dictionary
    wlen = pc.utf8_length(vocab).to_numpy().astype(np.int64)
    cps = np.frombuffer(
        "".join(vocab.to_pylist()).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    pw = _poly_powers(int(wlen.max(initial=0)))
    wend = np.cumsum(wlen)
    # each code point times BASE^(chars after it in its word)
    terms = cps * pw[np.repeat(wend - 1, wlen) - np.arange(len(cps))] % POLY_MOD
    csum = np.concatenate([[0], np.cumsum(terms)])
    wh = (csum[wend] - csum[wend - wlen]) % POLY_MOD

    per_doc = np.maximum(n_words - (n - 1), 0)
    doc = np.repeat(np.arange(len(per_doc)), per_doc)
    gstart = np.cumsum(per_doc) - per_doc
    pos = np.repeat(np.cumsum(n_words) - n_words - gstart, per_doc) + np.arange(
        len(doc)
    )
    # mixed-radix key over the gram's word ids, re-ranked to dense ids
    # whenever the next word would overflow int64
    gid, bound = np.zeros(len(pos), dtype=np.int64), 1
    for k in range(n):
        if bound * len(vocab) >= 2**62:
            uniq, gid = np.unique(gid, return_inverse=True)
            bound = len(uniq)
        gid, bound = gid * len(vocab) + wid[pos + k], bound * len(vocab)
    uniq, gid = np.unique(gid, return_inverse=True)
    n_ids = len(uniq)
    rep = np.empty(n_ids, dtype=np.int64)
    rep[gid] = pos
    h = wh[wid[rep]]
    for k in range(1, n):
        w = wid[rep + k]
        h = ((h * POLY_BASE + ord(" ")) % POLY_MOD * pw[wlen[w]] + wh[w]) % POLY_MOD

    src = pa.array(sources, pa.string())
    is_bench = pc.fill_null(pc.equal(src, bench_source), False).to_numpy(
        zero_copy_only=False
    )
    is_eval = pc.fill_null(pc.not_equal(src, bench_source), False).to_numpy(
        zero_copy_only=False
    )
    exact = np.zeros(n_ids, dtype=bool)
    exact[gid[is_bench[doc]]] = True
    bit = np.array(
        [_hll_hash_np(h ^ salt) % m_bits for salt in CMS_SALTS[:depth]],
        dtype=np.int64,
    ).reshape(depth, n_ids)
    bitmap = np.zeros(m_bits, dtype=bool)
    bitmap[bit[:, exact]] = True
    bloom = bitmap[bit].all(axis=0)

    pairs = np.unique(doc[is_eval[doc]] * n_ids + gid[is_eval[doc]])
    pdoc, pgram = np.divmod(pairs, n_ids)
    id_arr = pa.array(ids, pa.int64())
    id_vals, id_rank = np.unique(id_arr.fill_null(0).to_numpy(), return_inverse=True)
    id_key = id_rank * 2 + id_arr.is_null().to_numpy(zero_copy_only=False)
    keys, grp = np.unique(id_key[pdoc], return_inverse=True)
    n_grams = np.bincount(grp, minlength=len(keys))
    n_bloom = np.bincount(grp[bloom[pgram]], minlength=len(keys))
    n_exact = np.bincount(grp[exact[pgram]], minlength=len(keys))
    return {
        "doc_id": np.ma.masked_array(id_vals[keys // 2], mask=keys % 2 == 1),
        "n_grams": n_grams,
        "n_bloom": n_bloom,
        "n_exact": n_exact,
        "bloom_fp": n_bloom - n_exact,
    }


def bloom_decontaminate(
    docs: DataFrame,
    bench_source: str = "src0",
    n: int = 5,
    m_bits: int = 262_144,
    depth: int = 4,
) -> DataFrame:
    """Bloom-filter decontamination with exact FP accounting: benchmark
    docs (``source == bench_source``) compress into an m-bit filter;
    every other doc's distinct word n-grams probe it by ``depth``
    xor-salted portable hashes of the gram's Rabin-Karp fingerprint.
    Returns per eval doc (doc_id, n_grams, n_bloom, n_exact, bloom_fp)
    — Bloom hits, exact hits, and their difference (the filter's actual
    false positives, an exactly-gated output because the whole pipeline
    is integer arithmetic).

    Driver-local tier for gate-sized tagged scans: numpy array passes
    that hash each distinct gram once, probe a boolean bitmap and count
    per doc with ``bincount`` (:func:`_bloom_local`; bit-identical —
    forced-off equality and edge-row tests in
    tests/test_local_vs_distributed.py). Distributed chain otherwise:
    gram explode -> distinct -> bit explode/distinct build (at most
    m_bits rows), broadcast bit-set semi-probe, one per-doc aggregate.
    """
    from ..functions.text import polyhash
    from . import sketch
    from .util import collect_small_columns, spread

    local = collect_small_columns(
        docs, ["doc_id", "text", "source"], _BLOOM_LOCAL_MAX_ROWS
    )
    if local is not None:
        return local_frame(
            docs.sparkSession,
            _bloom_local(*local, bench_source, n, m_bits, depth),
            "doc_id long, n_grams bigint, n_bloom bigint, n_exact bigint,"
            " bloom_fp bigint",
        )

    docs = spread(docs)
    bench = docs.filter(F.col("source") == bench_source)
    eval_docs = docs.filter(F.col("source") != bench_source)
    # The benchmark gram set feeds BOTH the filter build and the exact
    # broadcast semi-probe; materialize it once (it is benchmark-sized —
    # MBs at any corpus scale — so the checkpoint is a constant cost
    # that halves the benchmark-side scan work).
    bench_grams = (
        _distinct_word_ngrams(bench, n, [], "text")
        .distinct()
        .localCheckpoint(eager=True)
    )
    doc_grams = _distinct_word_ngrams(eval_docs, n, ["doc_id"], "text")
    bits = sketch.bloom_build(
        bench_grams.select(polyhash("gram").alias("ph")),
        "ph", m_bits=m_bits, depth=depth,
    )
    # One fused probe stage: the filter broadcasts as a single-row
    # word-bitmap and every gram's all-bits-set test evaluates INLINE
    # (forall over its <= depth positions) in the same whole-stage-
    # codegen pass as the exact broadcast semi-probe — no per-gram
    # explode/aggregate, no hits x exact re-join. The only corpus-scale
    # exchange left is the final per-doc aggregate (and partial
    # aggregation collapses that map-side). (Feeding RAW positions to
    # the word OR-fold to skip bloom_build's bit-level distinct was
    # measured 3x SLOWER here: the distinct collapses the build side to
    # <= m_bits rows map-side, which is what keeps the single-row
    # map_from_entries feeder cheap.)
    bitmap = sketch.bloom_bitmap(bits)
    marked = (
        doc_grams.withColumn(
            "_bits",
            sketch._bloom_positions(polyhash("gram"), m_bits, depth),
        )
        .crossJoin(F.broadcast(bitmap))
        .withColumn("bloom_hit", sketch.bloom_hit_expr())
        .join(
            F.broadcast(bench_grams.withColumn("_e", F.lit(1))),
            "gram", "left",
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom"),
        F.count("_e").alias("n_exact"),
        (
            F.sum(F.col("bloom_hit").cast("long")) - F.count("_e")
        ).alias("bloom_fp"),
    )
